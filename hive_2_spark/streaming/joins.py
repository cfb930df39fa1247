"""Streaming joins (SURVEY.md §2B op 42 extension): stream-static and
watermarked stream-stream interval joins.

One transform, two reads, as in ``streaming.windows``: each join is one
function of the events frame; the registry key applies it to
``load_table`` (the oracle-checked batch face) and the ``*_builder`` to
``read_stream_table`` (the readStream plan the tests compare with it).

Scale notes: a stream-static join broadcasts the static dim per
micro-batch (no stream state). A stream-stream interval join keeps both
sides' rows in state ONLY within the watermark+interval horizon — the
interval bound is what makes state finite; an unbounded-condition
stream-stream join would grow state forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.streaming._source import read_stream_table
from hive_2_spark.streaming.windows import _watermarked

INTERVAL_S = 3600  # clicks within the hour preceding a purchase


def _user_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static user dimension derived from customer (user_id 0-14)."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") <= 15).select(
        (F.col("c_custkey") - 1).alias("user_id"),
        F.col("c_name").alias("user_name"),
        F.col("c_mktsegment").alias("segment"),
    )


# ----------------------------------------------------- stream-static join
def _enriched(e: DataFrame, dim: DataFrame) -> DataFrame:
    """Events enriched with the static user dimension."""
    return e.join(F.broadcast(dim), on="user_id", how="inner").select(
        "event_id", "user_id", "event_type", "user_name", "segment"
    )


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enriched(load_table(spark, sf_dir, "events"), _user_dim(spark, sf_dir))


def stream_static_join_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _enriched(
        read_stream_table(spark, sf_dir, "events"), _user_dim(spark, sf_dir)
    )


# ---------------------------------------------- stream-stream interval join
def _interval_pairs(e: DataFrame, how: str) -> DataFrame:
    """Purchase x click pairs for the same user with the click in the
    ``INTERVAL_S`` preceding the purchase (inclusive bounds, equi-key +
    interval). ``how="left"`` keeps every purchase, with NULLs when no
    click qualifies — the conversion-attribution shape where unmatched
    purchases matter as much as matched ones.

    Both sides come from one read, each under the stream faces'
    watermark over its own event times, so a stream's join state is
    bounded by watermark + interval. On a stream the LEFT join buffers
    each purchase until the watermark passes its horizon, THEN emits the
    NULL row if no click arrived — so on a bounded input, tail-of-stream
    unmatched rows are withheld (the watermark never advances past the
    final batch). That is watermark semantics, not a bug; the batch face
    is the oracle for the complete answer."""
    p = _watermarked(e.filter(F.col("event_type") == "purchase")).select(
        F.col("event_id").alias("p_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = _watermarked(e.filter(F.col("event_type") == "click")).select(
        F.col("event_id").alias("c_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (p.user_id == c.c_user_id)
        & (c.c_ts <= p.p_ts)
        & (c.c_ts >= p.p_ts - F.expr(f"INTERVAL {INTERVAL_S} SECONDS"))
    )
    return p.join(c, cond, how).select("p_id", "user_id", "p_ts", "c_id", "c_ts")


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_pairs(load_table(spark, sf_dir, "events"), "inner")


def stream_interval_join_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_pairs(read_stream_table(spark, sf_dir, "events"), "inner")


def stream_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _interval_pairs(load_table(spark, sf_dir, "events"), "left")


def stream_interval_join_left_builder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _interval_pairs(read_stream_table(spark, sf_dir, "events"), "left")


QUERIES = {
    "stream_static_join": stream_static_join,
    "stream_interval_join": stream_interval_join,
    "stream_interval_join_left": stream_interval_join_left,
}

ORACLES = {
    "stream_static_join": (
        "SELECT event_id, user_id, event_type, c_name AS user_name, "
        "c_mktsegment AS segment "
        "FROM events JOIN customer ON user_id = c_custkey - 1 "
        "WHERE c_custkey <= 15"
    ),
    "stream_interval_join": (
        "SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, "
        "c.event_id AS c_id, c.ts AS c_ts "
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
        "JOIN (SELECT * FROM events WHERE event_type = 'click') c "
        "ON p.user_id = c.user_id AND c.ts <= p.ts "
        "AND c.ts >= p.ts - INTERVAL 3600 SECONDS"
    ),
    "stream_interval_join_left": (
        "SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts, "
        "c.event_id AS c_id, c.ts AS c_ts "
        "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c "
        "ON p.user_id = c.user_id AND c.ts <= p.ts "
        "AND c.ts >= p.ts - INTERVAL 3600 SECONDS"
    ),
}
