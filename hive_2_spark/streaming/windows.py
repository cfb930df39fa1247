"""Streaming operators over the `events` table (SURVEY.md §2B op 42).

One transform, two reads: each operator is one function ``f(df)``,
watermark included. Its registry key is ``f(load_table(...))``, the
DuckDB-oracle-checked batch face; its ``*_builder`` is
``f(read_stream_table(...))``, a real Structured Streaming plan that
tests/test_streaming.py runs to a memory sink and compares with the
batch face on every column. A stream is an unbounded table, so the
faces cannot drift; on a batch frame Spark drops the watermark.

Two operators have no stream twin of their own: ``stream_session``
keeps the lag/cumsum island plan the oracle replays (its native
``session_window`` twin is ``win_session_native``, whose stream face is
``stream_session_builder``), and ``stream_dedup_builder`` dedups on
``event_id`` — Structured Streaming cannot keep the first event per key
in ts order, so it is not a face of ``stream_dedup``.

Scale notes: tumbling/sliding aggregation state is bounded by
(windows x keys); the watermark bounds it in event time — state for
windows older than the watermark is dropped. Session windows use Spark's
native ``session_window`` (state merges on gap overlap). All aggregation
here is partial+final hash agg on (window, key) — the shuffle carries
one row per open window per key per trigger, not raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.events import _DK_SESSIONS, sessionized
from hive_2_spark.streaming._source import read_stream_table

WATERMARK_S = 10 * 60  # event-time watermark of every stream face


def _watermarked(e: DataFrame) -> DataFrame:
    """``e`` under the stream faces' event-time watermark (a no-op on a
    batch frame)."""
    return e.withWatermark("ts", f"{WATERMARK_S} seconds")


# ------------------------------------------------------------- tumbling
def _tumbling(e: DataFrame) -> DataFrame:
    """5-minute tumbling window: count + sum(value) per event_type."""
    return (
        _watermarked(e)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling(load_table(spark, sf_dir, "events"))


def stream_tumbling_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tumbling(read_stream_table(spark, sf_dir, "events"))


# -------------------------------------------------------------- sliding
def _sliding(e: DataFrame) -> DataFrame:
    """10-minute window sliding every 5 minutes (each event in 2 windows)."""
    return (
        _watermarked(e)
        .groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding(load_table(spark, sf_dir, "events"))


def stream_sliding_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sliding(read_stream_table(spark, sf_dir, "events"))


# -------------------------------------------------------------- session
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user — batch form
    via the lag/cumulative-sum island pattern (identical SQL semantics to
    streaming ``session_window``). The gap constant, ordering, and
    flag/cumsum core are shared with ``core.events.sessionize``, and the
    oracle composes their DuckDB twin ``_DK_SESSIONS`` — only the rollup
    columns differ."""
    e = sessionized(load_table(spark, sf_dir, "events"))
    return e.groupBy("user_id", F.col("session_id").alias("sess_id")).agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _native_sessions(e: DataFrame) -> DataFrame:
    """Spark's NATIVE ``session_window`` aggregation (30-min gap) — the
    engine-builtin face of the lag/cumsum island pattern, with a
    DuckDB oracle proving the two formulations agree cell-for-cell.

    Boundary semantics, verified empirically against Spark 4.x: an
    event arriving EXACTLY gap after its predecessor MERGES into the
    running session (a new session starts only when the silence is
    STRICTLY greater than the gap — the same ``>`` rule the island
    pattern uses), and the reported window end is last_ts + gap, not
    max(ts). The oracle encodes exactly that. Scale: one user-keyed
    exchange + in-partition merge, the same shape Structured
    Streaming runs incrementally with state eviction.
    """
    return (
        _watermarked(e)
        .groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end_bound"),
            "n_events",
            "sum_value",
        )
    )


def win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _native_sessions(load_table(spark, sf_dir, "events"))


def stream_session_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _native_sessions(read_stream_table(spark, sf_dir, "events"))


# ------------------------------------------------------- stateful dedup
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful dedup, batch face: first event per (user_id, event_type)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", "ts")
    )


def stream_dedup_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stateful dedup on ``event_id`` — a reference stream
    operator, not a face of ``stream_dedup``: Structured Streaming cannot
    keep the first event per (user_id, event_type) in ts order."""
    return _watermarked(
        read_stream_table(spark, sf_dir, "events")
    ).dropDuplicatesWithinWatermark(["event_id"])


def run_foreach_batch_to_parquet(
    spark: SparkSession, sf_dir: str, out_dir: str, ckpt_dir: str
) -> None:
    """Exactly-once custom sink: tumbling aggregates land in parquet via
    ``foreachBatch``; the (epoch_id, checkpoint) pair makes the write
    idempotent under retries — the canonical pattern for sinks without
    native streaming support (JDBC, object stores, ...)."""

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    q = (
        stream_tumbling_builder(spark, sf_dir)
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt_dir)
        .foreachBatch(write_batch)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


QUERIES = {
    "stream_tumbling": stream_tumbling,
    "stream_sliding": stream_sliding,
    "stream_session": stream_session,
    "win_session_native": win_session_native,
    "stream_dedup": stream_dedup,
}

ORACLES = {
    # the island-pattern replay of the NATIVE session_window semantics
    # (verified empirically): an exact-gap arrival MERGES — a new
    # session needs silence STRICTLY > gap — and the reported end is
    # last_ts + gap, not max(ts)
    "win_session_native": (
        "WITH g AS (SELECT user_id, ts, value, "
        "  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts "
        "  FROM events), "
        "m AS (SELECT *, CASE WHEN prev_ts IS NULL OR "
        "  epoch_us(ts) - epoch_us(prev_ts) > 1800000000 "
        "  THEN 1 ELSE 0 END AS new_sess FROM g), "
        "s AS (SELECT *, SUM(new_sess) OVER (PARTITION BY user_id "
        "  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
        "SELECT user_id, MIN(ts) AS session_start, "
        "MAX(ts) + INTERVAL 30 MINUTE AS session_end_bound, "
        "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
        "FROM s GROUP BY user_id, sid"
    ),
    "stream_tumbling": (
        "SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start, "
        "event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value "
        "FROM events GROUP BY 1, 2"
    ),
    "stream_sliding": (
        "SELECT window_start, COUNT(*) AS n FROM ("
        "SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start FROM events "
        "UNION ALL "
        "SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes' "
        "FROM events) t GROUP BY 1"
    ),
    "stream_session": (
        f"WITH {_DK_SESSIONS} "
        "SELECT user_id, CAST(session_id AS BIGINT) AS sess_id, "
        "MIN(ts) AS session_start, MAX(ts) AS session_end, "
        "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
        "FROM numbered GROUP BY user_id, session_id"
    ),
    "stream_dedup": (
        "SELECT user_id, event_type, event_id, ts FROM ("
        "SELECT user_id, event_type, event_id, ts, "
        "ROW_NUMBER() OVER (PARTITION BY user_id, event_type "
        "ORDER BY ts, event_id) AS rn FROM events) t WHERE rn = 1"
    ),
}
