"""Streaming operators over the `events` table (SURVEY.md §2B op 42).

Two faces per operator:

1. **Batch-equivalent queries** (this module's QUERIES/ORACLES) — the
   same windowing semantics computed over the static table so the driver
   can hash-match against DuckDB. Event-time semantics are identical; a
   stream is just an unbounded version of the same relation.
2. **Real Structured Streaming builders** (``stream_*_builder``) —
   ``readStream`` plans with watermarks, used by tests/test_streaming.py
   with a memory sink and ``processAllAvailable()``.

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

from hive_2_spark.catalog import _normalize_ts, load_table
from hive_2_spark.core.events import _DK_SESSIONS, sessionized
from hive_2_spark.streaming._source import read_stream_table

GAP_SECONDS = 30 * 60  # session gap: 30 minutes (streaming session_window)


# ------------------------------------------------------------- tumbling
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window: count + sum(value) per event_type."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
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


# -------------------------------------------------------------- sliding
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding every 5 minutes (each event in 2 windows)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


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


def win_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE batch ``session_window`` aggregation (30-min gap)
    — the engine-builtin face of the lag/cumsum island pattern, with a
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
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
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


# ----------------------------------------------------- real stream plans
def _read_stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (nanos ts handled as in catalog).

    FileStreamSource requires a DIRECTORY; the fixture is a single file,
    so it is exposed through a symlinked temp dir (no testdata mutation).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = read_stream_table(spark, sf_dir, "events", "events")
    # same ts normalization as the batch path (nanos-long vs naive-micros)
    return stream.withColumn("ts", _normalize_ts(stream.schema["ts"].dataType, F))


def stream_tumbling_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation as a streaming plan."""
    return (
        _read_stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


def stream_session_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window (30-min gap) streaming aggregation."""
    return (
        _read_stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("sw.start", "sw.end", "user_id", "n_events")
    )


def stream_dedup_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stateful dedup on event_id."""
    return (
        _read_stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
    )


def stream_sliding_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window (10 min / 5 min) count per type."""
    return (
        _read_stream_events(spark, sf_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


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
