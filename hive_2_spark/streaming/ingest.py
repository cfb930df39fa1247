"""Streaming document ingestion with quality gating (SURVEY.md §2B
op 42 extension): the continuous-corpus-update shape — new documents
arrive as a stream, each micro-batch is gated by the same
blocklist-word census the batch pipeline applies, and only survivors
flow on (to dedup/indexing downstream).

One transform, two reads, as in ``streaming.windows``: ``_gate`` is
the operator; ``stream_doc_gate`` applies it to ``load_table`` (the
DuckDB-oracle-checked batch face) and ``stream_doc_gate_builder`` to
``read_stream_table`` (stateless filter+project, so append mode with no
watermark or state). tests/test_streaming.py compares the two on every
column.

Scale: the gate is per-row codegen string/array work — zero shuffle,
zero streaming state; throughput is bounded by source read speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.llm.quality import _BLOCK_PM_MAX, _BLOCK_SQL_LIST, _BLOCK_WORDS
from hive_2_spark.streaming._source import read_stream_table
from hive_2_spark.streaming.windows import WATERMARK_S


def _gate(d: DataFrame) -> DataFrame:
    """Shared gate transform (batch AND streaming): blocked-token
    census per doc, keep docs under the per-mille threshold."""
    toks = F.split(F.col("text"), " ")
    blocked = F.size(F.filter(toks, lambda x: x.isin(*_BLOCK_WORDS)))
    return (
        d.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tokens"),
            blocked.cast("bigint").alias("n_blocked"),
        )
        .withColumn(
            "blocked_pm",
            F.expr("CAST(n_blocked * 1000 DIV n_tokens AS BIGINT)"),
        )
        .filter(F.col("blocked_pm") < _BLOCK_PM_MAX)
    )


def stream_doc_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gate(load_table(spark, sf_dir, "documents"))


def stream_doc_gate_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gate(read_stream_table(spark, sf_dir, "documents"))


_WM_US = WATERMARK_S * 1_000_000  # the stream faces' watermark, microseconds


def stream_lateness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness audit: per event_type, how many rows a
    10-minute watermark would DROP — the sizing report you run before
    choosing `withWatermark`, answering "what fraction of my data is
    how late?" exactly, on the batch face.

    A row is late when its event time sits more than the watermark
    behind the running event-time high-water mark at its arrival:
    ts_us + WM < max(ts_us) over arrivals BEFORE it (the strict
    Structured Streaming drop rule: state for a window closes when
    the watermark passes it).

    The fixture stream is time-sorted (nothing would ever be late),
    so the audit replays it through a deterministic OUT-OF-ORDER
    arrival permutation — 100-id blocks with ids reversed inside each
    block, the interleaving a multi-partition source produces — which
    makes the report non-vacuous at every SF. One exchange keyed by
    event_type (the per-source-partition analog), a running-max
    window, and a map-side rollup. Max-lateness is exact integer
    microseconds; the late fraction is a ratio of exact counts.
    """
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(
            F.floor(F.col("event_id") / 100).asc(),
            F.col("event_id").desc(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = e.withColumn("hwm", F.max("ts_us").over(w)).withColumn(
        "late",
        F.when(
            F.col("hwm").isNotNull()
            & (F.col("ts_us") + F.lit(_WM_US) < F.col("hwm")),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("late").cast("bigint").alias("n_late"),
        F.max(
            F.when(
                F.col("late") == 1, F.col("hwm") - F.col("ts_us")
            )
        ).alias("max_lateness_us"),
        F.round(
            F.sum("late").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("late_frac"),
    )


QUERIES = {
    "stream_doc_gate": stream_doc_gate,
    "stream_lateness_report": stream_lateness_report,
}

ORACLES = {
    # same strict drop rule over the same integer microseconds; the
    # running high-water mark excludes the current row (1 PRECEDING);
    # same block-reversed arrival permutation
    "stream_lateness_report": f"""
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us FROM events
), f AS (
  SELECT event_type, ts_us,
         MAX(ts_us) OVER (PARTITION BY event_type
           ORDER BY event_id // 100 ASC, event_id DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
  FROM e
), g AS (
  SELECT event_type, ts_us, hwm,
         CASE WHEN hwm IS NOT NULL AND ts_us + {_WM_US} < hwm
              THEN 1 ELSE 0 END AS late
  FROM f
)
SELECT event_type, COUNT(*) AS n_rows,
       CAST(SUM(late) AS BIGINT) AS n_late,
       MAX(CASE WHEN late = 1 THEN hwm - ts_us END) AS max_lateness_us,
       ROUND(CAST(SUM(late) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         AS late_frac
FROM g GROUP BY 1
""",
    "stream_doc_gate": f"""
SELECT doc_id, source,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCK_SQL_LIST}))) AS BIGINT) AS n_blocked,
       CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_BLOCK_SQL_LIST}))) * 1000
            // len(string_split(text, ' ')) AS BIGINT) AS blocked_pm
FROM documents
WHERE len(list_filter(string_split(text, ' '),
          x -> x IN ({_BLOCK_SQL_LIST}))) * 1000
      // len(string_split(text, ' ')) < {_BLOCK_PM_MAX}
""",
}
