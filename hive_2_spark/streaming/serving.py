"""Streaming model serving (SURVEY.md §2B op 42 extension): score a
stream of embedding vectors against k-means centroids fitted on the
static corpus, and roll the assignments up into the per-cluster
drift-monitor table (cluster sizes + mean squared distance) a serving
deployment alarms on.

Both faces, like every streaming op here: the batch face is the
DuckDB-oracle-checkable query (it reuses ``llm.clustering``'s exact
assignment, so the "model" cannot drift from the trained one), and the
``_builder`` face is the same computation as a ``readStream`` plan,
value-equivalence-tested against the batch face.

Scale: model fitting happens once at plan build (the k x dim centroid
collect ``llm.clustering._assign`` already does); each micro-batch then
scores with the same zero-shuffle Arrow/NumPy kernel — per-batch cost
is a map pass plus a k-row aggregation, no stream state beyond the
complete-mode aggregate (k rows). A production monitor would window
the aggregation by event time; the all-time rollup keeps the oracle
exact here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hive_2_spark.llm.clustering import (
    _KMEANS_CTE,
    _assign,
    _final_assignment,
    _recenter,
    _seeds,
)
from hive_2_spark.llm.similarity import _vectors, load_embeddings


def stream_cluster_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face: per-cluster size and mean squared distance under the
    trained (2-round) k-means model."""
    a = _final_assignment(spark, sf_dir)
    return a.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d2"), 4).alias("avg_d2"),
    )


def _read_stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the embeddings parquet (collision-free symlinked
    dir — see ``streaming._source``)."""
    from hive_2_spark.streaming._source import read_stream_table

    return read_stream_table(spark, sf_dir, "embeddings", "emb")


def stream_cluster_monitor_builder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming face: fit on the static table at plan build, score the
    stream with the same Arrow kernel, aggregate in complete mode."""
    e_static = load_embeddings(spark, sf_dir)
    trained = _recenter(_assign(e_static, _seeds(e_static)))
    stream = _vectors(_read_stream_embeddings(spark, sf_dir))
    scored = _assign(stream, trained)
    return scored.groupBy(
        F.col("cluster").cast("bigint").alias("cluster")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d2"), 4).alias("avg_d2"),
    )


def stream_anomaly_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch face: per-type anomaly census (count + worst modified z)
    under the median/MAD model of ``core.timeseries.ts_anomaly_mad`` —
    the robust-outlier twin of the k-means drift monitor above."""
    from hive_2_spark.core.timeseries import ts_anomaly_mad

    a = ts_anomaly_mad(spark, sf_dir)
    return a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anomalies"),
        F.max(F.abs(F.col("mz"))).alias("max_abs_mz"),
    )


def stream_anomaly_monitor_builder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming face: (median, MAD) fit on the static table at plan
    build — per-type model state the size of the type dimension — then
    each micro-batch is flagged through a stream-static broadcast join
    and rolled up in complete mode. Same scale shape as the cluster
    monitor: per-batch cost is a map pass + a |types|-row aggregate."""
    from hive_2_spark.catalog import load_table
    from hive_2_spark.core.timeseries import _MAD_CUT, _MAD_K
    from hive_2_spark.streaming.windows import _read_stream_events

    e_static = load_table(spark, sf_dir, "events")
    med = e_static.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e_static.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    stats = med.join(mad, "event_type").filter(F.col("mad") > 0)
    stream = _read_stream_events(spark, sf_dir).select("event_type", "value")
    z = _MAD_K * (F.col("value") - F.col("med")) / F.col("mad")
    flagged = (
        stream.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) >= _MAD_CUT)
        .select(
            "event_type",
            (F.floor(z * 10000.0 + 0.5) / 10000.0).alias("mz"),
        )
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anomalies"),
        F.max(F.abs(F.col("mz"))).alias("max_abs_mz"),
    )


QUERIES = {
    "stream_cluster_monitor": stream_cluster_monitor,
    "stream_anomaly_monitor": stream_anomaly_monitor,
}

from hive_2_spark.core.timeseries import _MAD_CUT as _CUT  # noqa: E402
from hive_2_spark.core.timeseries import _MAD_K as _K  # noqa: E402

ORACLES = {
    "stream_cluster_monitor": (
        f"WITH {_KMEANS_CTE} "
        "SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n, "
        "ROUND(AVG(d2), 4) AS avg_d2 FROM a2 GROUP BY 1"
    ),
    "stream_anomaly_monitor": f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type
), mad AS (
  SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
), a AS (
  SELECT e.event_type,
         FLOOR({_K} * (e.value - m.med) / d.mad * 10000.0 + 0.5)
           / 10000.0 AS mz
  FROM events e JOIN med m USING (event_type) JOIN mad d USING (event_type)
  WHERE d.mad > 0
    AND abs({_K} * (e.value - m.med) / d.mad) >= {_CUT}
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_anomalies,
       MAX(ABS(mz)) AS max_abs_mz
FROM a GROUP BY event_type
""",
}
