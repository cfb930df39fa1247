"""Streaming model serving (SURVEY.md §2B op 42 extension): score a
stream against a model fitted on the static table, and roll the scores
up into the monitor table a serving deployment alarms on — per-cluster
sizes and mean squared distance under the trained k-means centroids,
and the per-type anomaly census under the median/MAD model.

One transform, two reads, as in ``streaming.windows``: each monitor is
one function of (scored frame, static table). The registry key passes
``load_table``'s frame as both, so it is the DuckDB-oracle-checked
batch model (``llm.clustering._final_assignment`` and
``core.timeseries.ts_anomaly_mad`` run exactly this); the ``*_builder``
scores ``read_stream_table`` instead, and the tests compare the two on
every column. The model code exists once, so it cannot drift.

Scale: model fitting happens once at plan build (the k x dim centroid
collect ``llm.clustering._assign`` already does; the per-type median
and MAD frames broadcast into a stream-static join); each micro-batch
is then a map pass plus a k- or |types|-row aggregation, no stream
state beyond the complete-mode aggregate. A production monitor would
window the aggregation by event time; the all-time rollup keeps the
oracle exact here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.timeseries import _DK_MAD_FLAGS, _mad_flags, _mad_model
from hive_2_spark.llm.clustering import _KMEANS_CTE, _assign, _trained_centroids
from hive_2_spark.llm.similarity import _vectors, load_embeddings
from hive_2_spark.streaming._source import read_stream_table


def _cluster_census(v: DataFrame, static: DataFrame) -> DataFrame:
    """Per-cluster size and mean squared distance of vectors ``v`` under
    the k-means model trained on ``static``."""
    a = _assign(v, _trained_centroids(static))
    return a.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("d2"), 4).alias("avg_d2"),
    )


def stream_cluster_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir)
    return _cluster_census(e, e)


def stream_cluster_monitor_builder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _cluster_census(
        _vectors(read_stream_table(spark, sf_dir, "embeddings")),
        load_embeddings(spark, sf_dir),
    )


def _anomaly_census(e: DataFrame, static: DataFrame) -> DataFrame:
    """Per-type anomaly census of events ``e`` (count + worst modified
    z) under the median/MAD model fitted on ``static`` — the
    robust-outlier twin of the k-means drift monitor above."""
    a = _mad_flags(e, *_mad_model(static))
    return a.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_anomalies"),
        F.max(F.abs(F.col("mz"))).alias("max_abs_mz"),
    )


def stream_anomaly_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return _anomaly_census(e, e)


def stream_anomaly_monitor_builder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _anomaly_census(
        read_stream_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "events"),
    )


QUERIES = {
    "stream_cluster_monitor": stream_cluster_monitor,
    "stream_anomaly_monitor": stream_anomaly_monitor,
}

ORACLES = {
    "stream_cluster_monitor": (
        f"WITH {_KMEANS_CTE} "
        "SELECT CAST(cluster AS BIGINT) AS cluster, COUNT(*) AS n, "
        "ROUND(AVG(d2), 4) AS avg_d2 FROM a2 GROUP BY 1"
    ),
    "stream_anomaly_monitor": (
        f"WITH {_DK_MAD_FLAGS} "
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_anomalies, "
        "MAX(ABS(mz)) AS max_abs_mz FROM flagged GROUP BY event_type"
    ),
}
