"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32
threads, single JVM). The config choices below are the ones that also
hold on a real multi-executor cluster:

- AQE on (runtime coalesce + skew-join splitting) — at 100 TB the static
  shuffle-partition guess is always wrong; AQE re-plans from actual map
  output sizes.
- ``spark.sql.shuffle.partitions`` sized to the local core count; on a
  cluster this is a floor — AQE coalesces or splits as needed.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle.
- Arrow enabled for any pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(app_name: str = "hive_2_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = cpu_count()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # testdata parquet is small single-row-group files; smaller split
        # targets raise local parallelism on multi-rowgroup inputs and are
        # harmless at cluster scale (AQE re-coalesces)
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .getOrCreate()
    )


def run_concurrently(spark: SparkSession, jobs: list) -> None:
    """Run independent ``(frame, action)`` jobs, ``action(frame)``, from a
    3-thread pool so one job's straggler tail back-fills with the next
    job's tasks. Each pool thread pins ``spark`` as the JVM's active
    session (a fresh thread has none, so a registered Python data source
    or the session catalog would not resolve there), and every frame must
    belong to ``spark``: one pool never spans sessions."""
    js = spark._jsparkSession
    if not all(df.sparkSession._jsparkSession.equals(js) for df, _ in jobs):
        raise ValueError("every job's frame must belong to the pinned session")
    pin = spark._jvm.org.apache.spark.sql.classic.SparkSession.setActiveSession

    def _run(job) -> None:
        pin(js)
        job[1](job[0])

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_run, jobs))
