"""Incremental aggregate maintenance (materialized-view pattern).

A summary table (per-key sums/counts) is kept in a parquet directory
and folded forward as new fact batches arrive: the delta batch is
partially aggregated, then merged into the summary with a key-join +
re-aggregation of ONLY the touched keys' rows. Each new summary is
committed with the store's crash-safe swap (``model/store.py``
``commit``/``recover``). Equivalent to full recomputation (asserted by
tests/test_incremental.py) but processes O(delta) instead of
O(history) — the warehouse pattern behind streaming upsert sinks and
nightly rollup maintenance.

Mergeable stats only (sum/count/min/max — and avg derived at read time
from sum/count). Non-mergeable stats (exact distinct, median) need a
sketch (HLL/KLL) carried in the summary instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.model.store import commit, new_swap, recover


class IncrementalAggregate:
    """Per-key running (sum, count, min, max) over an append-only fact."""

    def __init__(
        self, spark: SparkSession, path: str, key: str, value: str
    ) -> None:
        self.spark = spark
        self.path = path
        self.key = key
        self.value = value
        self._schema = (
            f"{key} long, sum_v double, n long, min_v double, max_v double"
        )

    def _agg(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self.key).agg(
            F.sum(self.value).alias("sum_v"),
            F.count(F.lit(1)).alias("n"),
            F.min(self.value).alias("min_v"),
            F.max(self.value).alias("max_v"),
        )

    def init(self, facts: DataFrame) -> None:
        recover(self.path)
        swap = new_swap(self.path)
        self._agg(facts).write.parquet(swap)
        commit(self.path, swap)

    def current(self) -> DataFrame:
        recover(self.path)
        return self.spark.read.schema(self._schema).parquet(self.path)

    def fold(self, delta_facts: DataFrame) -> None:
        """Merge a new fact batch: partial-agg the delta, co-aggregate
        with the existing summary rows (mergeable stats re-merge)."""
        delta = self._agg(delta_facts)
        merged = (
            self.current()
            .unionByName(delta)
            .groupBy(self.key)
            .agg(
                F.sum("sum_v").alias("sum_v"),
                F.sum("n").alias("n"),
                F.min("min_v").alias("min_v"),
                F.max("max_v").alias("max_v"),
            )
        )
        swap = new_swap(self.path)
        merged.write.parquet(swap)
        commit(self.path, swap)

    def read(self) -> DataFrame:
        """Summary with derived avg (sum/count at read time)."""
        return self.current().withColumn(
            "avg_v", F.col("sum_v") / F.col("n")
        )
