"""Skew-mitigation operators: salting for hot keys (build-brief mandate).

The transparency contract IS the oracle: a salted join/aggregate must
produce byte-identical results to the plain form — so each query's
DuckDB oracle is simply the UNSALTED equivalent.

- ``join_salted``: big side gets a random-ish (but deterministic: pmod of
  a hash of the row) salt in [0, N); the broadcast/small side is exploded
  across all N salts; the join key becomes (key, salt). A hot key's rows
  now spread over N tasks instead of one straggler.
- ``agg_salted``: two-phase aggregation — partial agg on (key, salt),
  final agg on key. SUM/COUNT re-aggregate losslessly; AVG is carried as
  (sum, count) pairs through the first phase.

At 100 TB this is the manual fallback when AQE's skew-join splitting
cannot apply (e.g. aggregations, or broadcast-ineligible dimensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.windows import _dk_nearest_rank, nearest_rank

N_SALTS = 8


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = N_SALTS
) -> DataFrame:
    salted_big = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(n_salts))
    )
    exploded_small = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<long>"))
    )
    return salted_big.join(exploded_small, on=[key, "__salt"], how="inner").drop(
        "__salt"
    )


def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem x orders salted equi-join; result == plain join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_quantity"
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderstatus"
    )
    return salted_join(li, o, "okey")


def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation; result == plain groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    salted = li.withColumn(
        "__salt", F.pmod(F.col("l_orderkey"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("l_returnflag", "__salt").agg(
        F.sum("l_quantity").alias("ps"),
        F.count(F.lit(1)).alias("pc"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.round(F.sum("ps"), 2).alias("sum_qty"),
        F.sum("pc").alias("n"),
    )


# (label, table, key) relations the skew report profiles — the join/agg
# keys the engine's own hot paths shuffle on
_SKEW_RELS = [
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
    ("events.user_id", "events", "user_id"),
]


_SKEW_PICKS = {"p50": 50, "p90": 90, "p99": 99}


def _skew_metrics(df: DataFrame, key: str, label: str) -> DataFrame:
    """One diagnosis row for a (table, key) pair — all INTEGER outputs
    so no float boundary exists on either engine."""
    counts = df.groupBy(F.col(key).alias("k")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max(F.struct(F.col("cnt"), (-F.col("k")).alias("negk"))).alias(
            "m"
        ),
    ).select(
        "n_keys",
        "n_rows",
        F.col("m.cnt").alias("max_c"),
        (-F.col("m.negk")).alias("hot_key"),
    )
    # count-of-counts histogram: the domain is per-key multiplicities
    # (dozens of distinct values), so nearest_rank's global cumulative
    # window is metadata-sized
    pcts = nearest_rank(counts, [], "cnt", F.lit(1), _SKEW_PICKS).drop("n")
    return stats.crossJoin(F.broadcast(pcts)).select(
        F.lit(label).alias("rel"),
        F.col("n_keys").cast("bigint").alias("n_keys"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("max_c").cast("bigint").alias("max_per_key"),
        F.col("p50").cast("bigint").alias("p50"),
        F.col("p90").cast("bigint").alias("p90"),
        F.col("p99").cast("bigint").alias("p99"),
        F.col("hot_key").cast("bigint").alias("hot_key"),
        F.expr("CAST(max_c * n_keys * 100 DIV n_rows AS BIGINT)").alias(
            "skew_x100"
        ),
    )


def skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis — the report you run BEFORE picking a
    salting factor or trusting AQE to split a hot partition: per key
    column, the per-key row-count distribution (exact p50/p90/p99 via
    the count-of-counts histogram), the hottest key (smallest id on
    ties), and skew_x100 = max/avg * 100.

    Scale shape per relation: one partial-agged exchange to per-key
    counts, then all statistics derive from the count-of-counts
    HISTOGRAM — a frame whose size is the number of distinct
    multiplicities, never the key space — so the global window and the
    two 1-row joins are metadata-sized (the scalar-subquery shape).
    """
    out = None
    for label, table, key in _SKEW_RELS:
        m = _skew_metrics(load_table(spark, sf_dir, table), key, label)
        out = m if out is None else out.unionByName(m)
    return out


QUERIES = {
    "join_salted": join_salted,
    "agg_salted": agg_salted,
    "skew_report": skew_report,
}


def _dk_skew(label: str, table: str, key: str) -> str:
    counts = f"(SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY 1)"
    return f"""
SELECT '{label}' AS rel,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       CAST(s.n_rows AS BIGINT) AS n_rows,
       CAST(s.max_c AS BIGINT) AS max_per_key,
       {", ".join(f"CAST(q.{c} AS BIGINT) AS {c}" for c in _SKEW_PICKS)},
       CAST((SELECT MIN(k) FROM {counts} WHERE cnt = s.max_c) AS BIGINT)
         AS hot_key,
       CAST(s.max_c * s.n_keys * 100 // s.n_rows AS BIGINT) AS skew_x100
FROM (
  SELECT COUNT(*) AS n_keys, SUM(cnt) AS n_rows, MAX(cnt) AS max_c
  FROM {counts}
) s, ({_dk_nearest_rank(counts, [], "cnt", "1", _SKEW_PICKS)}) q
"""


ORACLES = {
    "skew_report": " UNION ALL ".join(
        _dk_skew(label, table, key) for label, table, key in _SKEW_RELS
    ),
    "join_salted": (
        "SELECT l_orderkey AS okey, l_linenumber, l_quantity, o_orderstatus "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey"
    ),
    "agg_salted": (
        "SELECT l_returnflag, ROUND(SUM(l_quantity), 2) AS sum_qty, "
        "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    ),
}
