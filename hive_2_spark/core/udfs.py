"""UDF / UDAF / UDTF surface (SURVEY.md §2B op 43; §2A op 29 on_change).

Demonstrates every Python-extension tier with its cost profile:

- row-at-a-time ``udf`` — the slow path, kept ONLY as the API demo
  (serde per row; never in a hot path).
- ``pandas_udf`` scalar — Arrow-vectorized, the correct Python path.
- ``pandas_udf`` grouped-agg + ``applyInPandas`` grouped-map — custom
  aggregation/transform per group.
- registered SQL UDF (spark.udf.register) — callable from the SQL API.
- Python UDTF (``@udtf`` + ``spark.udtf.register``) — table-valued
  function invoked via LATERAL, one output row per yielded tuple.

Each demo computes semantics DuckDB can mirror exactly (ASCII case map,
linear math, group z-scores), so even the UDF surface is oracle-checked
— the check proves the Python boundary preserves values, not just that
it runs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hive_2_spark import catalog
from hive_2_spark.catalog import load_table


# Row-at-a-time: API demo only. No type hints: pyspark infers a UDF's
# eval type from them and warns at import when ``str -> str`` fits none.
@F.udf(T.StringType())
def _py_title_case(s):
    return None if s is None else s.title()


@F.pandas_udf(T.DoubleType())
def _charge(price: pd.Series, disc: pd.Series, tax: pd.Series) -> pd.Series:
    return price * (1.0 - disc) * (1.0 + tax)


@F.pandas_udf(T.DoubleType())
def _mean_udaf(v: pd.Series) -> float:
    return float(v.mean())


def udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (title-case on ASCII part names)."""
    p = load_table(spark, sf_dir, "part")
    return p.select("p_partkey", _py_title_case(F.col("p_name")).alias("name_title"))


def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar Pandas UDF (charge formula)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        _charge("l_extendedprice", "l_discount", "l_tax").alias("charge"),
    )


def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate Pandas UDF (mean balance per segment)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(_mean_udaf("c_acctbal"), 4).alias("mean_bal")
    )


def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map: z-score of price within each priority."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf["o_totalprice"].mean()
        sd = pdf["o_totalprice"].std(ddof=1)
        return pd.DataFrame(
            {
                "o_orderkey": pdf["o_orderkey"],
                "o_orderpriority": pdf["o_orderpriority"],
                "z": ((pdf["o_totalprice"] - mu) / sd).round(4),
            }
        )

    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").applyInPandas(
        zscore, schema="o_orderkey long, o_orderpriority string, z double"
    )


def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF registered into the SQL namespace and invoked from SQL."""
    spark.udf.register(
        "bal_band",
        lambda b: "high" if b is not None and b >= 5000.0 else "low",
        T.StringType(),
    )
    return catalog.sql(
        spark, sf_dir, "SELECT c_custkey, bal_band(c_acctbal) AS band FROM customer"
    )


def udf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: LATERAL table function yielding one row per word.

    The third extension tier after scalar UDF and grouped UDAF — a
    generator UDTF correlated per input row (``FROM part, LATERAL
    split_words(p_name)``). Kept off hot paths like the scalar demo:
    the built-in explode/split covers this case JVM-side; the key proves
    the extension surface round-trips values exactly.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, wlen bigint")
    class SplitWords:
        def eval(self, name: str):
            if name is None:
                return
            for w in name.split(" "):
                yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    return catalog.sql(
        spark,
        sf_dir,
        "SELECT p.p_partkey, s.word, s.wlen "
        "FROM part p, LATERAL split_words(p.p_name) s",
    )


def udf_map_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the zero-copy Arrow-native tier below
    ``mapInPandas`` — the iterator yields ``pyarrow.RecordBatch``es, so
    no pandas conversion (and no pandas NULL/dtype coercion) happens at
    the boundary. The right tier when the Python side is itself
    Arrow-based (pyarrow.compute, polars, DuckDB-in-worker): per-batch
    cost is pointer handoff, not a DataFrame build. The kernel here is
    pyarrow.compute arithmetic (net revenue in exact cents), so the
    oracle proves the Arrow boundary round-trips values bit-for-bit.
    Scale shape: identical to mapInPandas — a zero-shuffle map over
    scan batches; batch size rides spark.sql.execution.arrow
    .maxRecordsPerBatch."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def net_cents(batches):
        for b in batches:
            price = b.column("l_extendedprice")
            disc = b.column("l_discount")
            # exact integer cents: round(price*100) * (100 - round(disc*100))
            p_c = pc.round(pc.multiply(price, pa.scalar(100.0)))
            d_c = pc.round(pc.multiply(disc, pa.scalar(100.0)))
            net = pc.multiply(
                pc.cast(p_c, pa.int64()),
                pc.subtract(pa.scalar(100, pa.int64()), pc.cast(d_c, pa.int64())),
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("l_orderkey"),
                    # parquet stores linenumber as int32; the declared
                    # output schema is bigint — cast HERE, because Spark
                    # trusts the declared schema and the JVM-side vector
                    # accessor crashes on a width mismatch
                    pc.cast(b.column("l_linenumber"), pa.int64()),
                    net,
                ],
                names=["l_orderkey", "l_linenumber", "net_cc"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    )
    return li.mapInArrow(
        net_cents, "l_orderkey bigint, l_linenumber bigint, net_cc bigint"
    )


QUERIES = {
    "udf_scalar": udf_scalar,
    "udf_map_arrow": udf_map_arrow,
    "udf_pandas_scalar": udf_pandas_scalar,
    "udf_grouped_agg": udf_grouped_agg,
    "udf_grouped_map": udf_grouped_map,
    "udf_sql_registered": udf_sql_registered,
    "udf_table": udf_table,
}

ORACLES = {
    # pyarrow.compute round() is banker's rounding (round-half-even),
    # same as DuckDB ROUND on doubles? NO — DuckDB rounds half away from
    # zero. The fixture prices/discounts are exact cents (x.xx), so
    # price*100 lands on integers exactly and no .5 boundary is ever
    # hit; both engines agree (verified by the hash match at two SFs).
    "udf_map_arrow": (
        "SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber, "
        "CAST(ROUND(l_extendedprice * 100) AS BIGINT) * "
        "(100 - CAST(ROUND(l_discount * 100) AS BIGINT)) AS net_cc "
        "FROM lineitem"
    ),
    # Python str.title() on ASCII == initcap-with-nonalpha-boundaries; the
    # part names are space-separated lowercase ASCII words, where title()
    # and INITCAP agree exactly.
    "udf_scalar": (
        "SELECT p_partkey, "
        "list_aggregate(list_transform(string_split(p_name, ' '), "
        "  x -> UPPER(x[1]) || LOWER(x[2:])), 'string_agg', ' ') AS name_title "
        "FROM part"
    ),
    "udf_pandas_scalar": (
        "SELECT l_orderkey, l_linenumber, "
        "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge "
        "FROM lineitem"
    ),
    "udf_grouped_agg": (
        "SELECT c_mktsegment, ROUND(AVG(c_acctbal), 4) AS mean_bal "
        "FROM customer GROUP BY c_mktsegment"
    ),
    "udf_grouped_map": (
        "SELECT o_orderkey, o_orderpriority, "
        "ROUND((o_totalprice - AVG(o_totalprice) OVER w) / "
        "      (STDDEV_SAMP(o_totalprice) OVER w), 4) AS z "
        "FROM orders WINDOW w AS (PARTITION BY o_orderpriority)"
    ),
    "udf_sql_registered": (
        "SELECT c_custkey, "
        "CASE WHEN c_acctbal >= 5000.0 THEN 'high' ELSE 'low' END AS band "
        "FROM customer"
    ),
    "udf_table": (
        "SELECT p_partkey, u.word, CAST(LENGTH(u.word) AS BIGINT) AS wlen "
        "FROM part, UNNEST(string_split(p_name, ' ')) AS u(word)"
    ),
}
