"""Bucketed tables: pre-shuffled storage so equi-joins on the bucket key
run WITHOUT an exchange — the co-located-join strategy for repeated
large-large joins at scale (guide §Partitioning: bucketing)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.engine import formatted_plan
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def bucketed(spark):
    # warehouse.dir is a static conf — bucketed tables land in the default
    # spark-warehouse; dropped again after the module
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    o = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    for name, df, key in [("b_lineitem", li, "l_orderkey"), ("b_orders", o, "o_orderkey")]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").saveAsTable(name)
    yield spark
    for name in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_catalog_bucketed_join_key_has_no_shuffle(spark):
    """The registry key's join must also run exchange-free once the
    bucketed tables exist (broadcast disabled to force the choice)."""
    from hive_2_spark.core.layout import catalog_bucketed_join

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = catalog_bucketed_join(spark, SF_DIR)
        plan = formatted_plan(df)
        # the only exchange allowed is the one for the final groupBy
        join_part = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert "Exchange" not in join_part
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_bucketed_join_has_no_shuffle(bucketed):
    spark = bucketed
    # disable broadcast so the join must choose a shuffle or bucket strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "inner",
        )
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout replaces the shuffle
        # sanity: same result as the plain join
        plain = load_table(spark, SF_DIR, "lineitem").join(
            load_table(spark, SF_DIR, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "inner",
        )
        assert j.count() == plain.count()
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
