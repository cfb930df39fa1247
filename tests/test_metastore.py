"""Managed-table lifecycle: create -> list -> read via spark.table ->
drop. The warehouse dir is real (files on disk), the catalog API is the
standard spark.catalog surface.
"""

from __future__ import annotations

import os

from hive_2_spark.catalog import load_table
from hive_2_spark.core.metastore import (
    DB,
    create_managed,
    create_managed_as_select,
    drop_managed,
    list_managed,
    warehouse_location,
)
from hive_2_spark.engine import formatted_plan
from tests.conftest import SF_DIR


def test_managed_table_lifecycle(spark):
    drop_managed(spark, "nation")
    assert "nation" not in list_managed(spark)

    managed = create_managed(spark, SF_DIR, "nation")
    # catalog sees it
    assert "nation" in list_managed(spark)
    assert spark.catalog.tableExists(f"{DB}.nation")
    # warehouse files exist on disk
    loc = os.path.join(warehouse_location(), f"{DB}.db", "nation")
    assert os.path.isdir(loc) and os.listdir(loc)
    # catalog copy matches the source files exactly
    src = load_table(spark, SF_DIR, "nation")
    assert sorted(map(tuple, managed.collect())) == sorted(
        map(tuple, src.collect())
    )

    drop_managed(spark, "nation")
    assert not spark.catalog.tableExists(f"{DB}.nation")


def test_ctas_face(spark):
    df = load_table(spark, SF_DIR, "region").selectExpr(
        "r_regionkey", "upper(r_name) AS r_name_uc"
    )
    out = create_managed_as_select(spark, df, "region_uc")
    assert out.count() == 5
    assert set(out.columns) == {"r_regionkey", "r_name_uc"}
    drop_managed(spark, "region_uc")


def test_partitioned_ddl_prunes_partitions(spark):
    """CTAS + INSERT INTO a partitioned managed table; a status-filtered
    read must hit ONE partition directory (PartitionFilters in the scan),
    and the table must contain exactly the two inserted partitions."""
    from hive_2_spark.core.metastore import catalog_partitioned_ddl

    df = catalog_partitioned_ddl(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "o_orderstatus" in plan
    # partition directories on disk: exactly F and O
    loc = os.path.join(warehouse_location(), f"{DB}.db", "orders_part")
    parts = sorted(d for d in os.listdir(loc) if d.startswith("o_orderstatus="))
    assert parts == ["o_orderstatus=F", "o_orderstatus=O"]
    # idempotent on re-run (drop + recreate, no row duplication)
    n1 = spark.table(f"{DB}.orders_part").count()
    catalog_partitioned_ddl(spark, SF_DIR)
    assert spark.table(f"{DB}.orders_part").count() == n1
    src = load_table(spark, SF_DIR, "orders")
    assert n1 == src.filter("o_orderstatus IN ('F','O')").count()


def test_analyze_table_feeds_cbo_stats(spark):
    """ANALYZE TABLE ... FOR ALL COLUMNS must land row/size stats in the
    catalog (DESCRIBE EXTENDED) and per-column distinct counts — the
    inputs Spark's cost-based optimizer uses for join reordering and
    broadcast decisions on managed tables."""
    from hive_2_spark.core.metastore import create_managed

    create_managed(spark, SF_DIR, "nation")
    spark.sql(f"ANALYZE TABLE {DB}.nation COMPUTE STATISTICS FOR ALL COLUMNS")
    desc = spark.sql(f"DESCRIBE EXTENDED {DB}.nation").collect()
    stats = [r for r in desc if r.col_name == "Statistics"]
    assert stats, "no Statistics row in DESCRIBE EXTENDED"
    assert "rows" in stats[0].data_type  # e.g. '... bytes, 25 rows'
    cdesc = spark.sql(
        f"DESCRIBE EXTENDED {DB}.nation n_nationkey"
    ).collect()
    meta = {r.info_name: r.info_value for r in cdesc}
    assert meta.get("distinct_count", "NULL") != "NULL"
    assert meta.get("max") == "24"  # 25 nations, keys 0..24


def test_dpp_join_prunes_at_runtime(spark):
    """The dim-side filter must become a DYNAMIC partition-pruning
    subquery on the fact scan — the runtime analogue of the static
    PartitionFilters gate above."""
    from hive_2_spark.core.metastore import catalog_dpp_join

    df = catalog_dpp_join(spark, SF_DIR)
    plan = formatted_plan(df).lower()
    assert "dynamicpruning" in plan
    rows = df.collect()
    assert [r["o_orderstatus"] for r in rows] == ["F"]
    assert rows[0]["phase"] == "closed"
