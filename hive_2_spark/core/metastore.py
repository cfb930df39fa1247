"""Managed-table (metastore/warehouse) face — SURVEY.md §0 north star.

The reference ORM delegates table bookkeeping to its RDBMS catalog
(``classes/hive/meta.php:70-86`` table registry); Spark's analogue is the
session catalog + warehouse directory: ``CREATE DATABASE``,
``saveAsTable``, ``spark.table``, ``spark.catalog.*``. That is the first
thing a real user does with a SQL engine, so it gets first-class query
keys, not just an API wrapper.

The database lives at an explicit LOCATION under the repo's
``spark-warehouse/`` directory, so behavior does not depend on the
calling process's working directory (the driver brings its own
SparkSession with its own CWD). Managed-table writes are parquet and
idempotent (mode=overwrite), so query keys can run repeatedly.

At 100 TB the only change is the location string (an object-store URI)
and the catalog implementation (Hive metastore / Unity / Glue behind the
same ``spark.catalog`` API) — every call here is catalog-agnostic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark import catalog
from hive_2_spark.catalog import load_table

DB = "hive2_managed"

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def warehouse_location() -> str:
    """Absolute warehouse dir for managed databases (CWD-independent)."""
    return os.path.join(_REPO_ROOT, "spark-warehouse")


def ensure_database(spark: SparkSession, db: str = DB) -> None:
    loc = os.path.join(warehouse_location(), f"{db}.db")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")


def _clear_orphaned_location(spark: SparkSession, table: str, db: str) -> None:
    """Drop leftover warehouse files that no catalog entry owns.

    The default session catalog is in-memory, so a new session starts
    with an empty catalog while the previous session's table files are
    still on disk — saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    A persistent metastore (Hive/Glue) would re-own the location instead;
    with the in-memory catalog the orphaned files are safe to reclaim.
    """
    import shutil

    target = os.path.join(warehouse_location(), f"{db}.db", table)
    if not spark.catalog.tableExists(f"{db}.{table}") and os.path.isdir(target):
        shutil.rmtree(target)


def create_managed(
    spark: SparkSession, sf_dir: str, table: str, db: str = DB
) -> DataFrame:
    """Materialize a driver table as a managed parquet table; return the
    catalog-served DataFrame (``spark.table``, NOT the source files)."""
    ensure_database(spark, db)
    _clear_orphaned_location(spark, table, db)
    load_table(spark, sf_dir, table).write.mode("overwrite").format(
        "parquet"
    ).saveAsTable(f"{db}.{table}")
    return spark.table(f"{db}.{table}")


def create_managed_as_select(
    spark: SparkSession, df: DataFrame, table: str, db: str = DB
) -> DataFrame:
    """CTAS face: persist an arbitrary DataFrame as a managed table."""
    ensure_database(spark, db)
    _clear_orphaned_location(spark, table, db)
    df.write.mode("overwrite").format("parquet").saveAsTable(f"{db}.{table}")
    return spark.table(f"{db}.{table}")


def drop_managed(spark: SparkSession, table: str, db: str = DB) -> None:
    spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")


def list_managed(spark: SparkSession, db: str = DB) -> list[str]:
    """Managed tables only: listTables(db) also returns session TEMP
    views (catalog API contract), which are not warehouse tables."""
    ensure_database(spark, db)
    return [t.name for t in spark.catalog.listTables(db) if not t.isTemporary]


# --------------------------------------------------------------- query keys
def catalog_managed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate served from a MANAGED table: nation is written with
    saveAsTable and read back via spark.table — the scan in this plan
    hits the warehouse copy, proving the catalog path end-to-end."""
    n = create_managed(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


def catalog_managed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-provenance join: managed region (catalog) x file-backed
    supplier+nation (parquet paths) — engines routinely mix catalog
    tables with external files in one plan."""
    r = create_managed(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
    )


def create_partitioned_ddl(spark: SparkSession, sf_dir: str) -> None:
    """Pure-SQL DDL path: partitioned managed table via CTAS, extended
    with INSERT INTO ... SELECT. Drop+recreate keeps the key idempotent
    (the in-memory session catalog cannot REPLACE TABLE)."""
    ensure_database(spark, DB)
    spark.sql(f"DROP TABLE IF EXISTS {DB}.orders_part")
    _clear_orphaned_location(spark, "orders_part", DB)
    # partition column last: v1 tables store partition columns at the
    # schema tail, and INSERT INTO matches by position
    catalog.sql(spark, sf_dir, f"""
        CREATE TABLE {DB}.orders_part
        USING parquet PARTITIONED BY (o_orderstatus)
        AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderstatus = 'F'
        """
    )
    catalog.sql(spark, sf_dir, f"""
        INSERT INTO {DB}.orders_part
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderstatus = 'O'
        """
    )


def catalog_partitioned_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query key: CTAS + INSERT INTO a PARTITIONED managed table, then an
    aggregate over one partition — the WHERE reaches the scan as a
    partition filter (directory pruning, gated in tests/test_metastore),
    which is THE layout win for a 100 TB fact table."""
    create_partitioned_ddl(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM {DB}.orders_part
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderstatus
        """
    )


_STATUS_DIM = [("F", "closed"), ("O", "open"), ("P", "pending")]


def catalog_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the partitioned fact is joined to a
    dimension whose FILTER (not the fact's) decides which partitions
    are read. Catalyst turns the broadcast dim into a runtime partition
    filter on the fact scan (``dynamicpruningexpression`` — gated in
    tests/test_metastore), so at 100 TB the fact directories for
    non-matching statuses are never listed, let alone read. The static
    variant of this win is ``catalog_partitioned_ddl``."""
    create_partitioned_ddl(spark, sf_dir)
    fact = spark.table(f"{DB}.orders_part")
    dim = spark.createDataFrame(_STATUS_DIM, "status string, phase string")
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("phase") == "closed")),
            fact.o_orderstatus == F.col("status"),
        )
        .groupBy("phase", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def catalog_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistent catalog VIEW + query THROUGH it.

    The view is defined directly over the parquet path (a permanent
    view may not reference temp views), so this proves the full chain:
    view expansion -> logical plan inlining -> filter/column pushdown
    reaching the underlying scan (gated in tests/test_plans.py). The
    view name embeds a hash of the resolved fixture path: a permanent
    view lives in the SHARED metastore, so a name reused across
    different sf_dirs (or concurrent sessions) would silently repoint
    last-writer-wins and a query could read a different fixture than
    its oracle. The reference's analogue is modeling an aggregate query
    as a table (`classes/hive/model.php` goal 4, README.md:8)."""
    import hashlib
    import os

    from hive_2_spark.catalog import table_path

    ensure_database(spark, DB)
    path = table_path(sf_dir, "orders")
    tag = hashlib.sha1(os.path.realpath(path).encode()).hexdigest()[:10]
    view = f"{DB}.order_rev_{tag}"
    spark.sql(
        f"""
        CREATE OR REPLACE VIEW {view} AS
        SELECT o_orderpriority, o_totalprice, o_orderstatus
        FROM parquet.`{path}`
        """
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority, COUNT(*) AS n,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM {view}
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
        """
    )


QUERIES = {
    "catalog_managed_agg": catalog_managed_agg,
    "catalog_managed_join": catalog_managed_join,
    "catalog_partitioned_ddl": catalog_partitioned_ddl,
    "catalog_dpp_join": catalog_dpp_join,
    "catalog_view": catalog_view,
}

ORACLES = {
    "catalog_view": (
        "SELECT o_orderpriority, COUNT(*) AS n, "
        "ROUND(SUM(o_totalprice), 2) AS revenue "
        "FROM orders WHERE o_orderstatus = 'O' GROUP BY o_orderpriority"
    ),
    "catalog_managed_agg": (
        "SELECT n_regionkey, COUNT(*) AS n_nations, "
        "MIN(n_name) AS first_nation FROM nation GROUP BY n_regionkey"
    ),
    "catalog_managed_join": (
        "SELECT r_name, COUNT(*) AS n_suppliers, "
        "ROUND(SUM(s_acctbal), 2) AS total_acctbal "
        "FROM supplier JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    ),
    "catalog_partitioned_ddl": (
        "SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "ROUND(SUM(o_totalprice), 2) AS total_price "
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus"
    ),
    "catalog_dpp_join": (
        "SELECT 'closed' AS phase, o_orderstatus, "
        "CAST(COUNT(*) AS BIGINT) AS n_orders, "
        "ROUND(SUM(o_totalprice), 2) AS total_price "
        "FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus"
    ),
}
