"""Write-path operators as oracle-checkable transformations
(SURVEY.md §2A ops 16-19, 27, 28).

The real file-mutating machinery lives in ``hive_2_spark.model.store``
(atomic parquet merge-rewrite) and is exercised by tests/test_store.py.
The driver's oracle cannot observe file mutation, so each write op is
ALSO expressed here as the pure transformation that computes the
post-write table state — the exact join/union/CASE plan the store
executes before its atomic swap:

- insert  -> UNION ALL of base and new rows      (model.php:667-706)
- update  -> CASE-overwrite of targeted rows      (model.php:775-811)
- delete  -> anti-join of victims                 (model.php:831-853)
- upsert  -> left-join coalesce + unmatched union (model.php:873-885)
- changed_rows_diff -> snapshot EXCEPT ALL        (model.php:131-136 dirty
  tracking, scaled to set-level: curr vs prev)
- validate_rules -> per-row rule evaluation       (model.php:940-1026)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.model.validate import (
    Rule,
    Validator,
    in_range,
    matches,
    max_length,
    not_empty,
)


def insert_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-insert state of nation: base rows + 2 new typed rows with
    auto-assigned ids (max(existing)+row_number)."""
    n = load_table(spark, sf_dir, "nation")
    max_key = n.agg(F.max("n_nationkey").alias("mk"))
    new_rows = (
        spark.range(1, 3)
        .crossJoin(max_key)
        .select(
            (F.col("mk") + F.col("id")).cast("int").alias("n_nationkey"),
            F.concat(F.lit("NEW_NATION_"), F.col("id")).alias("n_name"),
            F.lit(0).cast("int").alias("n_regionkey"),
        )
    )
    return n.unionByName(new_rows)


def update_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-update state: dirty-only SET on the targeted rows
    (SET o_orderpriority = '1-URGENT' WHERE o_totalprice > 400000)."""
    o = load_table(spark, sf_dir, "orders")
    hit = F.col("o_totalprice") > 400000.0
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.when(hit, F.lit("1-URGENT")).otherwise(F.col("o_orderpriority")).alias(
            "o_orderpriority"
        ),
        "o_orderdate",
    )


def delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-delete state: survivors after DELETE WHERE (anti-join form)."""
    o = load_table(spark, sf_dir, "orders")
    victims = o.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000.0)
    )
    return o.join(
        victims.select("o_orderkey"), on="o_orderkey", how="left_anti"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def upsert_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE: incoming batch updates matching customers, inserts new ones.

    Incoming = derived deterministically from supplier (keys overlap the
    low custkeys; keys+1M are new). Target-left-join-source + per-column
    coalesce, then union of unmatched source rows. ParquetStore.upsert
    computes the same rows with one full-outer join on the key.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    s = load_table(spark, sf_dir, "supplier")
    incoming = s.select(
        F.col("s_suppkey").alias("c_custkey"),
        F.concat(F.lit("UPSERTED_"), F.col("s_name")).alias("c_name"),
        F.col("s_acctbal").alias("c_acctbal"),
    )
    merged = (
        c.alias("t")
        .join(incoming.alias("s"), on="c_custkey", how="left")
        .select(
            F.col("c_custkey"),
            F.coalesce(F.col("s.c_name"), F.col("t.c_name")).alias("c_name"),
            F.coalesce(F.col("s.c_acctbal"), F.col("t.c_acctbal")).alias(
                "c_acctbal"
            ),
        )
    )
    inserts = incoming.join(c.select("c_custkey"), on="c_custkey", how="left_anti")
    return merged.unionByName(inserts)


def changed_rows_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-level dirty tracking: EXCEPT ALL between the updated snapshot
    and the original — exactly the changed rows surface."""
    prev = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    curr = prev.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderstatus") == "P", F.col("o_totalprice") * 1.1
        ).otherwise(F.col("o_totalprice")),
    )
    return curr.exceptAll(prev)


def validate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule engine over customer: README.md:42-48-style rules rendered as
    one codegen'd projection; outputs per-row error count + first error."""
    c = load_table(spark, sf_dir, "customer")
    v = Validator(
        [
            Rule("c_name", not_empty, "name:empty"),
            Rule("c_name", max_length(18), "name:too_long"),
            Rule("c_mktsegment", matches("^[A-Z]+$"), "segment:format"),
            Rule("c_acctbal", in_range(-500.0, 8000.0), "balance:range"),
        ]
    )
    return v.annotate(c).select(
        "c_custkey",
        F.size("_errors").alias("n_errors"),
        F.try_element_at("_errors", F.lit(1)).alias("first_error"),
        F.col("_valid").alias("is_valid"),
    )


QUERIES = {
    "insert_rows": insert_rows,
    "update_rows": update_rows,
    "delete_rows": delete_rows,
    "upsert_rows": upsert_rows,
    "changed_rows_diff": changed_rows_diff,
    "validate_rules": validate_rules,
}

ORACLES = {
    "insert_rows": (
        "SELECT n_nationkey, n_name, n_regionkey FROM nation "
        "UNION ALL "
        "SELECT CAST(mk + i AS INT), 'NEW_NATION_' || i, CAST(0 AS INT) "
        "FROM (SELECT MAX(n_nationkey) AS mk FROM nation), "
        "(SELECT 1 AS i UNION ALL SELECT 2)"
    ),
    "update_rows": (
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "CASE WHEN o_totalprice > 400000.0 THEN '1-URGENT' "
        "ELSE o_orderpriority END AS o_orderpriority, o_orderdate "
        "FROM orders"
    ),
    "delete_rows": (
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders "
        "WHERE NOT COALESCE(o_orderstatus = 'F' "
        "AND o_totalprice < 50000.0, FALSE)"
    ),
    "upsert_rows": (
        "SELECT c.c_custkey, "
        "COALESCE(s.c_name, c.c_name) AS c_name, "
        "COALESCE(s.c_acctbal, c.c_acctbal) AS c_acctbal "
        "FROM (SELECT c_custkey, c_name, c_acctbal FROM customer) c "
        "LEFT JOIN (SELECT s_suppkey AS c_custkey, "
        "           'UPSERTED_' || s_name AS c_name, s_acctbal AS c_acctbal "
        "           FROM supplier) s USING (c_custkey) "
        "UNION ALL "
        "SELECT s_suppkey, 'UPSERTED_' || s_name, s_acctbal FROM supplier "
        "WHERE s_suppkey NOT IN (SELECT c_custkey FROM customer)"
    ),
    "changed_rows_diff": (
        "SELECT o_orderkey, o_orderstatus, "
        "CASE WHEN o_orderstatus = 'P' THEN o_totalprice * 1.1 "
        "ELSE o_totalprice END AS o_totalprice "
        "FROM orders "
        "EXCEPT ALL "
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders"
    ),
    "validate_rules": (
        "WITH checked AS (SELECT c_custkey, "
        "  CASE WHEN NOT (c_name IS NOT NULL AND LENGTH(TRIM(c_name)) > 0) "
        "       THEN 'name:empty' END AS e1, "
        "  CASE WHEN NOT COALESCE(LENGTH(c_name) <= 18, FALSE) "
        "       THEN 'name:too_long' END AS e2, "
        "  CASE WHEN NOT COALESCE(regexp_matches(c_mktsegment, '^[A-Z]+$'), FALSE) "
        "       THEN 'segment:format' END AS e3, "
        "  CASE WHEN NOT COALESCE(c_acctbal BETWEEN -500.0 AND 8000.0, FALSE) "
        "       THEN 'balance:range' END AS e4 "
        "FROM customer) "
        "SELECT c_custkey, "
        "CAST(len(list_filter([e1, e2, e3, e4], x -> x IS NOT NULL)) AS INT) "
        "  AS n_errors, "
        "list_extract(list_filter([e1, e2, e3, e4], x -> x IS NOT NULL), 1) "
        "  AS first_error, "
        "len(list_filter([e1, e2, e3, e4], x -> x IS NOT NULL)) = 0 AS is_valid "
        "FROM checked"
    ),
}
