"""The parity checker must CATCH every mismatch class it exists to catch
— row count, column set, dtype width, and cell values."""

from __future__ import annotations

import duckdb
import pytest

from hive_2_spark.parity import compare, duckdb_connect
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_DIR)
    yield c
    c.close()


def _mk(spark, sql):
    from hive_2_spark import catalog

    return catalog.sql(spark, SF_DIR, sql)


def test_clean_match_passes(spark, con):
    df = _mk(spark, "SELECT n_nationkey, n_name FROM nation")
    assert compare(df, con, "SELECT n_nationkey, n_name FROM nation") == []


def test_rowcount_mismatch_caught(spark, con):
    df = _mk(spark, "SELECT n_nationkey FROM nation WHERE n_nationkey < 10")
    probs = compare(df, con, "SELECT n_nationkey FROM nation")
    assert any("rowcount" in p for p in probs)


def test_schema_mismatch_caught(spark, con):
    df = _mk(spark, "SELECT n_nationkey AS wrong_name FROM nation")
    probs = compare(df, con, "SELECT n_nationkey FROM nation")
    assert any("schema" in p for p in probs)


def test_dtype_width_mismatch_caught(spark, con):
    df = _mk(spark, "SELECT CAST(n_nationkey AS INT) AS k FROM nation")
    probs = compare(df, con, "SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation")
    assert any("dtype" in p for p in probs)


def test_value_mismatch_caught(spark, con):
    df = _mk(spark, "SELECT n_nationkey, n_name FROM nation")
    probs = compare(
        df, con, "SELECT n_nationkey, UPPER(n_name) || '_X' AS n_name FROM nation"
    )
    assert any("row " in p for p in probs)
