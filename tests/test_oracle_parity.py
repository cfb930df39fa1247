"""Every query key with an oracle must hash-match DuckDB at sf0.001.

This is the local mirror of the driver's t2 correctness gate.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from hive_2_spark.parity import compare, duckdb_connect
from tests.conftest import SF_DIR

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = duckdb_connect(SF_DIR)
    yield c
    c.close()


@pytest.mark.parametrize("key", sorted(_ORACLES))
def test_oracle_parity(spark, con, key):
    df = _QUERIES[key](spark, SF_DIR)
    problems = compare(df, con, _ORACLES[key])
    assert not problems, f"{key}: " + "; ".join(problems)


@pytest.mark.parametrize("key", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_runs(spark, key):
    """Checked as `tools/driver_sim.py` checks a key without an oracle:
    collected to pandas and sorted over every column, which raises on
    cells that do not order (lists, dicts, arrays)."""
    out = _QUERIES[key](spark, SF_DIR).toPandas()
    out.sort_values(list(out.columns))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
