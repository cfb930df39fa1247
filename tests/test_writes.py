"""Write-face keys on a hand-built table holding what the fixtures never
do: Spark against the DuckDB oracle SQL."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from hive_2_spark.catalog import table_path
from hive_2_spark.core.writes import ORACLES, QUERIES
from hive_2_spark.parity import compare


def test_delete_rows_keeps_rows_whose_condition_is_null(spark, tmp_path):
    """SQL DELETE removes only rows whose WHERE is TRUE: an 'F' order
    with a NULL price survives, as it does in the Spark anti-join and
    in ``ParquetStore.delete`` (``coalesce(cond, false)``)."""
    path = table_path(str(tmp_path), "orders")
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array([1, 2, 3], pa.int64()),
            "o_orderstatus": pa.array(["F", "F", "O"], pa.string()),
            "o_totalprice": pa.array([None, 100.0, 100.0], pa.float64()),
        }),
        path,
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{path}')")
    got = QUERIES["delete_rows"](spark, str(tmp_path))
    assert sorted(r.o_orderkey for r in got.collect()) == [1, 3]
    assert compare(got, con, ORACLES["delete_rows"]) == []
