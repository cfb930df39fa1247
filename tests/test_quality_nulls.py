"""NULL-text documents through the corpus-statistics quality keys:
Spark against the DuckDB oracle SQL on a tiny hand-built table."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from hive_2_spark.catalog import table_path
from hive_2_spark.llm.quality import ORACLES, quality_pmi_bigrams
from hive_2_spark.parity import compare


def test_pmi_bigrams_null_text_adds_no_bigram_slots(spark, tmp_path):
    """A NULL-text doc contributes no words, so it must not shrink the
    bigram total n_b (the oracle's SUM(GREATEST(len(ws) - 1, 0)) skips
    it); every lift would otherwise be off by n_b / (n_b - 1)."""
    texts = ["red fox runs"] * 25 + ["blue sky"] * 5 + [None]
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }),
        table_path(str(tmp_path), "documents"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{table_path(str(tmp_path), 'documents')}')"
    )
    got = quality_pmi_bigrams(spark, str(tmp_path))
    assert got.count() == 2  # red->fox, fox->runs clear the support floor
    assert compare(got, con, ORACLES["quality_pmi_bigrams"]) == []
