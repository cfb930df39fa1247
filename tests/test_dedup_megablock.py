"""Mega-block routing in dedup_ngram_jaccard: blocks over _BLOCK_CAP must
be ROUTED through MinHash banding + Jaccard verification, not silently
dropped. Planted 150-doc boilerplate block (shared 32-char prefix) whose
only true near-dup pair must surface via the MinHash leg."""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hive_2_spark import registry
from hive_2_spark.llm.dedup import _BLOCK_CAP, dedup_ngram_jaccard
from hive_2_spark.llm.dedup import ORACLES as DEDUP_ORACLES
from hive_2_spark.parity import compare

# doc_ids avoid % 10 == 0 so corpus_with_dups synthesizes no extra twins
_PREFIX = "lorem ipsum boilerplate header common banner"  # >32 norm chars


@pytest.fixture(scope="module")
def mega_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sf_mega"))
    docs = []
    for i in range(150):
        doc_id = 10 * i + 1
        if doc_id in (11, 211):
            # exact twins -> the one true near-dup pair; tail words are
            # disjoint from every other doc's tail vocabulary
            text = f"{_PREFIX} zeta9x yotta9x kappa9x sigma9x tau9x"
        else:
            text = f"{_PREFIX} unique tail {i} alpha{i} beta{i} gamma{i}"
        docs.append((doc_id, text))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in docs], pa.int64()),
                "text": [r[1] for r in docs],
                "lang": ["en"] * len(docs),
                "source": ["s"] * len(docs),
                "n_chars": pa.array(
                    [len(r[1]) for r in docs], pa.int64()
                ),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    return d


def test_megablock_pair_found_via_minhash_leg(spark, mega_dir):
    """All 150 docs share one (blk, lang) block > _BLOCK_CAP: the old
    code dropped the whole block and returned nothing. The MinHash leg
    must surface exactly the planted twin pair — and nothing else (the
    other 148 docs share only the boilerplate prefix)."""
    assert 150 > _BLOCK_CAP
    rows = dedup_ngram_jaccard(spark, mega_dir).collect()
    assert [(r["a_id"], r["b_id"], r["jac"]) for r in rows] == [(11, 211, 1.0)]


@pytest.fixture(scope="module")
def mega_con(mega_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(mega_dir, 'documents.parquet')}')"
    )
    yield con
    con.close()


def test_megablock_oracle_agrees(mega_con):
    """The combined two-leg DuckDB oracle must produce the same pair set
    on the planted fixture (not just on the sf fixtures, where the
    mega leg is empty)."""
    got = mega_con.execute(DEDUP_ORACLES["dedup_ngram_jaccard"]).fetchall()
    assert got == [(11, 211, 1.0)]


@pytest.mark.parametrize(
    "key",
    [
        "dedup_clusters",
        "dedup_keep_best",
        "curation_soft_dedup_weights",
        "curation_split_by_family",
    ],
)
def test_megablock_pair_consumers_match_their_oracles(
    spark, mega_dir, mega_con, key
):
    """Keys built on the near-dup pairs see the mega-block pair on both
    engines: each oracle composes the full dedup_ngram_jaccard oracle."""
    got = registry.all_queries()[key](spark, mega_dir)
    assert compare(got, mega_con, registry.all_oracles()[key]) == []
