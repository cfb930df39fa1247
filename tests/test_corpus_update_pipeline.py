"""End-to-end continuous-corpus-update composition (round-4 verdict
item 5): stream_doc_gate's gate -> dedup_incremental's classifier ->
sim_ivf_topk's index, chained through ONE shared apply_update rule.
Asserts the streamed post-update corpus/index state equals the batch
recompute, that the incremental index refresh equals a full rebuild,
and that no verdict class is fixture-vacuous."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from examples.continuous_corpus_update import (  # noqa: E402
    corpus_docs,
    run_batch_update,
    run_streamed_update,
    synth_delta,
)
from hive_2_spark.catalog import load_table  # noqa: E402
from hive_2_spark.llm.advanced import ivf_invert  # noqa: E402
from hive_2_spark.llm.dedup import classify_against_corpus  # noqa: E402
from hive_2_spark.llm.similarity import load_embeddings  # noqa: E402
from tests.conftest import SF_DIR  # noqa: E402


@pytest.fixture(scope="module")
def states(spark, tmp_path_factory):
    sdir = str(tmp_path_factory.mktemp("streamed"))
    bdir = str(tmp_path_factory.mktemp("batch"))
    cents = run_streamed_update(spark, SF_DIR, sdir)
    run_batch_update(spark, SF_DIR, bdir)
    return sdir, bdir, cents


def _doc_ids(spark, d):
    return {
        r.doc_id
        for r in spark.read.parquet(os.path.join(d, "corpus"))
        .select("doc_id")
        .collect()
    }


def _postings(spark, d):
    return {
        (r.vec_id, r.c_id)
        for r in spark.read.parquet(os.path.join(d, "inverted")).collect()
    }


def test_streamed_state_equals_batch_recompute(spark, states):
    sdir, bdir, _ = states
    assert _doc_ids(spark, sdir) == _doc_ids(spark, bdir)
    assert _postings(spark, sdir) == _postings(spark, bdir)


def test_corpus_grew_and_dups_were_dropped(spark, states):
    """Anti-vacuity: the delta must exercise every verdict class —
    novel docs appended, synthesized exact (+20M) and near (+10M)
    copies rejected."""
    sdir, _, _ = states
    before = {r.doc_id for r in corpus_docs(spark, SF_DIR).collect()}
    after = _doc_ids(spark, sdir)
    added = after - before
    assert before < after  # novel docs landed
    assert not {d for d in added if d >= 10_000_000}  # all copies dropped
    # and the classifier really saw non-empty exact/near/novel classes
    verdicts = classify_against_corpus(
        corpus_docs(spark, SF_DIR).select("doc_id", "text"),
        synth_delta(load_table(spark, SF_DIR, "documents")).select(
            F.col("doc_id").alias("new_id"), "text"
        ),
    )
    counts = {
        r.verdict: r.n
        for r in verdicts.groupBy("verdict").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("exact", 0) > 0, counts
    assert counts.get("near", 0) > 0, counts
    assert counts.get("novel", 0) > 0, counts


def test_incremental_index_refresh_equals_full_rebuild(spark, states):
    """The union of (existing inversion + delta inversion) must be
    byte-identical to inverting the final corpus from scratch against
    the same fixed centroids — guaranteed because both paths share
    _nearest_centroid_rows; this pins it."""
    sdir, _, cents = states
    final_ids = _doc_ids(spark, sdir)
    final_vecs = load_embeddings(spark, SF_DIR).filter(
        F.col("vec_id").isin([i for i in final_ids if i < 10_000_000])
    )
    rebuilt = {
        (r.vec_id, r.c_id) for r in ivf_invert(final_vecs, *cents).collect()
    }
    assert rebuilt == _postings(spark, sdir)
