#!/usr/bin/env python
"""Continuous corpus update: the composed production maintenance loop.

    stream of arriving documents
      -> quality gate            (streaming.ingest._gate — the SHARED
                                  transform behind stream_doc_gate)
      -> delta-vs-corpus dedup   (llm.dedup.classify_against_corpus —
                                  the rule behind dedup_incremental)
      -> corpus append (novel docs only)
      -> IVF index refresh       (llm.advanced.ivf_invert over JUST the
                                  new vectors, fixed centroids — the
                                  model behind sim_ivf_topk)

Both faces run the ONE ``apply_update`` rule: the streaming face drives
it from ``foreachBatch`` over a real readStream, the batch face calls
it directly — so the streamed corpus's post-update dedup/index state
provably equals the batch recompute
(tests/test_corpus_update_pipeline.py asserts it, plus that the
incremental index refresh equals a full rebuild).

Scale: per arriving batch, cost is the asymmetric delta×corpus band
join (scales with the DELTA), one gate map pass, and a delta-sized
Arrow assignment against model-sized broadcast centroids. Nothing
recomputes over the existing corpus; nothing collects more than
model-sized state to the driver.

    python examples/continuous_corpus_update.py [sf_dir] [workdir]
"""

from __future__ import annotations

import os
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.llm.advanced import ivf_centroids, ivf_invert
from hive_2_spark.llm.dedup import classify_against_corpus
from hive_2_spark.llm.similarity import load_embeddings
from hive_2_spark.streaming._source import read_stream_table
from hive_2_spark.streaming.ingest import _gate

# The fixture split: docs with doc_id % 10 != 3 are the EXISTING corpus;
# the rest "arrive" later, plus synthesized exact/near copies of corpus
# docs so every verdict class (exact/near/novel) is genuinely exercised
# (an all-novel delta would make the dedup leg vacuous). Residue 3 — not
# 0 — so the IVF seed ids (vec_id % 50 == 0, all ≡ 0 mod 10) stay in the
# existing corpus the centroid model is built from.
_CORPUS_PRED = "doc_id % 10 != 3"
_EXACT_OFF = 20_000_000
_NEAR_OFF = 10_000_000


def corpus_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").filter(_CORPUS_PRED)


def synth_delta(docs: DataFrame) -> DataFrame:
    """The arriving delta, derived from a (possibly streaming) documents
    frame: the held-out tenth, plus exact (+20M) and one-word-suffix
    near (+10M) copies of some corpus docs."""
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    fresh = docs.filter("doc_id % 10 = 3").select(*cols)
    exact = (
        docs.filter(f"{_CORPUS_PRED} AND doc_id % 7 = 1")
        .select(
            (F.col("doc_id") + _EXACT_OFF).alias("doc_id"),
            "text", "lang", "source", "n_chars",
        )
    )
    near = (
        docs.filter(f"{_CORPUS_PRED} AND doc_id % 7 = 3")
        .select(
            (F.col("doc_id") + _NEAR_OFF).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzextra")).alias("text"),
            "lang", "source",
            (F.col("n_chars") + 8).alias("n_chars"),
        )
    )
    return fresh.unionByName(exact).unionByName(near)


def build_initial_state(spark: SparkSession, sf_dir: str, workdir: str):
    """Materialize the existing corpus + its IVF inverted index; return
    the fixed (c_ids, cmat) centroid model (index refreshes assign
    against a FIXED model; periodic retrains are a separate batch job)."""
    corpus = corpus_docs(spark, sf_dir)
    corpus.write.mode("overwrite").parquet(os.path.join(workdir, "corpus"))
    vecs = load_embeddings(spark, sf_dir).join(
        corpus.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    cents = ivf_centroids(vecs)
    ivf_invert(vecs, *cents).write.mode("overwrite").parquet(
        os.path.join(workdir, "inverted")
    )
    return cents


def apply_update(
    spark: SparkSession, sf_dir: str, workdir: str, cents, batch_docs: DataFrame
) -> None:
    """ONE update rule for both faces: gate the arriving batch, classify
    it against the CURRENT corpus state, append only novel docs, and
    refresh the inverted index with just their vectors."""
    corpus_dir = os.path.join(workdir, "corpus")
    inv_dir = os.path.join(workdir, "inverted")
    corpus = spark.read.parquet(corpus_dir)

    delta = synth_delta(batch_docs)
    gated_ids = _gate(delta).select("doc_id")
    kept = delta.join(gated_ids, "doc_id")

    verdicts = classify_against_corpus(
        corpus.select("doc_id", "text"),
        kept.select(F.col("doc_id").alias("new_id"), "text"),
    )
    novel = verdicts.filter("verdict = 'novel'").select(
        F.col("new_id").alias("doc_id")
    )
    novel_docs = kept.join(novel, "doc_id")
    novel_docs.write.mode("append").parquet(corpus_dir)

    new_vecs = load_embeddings(spark, sf_dir).join(
        novel.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    ivf_invert(new_vecs, *cents).write.mode("append").parquet(inv_dir)


def run_batch_update(spark: SparkSession, sf_dir: str, workdir: str):
    """Batch face: initial state + one direct apply_update call."""
    cents = build_initial_state(spark, sf_dir, workdir)
    apply_update(
        spark, sf_dir, workdir, cents, load_table(spark, sf_dir, "documents")
    )
    return cents


def run_streamed_update(spark: SparkSession, sf_dir: str, workdir: str):
    """Streaming face: the same rule driven by foreachBatch over a real
    readStream of the documents table (availableNow drain)."""
    cents = build_initial_state(spark, sf_dir, workdir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_update(
            batch_df.sparkSession, sf_dir, workdir, cents, batch_df
        )

    q = (
        read_stream_table(spark, sf_dir, "documents")
        .writeStream.foreachBatch(on_batch)
        .option(
            "checkpointLocation", os.path.join(workdir, "ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return cents


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    workdir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="corpus_update_")
    )
    from hive_2_spark.session import get_spark

    spark = get_spark("continuous_corpus_update")
    spark.sparkContext.setLogLevel("ERROR")
    run_streamed_update(spark, sf_dir, workdir)
    corpus = spark.read.parquet(os.path.join(workdir, "corpus"))
    inv = spark.read.parquet(os.path.join(workdir, "inverted"))
    print(f"corpus after update: {corpus.count()} docs")
    print(f"inverted index:      {inv.count()} postings")
    inv.groupBy("c_id").count().orderBy(F.desc("count")).show(10)


if __name__ == "__main__":
    main()
