#!/usr/bin/env python
"""End-to-end embedding-corpus pipeline over the embeddings table:

    L2-normalize -> dominant-direction removal (all-but-the-top
    whitening) -> fixpoint k-means clustering -> per-cluster label-mix
    report -> cluster-balanced keep-list -> sign-LSH near-dup pairs ->
    int8 quantization for the serving index

Every stage is a registered operator (see OPERATORS.md); this script
shows them composed the way an embedding-curation job would run them —
the organize/dedup/mix loop a training-data pipeline applies to a
billion-vector corpus. All stages are map passes or k-row aggregates;
nothing shuffles the vector payloads except the LSH bucket join.

    python examples/embedding_pipeline.py [sf_dir]
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from hive_2_spark.llm.clustering import (
    _seeds,
    cluster_mix_report,
    kmeans_converged,
)
from hive_2_spark.llm.insights import emb_whiten
from hive_2_spark.llm.similarity import emb_quantize_int8, load_embeddings
from hive_2_spark.llm.advanced import dedup_embedding
from hive_2_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("embedding_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    # 1. whitening report: how much of each vector the dominant
    # (frequency-bias) direction explains
    whiten = emb_whiten(spark, sf_dir)
    heavy = whiten.filter(F.col("proj") > 0.5 * F.col("resid_norm"))
    print("vectors dominated by the top direction:", heavy.count())

    # 2. fixpoint clustering + mixing report
    e = load_embeddings(spark, sf_dir)
    assign, rounds = kmeans_converged(e, _seeds(e))
    print(f"k-means converged in {rounds} rounds")
    mix = cluster_mix_report(spark, sf_dir)
    print("most label-skewed clusters:")
    mix.orderBy(F.col("share").desc()).show(5, truncate=False)

    # 3. cluster-balanced keep-list: cap every cluster at the size of
    # the smallest one (the simplest rebalance a mixing stage applies)
    sizes = assign.groupBy("cluster").count()
    cap = sizes.agg(F.min("count")).collect()[0][0]
    from pyspark.sql import Window as W

    ranked = assign.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("cluster").orderBy("vec_id")
        ),
    )
    balanced = ranked.filter(F.col("rk") <= cap).select("vec_id", "cluster")
    print("balanced keep-list size:", balanced.count(), "cap per cluster:", cap)

    # 4. near-duplicate pairs inside the kept set (sign-LSH banding)
    pairs = dedup_embedding(spark, sf_dir).join(
        balanced.select(F.col("vec_id").alias("a_id")), "a_id"
    )
    print("near-dup pairs among kept vectors:", pairs.count())

    # 5. serving-index quantization (4x smaller on the wire)
    quant = emb_quantize_int8(spark, sf_dir).join(balanced, "vec_id")
    print("quantized kept vectors:", quant.count())

    spark.stop()


if __name__ == "__main__":
    main()
