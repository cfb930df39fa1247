"""Embedding clustering for corpus organization / data mixing (extends
the similarity family of SURVEY.md §2B op 44; reference analogue: the
Hive ORM groups rows only by SQL keys — clustering is the
embedding-space generalization a training-data pipeline needs).

- ``cluster_kmeans``: deterministic Lloyd's k-means over the
  ``embeddings`` table — k=8 seeds chosen by id (multiples of 64 below 512 — fixed k at ANY corpus size),
  exactly ``_ITERATIONS`` assignment/recenter rounds, squared-L2
  assignment with lowest-centroid-id tie-break. Deterministic seeding +
  a fixed iteration count make the whole algorithm expressible as
  unrolled SQL, so the DuckDB oracle checks every assignment AND the
  learned geometry (d2 is computed against the final centroids).
- ``cluster_mix_report``: the data-mixing view of the same model —
  per (cluster, label) document counts and within-cluster shares, the
  table a curriculum/mixing stage consumes to rebalance sources.

Scale: each iteration is (1) a ZERO-SHUFFLE assignment — the k x dim
centroid model state rides to the driver and back into an
Arrow-batched Pandas UDF whose NumPy kernel computes the whole
distance matrix per batch (BLAS speed; the corpus is neither
multiplied by k nor exchanged nor sorted) — and (2) a recenter
aggregation that shuffles (cluster, dim, partial-sum) triples — k x
dim rows after map-side partial agg, independent of corpus size. At a
billion vectors the only fact-sized cost is ``_ITERATIONS + 1`` corpus
scans; production would ``persist()`` the projected vectors once,
which changes no plan shape. NumPy's per-axis reductions and DuckDB's
sequential ``list_sum`` fold agree to ~1e-15 relative on O(1)
distances, far inside the final ROUND(4).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_2_spark.core.fixpoint import fixpoint
from hive_2_spark.llm.similarity import _DK_VEC, _batch_udf, load_embeddings

_SEED_MOD = 64  # seed ids are multiples of 64 ...
_SEED_CAP = _SEED_MOD * 8  # ... below 512 -> EXACTLY k=8 at ANY scale
_ITERATIONS = 2  # fixed unroll => oracle-expressible; prod loops to eps


def _seeds(e: DataFrame) -> DataFrame:
    """k=8 deterministic seed centroids: vec_ids 0, 64, ..., 448.

    The cap is load-bearing for scale: an uncapped ``vec_id % 64 == 0``
    predicate makes k GROW with the corpus (k = n/64), turning total
    assignment work into O(n^2/64) — observed as an exponent-1.45 leg
    and an 87s 100x run on the scale harness. A clustering model's k is
    a property of the model, not the corpus; capping the seed-id range
    keeps it so (and is identity on the sf0.001/sf0.01 oracle fixtures,
    whose ids all sit below the cap).
    """
    return e.filter(
        (F.col("vec_id") % _SEED_MOD == 0) & (F.col("vec_id") < _SEED_CAP)
    ).select(F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec"))


def _assign(e: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest centroid per vector: (vec_id, label, vec, cluster, d2).

    Zero-shuffle assignment, Arrow-vectorized: the k x dim centroid
    MODEL STATE is collected to the driver (8 x 64 doubles — the same
    thing ``spark.ml`` KMeans does every Lloyd round) and closed over
    by a scalar Pandas UDF that computes the full distance matrix per
    Arrow batch in NumPy and takes the row argmin. Centroids are
    sorted by c_id, and ``argmin`` returns the FIRST minimum, so ties
    break to the lowest centroid id — the same (distance asc, id asc)
    rule the SQL oracle's ROW_NUMBER uses. The corpus never shuffles,
    never multiplies by k, and the kernel is BLAS-speed: the pure-SQL
    alternative (per-centroid ``zip_with``+``aggregate`` folds under
    ``array_min``) is interpreted, not codegen, and measured ~15x
    slower at 50k vectors; the explode-join-agg alternative shuffles
    N x k rows. Dense vector math is exactly the case the brief
    reserves Pandas UDFs for.

    Parity tolerance (documented, accepted): Spark computes d2 via the
    ||x||^2+||c||^2-2<x,c> expansion while the DuckDB oracle folds
    (p1-p2)^2 — the two differ by ~1e-13 cancellation error. A
    near-tie between centroids within that gap, or a d2 within ~1e-13
    of a ROUND(4) half boundary, could flip assignment/rounding
    between engines; the lowest-id tie-break only covers EXACT ties.
    Current fixtures sit far from both boundaries (verified by the
    oracle hash match); if a future fixture lands on one, quantize d2
    to 1e-9 on BOTH sides before argmin rather than loosening the
    compare.
    """
    rows = sorted(cents.collect(), key=lambda r: r.c_id)
    if not rows and not e.isEmpty():
        # Empty corpus + empty model is a legitimate empty result (the
        # batch wrapper never calls the kernel on it). A NON-empty corpus
        # whose vec_ids all miss the seed predicate would otherwise
        # surface as an opaque Arrow length-mismatch deep in the task —
        # raise the descriptive error here instead.
        raise ValueError(
            "k-means centroid set is empty for a non-empty corpus — no "
            "vec_id satisfied the seed predicate (vec_id % 64 == 0 AND "
            "vec_id < _SEED_CAP); check the input id space or widen "
            "_SEED_CAP"
        )
    c_ids = np.array([r.c_id for r in rows], dtype=np.int64)
    cmat = np.array([list(r.c_vec) for r in rows], dtype=np.float64)

    @_batch_udf({"cluster": "bigint", "d2": "double"})
    def nearest(x):
        # ||x-c||^2 = ||x||^2 + ||c||^2 - 2<x,c> via matmul: peak memory
        # is the n x k result, NOT an n x k x dim difference tensor —
        # the tensor form allocates batch*k*dim doubles and crashes
        # workers when k grows (observed at the 100x fixture, where the
        # id-shift made every copy contribute seeds => k=800 => ~40 GB
        # per batch). Cancellation error ~1e-13 on O(1) distances, far
        # inside the round-4 output grain; clamp the tiny negatives.
        d2 = np.maximum(
            (x * x).sum(axis=1)[:, None]
            + (cmat * cmat).sum(axis=1)[None, :]
            - 2.0 * (x @ cmat.T),
            0.0,
        )
        idx = d2.argmin(axis=1)
        return {"cluster": c_ids[idx], "d2": d2[np.arange(len(idx)), idx]}

    return e.withColumn("best", nearest("vec")).select(
        "vec_id",
        "label",
        "vec",
        F.col("best.cluster").alias("cluster"),
        F.col("best.d2").alias("d2"),
    )


def _recenter(assign: DataFrame) -> DataFrame:
    """Cluster means, elementwise: (c_id, c_vec). k x dim rows total."""
    ex = assign.select("cluster", F.posexplode("vec").alias("dim", "elem"))
    means = ex.groupBy("cluster", "dim").agg(F.avg("elem").alias("avg_e"))
    return means.groupBy(F.col("cluster").alias("c_id")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "avg_e"))),
            lambda s: s["avg_e"],
        ).alias("c_vec")
    )


def _trained_centroids(e: DataFrame) -> DataFrame:
    """The model: seeds moved by ``_ITERATIONS - 1`` Lloyd rounds, so
    assigning against them is round ``_ITERATIONS``. (c_id, c_vec)."""
    cents = _seeds(e)
    for _ in range(_ITERATIONS - 1):
        cents = _recenter(_assign(e, cents))
    return cents


def _final_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_embeddings(spark, sf_dir)
    return _assign(e, _trained_centroids(e))


# Safety cap; raises rather than return unconverged. Sized from
# measurement, not hope: the sf0.01 fixture (500 vectors) settles in 9
# rounds, sf0.1 (2,000 vectors) in 30 — Lloyd round counts grow slowly
# with corpus size at fixed k, so 64 is >2x the worst observed. The
# converged-key oracle unrolls exactly this many rounds (the cap IS the
# oracle's unroll depth), so raising it costs oracle runtime linearly.
_CONVERGE_CAP = 64


def kmeans_converged(
    e: DataFrame, cents: DataFrame, max_rounds: int = _CONVERGE_CAP
) -> tuple[DataFrame, int]:
    """Lloyd's to FIXPOINT: iterate assign/recenter until no vector
    changes cluster; returns (assignment, rounds_used).

    The fixed-unroll ``cluster_kmeans`` exists for the SQL oracle; this
    is the production face — k-means on real data rarely settles in 2
    rounds, and an unconverged model misplaces boundary vectors. Runs
    on :func:`~hive_2_spark.core.fixpoint.fixpoint`: each round's
    assignment is checkpointed, the changed-count stop condition is a
    cheap join over the two materialized frames, and the cap raises
    instead of silently returning an unconverged model.
    """

    def unchanged(prev: DataFrame, nxt: DataFrame) -> bool:
        return (
            prev.select("vec_id", F.col("cluster").alias("prev"))
            .join(nxt.select("vec_id", "cluster"), "vec_id")
            .filter(F.col("prev") != F.col("cluster"))
            .count()
            == 0
        )

    return fixpoint(
        _assign(e, cents).localCheckpoint(),
        lambda a: _assign(e, _recenter(a)),
        max_rounds,
        done=unchanged,
        what="k-means",
    )


def cluster_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixpoint k-means assignments. Full oracle since round 9: the
    DuckDB side unrolls all ``_CONVERGE_CAP`` Lloyd rounds, computes
    each round's changed-assignment count, and selects the FIRST
    round with zero changes in SQL (see ``_kmeans_converged_sql``) —
    so the data-dependent round count is replayed, not assumed.
    Fixpoint accuracy on planted blobs is additionally gated in
    tests/test_clustering.py."""
    e = load_embeddings(spark, sf_dir)
    assign, _rounds = kmeans_converged(e, _seeds(e))
    return assign.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster")
    )


def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector cluster id + squared distance to its final centroid."""
    a = _final_assignment(spark, sf_dir)
    return a.select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.round("d2", 4).alias("d2"),
    )


def cluster_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (cluster, label) counts and within-cluster share — the
    mixing table a rebalancing stage consumes."""
    a = _final_assignment(spark, sf_dir)
    counts = a.groupBy(
        F.col("cluster").cast("bigint").alias("cluster"), "label"
    ).agg(F.count(F.lit(1)).alias("n"))
    per_cluster = W.partitionBy("cluster")
    return counts.withColumn(
        "share", F.round(F.col("n") / F.sum("n").over(per_cluster), 4)
    )


QUERIES = {
    "cluster_kmeans": cluster_kmeans,
    "cluster_mix_report": cluster_mix_report,
    "cluster_kmeans_converged": cluster_kmeans_converged,
}

# The oracle unrolls the same seeding + 2 Lloyd rounds in SQL. list_zip
# pairs are indexed numerically (p[1], p[2]) — DuckDB's zipped structs
# are unnamed; list_sum matches the Spark-side aggregate fold order.
_KMEANS_CTE = (
    "v AS (SELECT vec_id, label, "
    f"  {_DK_VEC.format(c='embedding')} AS vec "
    "  FROM embeddings), "
    "c0 AS (SELECT vec_id AS c_id, vec AS c_vec FROM v "
    f"  WHERE vec_id % {_SEED_MOD} = 0 AND vec_id < {_SEED_CAP}), "
    "d0 AS (SELECT v.vec_id, c0.c_id, "
    "  list_sum(list_transform(list_zip(v.vec, c0.c_vec), "
    "    p -> (p[1]-p[2])**2)) AS d2 "
    "  FROM v CROSS JOIN c0), "
    "a1 AS (SELECT vec_id, c_id AS cluster FROM d0 "
    "  QUALIFY ROW_NUMBER() OVER "
    "    (PARTITION BY vec_id ORDER BY d2, c_id) = 1), "
    "ex AS (SELECT vec_id, UNNEST(vec) AS elem, "
    "  generate_subscripts(vec, 1) AS dim FROM v), "
    "c1 AS (SELECT cluster AS c_id, list(avg_e ORDER BY dim) AS c_vec "
    "  FROM (SELECT a1.cluster, ex.dim, AVG(ex.elem) AS avg_e "
    "        FROM a1 JOIN ex USING (vec_id) GROUP BY 1, 2) "
    "  GROUP BY cluster), "
    "d1 AS (SELECT v.vec_id, v.label, c1.c_id, "
    "  list_sum(list_transform(list_zip(v.vec, c1.c_vec), "
    "    p -> (p[1]-p[2])**2)) AS d2 "
    "  FROM v CROSS JOIN c1), "
    "a2 AS (SELECT vec_id, label, c_id AS cluster, d2 FROM d1 "
    "  QUALIFY ROW_NUMBER() OVER "
    "    (PARTITION BY vec_id ORDER BY d2, c_id) = 1)"
)

# Converged-key oracle: unroll ALL _CONVERGE_CAP Lloyd rounds (the
# Spark loop's hard cap, so the unroll depth is the cap semantics, not
# a guess), tag each round's assignment and changed-count, and select
# the first round whose changed-count is zero — the exact stop rule of
# kmeans_converged (measured: 9 rounds at sf0.01). If no round
# converges within the cap the Spark side raises and the oracle
# returns 0 rows — either way the compare flags it. s{r} CTEs are
# MATERIALIZED: each is read by the next round's recenter, two
# changed-count probes, and the final union; without it DuckDB may
# inline the _CONVERGE_CAP-deep lineage per reference. Assignment ties and d2
# float drift carry the same documented ~1e-13 tolerance as the
# fixed-unroll key (see _assign).
def _kmeans_converged_sql() -> str:
    blocks = []
    for r in range(1, _CONVERGE_CAP + 1):
        p = r - 1
        blocks.append(
            f"c{r} AS (SELECT cluster AS c_id, "
            "list(avg_e ORDER BY dim) AS c_vec "
            f"  FROM (SELECT s{p}.cluster, ex.dim, AVG(ex.elem) AS avg_e "
            f"        FROM s{p} JOIN ex USING (vec_id) GROUP BY 1, 2) "
            "  GROUP BY cluster), "
            f"s{r} AS MATERIALIZED (SELECT vec_id, c_id AS cluster "
            f"  FROM (SELECT v.vec_id, c{r}.c_id, "
            "    list_sum(list_transform("
            f"list_zip(v.vec, c{r}.c_vec), p -> (p[1]-p[2])**2)) AS d2 "
            f"    FROM v CROSS JOIN c{r}) "
            "  QUALIFY ROW_NUMBER() OVER "
            "    (PARTITION BY vec_id ORDER BY d2, c_id) = 1), "
            f"g{r} AS (SELECT {r} AS iter, COUNT(*) AS changed "
            f"  FROM s{p} a JOIN s{r} b USING (vec_id) "
            "  WHERE a.cluster != b.cluster)"
        )
    ks = range(1, _CONVERGE_CAP + 1)
    changes = " UNION ALL ".join(f"SELECT * FROM g{r}" for r in ks)
    alls = " UNION ALL ".join(
        f"SELECT {r} AS iter, vec_id, cluster FROM s{r}" for r in ks
    )
    return (
        "WITH v AS MATERIALIZED (SELECT vec_id, "
        f"  {_DK_VEC.format(c='embedding')} AS vec "
        "  FROM embeddings), "
        "c0 AS (SELECT vec_id AS c_id, vec AS c_vec FROM v "
        f"  WHERE vec_id % {_SEED_MOD} = 0 AND vec_id < {_SEED_CAP}), "
        "s0 AS MATERIALIZED (SELECT vec_id, c_id AS cluster "
        "  FROM (SELECT v.vec_id, c0.c_id, "
        "    list_sum(list_transform(list_zip(v.vec, c0.c_vec), "
        "      p -> (p[1]-p[2])**2)) AS d2 "
        "    FROM v CROSS JOIN c0) "
        "  QUALIFY ROW_NUMBER() OVER "
        "    (PARTITION BY vec_id ORDER BY d2, c_id) = 1), "
        "ex AS MATERIALIZED (SELECT vec_id, UNNEST(vec) AS elem, "
        "  generate_subscripts(vec, 1) AS dim FROM v), "
        + ", ".join(blocks)
        + f", stop AS (SELECT MIN(iter) AS rounds FROM ({changes}) "
        "  WHERE changed = 0) "
        f"SELECT vec_id, CAST(cluster AS BIGINT) AS cluster "
        f"FROM ({alls}) alls JOIN stop ON alls.iter = stop.rounds"
    )


ORACLES = {
    "cluster_kmeans_converged": _kmeans_converged_sql(),
    "cluster_kmeans": (
        f"WITH {_KMEANS_CTE} "
        "SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, "
        "ROUND(d2, 4) AS d2 FROM a2"
    ),
    "cluster_mix_report": (
        f"WITH {_KMEANS_CTE}, "
        "counts AS (SELECT CAST(cluster AS BIGINT) AS cluster, label, "
        "  COUNT(*) AS n FROM a2 GROUP BY 1, 2) "
        "SELECT cluster, label, n, "
        "ROUND(n / SUM(n) OVER (PARTITION BY cluster), 4) AS share "
        "FROM counts"
    ),
}
