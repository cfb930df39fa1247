"""Advanced pipeline operators: embedding near-dup, IVF ANN, dedup
clusters, stratified sampling (SURVEY.md §2B op 44 extensions).

- ``dedup_embedding``: embedding-cosine near-duplicate pairs (cosine >=
  0.95) — the vector-space analogue of n-gram Jaccard. Candidates are
  blocked by (label, sign-LSH band): 12 deterministic hyperplanes give
  3 bands of 4 sign bits; a pair is compared only if some band fully
  agrees. Near-identical vectors (cos >= 0.95) share at least one band
  ~99.8% of the time, while the band join keeps the pair space
  O(block/16)^2 per band instead of O(block^2). The fixture vectors are
  all mutually distant, so deterministic near-twin vectors are
  synthesized (rotate-and-add perturbation, exact in both engines).
- ``sim_ivf_topk``: IVF-style ANN — deterministic centroid set (every
  50th vector below a fixed cap, so the index size never grows with the
  corpus), invert the corpus by nearest centroid, probe the 3 nearest
  lists per query, exact re-rank inside. Oracle-checked (DuckDB replays
  the whole deterministic search); recall vs brute force is ALSO
  asserted in tests/test_ann_recall.py.
- ``dedup_clusters``: connected components over near-dup pairs by
  iterative min-label propagation (the standard distributed CC loop);
  oracle = DuckDB recursive CTE computing the same components.
- ``sample_stratified``: deterministic 1-in-k per-group systematic sample
  via row_number — reproducible across engines, unlike RNG TABLESAMPLE.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table
from hive_2_spark.core.fixpoint import fixpoint
from hive_2_spark.llm.dedup import ORACLES as _DEDUP_ORACLES
from hive_2_spark.llm.dedup import (
    _DK_CORPUS,
    _DK_NORM,
    _NORM,
    _dk_neardup_pairs,
    _dk_pairs,
    corpus_with_dups,
    dedup_minhash_portable,
    neardup_pair_index,
)
from hive_2_spark.llm.similarity import (
    _DK_EMB,
    _DK_QUERIES,
    TOP_K,
    _batch_udf,
    _collect_queries,
    _cosines,
    _dk_cos,
    _dot,
    _fold_dot,
    _fold_sq,
    _matrix,
    _norm,
    _round6_half_away,
    _top_per_query,
    load_embeddings,
)


# Deterministic hyperplanes for sign-LSH banding: plane p, component i =
# ((p*8191 + i*127) % 1000) / 500.0 - 1.0 in [-1, 1). Pure int/float
# arithmetic — bit-identical in Spark, DuckDB, and Python (no
# transcendental parity risk, unlike sin()-derived planes).
_N_PLANES = 12
_BAND_BITS = 4  # 3 bands of 4 sign bits


def _plane(p: int) -> list[float]:
    return [((p * 8191 + i * 127) % 1000) / 500.0 - 1.0 for i in range(64)]


def embeddings_with_twins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings + synthesized near-duplicate twins (deterministic).

    Twin of v = v + 0.1 * rot(v) where rot shifts components left by one.
    For the (near-orthogonal-to-its-rotation) fixture vectors this lands
    at cos ~0.995 — above the 0.95 near-dup bar. Slicing + zip_with is
    exact identical arithmetic on both engines.
    """
    e = load_embeddings(spark, sf_dir)
    seeds = e.filter(F.col("vec_id") % 25 == 0)
    shifted = F.concat(F.slice(F.col("vec"), 2, 63), F.slice(F.col("vec"), 1, 1))
    twins = seeds.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.col("label"),
        F.zip_with(F.col("vec"), shifted, lambda x, y: x + F.lit(0.1) * y).alias(
            "vec"
        ),
    )
    return e.unionByName(twins)


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup vector pairs (cos >= 0.95) via (label, sign-band) blocking.

    Each vector computes 12 hyperplane sign bits, splits them into 3
    bands of 4 bits, and explodes to one row per band. Candidates join
    on (label, band_id, band_val) — an equi-join, never a cross product —
    and multi-band hits collapse with distinct. This is the same
    band-join shape MinHash-LSH uses, so the pair space stays bounded
    by band-bucket sizes at any corpus scale.
    """
    e = embeddings_with_twins(spark, sf_dir)
    bits = None
    for p in range(_N_PLANES):
        plane = F.array(*[F.lit(v) for v in _plane(p)])
        bit = F.when(_dot(F.col("vec"), plane) >= 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bits = bit if bits is None else (bits + bit)
    n_bands = _N_PLANES // _BAND_BITS
    banded = (
        e.withColumn("bits", bits)
        .withColumn(
            "band",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(g).alias("band_id"),
                            F.shiftrightunsigned(F.col("bits"), g * _BAND_BITS)
                            .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                            .alias("band_val"),
                        )
                        for g in range(n_bands)
                    ]
                )
            ),
        )
        .select("vec_id", "label", "vec", "band.band_id", "band.band_val")
    )
    a = banded.select(
        "label", "band_id", "band_val",
        F.col("vec_id").alias("a_id"), F.col("vec").alias("a_vec"),
    )
    b = banded.select(
        "label", "band_id", "band_val",
        F.col("vec_id").alias("b_id"), F.col("vec").alias("b_vec"),
    )
    pairs = a.join(b, on=["label", "band_id", "band_val"], how="inner").filter(
        F.col("a_id") < F.col("b_id")
    )
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (
        _norm(F.col("a_vec")) * _norm(F.col("b_vec"))
    )
    return (
        pairs.withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= 0.95)
        .select("label", "a_id", "b_id", "cos")
        .distinct()
    )


# IVF seed cap: centroids are vec_id % 50 == 0 BELOW this id — exactly
# 32 centroids at any corpus size. Uncapped, k = n/50 grows with the
# corpus and the inversion's n x k centroid scoring becomes O(n^2/50) —
# the same id-pattern-derived-parameter scale bug the round-3 harness
# caught in k-means seeding (see llm/clustering._seeds). Index size is
# a property of the INDEX, not the data.
_IVF_SEED_CAP = 50 * 32


def _ivf_seeds():
    return (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < _IVF_SEED_CAP)


def _nearest_centroid_rows(
    x: np.ndarray, cmat: np.ndarray, c_ids: np.ndarray
) -> np.ndarray:
    """Nearest centroid per row of ``x`` under rounded-to-6 cosine —
    the ONE inversion rule shared by sim_ivf_topk's scoring kernel and
    ivf_invert (so an incremental index refresh cannot assign a vector
    differently than a full rebuild would). argmax returns the FIRST
    max; c_ids ascend, so ties break to the lowest centroid id — the
    oracle's ROW_NUMBER order."""
    return c_ids[_round6_half_away(_cosines(x, cmat)).argmax(axis=1)]


def ivf_centroids(e: DataFrame):
    """Deterministic id-seeded IVF centroids from a (vec_id, vec)
    frame: (c_ids asc, cmat) or None if no seeds. MODEL-sized
    (≤ _IVF_SEED_CAP/50 rows) — safe to collect."""
    crows = sorted(
        e.filter(_ivf_seeds()).select("vec_id", "vec").collect(),
        key=lambda r: r.vec_id,
    )
    if not crows:
        return None
    return np.array([r.vec_id for r in crows], dtype=np.int64), _matrix(crows)


_PQ_SUB = 8      # subspaces (64-dim -> 8 slices of 8)
_PQ_DIMS = 8     # dims per subspace


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 8-byte codes + asymmetric-distance
    top-5 — the memory-compression path of the similarity family (IVF
    prunes WHICH vectors to score; PQ shrinks WHAT is stored: 64
    doubles -> 8 code bytes, a 64x reduction that is the difference
    between an in-memory index and spilling at 100 TB).

    Codebooks are id-seeded like the IVF centroids (codeword j of
    subspace s = the 8-dim slice s of seed vector j) — deterministic,
    so DuckDB replays the whole encode+search. Encoding assigns each
    vector's slice to its nearest codeword by squared L2, computed as
    aa - 2ab + bb from fold-order dot products and ROUNDED to 6 before
    the argmin (the same rank-robustness rule as the IVF oracle, ties
    to the lowest codeword id). Search: per-query lookup tables
    (3 x 8 x 32 doubles — driver model state) turn distance into 8
    table gathers per row inside one Arrow kernel; only (vec_id,
    8 codes) ever exists corpus-wide, vectors are never re-read.
    Per-subspace distances are rounded to 6 (identical on both
    engines) before the 8-term ADC sum, which is rounded to 4 for the
    rank. Exactness is NOT the goal — test_ann_recall.py gates planted-
    twin recovery (uniform random fixture vectors concentrate pairwise
    distances, so generic top-k recall is uninformative; production PQ
    shortlists then exactly re-ranks); THIS key's oracle proves the
    pipeline (encode, LUT, ADC rank) is computed exactly as specified.
    Queries and codebook seeds ride one collect.
    """
    e = load_embeddings(spark, sf_dir)
    model = _collect_queries(e, _ivf_seeds())
    if model is None:
        return spark.createDataFrame(
            [], "q_id long, vec_id long, adc double, rk long"
        )
    qmat, _c_ids, cmat = model
    # codebooks[s]: (32, 8) slice s of each seed vector
    books = [
        cmat[:, s * _PQ_DIMS : (s + 1) * _PQ_DIMS] for s in range(_PQ_SUB)
    ]
    bb = [_fold_sq(b) for b in books]  # (32,) codeword self-dots

    def _sub_d2(x_s: np.ndarray, s: int) -> np.ndarray:
        """(n, 32) rounded squared L2 between rows of x_s and book s,
        via aa - 2ab + bb with fold-order dots (both engines
        identical)."""
        aa = _fold_sq(x_s)
        ab = _fold_dot(x_s, books[s])
        return _round6_half_away(aa[:, None] - 2.0 * ab + bb[s][None, :])

    # per-query LUTs: d2 between query slice s and every codeword
    lut = np.stack(
        [
            np.stack(
                [
                    _sub_d2(qmat[q : q + 1, s * _PQ_DIMS : (s + 1) * _PQ_DIMS], s)[0]
                    for s in range(_PQ_SUB)
                ]
            )
            for q in range(qmat.shape[0])
        ]
    )  # (n_q, 8, 32)

    @_batch_udf("array<double>")
    def adc_all(x):
        adc = np.zeros((x.shape[0], qmat.shape[0]), dtype=np.float64)
        for s in range(_PQ_SUB):
            d2 = _sub_d2(x[:, s * _PQ_DIMS : (s + 1) * _PQ_DIMS], s)
            codes = d2.argmin(axis=1)  # first min = lowest codeword id
            # gather the rounded per-subspace term for every query
            adc += lut[:, s, :][:, codes].T
        return adc

    pairs = e.select(
        "vec_id", F.posexplode(adc_all("vec")).alias("q_id", "adc_raw")
    ).filter(F.col("vec_id") != F.col("q_id"))
    adc = F.floor(F.col("adc_raw") * 10000.0 + 0.5) / 10000.0
    return _top_per_query(
        pairs.select(
            F.col("q_id").cast("long").alias("q_id"), "vec_id", adc.alias("adc")
        ),
        TOP_K,
        "adc",
        ascending=True,
    ).select("q_id", "vec_id", "adc", "rk")


def ivf_invert(e: DataFrame, c_ids, cmat) -> DataFrame:
    """(vec_id, c_id) nearest-centroid inverted list for a (vec_id,
    vec) frame against FIXED centroids — the index-refresh primitive:
    run it over just a delta and union with the existing inverted list;
    because the rule is `_nearest_centroid_rows`, the result equals a
    full rebuild over corpus+delta (tested in
    tests/test_corpus_update_pipeline.py)."""

    @_batch_udf("bigint")
    def nearest(x):
        return _nearest_centroid_rows(x, cmat, c_ids)

    return e.select("vec_id", nearest("vec").alias("c_id"))


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: centroid inversion + 3-probe search.

    3 probes measured at avg recall ~0.7-0.9 on the (clusterless, random)
    fixture vectors vs 0.5-0.7 at 2 probes; real embedding spaces cluster,
    where fewer probes recover more. n_probe is THE recall/cost dial.
    Oracle-checked since round 4: index build, probe selection, and
    re-rank are all deterministic, so DuckDB replays the whole search
    (fold-order dot products — identical bits, identical rank order).
    """
    n_probe = 3
    e = load_embeddings(spark, sf_dir)
    # Index + query state are MODEL-sized (32 x 64 and 3 x 64 doubles);
    # both ride to the driver in one collect and back into ONE Arrow
    # kernel pass — the k-means/similarity pattern. The corpus pays one
    # scan and only (vec_id, c_id, 3 cosines) reaches the probe join.
    model = _collect_queries(e, _ivf_seeds())
    if model is None:  # empty corpus -> empty result
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cos double, rk long"
        )
    qmat, c_ids, cmat = model

    # probe selection: 3 queries x 32 centroids, exact driver-side math
    # with the same fold order and the oracle's (cos desc, c_id asc)
    # order. Rounded to 6 before ranking (like the oracle) so the order
    # is robust to either engine changing its summation order.
    qcos = _round6_half_away(_cosines(qmat, cmat))
    probe_pairs = [
        (int(q_id), int(c_ids[j]))
        for q_id in range(qmat.shape[0])
        for j in sorted(
            range(len(c_ids)), key=lambda j: (-qcos[q_id, j], c_ids[j])
        )[:n_probe]
    ]
    probes = spark.createDataFrame(probe_pairs, "q_id long, c_id long")

    @_batch_udf({"c_id": "bigint", "cos_all": "array<double>"})
    def score(x):
        # rounded-to-6 inversion shared with ivf_invert (matches the
        # oracle's ROUND(...) rank)
        return {
            "c_id": _nearest_centroid_rows(x, cmat, c_ids),
            "cos_all": _cosines(x, qmat),
        }

    inverted = e.withColumn("s", score("vec")).select(
        "vec_id", F.col("s.c_id").alias("c_id"), F.col("s.cos_all").alias("cos_all")
    )
    cands = inverted.join(F.broadcast(probes), "c_id").filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = F.element_at(F.col("cos_all"), (F.col("q_id") + 1).cast("int"))
    return _top_per_query(cands.withColumn("cos", F.round(cos, 6)), TOP_K).select(
        "q_id", "vec_id", "cos", "rk"
    )


_CC_MAX_ROUNDS = 50  # safety cap; raises rather than return unconverged labels


def _cc_seed(edges: DataFrame) -> DataFrame:
    """Initial CC labels: every node of ``edges`` labeled by itself."""
    return (
        edges.select(F.col("a_id").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )


def _cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label propagation round: label = min(label of self ∪
    neighbors), plus a ``changed`` flag per node."""
    neigh = (
        edges.join(labels, edges.b_id == labels.node, "inner")
        .groupBy("a_id")
        .agg(F.min("label").alias("nlabel"))
    )
    nlabel = F.coalesce(F.col("nlabel"), F.col("label"))
    return labels.join(neigh, labels.node == neigh.a_id, "left").select(
        "node",
        F.least(F.col("label"), nlabel).alias("label"),
        (nlabel < F.col("label")).alias("changed"),
    )


def _cc_converge(
    edges: DataFrame, max_rounds: int = _CC_MAX_ROUNDS
) -> tuple[DataFrame, int]:
    """Min-label propagation to FIXPOINT over a bidirectional edge list.

    Iterates :func:`_cc_round` until a round changes no label — NOT a
    fixed unroll: a fixed k-round unroll silently under-merges any
    component whose min-id node eccentricity exceeds k (LSH candidate
    chains can be arbitrarily long). Runs on
    :func:`~hive_2_spark.core.fixpoint.fixpoint`: each round's labels
    are checkpointed, and the changed-count stop condition is a cheap
    count over that already-materialized frame. Converges in (min-node
    eccentricity) rounds ≤ component diameter; raises at the cap
    instead of returning unconverged labels.

    Returns (labels(node, label), rounds_used).
    """
    labels, rounds = fixpoint(
        _cc_seed(edges),
        lambda lb: _cc_round(edges, lb),
        max_rounds,
        done=lambda _, nxt: nxt.filter(F.col("changed")).count() == 0,
        what="connected components",
    )
    return labels.drop("changed"), rounds


# DuckDB twin of ``_cc_converge``: exact connected components of the
# pair CTE ``p`` (a_id, b_id) by recursive reachability; ``cl`` labels
# every paired node with its component's min id. The query opens with
# WITH RECURSIVE.
_DK_COMPONENTS = (
    "edges AS (SELECT a_id, b_id FROM p UNION SELECT b_id, a_id FROM p), "
    "nodes AS (SELECT DISTINCT a_id AS node FROM edges), "
    "reach AS (SELECT node, node AS r FROM nodes "
    "UNION SELECT e.a_id, r.r FROM edges e JOIN reach r ON e.b_id = r.node), "
    "cl AS (SELECT node AS doc_id, MIN(r) AS cluster FROM reach GROUP BY node)"
)


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over near-dup pairs: min-label propagation.

    Iterates label = min(label of neighbors ∪ self) until fixpoint —
    the standard shuffle-bounded CC loop. Convergence-stopped (see
    ``_cc_converge``), so the result equals exact connected components
    (each node labeled with its component's min doc_id) for ANY chain
    length — matching the recursive-CTE oracle by construction.
    """
    pairs = neardup_pair_index(spark, sf_dir)
    edges = pairs.unionByName(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).localCheckpoint()
    labels, _ = _cc_converge(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster"))


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-10 systematic sample per language stratum."""
    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % 10 == 0)
        .select("doc_id", "lang", "n_chars")
    )


_LEV_BLOCK_CAP = 100  # pair space per block <= cap^2/2; asserted in tests
_LEV_PREFIX = 200  # DP cost per pair bounded at 200x200 cells


def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs inside content-hash blocks.

    Completes the dedup family with the character-level measure (exact
    twins: hash; token twins: Jaccard/MinHash; vector twins: cosine;
    character twins: Levenshtein). Same scale discipline as
    ``dedup_ngram_jaccard``: candidates are blocked by (lang, md5 of the
    first 32 normalized chars) with a per-block cap, and the O(len^2) DP
    runs on the first 200 normalized chars only, so per-pair cost is a
    constant. Twins are synthesized by appending ' zq x' to every 15th
    doc's normalized text (edit distance exactly 5).
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    base = d.select("doc_id", "lang", _NORM(F.col("text")).alias("norm"))
    twins = base.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        "lang",
        F.concat(F.col("norm"), F.lit(" zq x")).alias("norm"),
    )
    c = (
        base.unionByName(twins)
        .withColumn("blk", F.md5(F.substring("norm", 1, 32)))
        .withColumn("head", F.substring("norm", 1, _LEV_PREFIX))
    )
    c = c.withColumn(
        "blk_n", F.count(F.lit(1)).over(W.partitionBy("blk", "lang"))
    ).filter(F.col("blk_n") <= _LEV_BLOCK_CAP)
    a = c.select(
        F.col("doc_id").alias("a_id"),
        "lang",
        "blk",
        F.col("head").alias("a_head"),
    )
    b = c.select(
        F.col("doc_id").alias("b_id"),
        F.col("lang").alias("b_lang"),
        F.col("blk").alias("b_blk"),
        F.col("head").alias("b_head"),
    )
    return (
        a.join(
            b,
            (F.col("blk") == F.col("b_blk"))
            & (F.col("lang") == F.col("b_lang"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .withColumn(
            "dist", F.levenshtein("a_head", "b_head").cast("long")
        )
        .filter(F.col("dist") <= 5)
        .select("a_id", "b_id", "dist")
    )


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the PORTABLE MinHash-LSH candidate
    pairs — the 100 TB dedup path end-to-end (banded-hash candidate
    generation, no pairwise blocks), unlike `dedup_clusters` whose
    Jaccard-block edge set is O(block²). The edge list is
    localCheckpoint'ed once so every label-propagation round rereads
    cached pairs instead of re-running the signature pipeline; the loop
    runs to FIXPOINT (``_cc_converge``) so LSH chains longer than any
    fixed unroll still agree with the exact-CC recursive-CTE oracle."""
    pairs = dedup_minhash_portable(spark, sf_dir).localCheckpoint()
    edges = pairs.unionByName(
        pairs.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id"))
    ).localCheckpoint()
    labels, _ = _cc_converge(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster")
    )


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection — the step AFTER clustering:
    keep each near-dup cluster's longest member (tie: smallest doc_id).
    Composes `dedup_clusters` with a per-cluster argmax; the join and
    window are cluster-keyed (clusters are tiny by construction, so no
    skew). Output: cluster, kept_doc_id, n_members."""
    clusters = dedup_clusters(spark, sf_dir)
    corpus = corpus_with_dups(spark, sf_dir).select(
        "doc_id", F.length("text").alias("len")
    )
    m = clusters.join(corpus, "doc_id")
    w = W.partitionBy("cluster").orderBy(
        F.col("len").desc(), F.col("doc_id").asc()
    )
    kept = (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster", F.col("doc_id").alias("kept_doc_id"))
    )
    size = m.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return kept.join(size, "cluster").select(
        "cluster", "kept_doc_id", "n_members"
    )


QUERIES = {
    "dedup_embedding": dedup_embedding,
    "sim_ivf_topk": sim_ivf_topk,  # recall ALSO asserted vs brute force
    "sim_pq_topk": sim_pq_topk,    # recall gated in test_ann_recall.py
    "dedup_clusters": dedup_clusters,
    "sample_stratified": sample_stratified,
    "dedup_levenshtein": dedup_levenshtein,
    "dedup_keep_best": dedup_keep_best,
    "dedup_clusters_lsh": dedup_clusters_lsh,
}


def _dk_plane(p: int) -> str:
    """DuckDB mirror of _plane(p) — every step forced to DOUBLE so the
    IEEE ops (int->double exact, correctly-rounded / and -) are
    bit-identical to the Python-side literals Spark embeds."""
    return (
        f"list_transform(range(0,64), i -> "
        f"((({p}*8191 + i*127) % 1000)::DOUBLE / 500.0::DOUBLE) - 1.0::DOUBLE)"
    )


_DK_BITS = " + ".join(
    f"(CASE WHEN list_dot_product(vec, {_dk_plane(p)}) >= 0 "
    f"THEN {1 << p} ELSE 0 END)"
    for p in range(_N_PLANES)
)

# DuckDB twin of ``_ivf_seeds``: the IVF centroids and PQ codebook seeds
_DK_IVF_SEEDS = (
    "cents AS (SELECT vec_id AS c_id, vec AS c_vec FROM e "
    f"WHERE vec_id % 50 = 0 AND vec_id < {_IVF_SEED_CAP})"
)

ORACLES = {
    # Deterministic IVF replay: same id-seeded centroids, same single
    # nearest-centroid inversion, same 3-probe selection, same exact
    # re-rank. Every cosine is ROUNDed to 6 decimals BEFORE each rank
    # window (inversion, probe selection, re-rank) on BOTH sides, so
    # the rank order does not depend on DuckDB's list_dot_product
    # summation order (an undocumented implementation detail — a SIMD/
    # pairwise change there would otherwise flip near-tie ranks);
    # rounding-induced ties break identically by id on both engines.
    "sim_ivf_topk": f"""
WITH {_DK_EMB},
{_DK_IVF_SEEDS},
inv AS (
  SELECT vec_id, vec, c_id FROM (
    SELECT e.vec_id, e.vec, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
             ROUND({_dk_cos('e.vec', 'c.c_vec')}, 6) DESC,
             c.c_id ASC) AS c_rk
    FROM e CROSS JOIN cents c
  ) WHERE c_rk <= 1
),
{_DK_QUERIES},
probes AS (
  SELECT q_id, q_vec, c_id FROM (
    SELECT q.q_id, q.q_vec, c.c_id,
           ROW_NUMBER() OVER (PARTITION BY q.q_id ORDER BY
             ROUND({_dk_cos('q.q_vec', 'c.c_vec')}, 6) DESC,
             c.c_id ASC) AS c_rk
    FROM q CROSS JOIN cents c
  ) WHERE c_rk <= 3
),
cands AS (
  SELECT p.q_id, i.vec_id, ROUND({_dk_cos('i.vec', 'p.q_vec')}, 6) AS cos
  FROM inv i JOIN probes p USING (c_id)
  WHERE i.vec_id != p.q_id
)
SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM (
  SELECT q_id, vec_id, cos,
         ROW_NUMBER() OVER (PARTITION BY q_id
           ORDER BY cos DESC, vec_id ASC) AS rk
  FROM cands
) WHERE rk <= 5
""",
    # PQ replay: id-seeded codebooks, rounded-6 per-subspace d2
    # (aa - 2ab + bb, fold-order dots), ordered 8-term fold for the ADC
    # sum (list_reduce over s-ordered list == numpy's ascending
    # accumulation), floor-round to 4 for the rank.
    "sim_pq_topk": f"""
WITH {_DK_EMB},
{_DK_IVF_SEEDS},
sub AS (
  SELECT e.vec_id, s.s, sd.c_id,
         ROUND(
           list_dot_product(list_slice(e.vec, s.s * 8 + 1, s.s * 8 + 8),
                            list_slice(e.vec, s.s * 8 + 1, s.s * 8 + 8))
           - 2 * list_dot_product(
               list_slice(e.vec, s.s * 8 + 1, s.s * 8 + 8),
               list_slice(sd.c_vec, s.s * 8 + 1, s.s * 8 + 8))
           + list_dot_product(
               list_slice(sd.c_vec, s.s * 8 + 1, s.s * 8 + 8),
               list_slice(sd.c_vec, s.s * 8 + 1, s.s * 8 + 8)), 6) AS d2
  FROM e
  CROSS JOIN (SELECT unnest(range(0, {_PQ_SUB})) AS s) s
  CROSS JOIN cents sd
),
codes AS (
  SELECT vec_id, s, c_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
              ORDER BY d2 ASC, c_id ASC) AS rk
    FROM sub
  ) WHERE rk = 1
),
lut AS (
  SELECT vec_id AS q_id, s, c_id, d2 FROM sub WHERE vec_id < 3
),
adc AS (
  SELECT l.q_id, c.vec_id,
         FLOOR(list_reduce(list(l.d2 ORDER BY c.s), (a, b) -> a + b)
               * 10000.0 + 0.5) / 10000.0 AS adc
  FROM codes c JOIN lut l ON l.s = c.s AND l.c_id = c.c_id
  WHERE c.vec_id != l.q_id
  GROUP BY l.q_id, c.vec_id
)
SELECT q_id, vec_id, adc, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
            ORDER BY adc ASC, vec_id ASC) AS rk
  FROM adc
) WHERE rk <= 5
""",
    "dedup_levenshtein": (
        "WITH c0 AS (SELECT doc_id, lang, "
        f"{_DK_NORM.format(c='text')} AS norm FROM documents), "
        "u AS (SELECT doc_id, lang, norm FROM c0 "
        "      UNION ALL SELECT doc_id + 40000000, lang, norm || ' zq x' "
        "      FROM c0 WHERE doc_id % 15 = 0), "
        "c1 AS (SELECT doc_id, lang, md5(substr(norm, 1, 32)) AS blk, "
        "       substr(norm, 1, 200) AS head FROM u), "
        "c AS (SELECT *, COUNT(*) OVER (PARTITION BY blk, lang) AS blk_n "
        "      FROM c1) "
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id, "
        "CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist "
        "FROM c a JOIN c b ON a.blk = b.blk AND a.lang = b.lang "
        "AND a.doc_id < b.doc_id "
        "WHERE a.blk_n <= 100 AND levenshtein(a.head, b.head) <= 5"
    ),
    "dedup_embedding": (
        f"WITH {_DK_EMB}, "
        "tw AS (SELECT vec_id + 1000000 AS vec_id, label, "
        "list_transform(list_zip(vec, list_concat(vec[2:], vec[1:1])), "
        "s -> s[1] + 0.1::DOUBLE * s[2]) AS vec "
        "FROM e WHERE vec_id % 25 = 0), "
        "u AS (SELECT * FROM e UNION ALL SELECT * FROM tw), "
        f"bitted AS (SELECT vec_id, label, vec, {_DK_BITS} AS bits FROM u), "
        "banded AS (SELECT vec_id, label, vec, g.band_id, "
        f"(bits >> (g.band_id * {_BAND_BITS})) & {(1 << _BAND_BITS) - 1} "
        "AS band_val FROM bitted "
        "CROSS JOIN (SELECT unnest([0,1,2]) AS band_id) g), "
        "a AS (SELECT label, band_id, band_val, vec_id AS a_id, vec AS a_vec "
        "FROM banded), "
        "b AS (SELECT label, band_id, band_val, vec_id AS b_id, vec AS b_vec "
        "FROM banded) "
        "SELECT DISTINCT a.label, a_id, b_id, "
        f"ROUND({_dk_cos('a.a_vec', 'b.b_vec')}, 6) AS cos "
        "FROM a JOIN b ON a.label = b.label AND a.band_id = b.band_id "
        "AND a.band_val = b.band_val AND a_id < b_id "
        f"WHERE ROUND({_dk_cos('a.a_vec', 'b.b_vec')}, 6) >= 0.95"
    ),
    "dedup_clusters": (
        f"WITH RECURSIVE {_dk_neardup_pairs()}, "
        f"{_DK_COMPONENTS} SELECT doc_id, cluster FROM cl"
    ),
    "sample_stratified": (
        "SELECT doc_id, lang, n_chars FROM ("
        "SELECT doc_id, lang, n_chars, "
        "ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id ASC) AS rn "
        "FROM documents) t WHERE (rn - 1) % 10 = 0"
    ),
    "dedup_keep_best": (
        f"WITH RECURSIVE {_dk_neardup_pairs()}, "
        f"{_DK_COMPONENTS}, "
        f"corpus AS (SELECT doc_id, length(text) AS len FROM ({_DK_CORPUS})), "
        "m AS (SELECT cl.cluster, cl.doc_id, corpus.len "
        "      FROM cl JOIN corpus USING (doc_id)), "
        "kept AS (SELECT cluster, doc_id AS kept_doc_id FROM ("
        "  SELECT cluster, doc_id, ROW_NUMBER() OVER (PARTITION BY cluster "
        "  ORDER BY len DESC, doc_id ASC) AS rn FROM m) WHERE rn = 1) "
        "SELECT kept.cluster, kept.kept_doc_id, "
        "CAST(cnt.n_members AS BIGINT) AS n_members "
        "FROM kept JOIN (SELECT cluster, COUNT(*) AS n_members FROM m "
        "                GROUP BY cluster) cnt USING (cluster)"
    ),
    # exact components over dedup_minhash_portable's own pair oracle
    "dedup_clusters_lsh": (
        "WITH RECURSIVE "
        f"{_dk_pairs(_DEDUP_ORACLES['dedup_minhash_portable'])}, "
        f"{_DK_COMPONENTS} SELECT doc_id, cluster FROM cl"
    ),
}
