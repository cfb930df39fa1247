"""Similarity search over the `embeddings` table (SURVEY.md §2B op 44),
and the one home of the pieces every vector key shares.

Keys: ``sim_cosine_topk`` (exact brute-force top-5, the baseline),
``sim_cosine_lsh`` (sign-LSH buckets), ``sim_mrl_topk`` (prefix
coarse-to-fine), ``retrieval_mmr`` (diversified top-5),
``sim_maxsim_topk`` (multi-vector late interaction),
``sim_pairwise_label`` (intra- vs inter-label cosine),
``emb_normalize`` and ``emb_quantize_int8`` (embedding prep).

Shared pieces, imported by ``llm.advanced``, ``llm.clustering``,
``llm.insights`` and ``streaming.serving``:

- ``load_embeddings`` / ``_vectors``: (vec_id, label, vec) with the
  float vector promoted to double BEFORE any arithmetic;
- ``_fold_dot``, ``_fold_sq``, ``_cosines``, ``_round6_half_away``: the
  NumPy kernels, accumulated in array order so every value is
  bit-identical to the JVM fold and the DuckDB oracle;
- ``_batch_udf``: the Arrow batch wrapper (empty batch, ndarray <->
  pandas), so each kernel body is only its NumPy math;
- ``_query_pairs``: rounded cosines of every row against the query set;
- ``_top_per_query``: the per-query rank cut;
- ``_collect_queries``: the model-row collect and its validation;
- ``_DK_VEC``, ``_dk_cos``, ``_DK_EMB``, ``_DK_QUERIES``: their DuckDB
  twins, composed by every vector oracle.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from hive_2_spark.catalog import load_table

TOP_K = 5
N_QUERIES = 3  # vec_id 0..2 serve as the query set


def _vectors(t: DataFrame) -> DataFrame:
    """(vec_id, label, vec) of an embeddings frame, batch or stream."""
    return t.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )


def load_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vectors(load_table(spark, sf_dir, "embeddings"))


def _fold_dot(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, dim) x (m, dim) -> (n, m) dot products accumulated in ARRAY
    ORDER: acc += x_i * y_i with i ascending, exactly the left-fold the
    JVM ``aggregate`` HOF and DuckDB's list fold perform — so values are
    bit-identical to the SQL oracle. BLAS matmul (``X @ Q.T``) is NOT
    used on purpose: its pairwise/SIMD summation reorders the additions
    and can flip a ROUND(6) half boundary between engines."""
    acc = np.zeros((X.shape[0], Q.shape[0]))
    for i in range(X.shape[1]):
        acc += X[:, i : i + 1] * Q[:, i][None, :]
    return acc


def _fold_sq(X: np.ndarray) -> np.ndarray:
    """Per-row sum of squares in the same ascending-dim fold order."""
    acc = np.zeros(X.shape[0])
    for i in range(X.shape[1]):
        acc += X[:, i] * X[:, i]
    return acc


def _cosines(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(n, m) cosines between the rows of X and of Q, fold order."""
    nx, nq = np.sqrt(_fold_sq(X)), np.sqrt(_fold_sq(Q))
    return _fold_dot(X, Q) / (nx[:, None] * nq[None, :])


def _round6_half_away(a: np.ndarray) -> np.ndarray:
    """ROUND(x, 6) with half-away-from-zero ties — the DuckDB/Spark SQL
    ROUND rule (np.round is half-even, which would disagree exactly on
    the .5e-6 boundaries)."""
    return np.copysign(np.floor(np.abs(a) * 1e6 + 0.5) / 1e6, a)


def _matrix(rows) -> np.ndarray:
    return np.array([list(r.vec) for r in rows], dtype=np.float64)


def _batch_udf(returns: str | dict[str, str]):
    """Decorator: a scalar Arrow UDF over a vector column whose kernel
    is NumPy only. The kernel gets each batch as an (n, dim) float64
    matrix and returns an array, or for a struct (``returns`` a
    {field: type} dict) a dict of arrays; a 2-D array becomes one
    array<double> per row. Empty batches never reach the kernel."""

    def cells(a):  # a 2-D result is one array<double> per row
        return list(a) if np.ndim(a) == 2 else a

    def wrap(kernel):
        def run(vec: pd.Series):
            return kernel(np.vstack(vec.to_numpy()).astype(np.float64))

        if isinstance(returns, dict):
            def udf(vec: pd.Series) -> pd.DataFrame:
                if len(vec) == 0:
                    return pd.DataFrame(dict.fromkeys(returns, []))
                return pd.DataFrame({k: cells(a) for k, a in run(vec).items()})

            ddl = ", ".join(f"{k} {t}" for k, t in returns.items())
        else:
            def udf(vec: pd.Series) -> pd.Series:
                return pd.Series(cells(run(vec)) if len(vec) else [])

            ddl = returns
        udf.__name__ = kernel.__name__  # the name plans show
        return F.pandas_udf(udf, ddl)

    return wrap


def _collect_queries(e: DataFrame, seeds: Column | None = None):
    """Collect the N_QUERIES query vectors (MODEL-state-sized, like the
    k-means centroids) as a matrix whose row i is q_id i. Given a
    ``seeds`` predicate, the same job also fetches the seed vectors:
    returns (qmat, seed ids ascending, seed matrix).

    Returns None for an EMPTY corpus (the routine empty-input case —
    callers build an empty result with the right schema); raises when a
    non-empty corpus is missing its query ids or has no seed, which
    would otherwise surface as silently-wrong scores."""
    is_seed = F.lit(False) if seeds is None else seeds
    rows = sorted(
        e.filter((F.col("vec_id") < N_QUERIES) | is_seed)
        .select("vec_id", "vec", is_seed.alias("seed"))
        .collect(),
        key=lambda r: r.vec_id,
    )
    qrows = [r for r in rows if r.vec_id < N_QUERIES]
    if not qrows and e.isEmpty():
        return None
    if [r.vec_id for r in qrows] != list(range(N_QUERIES)):
        raise ValueError(
            f"query set must be vec_ids 0..{N_QUERIES - 1}, got "
            f"{[r.vec_id for r in qrows]}"
        )
    if seeds is None:
        return _matrix(qrows)
    srows = [r for r in rows if r.seed]
    if not srows:
        raise ValueError(
            f"no seed vector ({seeds}) in a non-empty corpus — widen the "
            "seed predicate or train real centroids"
        )
    ids = np.array([r.vec_id for r in srows], dtype=np.int64)
    return _matrix(qrows), ids, _matrix(srows)


def _query_pairs(e: DataFrame, qmat: np.ndarray) -> DataFrame:
    """(q_id, vec_id, cos): every row's ROUND(,6) cosine against every
    query over the first ``qmat.shape[1]`` dims, self pairs dropped.

    The query matrix is closed over by one Arrow kernel that scores a
    batch against ALL queries at once; the corpus never joins — each
    row emits N_QUERIES (q_pos, cos) pairs via posexplode, and only
    those 24-byte triples reach a rank window. q_pos == q_id because
    the query set is exactly vec_ids 0..2 (asserted in
    ``_collect_queries``)."""
    dim = qmat.shape[1]

    @_batch_udf("array<double>")
    def cos_all(x):
        return _cosines(x[:, :dim], qmat)

    scored = e.select(
        "vec_id", F.posexplode(cos_all("vec")).alias("q_pos", "cos_raw")
    )
    return scored.filter(F.col("vec_id") != F.col("q_pos")).select(
        F.col("q_pos").cast("long").alias("q_id"),
        "vec_id",
        F.round(F.col("cos_raw"), 6).alias("cos"),
    )


def _top_per_query(
    pairs: DataFrame, k: int, score: str = "cos", ascending: bool = False
) -> DataFrame:
    """The first ``k`` rows of each q_id by ``score`` (descending, or
    ascending for a distance), ties to the lower vec_id, ranked in
    ``rk`` — the rank window Catalyst rewrites to WindowGroupLimit."""
    order = F.col(score).asc() if ascending else F.col(score).desc()
    w = W.partitionBy("q_id").orderBy(order, F.col("vec_id").asc())
    return pairs.withColumn("rk", F.row_number().over(w).cast("long")).filter(
        F.col("rk") <= k
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each of the 3 query vectors.

    Scoring is the Arrow/NumPy kernel pattern proven on k-means (the
    memory-flagged 15x interpreted-HOF trap): the query matrix is
    MODEL STATE — collected once (3 x 64 doubles, like centroids) and
    scored against each Arrow batch by ``_query_pairs``. Accumulation
    uses the ascending-dim fold (`_fold_dot`) so cosines stay
    bit-identical to the JVM-HOF formulation and the DuckDB oracle.
    """
    e = load_embeddings(spark, sf_dir)
    qmat = _collect_queries(e)
    if qmat is None:  # empty corpus -> empty result, right schema
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cos double, rk long"
        )
    return _top_per_query(_query_pairs(e, qmat), TOP_K).select(
        "q_id", "vec_id", "cos", "rk"
    )


_N_PLANES = 12


def sim_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: bucket join + exact re-rank.

    Hyperplanes are pseudo-random but deterministic: plane p component i
    = sin(p * 1000 + i) — reproducible across runs without RNG state.

    One Arrow/NumPy pass computes BOTH the 12 plane dots (bucket bits)
    and the exact cosine against every query (`_cosines`, as in
    `sim_cosine_topk`): previously each plane was a separate interpreted
    JVM-HOF fold — 12 k x dim folds per row, the measured-15x pattern.
    The bucket join then carries only (vec_id, bucket, 3 cosines); the
    64-dim vector never reaches the exchange. np.sin vs libm sin can
    differ in the last ULP, which could only matter if a plane dot sat
    within ~1e-15 of zero — recall is gated in test_ann_recall.py, and
    since round 4 the whole op is DuckDB-oracle-checked (the oracle
    replays the sin() hyperplanes).
    """
    e = load_embeddings(spark, sf_dir)
    qmat = _collect_queries(e)
    if qmat is None:  # empty corpus -> empty result, right schema
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cos double, rk long, bucket long"
        )
    pmat = np.array(
        [
            [math.sin(float(p * 1000 + i)) for i in range(64)]
            for p in range(_N_PLANES)
        ],
        dtype=np.float64,
    )
    pow2 = (1 << np.arange(_N_PLANES)).astype(np.int64)

    @_batch_udf({"bucket": "long", "cos_all": "array<double>"})
    def score(x):
        bucket = ((_fold_dot(x, pmat) >= 0.0) * pow2[None, :]).sum(axis=1)
        return {"bucket": bucket, "cos_all": _cosines(x, qmat)}

    bucketed = e.withColumn("s", score("vec")).select(
        "vec_id",
        F.col("s.bucket").alias("bucket"),
        F.col("s.cos_all").alias("cos_all"),
    )
    q = bucketed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("bucket").alias("q_bucket")
    )
    cands = bucketed.join(
        F.broadcast(q), F.col("bucket") == F.col("q_bucket"), "inner"
    ).filter(F.col("vec_id") != F.col("q_id"))
    # element_at is 1-based; q_id is the 0-based row index of qmat.
    cos = F.element_at(F.col("cos_all"), (F.col("q_id") + 1).cast("int"))
    return _top_per_query(cands.withColumn("cos", F.round(cos, 6)), TOP_K).select(
        "q_id", "vec_id", "cos", "rk", "bucket"
    )


# sim_pairwise_label panel bound: the sampled side is capped at vec_id <
# _PANEL_ID_CAP, so the pair space is <= (CAP/7)^2 / 2 = 2M pairs at ANY
# corpus size — the cross join can never scale quadratically with the
# data. tests/test_ann_recall.py asserts the bound on the live plan.
_PANEL_ID_CAP = 14_000


def sim_pairwise_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean cosine within sampled pairs, split intra- vs inter-label.

    The sample is a constant-size panel (every 7th vector, ids below
    ``_PANEL_ID_CAP``): statistics demos need a fixed budget, not a
    corpus-proportional pair explosion.
    """
    e = load_embeddings(spark, sf_dir)
    a = e.select(
        F.col("vec_id").alias("a_id"), F.col("vec").alias("a_vec"),
        F.col("label").alias("a_label"),
    ).filter((F.col("a_id") % 7 == 0) & (F.col("a_id") < _PANEL_ID_CAP))
    b = e.select(
        F.col("vec_id").alias("b_id"), F.col("vec").alias("b_vec"),
        F.col("label").alias("b_label"),
    ).filter((F.col("b_id") % 7 == 0) & (F.col("b_id") < _PANEL_ID_CAP))
    pairs = a.crossJoin(b).filter(F.col("a_id") < F.col("b_id"))
    cos = _dot(F.col("a_vec"), F.col("b_vec")) / (
        _norm(F.col("a_vec")) * _norm(F.col("b_vec"))
    )
    return (
        pairs.withColumn("same", F.col("a_label") == F.col("b_label"))
        .groupBy("same")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg(cos), 6).alias("mean_cos"),
        )
    )


# ------------------------------------------------ embedding prep ops
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalization report per vector: original norm + extremes of
    the unit vector. Single scan, zero shuffle, all codegen array
    lambdas — the preprocessing step before any cosine/IVF indexing
    (normalized corpus => cosine == dot product, which halves the
    per-pair work in every downstream similarity op)."""
    e = load_embeddings(spark, sf_dir)
    nrm = F.greatest(_norm(F.col("vec")), F.lit(1e-12))
    unit = F.transform(F.col("vec"), lambda x: x / nrm)
    return e.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.round(nrm, 6).alias("l2_norm"),
        F.round(F.array_max(unit), 6).alias("unit_max"),
        F.round(F.array_min(unit), 6).alias("unit_min"),
    )


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (the storage/serving format for
    billion-vector corpora: 4x smaller than float32, SIMD-friendly):
    per-vector scale = max|x|/127, q_i = floor(x/scale + 0.5).

    floor(x+0.5) instead of round(): ROUND's half-away/half-even choice
    differs across engines; floor(+0.5) is bit-identical everywhere.
    The quantized vector is emitted as a CSV string — hash-stable in the
    oracle compare, and exactly what a compact serving index stores."""
    e = load_embeddings(spark, sf_dir)
    maxabs = F.array_max(F.transform(F.col("vec"), F.abs))
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    qvec = F.transform(
        F.col("vec"),
        lambda x: F.floor(x / scale + F.lit(0.5)).cast("bigint").cast("string"),
    )
    return e.select(
        "vec_id",
        F.round(scale, 8).alias("scale"),
        F.array_join(qvec, ",").alias("qvec"),
    )


# MMR: relevance/diversity trade-off and candidate-pool knobs. MU is a
# LITERAL 0.3, never computed as 1 - 0.7 (that float is
# 0.30000000000000004 and would diverge from the oracle's 0.3).
_MMR_LAMBDA = 0.7
_MMR_MU = 0.3
_MMR_CAND = 20
_MMR_K = 5


def retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-5 per query — the
    dedup step of a retrieval pipeline: greedily pick the candidate
    maximizing lambda*rel - mu*max_sim_to_already_selected, so near-
    duplicate hits don't crowd the result list.

    Scale shape: the corpus pays ONE distributed pass (the sim_cosine_
    topk Arrow kernel + per-query candidate cut to _MMR_CAND rows via
    the rank window Catalyst rewrites to WindowGroupLimit); the greedy
    re-rank then runs driver-side over MODEL-SIZED state (3 queries x
    20 candidate vectors — the IVF probe-selection pattern). The oracle
    replays the full greedy unroll in SQL: candidate cut, pairwise
    rounded cosines, and all 5 argmax steps with (mmr DESC, vec_id)
    tie-breaks.

    Output: q_id, rk (selection order 1..5), vec_id, mmr (score at
    selection, rounded 6).
    """
    e = load_embeddings(spark, sf_dir)
    qmat = _collect_queries(e)
    if qmat is None:  # empty corpus -> empty result, right schema
        return spark.createDataFrame(
            [], "q_id long, rk long, vec_id long, mmr double"
        )
    cand = _top_per_query(_query_pairs(e, qmat), _MMR_CAND)
    # candidate vectors ride back on a broadcast join (corpus scanned
    # once, nothing corpus-sized shuffles); <= 3 * _MMR_CAND rows reach
    # the driver
    cv = (
        F.broadcast(cand)
        .join(e.select("vec_id", "vec"), "vec_id")
        .select("q_id", "vec_id", F.col("cos").alias("rel"), "vec")
        .collect()
    )
    byq: dict[int, list] = {}
    for r in cv:
        byq.setdefault(r.q_id, []).append(r)
    out = []
    for q_id in sorted(byq):
        out.extend(_mmr_greedy(q_id, byq[q_id]))
    return spark.createDataFrame(
        out, "q_id long, rk long, vec_id long, mmr double"
    )


def _mmr_greedy(q_id: int, cand_rows) -> list[tuple]:
    """Driver-side greedy MMR over one query's model-sized candidate
    list of (vec_id, rel, vec) rows. Split out so the planted-twin
    behavioral test can drive it with a synthetic near-duplicate."""
    rows = sorted(cand_rows, key=lambda r: (-r.rel, r.vec_id))
    V = _matrix(rows)
    S = _round6_half_away(_cosines(V, V))
    rel = [float(r.rel) for r in rows]
    ids = [int(r.vec_id) for r in rows]
    selected: list[int] = []
    avail = list(range(len(rows)))
    out = []
    for rk in range(1, _MMR_K + 1):
        if not avail:
            break
        best = None
        for i in avail:
            ms = max((float(S[i, j]) for j in selected), default=0.0)
            sc = _MMR_LAMBDA * rel[i] - _MMR_MU * ms
            key = (-sc, ids[i])
            if best is None or key < best[0]:
                best = (key, i, sc)
        _, i, sc = best
        selected.append(i)
        avail.remove(i)
        out.append(
            (q_id, rk, ids[i], float(_round6_half_away(np.float64(sc))))
        )
    return out


# MaxSim: synthesized multi-vector "passages" (8 consecutive vectors),
# first 2 passages are the queries, top-3 passages returned per query
_MS_GROUP = 8
_MS_NQ = 2
_MS_K = 3


def sim_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction retrieval: score(Q, D) =
    sum over query vectors of max over doc vectors of cos(qv, dv),
    over multi-vector passages (8 consecutive embeddings per doc_id =
    vec_id div 8; the first 2 passages act as queries).

    Exactness end-to-end: vectors are int8-quantized with the
    emb_quantize_int8 recipe (per-vector scale, floor(x/scale + 0.5) —
    bit-identical everywhere), so dots and squared norms are EXACT
    INTEGER folds; each cosine becomes integer micro-units via
    floor(cos*1e6 + 0.5) computed from identical doubles (IEEE sqrt is
    correctly rounded), and the MaxSim sum is an exact BIGINT sum of
    those micro-units — no float accumulation anywhere between the
    quantized ints and the final display division.

    Scale shape: the 16 query vectors broadcast as a scoring scan over
    the corpus (the late-interaction standard — each corpus vector is
    scored against the model-sized query token set in one pass; the
    100 TB pre-filter is an IVF/LSH candidate cut composed upstream,
    exactly as sim_ivf_topk does for single vectors). MAX collapses
    per (query, passage, query-vector) map-side; the rank window runs
    over passage-count rows per query (WindowGroupLimit).
    """
    e = load_embeddings(spark, sf_dir)
    maxabs = F.array_max(F.transform(F.col("vec"), F.abs))
    scale = F.greatest(maxabs, F.lit(1e-12)) / F.lit(127.0)
    qints = F.transform(
        F.col("vec"), lambda x: F.floor(x / scale + F.lit(0.5)).cast("long")
    )
    sq = F.aggregate(
        F.col("q"), F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )
    v = e.select(
        (F.col("vec_id") / _MS_GROUP).cast("long").alias("doc_id"),
        F.col("vec_id"),
        qints.alias("q"),
    ).withColumn("sq", sq)
    qside = v.filter(F.col("doc_id") < _MS_NQ).select(
        F.col("doc_id").alias("q_doc"),
        F.col("vec_id").alias("q_vec"),
        F.col("q").alias("qq"),
        F.col("sq").alias("qsq"),
    )
    dside = v.select(
        F.col("doc_id").alias("d_doc"), F.col("q").alias("dq"), "sq"
    )
    dot = F.aggregate(
        F.zip_with(F.col("qq"), F.col("dq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # zero-norm guard: an all-zero quantized vector scores 0, not NaN
    # (DuckDB refuses CAST(NaN AS BIGINT); Spark would null-propagate)
    cos_micro = F.when(
        (F.col("qsq") > 0) & (F.col("sq") > 0),
        F.floor(
            dot.cast("double")
            / (
                F.sqrt(F.col("qsq").cast("double"))
                * F.sqrt(F.col("sq").cast("double"))
            )
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    scored = (
        dside.crossJoin(F.broadcast(qside))
        .filter(F.col("d_doc") != F.col("q_doc"))
        .select("q_doc", "q_vec", "d_doc", cos_micro.alias("cm"))
    )
    best = scored.groupBy("q_doc", "q_vec", "d_doc").agg(
        F.max("cm").alias("best_cm")
    )
    msum = best.groupBy("q_doc", "d_doc").agg(
        F.sum("best_cm").alias("maxsim_micro")
    )
    w = W.partitionBy("q_doc").orderBy(
        F.col("maxsim_micro").desc(), F.col("d_doc").asc()
    )
    return (
        msum.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MS_K)
        .select(
            "q_doc",
            "d_doc",
            "maxsim_micro",
            F.col("rk").cast("bigint").alias("rk"),
        )
    )


_MRL_DIM = 32  # coarse prefix width (Matryoshka truncation)
_MRL_CAND = 50  # candidates the coarse pass keeps per query


def sim_mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-to-fine ANN via Matryoshka-style prefix truncation — the
    third scale path beside sign-LSH (bucketing) and IVF (centroid
    routing): score the corpus on the FIRST ``_MRL_DIM`` dimensions
    (cheap coarse pass), keep ``_MRL_CAND`` candidates per query, then
    re-rank ONLY the candidates with the exact full-dimension cosine.
    MRL-trained embeddings pack most of the signal into the prefix, so
    the fine pass touches a constant-per-query candidate set; on this
    synthetic (worst-case random) corpus the recall@5 vs the exact
    `sim_cosine_topk` is gated >= 0.6 per query in tests/test_ann_recall.

    Scale: the coarse kernel does dim/2 of the full-scoring work per
    row (in a production layout the prefix lives in its OWN column so
    the scan reads dim/2 of the bytes too); only 24-byte (q, id, cos)
    triples shuffle into the per-query WindowGroupLimit; the fine pass
    re-reads just the semi-joined candidate rows. Both stages rank on
    ROUND(,6) cosines with vec_id tie-breaks, so the whole pipeline —
    candidates AND final ranks — is hash-replayed by the oracle.

    Output: q_id, vec_id, cos (full-dim), rk — sim_cosine_topk's shape.
    """
    e = load_embeddings(spark, sf_dir)
    qmat = _collect_queries(e)
    if qmat is None:  # empty corpus -> empty result, right schema
        return spark.createDataFrame(
            [], "q_id long, vec_id long, cos double, rk long"
        )
    cand = _top_per_query(
        _query_pairs(e, qmat[:, :_MRL_DIM]), _MRL_CAND
    ).select("q_id", "vec_id")
    fine_rows = e.join(
        cand.select("vec_id").distinct(), "vec_id", "left_semi"
    )
    # keep candidate pairs only
    fine = _query_pairs(fine_rows, qmat).join(cand, ["q_id", "vec_id"])
    return _top_per_query(fine, TOP_K).select("q_id", "vec_id", "cos", "rk")


QUERIES = {
    "sim_maxsim_topk": sim_maxsim_topk,
    "sim_mrl_topk": sim_mrl_topk,
    "sim_cosine_topk": sim_cosine_topk,
    "sim_cosine_lsh": sim_cosine_lsh,
    "sim_pairwise_label": sim_pairwise_label,
    "emb_normalize": emb_normalize,
    "emb_quantize_int8": emb_quantize_int8,
    "retrieval_mmr": retrieval_mmr,
}

# DuckDB twins of ``_vectors``, of ``_cosines`` and of the query set.
_DK_VEC = "list_transform({c}, x -> CAST(x AS DOUBLE))"
_DK_EMB = (
    "e AS (SELECT vec_id, label, "
    f"{_DK_VEC.format(c='embedding')} AS vec FROM embeddings)"
)
_DK_QUERIES = (
    f"q AS (SELECT vec_id AS q_id, vec AS q_vec FROM e "
    f"WHERE vec_id < {N_QUERIES})"
)


def _dk_cos(a: str, b: str) -> str:
    norm = "SQRT(list_dot_product({0}, {0}))"
    return f"list_dot_product({a}, {b}) / ({norm.format(a)} * {norm.format(b)})"


def _mmr_oracle() -> str:
    """Full SQL unroll of the greedy MMR selection (built by loop so
    the step count stays tied to _MMR_K)."""
    ctes = [
        _DK_EMB,
        _DK_QUERIES,
        "pairs AS (SELECT e.vec_id, q.q_id, "
        f"ROUND({_dk_cos('e.vec', 'q.q_vec')}, 6) AS rel, e.vec "
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id)",
        "cand AS (SELECT q_id, vec_id, rel, vec FROM ("
        "SELECT q_id, vec_id, rel, vec, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY rel DESC, vec_id) AS crk FROM pairs"
        f") WHERE crk <= {_MMR_CAND})",
        "sim AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id, "
        f"ROUND({_dk_cos('a.vec', 'b.vec')}, 6) AS s "
        "FROM cand a JOIN cand b "
        "ON a.q_id = b.q_id AND a.vec_id <> b.vec_id)",
        f"s1 AS (SELECT q_id, vec_id, {_MMR_LAMBDA} * rel AS mmr FROM ("
        "SELECT q_id, vec_id, rel, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rk FROM cand"
        ") WHERE rk = 1)",
        "sel1 AS (SELECT q_id, vec_id FROM s1)",
    ]
    for k in range(2, _MMR_K + 1):
        p = k - 1
        score = f"{_MMR_LAMBDA} * rel - {_MMR_MU} * ms"
        ctes.append(
            f"c{k} AS (SELECT c.q_id, c.vec_id, c.rel, MAX(s.s) AS ms "
            f"FROM cand c "
            f"LEFT JOIN sel{p} d ON d.q_id = c.q_id "
            f"AND d.vec_id = c.vec_id "
            f"JOIN sim s ON s.q_id = c.q_id AND s.a_id = c.vec_id "
            f"JOIN sel{p} t ON t.q_id = s.q_id AND t.vec_id = s.b_id "
            f"WHERE d.vec_id IS NULL GROUP BY 1, 2, 3)"
        )
        ctes.append(
            f"s{k} AS (SELECT q_id, vec_id, mmr FROM ("
            f"SELECT q_id, vec_id, {score} AS mmr, ROW_NUMBER() OVER ("
            f"PARTITION BY q_id ORDER BY {score} DESC, vec_id) AS rk "
            f"FROM c{k}) WHERE rk = 1)"
        )
        ctes.append(
            f"sel{k} AS (SELECT q_id, vec_id FROM sel{p} "
            f"UNION ALL SELECT q_id, vec_id FROM s{k})"
        )
    finals = " UNION ALL ".join(
        f"SELECT q_id, CAST({k} AS BIGINT) AS rk, vec_id, "
        f"ROUND(mmr, 6) AS mmr FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + finals


ORACLES = {
    # same int8 quantization recipe, exact integer dot/norm folds
    # (order-free — integer addition commutes), same micro-unit floor,
    # exact BIGINT MaxSim sums, same (score desc, d_doc) tie-break
    "sim_maxsim_topk": (
        f"WITH {_DK_EMB}, "
        "s AS (SELECT vec_id, vec, "
        "GREATEST(list_max(list_transform(vec, x -> ABS(x))), 1e-12) "
        "/ 127.0 AS scale FROM e), "
        "q0 AS (SELECT vec_id, "
        f"CAST(vec_id // {_MS_GROUP} AS BIGINT) AS doc_id, "
        "list_transform(vec, x -> CAST(FLOOR(x / scale + 0.5) AS BIGINT)) "
        "AS q FROM s), "
        "v AS (SELECT doc_id, vec_id, q, "
        "list_reduce(list_transform(q, x -> x * x), (a, b) -> a + b) "
        "AS sq FROM q0), "
        f"qs AS (SELECT doc_id AS q_doc, vec_id AS q_vec, q AS qq, "
        f"sq AS qsq FROM v WHERE doc_id < {_MS_NQ}), "
        "pair AS (SELECT qs.q_doc, qs.q_vec, v.doc_id AS d_doc, "
        "CASE WHEN qs.qsq > 0 AND v.sq > 0 THEN "
        "CAST(FLOOR(CAST(list_reduce(list_transform("
        "range(1, len(qs.qq) + 1), i -> qs.qq[i] * v.q[i]), "
        "(a, b) -> a + b) AS DOUBLE) / "
        "(SQRT(CAST(qs.qsq AS DOUBLE)) * SQRT(CAST(v.sq AS DOUBLE))) "
        "* 1000000.0 + 0.5) AS BIGINT) ELSE 0 END AS cm "
        "FROM v CROSS JOIN qs WHERE v.doc_id <> qs.q_doc), "
        "best AS (SELECT q_doc, q_vec, d_doc, MAX(cm) AS best_cm "
        "FROM pair GROUP BY 1, 2, 3), "
        "msum AS (SELECT q_doc, d_doc, SUM(best_cm) AS maxsim_micro "
        "FROM best GROUP BY 1, 2), "
        "rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY q_doc "
        "ORDER BY maxsim_micro DESC, d_doc ASC) AS rk FROM msum) "
        "SELECT q_doc, d_doc, CAST(maxsim_micro AS BIGINT) "
        f"AS maxsim_micro, rk FROM rk WHERE rk <= {_MS_K}"
    ),
    "retrieval_mmr": _mmr_oracle(),
    # sin() exists in DuckDB, so the 12 deterministic hyperplanes are
    # fully replayable — this key was rows-only until round 4. Accepted
    # tolerance (documented): np.sin vs libm sin can differ in the last
    # ULP, which flips a bucket bit only if a plane dot sits within
    # ~1e-15 of zero (P ~ 1e-9 across the corpus); same class as the
    # k-means d2 note in llm/clustering.py.
    "sim_cosine_lsh": (
        f"WITH {_DK_EMB}, "
        "b AS (SELECT vec_id, vec, CAST(list_sum(list_transform("
        "  range(0, 12), p -> CASE WHEN list_sum(list_transform("
        "    range(0, 64), i -> vec[CAST(i + 1 AS INT)]"
        "      * sin(CAST(p * 1000 + i AS DOUBLE)))) >= 0"
        "    THEN 2.0 ** p ELSE 0.0 END)) AS BIGINT) AS bucket FROM e), "
        "q AS (SELECT vec_id AS q_id, vec AS q_vec, bucket AS q_bucket "
        "FROM b WHERE vec_id < 3), "
        "cands AS (SELECT b.vec_id, q.q_id, b.bucket, "
        f"ROUND({_dk_cos('b.vec', 'q.q_vec')}, 6) AS cos "
        "FROM b JOIN q ON b.bucket = q.q_bucket "
        "WHERE b.vec_id != q.q_id), "
        "ranked AS (SELECT q_id, vec_id, cos, bucket, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) "
        "AS rk FROM cands) "
        "SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk, bucket "
        "FROM ranked WHERE rk <= 5"
    ),
    # coarse pass = the SAME rounded-cosine recipe over list_slice'd
    # 32-dim prefixes; candidate cut AND final ranks replayed exactly
    "sim_mrl_topk": (
        f"WITH {_DK_EMB}, {_DK_QUERIES}, "
        "coarse AS (SELECT e.vec_id, q.q_id, ROUND("
        + _dk_cos(
            f"list_slice(e.vec, 1, {_MRL_DIM})",
            f"list_slice(q.q_vec, 1, {_MRL_DIM})",
        )
        + ", 6) AS ccos "
        "FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id), "
        "cand AS (SELECT q_id, vec_id FROM ("
        "SELECT q_id, vec_id, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY ccos DESC, vec_id ASC) AS crk "
        f"FROM coarse) WHERE crk <= {_MRL_CAND}), "
        "fine AS (SELECT c.q_id, c.vec_id, "
        f"ROUND({_dk_cos('e.vec', 'q.q_vec')}, 6) AS cos "
        "FROM cand c JOIN e ON e.vec_id = c.vec_id "
        "JOIN q ON q.q_id = c.q_id) "
        "SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk FROM ("
        "SELECT q_id, vec_id, cos, ROW_NUMBER() OVER ("
        "PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) AS rk FROM fine) "
        "WHERE rk <= 5"
    ),
    "sim_cosine_topk": (
        f"WITH {_DK_EMB}, {_DK_QUERIES}, "
        "pairs AS (SELECT e.vec_id, q.q_id, "
        f"ROUND({_dk_cos('e.vec', 'q.q_vec')}, 6) AS cos "
        "FROM e CROSS JOIN q WHERE e.vec_id != q.q_id), "
        "ranked AS (SELECT q_id, vec_id, cos, "
        "ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id ASC) "
        "AS rk FROM pairs) "
        "SELECT q_id, vec_id, cos, CAST(rk AS BIGINT) AS rk "
        "FROM ranked WHERE rk <= 5"
    ),
    "sim_pairwise_label": (
        f"WITH {_DK_EMB} "
        "SELECT a.label = b.label AS same, COUNT(*) AS n_pairs, "
        f"ROUND(AVG({_dk_cos('a.vec', 'b.vec')}), 6) AS mean_cos "
        "FROM e a CROSS JOIN e b WHERE a.vec_id < b.vec_id "
        "AND a.vec_id % 7 = 0 AND a.vec_id < 14000 "
        "AND b.vec_id % 7 = 0 AND b.vec_id < 14000 "
        "GROUP BY 1"
    ),
    "emb_normalize": (
        f"WITH {_DK_EMB}, "
        "n AS (SELECT vec_id, label, vec, "
        "GREATEST(sqrt(list_dot_product(vec, vec)), 1e-12) AS nrm FROM e) "
        "SELECT vec_id, CAST(label AS BIGINT) AS label, "
        "ROUND(nrm, 6) AS l2_norm, "
        "ROUND(list_max(list_transform(vec, x -> x / nrm)), 6) AS unit_max, "
        "ROUND(list_min(list_transform(vec, x -> x / nrm)), 6) AS unit_min "
        "FROM n"
    ),
    "emb_quantize_int8": (
        f"WITH {_DK_EMB}, "
        "s AS (SELECT vec_id, vec, "
        "GREATEST(list_max(list_transform(vec, x -> abs(x))), 1e-12) / 127.0 "
        "AS scale FROM e) "
        "SELECT vec_id, ROUND(scale, 8) AS scale, "
        "array_to_string(list_transform(vec, "
        "x -> CAST(CAST(floor(x / scale + 0.5) AS BIGINT) AS VARCHAR)), ',') "
        "AS qvec FROM s"
    ),
}
