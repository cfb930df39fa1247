"""ANN quality gates: the bucketed/inverted approximate searches must
recover most of the exact brute-force top-k — correctness of an ANN op
is recall, not hash equality."""

from __future__ import annotations

from hive_2_spark.llm.advanced import sim_ivf_topk
from hive_2_spark.llm.similarity import sim_cosine_lsh, sim_cosine_topk
from tests.conftest import SF_DIR


def _topk_sets(df) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r["q_id"], set()).add(r["vec_id"])
    return out


def test_ivf_recall_vs_brute_force(spark):
    exact = _topk_sets(sim_cosine_topk(spark, SF_DIR))
    approx = _topk_sets(sim_ivf_topk(spark, SF_DIR))
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    # 3-probe IVF over 32 lists: expect to recover >= 40% of exact top-5
    # on average (the structural guarantee; typically much higher)
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_dedup_embedding_finds_all_twins(spark):
    """Every synthesized near-twin (cos ~0.995) must survive the
    (label, sign-band) blocking — band recall at this cosine is ~99.8%
    per pair and the twins are constructed, so we demand all of them."""
    from hive_2_spark.llm.advanced import dedup_embedding

    pairs = {
        (r["a_id"], r["b_id"]) for r in dedup_embedding(spark, SF_DIR).collect()
    }
    expected = {(s, s + 1_000_000) for s in range(0, 500, 25)}
    assert expected <= pairs, expected - pairs


def test_pairwise_panel_is_bounded(spark):
    """The pairwise-label demo must stay a constant-size panel: each
    cross-join side is capped by _PANEL_ID_CAP regardless of corpus
    size, so the pair space can never grow quadratically with the data."""
    from hive_2_spark.llm.similarity import _PANEL_ID_CAP, sim_pairwise_label

    max_side = _PANEL_ID_CAP // 7 + 1
    rows = sim_pairwise_label(spark, SF_DIR).collect()
    n_pairs = sum(r["n_pairs"] for r in rows)
    assert n_pairs <= max_side * (max_side - 1) / 2


def test_lsh_candidates_subset_semantics(spark):
    """Sign-LSH returns true cosine values for whatever it retrieves —
    every returned (q, v, cos) must match the exact computation."""
    exact = {
        (r["q_id"], r["vec_id"]): r["cos"]
        for r in sim_cosine_topk(spark, SF_DIR).collect()
    }
    for r in sim_cosine_lsh(spark, SF_DIR).collect():
        key = (r["q_id"], r["vec_id"])
        if key in exact:
            assert abs(exact[key] - r["cos"]) < 1e-9


def test_pq_recovers_planted_twins(spark):
    """PQ quality gate: a near-twin (cos ~0.995, tiny L2 gap) must land
    in the ADC top-5 of its seed for EVERY planted twin — quantization
    maps near-identical slices to the same codes, so the twin sits in
    the query's own code cell. (Uniform random vectors concentrate
    pairwise distances, so generic top-k recall is not meaningful on
    this fixture; in production PQ produces a shortlist that is exactly
    re-ranked. sim_pq_topk's DuckDB oracle separately proves the
    encode/LUT/ADC pipeline is computed exactly as specified.)"""
    import numpy as np

    import hive_2_spark.llm.advanced as A
    from hive_2_spark.llm.similarity import (
        _fold_dot,
        _fold_sq,
        _round6_half_away,
        load_embeddings,
    )

    tw = A.embeddings_with_twins(spark, SF_DIR).collect()
    ids = np.array([r.vec_id for r in tw])
    X = np.array([list(r.vec) for r in tw], dtype=np.float64)
    _c_ids, cmat = A.ivf_centroids(load_embeddings(spark, SF_DIR))
    books = [cmat[:, s * 8:(s + 1) * 8] for s in range(A._PQ_SUB)]

    def subd2(xs, s):
        aa, ab, bb = _fold_sq(xs), _fold_dot(xs, books[s]), _fold_sq(books[s])
        return _round6_half_away(aa[:, None] - 2.0 * ab + bb[None, :])

    codes = np.zeros((X.shape[0], A._PQ_SUB), dtype=int)
    for s in range(A._PQ_SUB):
        codes[:, s] = subd2(X[:, s * 8:(s + 1) * 8], s).argmin(axis=1)
    seeds = [i for i in range(len(ids))
             if ids[i] % 25 == 0 and ids[i] < 1_000_000]
    assert seeds
    for si in seeds:
        lut = np.stack(
            [subd2(X[si:si + 1, s * 8:(s + 1) * 8], s)[0]
             for s in range(A._PQ_SUB)]
        )
        adc = lut[np.arange(A._PQ_SUB)[:, None], codes.T].sum(axis=0)
        adc[si] = np.inf
        top5 = set(int(t) for t in ids[np.argsort(adc)[:5]])
        assert int(ids[si]) + 1_000_000 in top5, ids[si]


def test_mrl_recall_vs_brute_force(spark):
    """Coarse-to-fine MRL search: the 32-dim-prefix coarse pass + exact
    rerank must recover most of the full-dim exact top-5. The synthetic
    embeddings are RANDOM (the worst case for prefix truncation — real
    MRL-trained vectors concentrate signal in the prefix); measured
    recall at sf0.01 is 0.8-1.0 per query, so gate per-query >= 0.6 and
    mean >= 0.75 with headroom."""
    from hive_2_spark.llm.similarity import sim_mrl_topk
    from tests.conftest import SF_DIR_MID

    exact = _topk_sets(sim_cosine_topk(spark, SF_DIR_MID))
    approx = _topk_sets(sim_mrl_topk(spark, SF_DIR_MID))
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert min(recalls) >= 0.6, recalls
    assert sum(recalls) / len(recalls) >= 0.75, recalls
    # the fine stage is EXACT on its candidates: any returned neighbor
    # that is in the exact top-5 must carry the same rounded cosine
    exact_cos = {
        (r.q_id, r.vec_id): r.cos
        for r in sim_cosine_topk(spark, SF_DIR_MID).collect()
    }
    for r in sim_mrl_topk(spark, SF_DIR_MID).collect():
        if (r.q_id, r.vec_id) in exact_cos:
            assert r.cos == exact_cos[(r.q_id, r.vec_id)]
