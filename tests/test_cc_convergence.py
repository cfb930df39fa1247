"""Connected-components label propagation must run to FIXPOINT, not a
fixed unroll: a k-round unroll under-merges any component whose min-id
node eccentricity exceeds k. Planted >6-hop chain proves the old 6-round
behavior was wrong and the convergence loop is right."""

from __future__ import annotations

import pytest

from hive_2_spark.core.fixpoint import fixpoint
from hive_2_spark.llm.advanced import _cc_converge, _cc_round, _cc_seed


def _chain_edges(spark, n: int):
    """Path graph 1-2-...-n as a bidirectional edge DataFrame."""
    pairs = [(i, i + 1) for i in range(1, n)]
    df = spark.createDataFrame(pairs, "a_id: long, b_id: long")
    return df.unionByName(
        df.selectExpr("b_id as a_id", "a_id as b_id")
    ).localCheckpoint()


def test_long_chain_converges_to_one_cluster(spark):
    """15-node path: min node 1 has eccentricity 14, so >6 rounds are
    REQUIRED — the old fixed-6 unroll could not have merged this."""
    labels, rounds = _cc_converge(_chain_edges(spark, 15))
    assert rounds > 6
    got = {(r["node"], r["label"]) for r in labels.collect()}
    assert got == {(i, 1) for i in range(1, 16)}


def test_fixed_six_rounds_under_merges_the_chain(spark):
    """Re-run as a fixed 6-round unroll (the old behavior): the tail of
    the chain must still carry labels != 1 — the regression this
    guards."""
    edges = _chain_edges(spark, 15)
    labels, rounds = fixpoint(
        _cc_seed(edges), lambda lb: _cc_round(edges, lb), 6
    )
    assert rounds == 6
    assert labels.filter("changed").count() > 0  # round 6 still moved
    tail_labels = {r["label"] for r in labels.collect()}
    assert tail_labels != {1}  # under-merged: >1 surviving label


def test_strict_cap_raises_instead_of_returning_unconverged(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc_converge(_chain_edges(spark, 15), max_rounds=3)


def test_random_graphs_match_union_find(spark):
    """Property check: on arbitrary graphs, the distributed fixpoint
    loop must equal a plain union-find computing min-id components.
    Deterministic seed sweep (hypothesis's process-global DB does not
    mix well with a shared SparkSession, so seeds are explicit)."""
    import random

    for seed in range(8):
        rng = random.Random(seed)
        n = rng.randint(2, 30)
        m = rng.randint(1, 60)
        pairs = [
            (rng.randint(1, n), rng.randint(1, n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        # reference: union-find, components labeled by min member
        parent = {i: i for ab in pairs for i in ab}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in parent}

        df = spark.createDataFrame(pairs, "a_id: long, b_id: long")
        edges = df.unionByName(
            df.selectExpr("b_id as a_id", "a_id as b_id")
        ).localCheckpoint()
        labels, _ = _cc_converge(edges)
        got = {r["node"]: r["label"] for r in labels.collect()}
        assert got == want, f"seed={seed}"


def test_two_components_stay_separate(spark):
    a = _chain_edges(spark, 4)  # component {1..4}
    b = (
        spark.createDataFrame([(10, 11), (11, 12)], "a_id: long, b_id: long")
        .unionByName(
            spark.createDataFrame(
                [(11, 10), (12, 11)], "a_id: long, b_id: long"
            )
        )
        .localCheckpoint()
    )
    labels, _ = _cc_converge(a.unionByName(b).localCheckpoint())
    got = {r["node"]: r["label"] for r in labels.collect()}
    assert {got[i] for i in (1, 2, 3, 4)} == {1}
    assert {got[i] for i in (10, 11, 12)} == {10}
