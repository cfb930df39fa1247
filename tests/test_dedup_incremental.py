"""Semantics of incremental (delta-vs-corpus) dedup: the synthesized
batch has known ground truth per residue class, so verdicts are
checkable exactly (the oracle proves cross-engine agreement)."""

from __future__ import annotations

from hive_2_spark.llm.dedup import (
    _NB_EXACT,
    _NB_NEAR,
    _NB_NOVEL,
    dedup_incremental,
)
from tests.conftest import SF_DIR_MID


def test_incremental_verdicts_match_ground_truth(spark):
    rows = {
        r["new_id"]: r for r in dedup_incremental(spark, SF_DIR_MID).collect()
    }
    exact = [r for r in rows.values() if r["new_id"] < _NB_NEAR]
    near = [
        r for r in rows.values() if _NB_NEAR <= r["new_id"] < _NB_NOVEL
    ]
    novel = [r for r in rows.values() if r["new_id"] >= _NB_NOVEL]
    assert exact and near and novel

    # verbatim re-arrivals: ALWAYS exact, matched to their source doc
    for r in exact:
        assert r["verdict"] == "exact"
        assert r["match_id"] == r["new_id"] - _NB_EXACT

    # appended-edit arrivals: never exact; banding recall >= 80% (the
    # 8-slot signature can miss a short doc whose min-slots shift), and
    # every hit matches the true source
    assert all(r["verdict"] != "exact" for r in near)
    hits = [r for r in near if r["verdict"] == "near"]
    assert len(hits) / len(near) >= 0.8
    for r in hits:
        # matched to the SMALLEST similar existing doc: that is the true
        # source unless the corpus itself holds an even-smaller near-dup
        # of it, so the match is bounded by the source id
        assert r["match_id"] is not None
        assert r["match_id"] <= r["new_id"] - _NB_NEAR

    # gibberish arrivals share no vocabulary: always novel, no match
    for r in novel:
        assert r["verdict"] == "novel" and r["match_id"] is None


def test_indexed_classify_matches_adhoc_and_skips_corpus_shuffle(spark):
    """The bucketed-index face must (1) return the exact verdict set of
    the ad-hoc classifier and (2) read every idx_* table WITHOUT an
    Exchange above the scan — the stored hash layout replaces the
    corpus-side shuffle, so only the delta pays one."""
    from hive_2_spark.llm.dedup import (
        dedup_incremental,
        dedup_incremental_indexed,
    )
    from hive_2_spark.engine import formatted_plan as plan_of

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dedup_incremental_indexed(spark, SF_DIR_MID)
        plan = plan_of(df)
        lines = plan.splitlines()
        idx_lines = [
            i for i, ln in enumerate(lines)
            # tree rows only ("+- Scan parquet db.idx_x (13)"), not the
            # per-node detail section that repeats the table name
            if "- Scan parquet" in ln and ".idx_" in ln
        ]
        assert len(idx_lines) == 3, plan  # idx_exact, idx_bands, idx_words
        for i in idx_lines:
            # the chain above a bucketed scan is Filter <- Sort <- join;
            # an Exchange in the 3 lines above means the layout was lost
            above = "\n".join(lines[max(0, i - 3): i])
            assert "Exchange" not in above, plan
        got = {(r.new_id, r.verdict, r.match_id) for r in df.collect()}
        want = {
            (r.new_id, r.verdict, r.match_id)
            for r in dedup_incremental(spark, SF_DIR_MID).collect()
        }
        assert got == want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_time_horizon_flags_only_in_window_twins(spark):
    """Planted ground truth: exact/near twins inside the 50-unit
    horizon must flag with the right verdict and gap; the exact twin
    planted 503 units later must NOT appear — old content re-entering
    the corpus is legitimate under retention-windowed dedup."""
    from hive_2_spark.llm.dedup import dedup_time_horizon

    rows = dedup_time_horizon(spark, SF_DIR_MID).collect()
    by_id = {r.doc_id: r for r in rows}
    ex_in = [r for r in rows if 20_000_000 <= r.doc_id < 30_000_000]
    near_in = [r for r in rows if 10_000_000 <= r.doc_id < 20_000_000]
    assert not [r for r in rows if r.doc_id >= 60_000_000]
    assert ex_in and all(
        r.verdict == "exact"
        and r.gap == 5
        and r.match_id == r.doc_id - 20_000_000
        for r in ex_in
    )
    # the near twin's most recent in-window partner is the exact twin
    # planted 10 units before it (not the seed 15 back)
    assert near_in and all(
        r.verdict == "near" and r.gap == 10 for r in near_in
    )
    # every seed produced both in-window twins' flags
    seeds = {r.doc_id - 20_000_000 for r in ex_in}
    assert seeds == {r.doc_id - 10_000_000 for r in near_in}
    assert all(s % 10 == 0 for s in seeds)
    assert by_id  # non-vacuous


def test_prefix_filter_finds_all_planted_twins_exactly(spark):
    """AllPairs exactness ground truth: every planted exact twin of a
    >=3-word doc in the %5 base must surface with jac == 1.0, and the
    pair set must contain no self/reversed pairs. (The oracle's naive
    all-pairs hash-match is the no-missed-pair proof; this pins the
    planted positives independently of the oracle.)"""
    from hive_2_spark.llm.dedup import dedup_prefix_filter

    rows = dedup_prefix_filter(spark, SF_DIR_MID).collect()
    pairs = {(r.a_id, r.b_id): r.jac for r in rows}
    assert all(a < b for a, b in pairs)
    # seeds (doc_id % 10 == 0) with a 3+ word text must pair with their
    # +20M exact twin at jaccard exactly 1.0
    exact_twins = {
        (a, b) for (a, b) in pairs if b == a + 20_000_000 and a % 10 == 0
    }
    assert len(exact_twins) >= 40  # sf0.01: ~50 seeds
    assert all(pairs[p] == 1.0 for p in exact_twins)
