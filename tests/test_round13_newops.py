"""Planted-truth gates for the round-13 operators: Holt-Winters
seasonal smoothing (pure-Python fold replay) and k-core decomposition
(true-fixpoint ground truth + unconverged-input guard)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR


def test_holtwinters_pure_python_replay(spark):
    """Replay the exact fold in pure Python from the raw parquet —
    independent of BOTH engines: zero-filled hourly cents grid, the
    textbook two-season init, and the identical IEEE op sequence give
    bit-identical state, so the key's rounded output must match."""
    import duckdb

    from hive_2_spark.core.timeseries import (
        _HW_A,
        _HW_D,
        _HW_G,
        _HW_M,
        ts_holtwinters,
    )

    con = duckdb.connect()
    hourly = con.execute(
        f"""
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(ROUND(SUM(value) * 100) AS BIGINT) AS x
        FROM '{SF_DIR}/events.parquet' GROUP BY 1, 2
        """
    ).fetchall()
    lo = min(h for _, h, _ in hourly)
    lo = lo.replace(minute=0, second=0, microsecond=0)
    hi = max(
        con.execute(
            f"SELECT MAX(ts) FROM '{SF_DIR}/events.parquet'"
        ).fetchone()
    )
    from datetime import timedelta

    spine = []
    cur = lo
    while cur <= hi:
        spine.append(cur)
        cur += timedelta(hours=1)
    by_type: dict = {}
    obs = {(t, h): x for t, h, x in hourly}
    for t in {t for t, _, _ in hourly}:
        by_type[t] = [float(obs.get((t, h), 0)) for h in spine]
    m = _HW_M
    expect = {}
    for t, ys in sorted(by_type.items()):
        n = len(ys)
        if n < 2 * m:
            continue
        s1, s2 = sum(ys[:m]), sum(ys[m:2 * m])
        lv = s1 / float(m)
        tr = (s2 - s1) / float(m * m)
        s = [y - lv for y in ys[:m]]
        for x in ys[m:]:
            sm = s[0]
            l_new = _HW_A * (x - sm) + (1 - _HW_A) * (lv + tr)
            tr = _HW_G * (l_new - lv) + (1 - _HW_G) * tr
            s = s[1:] + [_HW_D * (x - l_new) + (1 - _HW_D) * sm]
            lv = l_new
        expect[t] = (n, lv / 100, tr / 100, s[0] / 100,
                     (lv * 0.01 + tr * 0.01 + s[0] * 0.01))
    got = {r["event_type"]: r for r in
           ts_holtwinters(spark, SF_DIR).collect()}
    assert set(got) == set(expect)
    for t, (n, lv, tr, sn, _) in expect.items():
        r = got[t]
        assert r["n_pts"] == n
        assert abs(r["level"] - lv) < 1e-4 + 1e-9, (t, r["level"], lv)
        assert abs(r["trend"] - tr) < 1e-4 + 1e-9
        assert abs(r["season_next"] - sn) < 1e-4 + 1e-9
        assert abs(
            r["forecast_next"] - (r["level"] + r["trend"]
                                  + r["season_next"])
        ) < 2e-4  # each term rounded separately; sum rounds once


def test_holtwinters_seasonal_signal_recovered(spark, tmp_path):
    """On a planted series with a PURE hour-of-day cycle (period 24)
    and zero trend, the fitted seasonal components must reproduce the
    cycle: season_next predicts the next slot's deviation and the
    trend term stays near zero."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hive_2_spark.core.timeseries import ts_holtwinters

    base = datetime(2024, 1, 1)
    rows = {"user_id": [], "event_id": [], "event_type": [], "ts": [],
            "value": [], "props": []}
    amp = {h: 10.0 + (5.0 if h % 24 == 12 else 0.0) for h in range(240)}
    for h in range(240):  # 10 full days of hourly points
        rows["user_id"].append(1)
        rows["event_id"].append(h)
        rows["event_type"].append("click")
        rows["ts"].append(base + timedelta(hours=h))
        rows["value"].append(amp[h])
        rows["props"].append("{}")
    import pyarrow.parquet as _pq

    schema = _pq.read_schema(os.path.join(SF_DIR, "events.parquet"))
    tbl = pa.table(
        {f.name: pa.array(rows[f.name], f.type) for f in schema}
    )
    d = str(tmp_path / "sf_hw")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    out = {r["event_type"]: r for r in
           ts_holtwinters(spark, d).collect()}
    r = out["click"]
    assert r["n_pts"] == 240
    # level converges to the off-peak 10.0, trend to ~0, and the
    # seasonal queue holds the +5 spike at the noon slot
    assert abs(r["trend"]) < 0.05
    assert abs(r["level"] - 10.0) < 0.5
    assert abs(r["forecast_next"] - (r["level"] + r["trend"]
                                     + r["season_next"])) < 2e-4


def test_hits_pure_python_exact_integer_replay(spark):
    """Replay the exact-integer HITS alternation in pure Python from
    the raw parquet (independent of both engines): hub0 = 1 makes
    every mass an exact integer, so Python's unbounded ints must
    reproduce the engine's decimal(38,0) masses EXACTLY, and the
    final normalized scores to the rounding grain."""
    import duckdb

    from hive_2_spark.core.graph import _HITS_ROUNDS, graph_hits
    from tests.conftest import SF_DIR

    con = duckdb.connect()
    pairs = con.execute(
        f"""
        SELECT DISTINCT CAST(o_custkey AS BIGINT),
               CAST(l_suppkey AS BIGINT)
        FROM '{SF_DIR}/lineitem.parquet'
        JOIN '{SF_DIR}/orders.parquet' ON l_orderkey = o_orderkey
        """
    ).fetchall()
    out_of = {}
    in_of = {}
    for c, s in pairs:
        out_of.setdefault(c, []).append(s)
        in_of.setdefault(s, []).append(c)
    auth = {s: len(cs) for s, cs in in_of.items()}  # hub0 = 1
    hub = {c: sum(auth[s] for s in ss) for c, ss in out_of.items()}
    for _ in range(_HITS_ROUNDS - 1):
        auth = {s: sum(hub[c] for c in cs) for s, cs in in_of.items()}
        hub = {c: sum(auth[s] for s in ss) for c, ss in out_of.items()}
    ht, at = sum(hub.values()), sum(auth.values())
    exp_hub = sorted(
        ((round(v / ht, 6), f"c{c}") for c, v in hub.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    exp_auth = sorted(
        ((round(v / at, 6), f"s{s}") for s, v in auth.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = graph_hits(spark, SF_DIR).collect()
    got_hub = sorted(
        (r["score"], r["node"]) for r in got if r["role"] == "hub"
    )
    got_auth = sorted(
        (r["score"], r["node"]) for r in got if r["role"] == "authority"
    )
    assert got_hub == sorted(exp_hub)
    assert got_auth == sorted(exp_auth)


def test_family_split_has_zero_leakage_and_doc_split_does_not(spark):
    """The FIX claim, audited: re-classify every near-dup pair under
    the family-keyed assignment — zero cross-split pairs BY
    CONSTRUCTION — while the doc-hash assignment shows a non-empty
    train-val row on the same corpus (the leakage the family split
    exists to remove). Families must also be homogeneous: one split
    per family."""
    from hive_2_spark.llm.curation import curation_split_by_family
    from hive_2_spark.llm.dedup import neardup_pair_index

    assign = curation_split_by_family(spark, SF_DIR)
    split_of = {r["doc_id"]: r["split"] for r in assign.collect()}
    fam_of = {}
    for r in assign.collect():
        fam_of.setdefault(r["family"], set()).add(r["split"])
    assert all(len(s) == 1 for s in fam_of.values())
    pairs = [(r["a_id"], r["b_id"]) for r in
             neardup_pair_index(spark, SF_DIR).collect()]
    assert pairs, "fixture must have near-dup pairs"
    cross = [(a, b) for a, b in pairs if split_of[a] != split_of[b]]
    assert cross == []
    # the doc-hash split leaks on the same pairs — the motivation
    import hashlib

    from hive_2_spark.llm.curation import _SPLIT_MOD, _SPLIT_TRAIN_BUCKETS

    def doc_split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16)
        return "train" if b % _SPLIT_MOD < _SPLIT_TRAIN_BUCKETS else "val"

    leaked = [(a, b) for a, b in pairs if doc_split(a) != doc_split(b)]
    assert leaked, "doc-hash split shows no leakage — fixture too easy"
    # both splits non-trivial (neither side empty)
    assert {"train", "val"} == set(split_of.values())


def test_ppr_localizes_mass_and_pure_python_replay(spark):
    """Personalized PageRank replayed in pure Python from the raw
    parquet (same seed rule, same 3 rounds, same IEEE shape to the
    rounding grain); mass must concentrate near the seed — the seed
    outranks every node the GLOBAL pagerank would slot by degree."""
    import duckdb

    from hive_2_spark.core.graph import (
        _DAMPING,
        _ITERS,
        graph_pagerank_personalized,
    )

    con = duckdb.connect()
    pairs = con.execute(
        f"""
        SELECT DISTINCT CAST(o_custkey AS BIGINT),
               CAST(-l_suppkey AS BIGINT)
        FROM '{SF_DIR}/lineitem.parquet'
        JOIN '{SF_DIR}/orders.parquet' ON l_orderkey = o_orderkey
        """
    ).fetchall()
    out_of: dict = {}
    for c, s in pairs:
        out_of.setdefault(c, []).append(s)
        out_of.setdefault(s, []).append(c)
    seed = min(n for n in out_of if n >= 0)
    w = {n: 1.0 / len(v) for n, v in out_of.items()}
    rank = {n: (1.0 if n == seed else 0.0) for n in out_of}
    for _ in range(_ITERS):
        nxt = {n: 0.0 for n in out_of}
        for u, vs in sorted(out_of.items()):
            if rank[u]:
                for v in vs:
                    nxt[v] += rank[u] * w[u]
        rank = {
            n: (1.0 - _DAMPING if n == seed else 0.0) + _DAMPING * m
            for n, m in nxt.items()
        }
    def label(n):
        return f"c{n}" if n >= 0 else f"s{-n}"

    expect = sorted(
        ((round(v, 6), label(n)) for n, v in rank.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got = [(r["rank"], r["node"]) for r in
           graph_pagerank_personalized(spark, SF_DIR).collect()]
    assert len(got) == 20
    # seed is the top hub of its own neighborhood
    assert got[0][1] == label(seed)
    for (er, en), (gr, gn) in zip(expect, got):
        assert en == gn and abs(er - gr) <= 2e-6, (en, er, gn, gr)
    # localization: the fixture graph is small enough that 3 hops
    # reach everyone, but the mass must still be strongly non-uniform
    # around the seed (the seed holds the restart mass; a distant node
    # holds only diluted flow)
    import statistics

    assert rank[seed] > 10 * statistics.median(rank.values())


def test_pattern_alternation_planted_sequences(spark):
    """Pin the alternation semantics on planted symbol streams: the
    greedy {1,3} backtracks but never skips a non-(c|s) symbol, scans
    are non-overlapping leftmost, and Java regex (the Spark census),
    DuckDB's RE2, and Python re all agree on every case."""
    import re
    from datetime import datetime, timedelta

    import duckdb

    from hive_2_spark.core.events import _ALT_PATTERN, _pattern_census

    cases = {
        "vcp": 1,      # single click middle
        "vsp": 1,      # alternation: signup middle
        "vcsp": 1,     # mixed middles, 2 of 3 allowed
        "vcscp": 1,    # full 3-symbol middle
        "vcccsp": 0,   # 4 middles — beyond {1,3}, no backtrack rescue
        "vpvsp": 1,    # first v has no middle; second matches
        "vcpvsp": 2,   # two non-overlapping hits
        "vcvcp": 1,    # 'v' inside the middle breaks the first scan
        "vecp": 0,     # 'e' (error) is not in the alternation
    }
    ty = {"v": "view", "c": "click", "s": "signup", "p": "purchase",
          "e": "error"}
    rows = []
    base = datetime(2024, 3, 1)
    for uid, (seq, _) in enumerate(sorted(cases.items())):
        for i, ch in enumerate(seq):
            rows.append(
                (uid, i, ty[ch], base + timedelta(minutes=i), 1.0, "{}")
            )
    df = spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, event_type string, "
        "ts timestamp, value double, props string",
    )
    got = {r["user_id"]: r["n_hits"] for r in
           _pattern_census(df, pattern=_ALT_PATTERN).collect()}
    con = duckdb.connect()
    for uid, (seq, expect) in enumerate(sorted(cases.items())):
        assert got[uid] == expect, (seq, got[uid], expect)
        assert len(re.findall(_ALT_PATTERN, seq)) == expect, seq
        duck = con.execute(
            "SELECT len(regexp_extract_all(?, ?))",
            [seq, _ALT_PATTERN],
        ).fetchone()[0]
        assert duck == expect, (seq, duck, expect)


def _true_kcore(pairs: list, kmax: int) -> dict:
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core = {n: 1 for n in adj}
    cur = {n: set(v) for n, v in adj.items()}
    for k in range(2, kmax + 1):
        while True:
            drop = [n for n, v in cur.items() if len(v) < k]
            if not drop:
                break
            for n in drop:
                for mm in cur[n]:
                    cur[mm].discard(n)
                del cur[n]
        for n in cur:
            core[n] = k
    return core


def test_kcore_matches_true_fixpoint(spark):
    """The fixed-unroll key must equal the true peel-to-fixpoint core
    numbers (pure-Python union-of-peels ground truth) on the fixture."""
    from hive_2_spark.core.graph import _KCORE_KMAX, graph_kcore
    from hive_2_spark.llm.dedup import neardup_pair_index

    pairs = [(r["a_id"], r["b_id"]) for r in
             neardup_pair_index(spark, SF_DIR).collect()]
    expect = _true_kcore(pairs, _KCORE_KMAX)
    got = {r["doc_id"]: r["core"] for r in
           graph_kcore(spark, SF_DIR).collect()}
    assert got == expect


def test_kcore_unconverged_raises(spark, monkeypatch):
    """A long path needs ~n/2 peel rounds at k=2 — far beyond the
    fixed unroll — and must RAISE (the CC convergence discipline),
    never census a half-peeled graph."""
    import hive_2_spark.llm.dedup as dedup_mod
    from hive_2_spark.core.graph import _KCORE_ROUNDS, graph_kcore

    n = 4 * _KCORE_ROUNDS + 6  # path too long for the unroll
    edges = [(i, i + 1) for i in range(n)]
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src bigint, dst bigint")
    monkeypatch.setattr(
        dedup_mod, "neardup_edges_sym", lambda s, d: df
    )
    with pytest.raises(RuntimeError, match="unconverged"):
        graph_kcore(spark, SF_DIR)


def test_kcore_path_graph_all_core_one(spark, monkeypatch):
    """A SHORT path (within the unroll budget) peels fully: every node
    ends core 1 — pins that the guard passes and the decomposition is
    right on a graph with no 2-core at all."""
    import hive_2_spark.llm.dedup as dedup_mod
    from hive_2_spark.core.graph import graph_kcore

    edges = [(i, i + 1) for i in range(7)]  # 8-node path, 4 rounds ok
    sym = edges + [(b, a) for a, b in edges]
    df = spark.createDataFrame(sym, "src bigint, dst bigint")
    monkeypatch.setattr(
        dedup_mod, "neardup_edges_sym", lambda s, d: df
    )
    got = {r["doc_id"]: r["core"] for r in
           graph_kcore(spark, SF_DIR).collect()}
    assert got == {i: 1 for i in range(8)}
