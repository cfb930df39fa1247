"""Round-11 operators: the pushdown-capable Python DataSource reader
(`read_python_datasource_pushdown`) and incremental community
maintenance (`graph_communities_incremental`). The oracles prove the
aggregates; these pin the mechanics — planning-time partition pruning,
the pushFilters accept/reject contract, and a pure-Python
ground-truth replay of the incremental labeling (independent of both
engines). The sink's version-log tests live in tests/test_pysource.py."""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
)

from hive_2_spark.core.pysource import SynthPushdownReader
from hive_2_spark.engine import formatted_plan
from tests.conftest import SF_DIR


def _reader(parts=8, rows=10) -> SynthPushdownReader:
    return SynthPushdownReader(
        {"numpartitions": str(parts), "rowsperpartition": str(rows)}
    )


def test_pushfilters_prunes_partitions_at_planning_time():
    r = _reader()
    rejected = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("part",), 5),
                GreaterThan(("score",), 4.5),  # wrong column: rejected
                IsNotNull(("part",)),  # unsupported type: rejected
            ]
        )
    )
    assert len(rejected) == 2  # score + IsNotNull go back to Spark
    assert {type(f) for f in rejected} == {GreaterThan, IsNotNull}
    parts = [p.value for p in r.partitions()]
    assert parts == [5, 6, 7]  # 3 of 8 survive — pruned driver-side


def test_pushfilters_eq_and_in():
    r = _reader()
    assert list(r.pushFilters([EqualTo(("part",), 2)])) == []
    assert [p.value for p in r.partitions()] == [2]
    r2 = _reader()
    assert list(r2.pushFilters([In(("part",), (1, 6, 99))])) == []
    assert [p.value for p in r2.partitions()] == [1, 6]


def test_pushfilters_conjunction_can_prune_to_zero():
    r = _reader()
    list(r.pushFilters([GreaterThan(("part",), 5), EqualTo(("part",), 1)]))
    assert r.partitions() == []  # contradictory AND: nothing to scan


def test_pushdown_e2e_plan_and_values(spark):
    """The full query: the part predicate must reach the BatchScan as a
    PushedFilter (planning-time pruning), the score predicate must stay
    a post-scan Spark Filter, and the values must match a pure-Python
    replay of the generator arithmetic."""
    from hive_2_spark.core.pysource import (
        _PD_MIN_PART,
        _PD_PARTS,
        _PD_SCORE_GT,
        _ROWS,
        read_python_datasource_pushdown,
    )

    df = read_python_datasource_pushdown(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "PushedFilters: [GreaterThanOrEqual(part,5)]" in plan
    assert "Filter" in plan  # residual score predicate stays Spark-side

    expect: dict[int, list[int]] = defaultdict(list)
    for part in range(_PD_PARTS):
        for r in range(_ROWS):
            rid = part * _ROWS + r
            if part >= _PD_MIN_PART and (rid % 97) / 10.0 > _PD_SCORE_GT:
                expect[part].append(rid)
    got = {r.part: r for r in df.collect()}
    assert set(got) == set(expect)
    for part, ids in expect.items():
        assert got[part].n_rows == len(ids)
        assert got[part].min_id == min(ids)
        assert got[part].max_id == max(ids)


def _replay_incremental(pairs, mod, rounds):
    """Pure-Python ground truth: base-restricted semi-synchronous LPA
    + one delta vote round + isolated-base singletons -> census."""
    edges = defaultdict(set)
    for a, b in pairs:
        edges[a].add(b)
        edges[b].add(a)
    is_delta = lambda n: n % mod == 0  # noqa: E731
    base_adj = {
        n: sorted(d for d in nbrs if not is_delta(d))
        for n, nbrs in edges.items()
        if not is_delta(n)
    }
    labeled = {n for n, nbrs in base_adj.items() if nbrs}
    lbl = {n: n for n in labeled}
    for _ in range(rounds):
        nxt = {}
        for n in labeled:
            votes = Counter(lbl[d] for d in base_adj[n])
            top = max(votes.values())
            # ties: count desc, label asc
            nxt[n] = min(l for l, c in votes.items() if c == top)
        lbl = nxt
    out = []
    for n in labeled:
        out.append((lbl[n], 0))
    for n in base_adj:
        if n not in labeled:
            out.append((n, 0))  # isolated in the base graph: singleton
    for n, nbrs in edges.items():
        if not is_delta(n):
            continue
        votes = Counter(
            lbl[d] for d in nbrs if not is_delta(d) and d in lbl
        )
        if votes:
            top = max(votes.values())
            out.append((min(l for l, c in votes.items() if c == top), 1))
        else:
            out.append((n, 1))
    census: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for label, is_d in out:
        census[label][0] += 1
        census[label][1] += is_d
    return {k: tuple(v) for k, v in census.items()}


def test_incremental_communities_match_python_ground_truth(spark):
    from hive_2_spark.core.graph import (
        _INC_DELTA_MOD,
        _LPA_ROUNDS,
        graph_communities_incremental,
    )
    from hive_2_spark.llm.dedup import dedup_ngram_jaccard

    pairs = {
        (r.a_id, r.b_id)
        for r in dedup_ngram_jaccard(spark, SF_DIR)
        .select("a_id", "b_id")
        .collect()
    }
    expect = _replay_incremental(pairs, _INC_DELTA_MOD, _LPA_ROUNDS)
    got = {
        r.community: (r.n_docs, r.n_delta)
        for r in graph_communities_incremental(spark, SF_DIR).collect()
    }
    assert got == expect
    # and the delta really is delta-sized: some arrivals attached to
    # existing communities, none re-labeled the base
    assert sum(d for _, d in got.values()) > 0


def test_incremental_work_is_delta_shaped(spark):
    """Cost contract: the incremental step's inputs are the delta's
    incident edges only — at sf0.001 the delta slice is a small
    fraction of the corpus, and every delta label is either an
    existing base community or the node's own id (no new multi-node
    communities can be founded by a one-shot attach)."""
    from hive_2_spark.core.graph import (
        _INC_DELTA_MOD,
        graph_communities_incremental,
    )

    rows = graph_communities_incremental(spark, SF_DIR).collect()
    n_nodes = sum(r.n_docs for r in rows)
    n_delta = sum(r.n_delta for r in rows)
    assert 0 < n_delta < n_nodes / 2  # the delta is the minority slice
    for r in rows:
        if r.community % _INC_DELTA_MOD == 0:
            # a delta-labeled community can only be a self-founded
            # singleton (base labels are never delta ids)
            assert r.n_docs == 1 and r.n_delta == 1


def _uf_components(edges):
    """Union-find ground truth: node -> min-id of its component."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = defaultdict(list)
    for x in list(parent):
        comp[find(x)].append(x)
    out = {}
    for members in comp.values():
        m = min(members)
        for x in members:
            out[x] = m
    return out


def test_cc_largestar_matches_union_find(spark):
    from hive_2_spark.core.graph import graph_cc_largestar
    from hive_2_spark.llm.dedup import dedup_ngram_jaccard

    edges = [
        (r.a_id, r.b_id)
        for r in dedup_ngram_jaccard(spark, SF_DIR)
        .select("a_id", "b_id")
        .collect()
        if r.a_id != r.b_id
    ]
    gt = _uf_components(edges)
    expect = Counter(gt.values())
    got = {
        r.component: r.n_docs
        for r in graph_cc_largestar(spark, SF_DIR).collect()
    }
    assert got == dict(expect)


def test_cc_star_rounds_converge_logarithmically_on_a_path(spark):
    """The reason this operator exists beside the fixpoint
    min-propagation CC: a PATH of 48 nodes (diameter 47, where label
    propagation needs ~47 rounds) reaches the star-forest fixed point
    in <= 2*ceil(log2(48)) = 12 large/small-star pairs — and once
    fixed, further pairs are no-ops (the idempotence the fixed
    oracle unroll relies on)."""
    import math

    from hive_2_spark.core.graph import _cc_large_star, _cc_small_star

    n = 48
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "u bigint, v bigint"
    )
    cap = 2 * math.ceil(math.log2(n))
    prev = None
    rounds = 0
    for _ in range(cap):
        e = _cc_small_star(_cc_large_star(e)).localCheckpoint()
        cur = {(r.u, r.v) for r in e.collect()}
        rounds += 1
        if cur == prev:
            break
        prev = cur
    assert prev is not None and cur == prev, "no fixed point within cap"
    # the fixed point is the single star rooted at node 0
    assert cur == {(i, 0) for i in range(1, n)}
    assert rounds <= cap
    # idempotence: one more pair changes nothing
    e2 = _cc_small_star(_cc_large_star(e))
    assert {(r.u, r.v) for r in e2.collect()} == cur


def test_rendezvous_minimal_movement(spark):
    from hive_2_spark.core.layout import _RV_N, layout_rendezvous_shards

    rows = layout_rendezvous_shards(spark, SF_DIR).collect()
    total = sum(r.n_docs for r in rows if r.scheme == "rendezvous")
    rv_moved = sum(r.n_arrived for r in rows if r.scheme == "rendezvous")
    md_moved = sum(r.n_arrived for r in rows if r.scheme == "mod")
    # ~1/(N+1) of docs move under rendezvous; ~N/(N+1) under mod-hash
    assert 0.5 / (_RV_N + 1) <= rv_moved / total <= 2.0 / (_RV_N + 1)
    assert md_moved / total >= 0.6
    # structural HRW property: every mover lands on the NEW shard
    for r in rows:
        if r.scheme == "rendezvous" and r.shard != _RV_N:
            assert r.n_arrived == 0


def test_bot_regularity_flags_planted_timer(spark):
    """A scripted 60 s-timer user must flag as a bot; a user with the
    same rate but irregular (planted bursty) gaps must not."""
    import datetime as dt

    from hive_2_spark.core.events import (
        _BOT_CV2_E6_MAX,
        _BOT_MIN_EVENTS,
        _bot_report,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for k in range(40):  # bot: exact 60 s cadence
        rows.append((1, t0 + dt.timedelta(seconds=60 * k), eid))
        eid += 1
    # human-ish: bursts of 3 quick events, then a long pause (cv >> 0.5)
    t = t0
    for k in range(40):
        gap = 2 if k % 4 else 1800
        t = t + dt.timedelta(seconds=gap)
        rows.append((2, t, eid))
        eid += 1
    e = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint"
    )
    got = {r.user_id: r for r in _bot_report(e).collect()}
    assert got[1].is_bot == 1 and got[1].cv2_e6 == 0
    assert got[2].is_bot == 0 and got[2].cv2_e6 >= _BOT_CV2_E6_MAX
    assert got[1].n_events == 40 >= _BOT_MIN_EVENTS
    assert got[1].mean_gap_us == 60_000_000


def test_bot_regularity_decimal_headroom(spark):
    """Round-11 ADVICE: the old formula scaled D = n*S2 - S1^2 by 1e6
    BEFORE dividing, overflowing decimal(38,0) once n*S2 > ~1.7e32 —
    NULL in a non-ANSI session, an error in the driver's ANSI one. A
    user with 101 gaps, one of them a century, sits past that bound;
    the divmod formula must produce the exact pure-int value."""
    import datetime as dt

    from hive_2_spark.core.events import _bot_report

    century_us = 3_155_760_000 * 1_000_000  # ~100 years in microseconds
    gaps_us = [1_000_000] * 100 + [century_us]
    assert (len(gaps_us) * sum(g * g for g in gaps_us)) * 10**6 > 17 * 10**37

    t0 = dt.datetime(2024, 1, 1)
    rows = [(7, t0, 0)]
    t_us = 0
    for i, g in enumerate(gaps_us, start=1):
        t_us += g
        rows.append((7, t0 + dt.timedelta(microseconds=t_us), i))
    e = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint"
    )
    got = _bot_report(e).collect()[0]
    n, s1 = len(gaps_us), sum(gaps_us)
    d, ss = n * sum(g * g for g in gaps_us) - s1 * s1, s1 * s1
    expected = (d // ss) * 10**6 + ((d % ss) * 10**6) // ss
    assert got.cv2_e6 is not None and got.cv2_e6 == expected
    assert got.span_us == s1 and got.is_bot == 0


def test_pattern_match_planted_sequences(spark):
    """The contiguity constraint is the point: v..c..p with <= 2
    interleaved events per hop matches; a 3-event hop breaks it;
    non-overlapping counting never double-counts a symbol."""
    import datetime as dt

    from hive_2_spark.core.events import _pattern_census

    t0 = dt.datetime(2024, 1, 1)

    def mk(user, types):
        return [
            (user, t0 + dt.timedelta(minutes=i), 1000 * user + i, t)
            for i, t in enumerate(types)
        ]

    rows = (
        # user 1: exact v c p, then v e e c e e p (2-hops at the cap)
        mk(1, ["view", "click", "purchase",
               "view", "error", "error", "click", "error", "error",
               "purchase"])
        # user 2: v e e e c p — 3 events between v and c: no match
        + mk(2, ["view", "error", "error", "error", "click", "purchase"])
        # user 3: v c p v c p — two disjoint hits; and v c (no p): none
        + mk(3, ["view", "click", "purchase", "view", "click",
                 "purchase", "view", "click"])
        # user 4: purchase between hops kills it (v c e p is fine,
        # v p c p is not a start)
        + mk(4, ["view", "purchase", "click", "purchase"])
    )
    e = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, "
              "event_type string"
    )
    got = {r.user_id: (r.n_periods, r.n_matched, r.n_hits)
           for r in _pattern_census(e).collect()}
    assert got[1] == (1, 1, 2)
    assert got[2] == (1, 0, 0)
    assert got[3] == (1, 1, 2)
    assert got[4] == (1, 0, 0)


def test_pattern_within_planted_chains(spark):
    """Planted sequences drive the production windows: a tight
    v->c->p chains; v->c->p wider than the horizon doesn't; c->v->p
    (view after click) doesn't; a second purchase after a chained one
    may reuse the same predecessors (documented shareable semantics);
    a view newer than the click is NOT usable for chains before the
    next click (lv snapshots at click time)."""
    import datetime as dt

    from hive_2_spark.core.events import _CHAIN_HORIZON_US, _chain_census

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    h = _CHAIN_HORIZON_US // 1_000_000  # horizon in seconds
    rows = [
        # user 1: tight chain + a second purchase sharing predecessors
        (1, t0, 0, "view"), (1, t0 + m, 1, "click"),
        (1, t0 + 2 * m, 2, "purchase"), (1, t0 + 3 * m, 3, "purchase"),
        # user 2: ordered v->c->p but v..p span exceeds the horizon
        (2, t0, 4, "view"),
        (2, t0 + dt.timedelta(seconds=h - 60), 5, "click"),
        (2, t0 + dt.timedelta(seconds=h + 60), 6, "purchase"),
        # user 3: click precedes the only view — no chain
        (3, t0, 7, "click"), (3, t0 + m, 8, "view"),
        (3, t0 + 2 * m, 9, "purchase"),
        # user 4: v c p with a LATER view that must not matter
        (4, t0, 10, "view"), (4, t0 + m, 11, "click"),
        (4, t0 + 2 * m, 12, "view"), (4, t0 + 3 * m, 13, "purchase"),
    ]
    e = spark.createDataFrame(
        rows, "user_id bigint, ts timestamp, event_id bigint, event_type string"
    )
    got = {r.user_id: (r.n_purchases, r.n_chains)
           for r in _chain_census(e).collect()}
    assert got[1] == (2, 2)
    assert got[2] == (1, 0)
    assert got[3] == (1, 0)
    assert got[4] == (1, 1)


def test_cc_largestar_agrees_with_fixpoint_cc(spark):
    """Cross-algorithm consistency: the O(log n) star-contraction CC
    and the convergence-stopped fixpoint min-propagation
    (`dedup_clusters`) run over the SAME near-dup pair graph and must
    produce the identical component census — two independent
    algorithms, one answer."""
    from collections import Counter

    from hive_2_spark.core.graph import graph_cc_largestar
    from hive_2_spark.llm.advanced import dedup_clusters

    fixpoint = Counter(
        r.cluster for r in dedup_clusters(spark, SF_DIR).collect()
    )
    star = {
        r.component: r.n_docs
        for r in graph_cc_largestar(spark, SF_DIR).collect()
    }
    assert star == dict(fixpoint)


def _py_walk_census(edges, steps):
    """Pure-Python replay of the md5 walk rule (independent of both
    engines): adjacency numbered (src, dst-asc), next neighbor =
    md5('start:k:cur') % deg + 1."""
    import hashlib

    nb: dict = {}
    for u, v in edges:
        nb.setdefault(u, set()).add(v)
        nb.setdefault(v, set()).add(u)
    adj = {u: sorted(vs) for u, vs in nb.items()}
    census: Counter = Counter()
    for start in adj:
        cur = start
        census[cur] += 1
        for k in range(1, steps + 1):
            h = int(
                hashlib.md5(f"{start}:{k}:{cur}".encode()).hexdigest()[:12],
                16,
            )
            cur = adj[cur][h % len(adj[cur])]
            census[cur] += 1
    return dict(census)


def test_random_walks_match_python_ground_truth(spark):
    from hive_2_spark.core.graph import _WALK_STEPS, graph_random_walks
    from hive_2_spark.llm.dedup import dedup_ngram_jaccard

    edges = [
        (r.a_id, r.b_id)
        for r in dedup_ngram_jaccard(spark, SF_DIR)
        .select("a_id", "b_id")
        .collect()
    ]
    expect = _py_walk_census(edges, _WALK_STEPS)
    got = {
        r.node: r.n_visits
        for r in graph_random_walks(spark, SF_DIR).collect()
    }
    assert got == expect
    # walk-completion invariant: no dead ends in a symmetrized graph,
    # so total visits = #nodes * (steps + 1)
    n_nodes = len({x for e in edges for x in e})
    assert sum(got.values()) == n_nodes * (_WALK_STEPS + 1)


def _py_node2vec_census(edges, steps):
    """Pure-Python replay of the BIASED walk rule (independent of both
    engines): step 1 uniform; step k >= 2 weighted by return/common/
    far vs prev, cumulative weights in dst-asc order, draw =
    md5('start:k:prev:cur') % total."""
    import hashlib

    from hive_2_spark.core.graph import (
        _N2V_COMMON_W,
        _N2V_FAR_W,
        _N2V_RET_W,
    )

    nbset: dict = {}
    for u, v in edges:
        nbset.setdefault(u, set()).add(v)
        nbset.setdefault(v, set()).add(u)
    adj = {u: sorted(vs) for u, vs in nbset.items()}
    census: Counter = Counter()
    for start in adj:
        cur = start
        census[cur] += 1
        h = int(
            hashlib.md5(f"{start}:1:{cur}".encode()).hexdigest()[:12], 16
        )
        prev, cur = cur, adj[cur][h % len(adj[cur])]
        census[cur] += 1
        for k in range(2, steps + 1):
            wts = [
                _N2V_RET_W if x == prev
                else _N2V_COMMON_W if x in nbset[prev]
                else _N2V_FAR_W
                for x in adj[cur]
            ]
            draw = int(
                hashlib.md5(
                    f"{start}:{k}:{prev}:{cur}".encode()
                ).hexdigest()[:12],
                16,
            ) % sum(wts)
            cum = 0
            for x, w in zip(adj[cur], wts):
                cum += w
                if draw < cum:
                    prev, cur = cur, x
                    break
            census[cur] += 1
    return dict(census)


def test_node2vec_walks_match_python_ground_truth(spark):
    from hive_2_spark.core.graph import _N2V_STEPS, graph_node2vec_walks
    from hive_2_spark.llm.dedup import neardup_pair_index

    edges = [
        (r.a_id, r.b_id)
        for r in neardup_pair_index(spark, SF_DIR).collect()
    ]
    expect = _py_node2vec_census(edges, _N2V_STEPS)
    got = {
        r.node: r.n_visits
        for r in graph_node2vec_walks(spark, SF_DIR).collect()
    }
    assert got == expect
    n_nodes = len({x for e in edges for x in e})
    assert sum(got.values()) == n_nodes * (_N2V_STEPS + 1)


def test_markov_stationary_pure_python_and_converged(spark):
    """Pure-Python replay (independent of both engines): rebuild the
    transition matrix from the oracle-verified event_transitions
    counts, run the same uniform-start power iteration, and match the
    key's output to its 6-decimal grain. Also assert the fixed unroll
    has actually CONVERGED on this fixture — one extra round moves no
    component by more than 1e-9 (so the unrolled snapshot is the
    fixpoint, not an arbitrary cut)."""
    from hive_2_spark.core.events import (
        _MKV_ROUNDS,
        event_markov_stationary,
        event_transitions,
    )
    from tests.conftest import SF_DIR

    t = event_transitions(spark, SF_DIR).collect()
    rs: dict = {}
    for r in t:
        rs[r.src_type] = rs.get(r.src_type, 0) + r.n
    srcs = sorted(rs)
    pi = {s: 1.0 / len(srcs) for s in srcs}

    def step(pi):
        out: dict = {}
        for r in sorted(t, key=lambda r: (r.src_type, r.dst_type)):
            if r.src_type in pi:
                out[r.dst_type] = out.get(r.dst_type, 0.0) + (
                    pi[r.src_type] * r.n / rs[r.src_type]
                )
        return out

    for _ in range(_MKV_ROUNDS):
        pi = step(pi)
    extra = step(pi)
    assert max(
        abs(extra.get(k, 0.0) - pi.get(k, 0.0)) for k in set(pi) | set(extra)
    ) < 1e-9
    tot = sum(pi.values())
    got = {r.event_type: r.pi for r in
           event_markov_stationary(spark, SF_DIR).collect()}
    assert set(got) == set(pi)
    for k in pi:
        assert abs(got[k] - pi[k] / tot) <= 1e-6, (k, got[k], pi[k] / tot)
