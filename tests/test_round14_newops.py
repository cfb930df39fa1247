"""Planted-truth gates for the round-14 operators, starting with the
persisted dedup-index maintenance face: maintained-vs-rebuilt-vs-
unmaintained classification diffs and the planted batch-2 verdicts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _sorted_rows(df):
    return sorted(
        (r["new_id"], r["verdict"], r["match_id"]) for r in df.collect()
    )


@pytest.fixture(scope="module")
def maintain_result(spark):
    from hive_2_spark.llm.dedup import dedup_index_maintain

    return _sorted_rows(dedup_index_maintain(spark, SF_DIR))


def test_maintain_equals_rebuild(spark, maintain_result):
    """The core contract: classifying batch 2 against the APPEND-
    maintained index must be row-identical to classifying it against a
    FULL REBUILD over corpus + batch-1 novels."""
    from hive_2_spark.core.io import load_table
    from hive_2_spark.llm.dedup import (
        _batch2,
        _new_batch,
        classify_against_corpus,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb1 = _new_batch(spark, SF_DIR).select("new_id", "text")
    v1 = classify_against_corpus(docs, nb1)
    novel1 = (
        v1.filter(F.col("verdict") == "novel")
        .select("new_id")
        .join(nb1, "new_id")
        .select(F.col("new_id").alias("doc_id"), "text")
    ).localCheckpoint()
    rebuilt_corpus = docs.unionByName(novel1)
    rebuilt = classify_against_corpus(
        rebuilt_corpus, _batch2(novel1, docs)
    )
    assert maintain_result == _sorted_rows(rebuilt)


def test_maintain_has_teeth_vs_unmaintained(spark, maintain_result):
    """Classifying batch 2 against the UNmaintained (corpus-only)
    state must DIFFER — the verbatim copies of batch-1 novels come
    back 'novel' instead of 'exact', proving the appends are what the
    key actually exercises."""
    from hive_2_spark.core.io import load_table
    from hive_2_spark.llm.dedup import (
        _B2_EXACT,
        _batch2,
        _new_batch,
        classify_against_corpus,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    nb1 = _new_batch(spark, SF_DIR).select("new_id", "text")
    v1 = classify_against_corpus(docs, nb1)
    novel1 = (
        v1.filter(F.col("verdict") == "novel")
        .select("new_id")
        .join(nb1, "new_id")
        .select(F.col("new_id").alias("doc_id"), "text")
    ).localCheckpoint()
    stale = _sorted_rows(
        classify_against_corpus(docs, _batch2(novel1, docs))
    )
    assert stale != maintain_result
    lo, hi = _B2_EXACT, _B2_EXACT + 100_000_000
    stale_verdicts = {i: v for i, v, _ in stale if lo <= i < hi}
    assert stale_verdicts and set(stale_verdicts.values()) == {"novel"}


def test_maintain_planted_verdicts(maintain_result):
    """Batch-2 classes carry planted truth: verbatim batch-1 novels
    are 'exact' matching their batch-1 id (maintenance worked and the
    novel set was pinned before the appends — an empty pin would leave
    this class empty); disjoint-salt gibberish is 'novel' with no
    match; verbatim original-corpus docs are 'exact' against an
    ORIGINAL index entry (appends did not disturb the corpus side)."""
    from hive_2_spark.llm.dedup import (
        _B2_EXACT,
        _B2_FRESH,
        _B2_NEAR,
        _B2_OLD,
    )

    by_class: dict[int, list] = {
        _B2_EXACT: [], _B2_NEAR: [], _B2_FRESH: [], _B2_OLD: [],
    }
    for new_id, verdict, match_id in maintain_result:
        for base in by_class:
            if base <= new_id < base + 100_000_000:
                by_class[base].append((new_id, verdict, match_id))
    assert all(by_class.values()), {
        k: len(v) for k, v in by_class.items()
    }
    for new_id, verdict, match_id in by_class[_B2_EXACT]:
        assert verdict == "exact"
        # min matching doc — the batch-1 novel itself unless two novel
        # docs shared text (then the smaller novel id)
        assert 40_000_000 <= match_id <= new_id - _B2_EXACT
    for new_id, verdict, match_id in by_class[_B2_FRESH]:
        assert verdict == "novel" and match_id is None
    for new_id, verdict, match_id in by_class[_B2_OLD]:
        assert verdict == "exact" and match_id < 10_000_000


# ---------------------------------------------------------------------------
# BPE merge-pair learning


def test_bpe_pure_python_replay(spark):
    """Replay the greedy merge loop in pure Python from the raw
    parquet — the third engine beside Spark and DuckDB: same word-
    frequency vocabulary, same leftmost non-overlapping `str.replace`
    sweep, same (count desc, pair-string asc) argmax."""
    import duckdb

    from hive_2_spark.llm.text import _BPE_MERGES, text_bpe_merges

    con = duckdb.connect()
    words = con.execute(
        "SELECT word, CAST(COUNT(*) AS BIGINT) FROM ("
        "SELECT unnest(string_split(TRIM(regexp_replace("
        "regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), "
        "'\\s+', ' ', 'g')), ' ')) AS word "
        f"FROM '{SF_DIR}/documents.parquet') "
        "WHERE word <> '' GROUP BY 1"
    ).fetchall()
    vocab = {"  " + "  ".join(w) + "  ": f for w, f in words}
    expect = []
    for r in range(1, _BPE_MERGES + 1):
        counts: dict[str, int] = {}
        for s, f in vocab.items():
            sy = s.strip().split("  ")
            for i in range(len(sy) - 1):
                p = sy[i] + " " + sy[i + 1]
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = pair.split(" ")
        expect.append((r, a, b, a + b, cnt))
        pat, rep = f" {a}  {b} ", f" {a}{b} "
        nxt: dict[str, int] = {}
        for s, f in vocab.items():
            s2 = s.replace(pat, rep)
            nxt[s2] = nxt.get(s2, 0) + f
        vocab = nxt
    got = sorted(tuple(r) for r in text_bpe_merges(spark, SF_DIR).collect())
    assert got == sorted(expect)
    assert len(got) == _BPE_MERGES
    for _, a, b, merged, cnt in got:
        assert merged == a + b and cnt > 0


def test_bpe_apply_pure_python_replay(spark):
    """Apply face against the same pure-Python replay: tokenize every
    word with the replayed merge chain, roll up per doc, compare the
    full (n_words, n_tokens, n_chars, cpt_pm) frame."""
    import duckdb

    from hive_2_spark.llm.text import _BPE_MERGES, text_bpe_apply

    con = duckdb.connect()
    norm = (
        "TRIM(regexp_replace(regexp_replace(lower(text), "
        "'[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))"
    )
    doc_words = con.execute(
        f"SELECT doc_id, string_split({norm}, ' ') "
        f"FROM '{SF_DIR}/documents.parquet'"
    ).fetchall()
    freqs: dict[str, int] = {}
    for _, ws in doc_words:
        for w in ws:
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    vocab = {"  " + "  ".join(w) + "  ": f for w, f in freqs.items()}
    word_of = {"  " + "  ".join(w) + "  ": w for w in freqs}
    for _ in range(_BPE_MERGES):
        counts: dict[str, int] = {}
        for s, f in vocab.items():
            sy = s.strip().split("  ")
            for i in range(len(sy) - 1):
                p = sy[i] + " " + sy[i + 1]
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        pair, _ = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        a, b = pair.split(" ")
        pat, rep = f" {a}  {b} ", f" {a}{b} "
        vocab = {s.replace(pat, rep): f for s, f in vocab.items()}
        word_of = {s.replace(pat, rep): w for s, w in word_of.items()}
    ntok = {w: len(s.strip().split("  ")) for s, w in word_of.items()}
    expect = {}
    for doc_id, ws in doc_words:
        words = [w for w in ws if w]
        if not words:
            continue
        n_tokens = sum(ntok[w] for w in words)
        n_chars = sum(len(w) for w in words)
        expect[doc_id] = (
            len(words), n_tokens, n_chars, n_chars * 1000 // n_tokens
        )
    got = {
        r["doc_id"]: (
            r["n_words"], r["n_tokens"], r["n_chars"], r["cpt_pm"]
        )
        for r in text_bpe_apply(spark, SF_DIR).collect()
    }
    assert got == expect
    # the merges must actually compress: fewer tokens than chars
    assert sum(v[1] for v in got.values()) < sum(v[2] for v in got.values())


# ---------------------------------------------------------------------------
# Directed SCC over the per-user event-type transition graph


def _tarjan_census(edges, nodes):
    """Iterative Tarjan SCC (no union-find, no recursion): census of
    {component root = min member: size}."""
    adj: dict[int, list[int]] = {n: [] for n in nodes}
    for s, d in edges:
        adj[s].append(d)
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    sccs: list[list[int]] = []
    counter = [0]
    for root in nodes:
        if root in index:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            for i in range(pi, len(adj[v])):
                u = adj[v][i]
                if u not in index:
                    work[-1] = (v, i + 1)
                    work.append((u, 0))
                    recurse = True
                    break
                if u in on_stack:
                    low[v] = min(low[v], index[u])
            if recurse:
                continue
            work.pop()
            if low[v] == index[v]:
                scc = []
                while True:
                    u = stack.pop()
                    on_stack.discard(u)
                    scc.append(u)
                    if u == v:
                        break
                sccs.append(scc)
            if work:
                p, _ = work[-1]
                low[p] = min(low[p], low[v])
    return sorted((min(s), len(s)) for s in sccs)


def test_scc_tarjan_ground_truth(spark):
    """Third engine: iterative Tarjan over the identical edge
    derivation must yield the same (component=min member, size)
    census as the Spark doubling closure."""
    import duckdb

    from hive_2_spark.core.graph import _SCC_STRIDE, graph_scc

    con = duckdb.connect()
    rows = con.execute(
        "WITH tidx AS (SELECT event_type, CAST(ROW_NUMBER() OVER "
        "(ORDER BY event_type) - 1 AS BIGINT) AS t FROM "
        "(SELECT DISTINCT event_type FROM "
        f"'{SF_DIR}/events.parquet')), "
        f"ev AS (SELECT user_id * {_SCC_STRIDE} + t AS node, ts, "
        f"event_id, user_id FROM '{SF_DIR}/events.parquet' "
        "JOIN tidx USING (event_type)) "
        "SELECT node, LEAD(node) OVER (PARTITION BY user_id "
        "ORDER BY ts, event_id) AS nxt FROM ev"
    ).fetchall()
    nodes = sorted({n for n, _ in rows})
    edges = sorted({(n, x) for n, x in rows if x is not None and x != n})
    expect = _tarjan_census(edges, nodes)
    got = sorted(
        (r["component"], r["n_nodes"])
        for r in graph_scc(spark, SF_DIR).collect()
    )
    assert got == expect
    # structure sanity: components partition the node set
    assert sum(n for _, n in got) == len(nodes)


def test_schema_evolution_null_semantics(spark, tmp_path):
    """The merged read must surface the added column as NULL on old-
    generation rows and populated on new ones — not drop the column,
    not zero-fill, not fail."""
    import os

    old = spark.createDataFrame([(1, "en")], "doc_id bigint, lang string")
    new = spark.createDataFrame(
        [(2, "de", 7)], "doc_id bigint, lang string, n_chars bigint"
    )
    old.write.parquet(os.path.join(str(tmp_path), "a"))
    new.write.parquet(os.path.join(str(tmp_path), "b"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(str(tmp_path), "a"), os.path.join(str(tmp_path), "b")
    )
    rows = {r["doc_id"]: r for r in back.collect()}
    assert set(back.columns) == {"doc_id", "lang", "n_chars"}
    assert rows[1]["n_chars"] is None
    assert rows[2]["n_chars"] == 7


def test_scc_planted_graph_structure():
    """The Tarjan helper itself against a planted graph with known
    SCCs: a 3-cycle, a 2-cycle reachable from it, and a tail node —
    reachability without mutuality must NOT merge components."""
    #   1 -> 2 -> 3 -> 1   (SCC {1,2,3})
    #   3 -> 10 -> 11 -> 10 (SCC {10,11})
    #   11 -> 99            (singleton {99})
    edges = [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 10), (11, 99)]
    nodes = [1, 2, 3, 10, 11, 99]
    assert _tarjan_census(edges, nodes) == [(1, 3), (10, 2), (99, 1)]
