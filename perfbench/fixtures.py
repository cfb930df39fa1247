"""Benchmark fixtures: a seeded synthetic star schema plus cached oracles.

The generator writes the ten tables of the engine's test data (tables and
columns as in ``FIXTURES.md``), so the whole benchmark builds from source
inside a checkout. It was checked at sf0.01 against the engine's own
sf0.01 test tables: the same row counts, parquet column types (timestamps
stored as microseconds, as in those tables' footers), key ranges and
per-column distinct counts, 5 % near-duplicate documents (a copy plus
" dup"), the same language and source mix; and the DuckDB oracles of the
workload keys return the same row counts, except
``dedup_minhash_portable`` (198 rows here, 188 there). The data seed is
fixed: a run's ``--seed`` only permutes op order and draws CRUD victims,
so every run of a workload reads the same tables and oracles.

Fixtures are built once per scale into ``CACHE_DIR/sf<scale>-<hash>/``,
where the hash is that of this file, and DuckDB oracle results are cached
there under the hash of their SQL text; so an edit to the generator or to
an oracle's SQL builds afresh instead of reusing stale files. Everything is
written to a temporary name, then renamed.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".perfbench_cache"
)
DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "red", "green", "small", "large", "shiny", "black", "white"]
_NOUNS = ["anvil", "ring", "widget", "bolt", "gear", "spring", "valve", "pipe"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_TS = pa.timestamp("us")
_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform prices with exact cents (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_users = max(150, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    names = [f"{c} {n}" for c in _COLORS for n in _NOUNS]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": _pick(rng, names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    start, end = _epoch_us(1995, 1, 1), _epoch_us(2001, 8, 2)
    odate = start + rng.integers(0, (end - start) // _DAY_US, n_ord) * _DAY_US
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": pa.array(odate, _TS),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    lok = rng.integers(0, n_ord, n_line)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                odate[lok] + rng.integers(1, 96, n_line) * _DAY_US, _TS
            ),
        }
    )
    ev0 = _epoch_us(2024, 1, 1)
    ts = np.sort(ev0 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, _TS),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # 5 % near-duplicates
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": pa.array(rng.choice(_LANGS, n_doc, p=[0.15, 0.4, 0.15, 0.15, 0.15])),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_doc), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    return out


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def fixture_dir(sf: float) -> str:
    with open(__file__) as fh:
        return os.path.join(CACHE_DIR, f"sf{sf:g}-{_digest(fh.read())}")


def ensure_fixture(sf: float, oracle_sql: list[str]) -> tuple[str, float]:
    """Build (once) the tables for scale ``sf`` and the results of the
    given oracle queries.

    Returns the data directory and the seconds spent building (0 when the
    cache was already complete).
    """
    root = fixture_dir(sf)
    data = os.path.join(root, "data")
    missing = [q for q in oracle_sql if not os.path.exists(_oracle_path(root, q))]
    if os.path.isdir(data) and not missing:
        return data, 0.0
    t0 = time.perf_counter()
    if not os.path.isdir(data):
        tmp = f"{data}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        for name, table in _tables(sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        os.rename(tmp, data)
    if missing:
        from hive_2_spark.parity import duckdb_connect

        con = duckdb_connect(data)
        for sql in missing:
            frame = con.execute(sql).fetchdf()
            path = _oracle_path(root, sql)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(f"{path}.tmp-{os.getpid()}", "wb") as fh:
                pickle.dump(frame, fh)
            os.rename(f"{path}.tmp-{os.getpid()}", path)
        con.close()
    return data, time.perf_counter() - t0


def _oracle_path(root: str, sql: str) -> str:
    return os.path.join(root, "oracle", f"{_digest(sql)}.pkl")


class CachedOracle:
    """Stands in for the DuckDB connection ``parity.compare`` queries:
    ``execute(sql).fetchdf()`` returns the cached result of ``sql``."""

    def __init__(self, sf: float) -> None:
        self._root = fixture_dir(sf)
        self._frame = None

    def execute(self, sql: str) -> "CachedOracle":
        with open(_oracle_path(self._root, sql), "rb") as fh:
            self._frame = pickle.load(fh)
        return self

    def fetchdf(self):
        return self._frame
