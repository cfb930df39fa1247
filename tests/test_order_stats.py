"""The two order-statistic primitives of ``core.windows`` —
``nearest_rank`` (with its DuckDB twin ``_dk_nearest_rank``) and
``bucketed_running_sum`` — against pure-Python replays on small frames,
plus the planted-truth gates of the keys built on them."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from hive_2_spark.core.windows import (
    _dk_nearest_rank,
    bucketed_running_sum,
    nearest_rank,
)
from tests.conftest import SF_DIR

_PCTS = {"p1": 1, "p25": 25, "p50": 50, "p90": 90, "p100": 100}


def _py_nearest_rank(rows, pcts):
    """{g: (n, {name: pick})} — sort each group's (value, weight) rows
    and take the first value whose running weight reaches p% of n."""
    groups: dict = {}
    for g, v, w in rows:
        groups.setdefault(g, []).append((v, w))
    out = {}
    for g, vw in groups.items():
        vw.sort()
        n = sum(w for _, w in vw)
        picks = {}
        for name, p in pcts.items():
            cum = 0
            for v, w in vw:
                cum += w
                if cum * 100 >= n * p:
                    picks[name] = v
                    break
        out[g] = (n, picks)
    return out


def _py_running_sum(rows):
    """{id: run} — the naive per-part running sum in (x, id) order."""
    out, run = {}, {}
    for rid, part, _x, _b, v in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        run[part] = run.get(part, 0) + v
        out[rid] = run[part]
    return out


def _spark_nr(spark, rows, pcts, by=("g",)):
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = nearest_rank(df, list(by), "v", "w", pcts).collect()
    return {
        r["g"] if by else None: (r["n"], {k: r[k] for k in pcts})
        for r in got
    }


def _duck_nr(rows, pcts, by=("g",)):
    con = duckdb.connect()
    t = pd.DataFrame(rows, columns=["g", "v", "w"])
    con.register("t", t.astype({"g": "string", "v": "int64", "w": "int64"}))
    got = con.execute(_dk_nearest_rank("t", list(by), "v", "w", pcts)).df()
    return {
        r["g"] if by else None: (int(r["n"]), {k: int(r[k]) for k in pcts})
        for _, r in got.iterrows()
    }


_NR_CASES = {
    # three tied 5s straddle the median; 7 and 9 after them
    "ties_inside_one_value": [("a", 5, 1), ("a", 5, 1), ("a", 5, 1),
                              ("a", 7, 1), ("a", 9, 1), ("b", 1, 1)],
    # whole-number weights other than 1 (the quantity-weighted median)
    "weights": [("a", 10, 3), ("a", 20, 1), ("a", 30, 4), ("a", 40, 2),
                ("b", 2, 5), ("b", 1, 5), ("b", 2, 7)],
    # exact boundaries: cum * 100 == n * p picks the lower value
    "exact_boundary": [("a", v, 1) for v in range(1, 101)],
    "random": [
        (g, r.randint(0, 12), r.randint(1, 4))
        for r in [random.Random(7)]
        for g in "xyz"
        for _ in range(40)
    ],
}


@pytest.mark.parametrize("case", sorted(_NR_CASES))
def test_nearest_rank_matches_pure_python(spark, case):
    rows = _NR_CASES[case]
    want = _py_nearest_rank(rows, _PCTS)
    assert _spark_nr(spark, rows, _PCTS) == want
    assert _duck_nr(rows, _PCTS) == want


def test_nearest_rank_p100_is_the_maximum(spark):
    rows = _NR_CASES["random"]
    got = _spark_nr(spark, rows, {"top": 100})
    assert got == {
        g: (sum(w for h, _, w in rows if h == g),
            {"top": max(v for h, v, _ in rows if h == g)})
        for g in "xyz"
    }


def test_nearest_rank_global_group(spark):
    rows = _NR_CASES["weights"]
    want = _py_nearest_rank([(None, v, w) for _, v, w in rows], _PCTS)
    assert _spark_nr(spark, rows, _PCTS, by=()) == want
    assert _duck_nr(rows, _PCTS, by=()) == want


def test_nearest_rank_empty_frame(spark):
    assert _spark_nr(spark, [], _PCTS) == {}
    assert _duck_nr([], _PCTS) == {}


def _spark_run(spark, rows, value="v", part=("p",)):
    df = spark.createDataFrame(
        rows, "id long, p string, x long, b long, v long"
    )
    order = [F.col("x").asc(), F.col("id").asc()]
    out = bucketed_running_sum(df, value, order, "b", part=list(part))
    assert set(out.columns) == set(df.columns) | {"run"}
    return {r["id"]: r["run"] for r in out.collect()}


def test_running_sum_ties_across_bucket_boundary(spark):
    """Runs of equal x sit on both sides of each bucket edge (x // 10),
    so the (x, id) order, not x alone, decides every running total."""
    r = random.Random(11)
    xs = [9, 9, 10, 10, 10, 19, 20, 20, 3, 30]
    rows = [
        (i, p, x, x // 10, r.randint(-3, 9))
        for i, (p, x) in enumerate((p, x) for p in "pq" for x in xs)
    ]
    assert _spark_run(spark, rows) == _py_running_sum(rows)


def test_running_count_is_a_global_row_number(spark):
    r = random.Random(5)
    xs = [r.randint(0, 50) for _ in range(60)]
    rows = [(i, "all", x, x // 7, 1) for i, x in enumerate(xs)]
    got = _spark_run(spark, rows, value=F.lit(1), part=())
    order = sorted(rows, key=lambda t: (t[2], t[0]))
    assert got == {t[0]: k for k, t in enumerate(order, 1)}


def test_running_sum_empty_frame(spark):
    assert _spark_run(spark, []) == {}


def test_winsorized_stats_planted_truth(spark, tmp_path):
    """Planted orders with one extreme outlier per priority: the
    winsorized mean clips it to the p95 edge, the trimmed mean drops
    it — both recovered exactly (nearest-rank edges on a known
    20-value series)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_2_spark.core.aggregates import agg_winsorized_stats

    schema = pq.read_schema(os.path.join(SF_DIR, "orders.parquet"))
    # 19 orders at 10.00..190.00 plus one 10,000.00 outlier
    prices = [float(10 * i) for i in range(1, 20)] + [10_000.0]
    n = len(prices)
    cols: dict = {}
    for f in schema:
        if f.name == "o_totalprice":
            cols[f.name] = pa.array(prices, f.type)
        elif f.name == "o_orderpriority":
            cols[f.name] = pa.array(["1-URGENT"] * n, f.type)
        elif f.name == "o_orderkey":
            cols[f.name] = pa.array(list(range(n)), f.type)
        else:
            cols[f.name] = pa.array(
                [None] * n, f.type
            )
    d = str(tmp_path / "sf_w")
    os.makedirs(d)
    pq.write_table(pa.table(cols), os.path.join(d, "orders.parquet"))
    r = agg_winsorized_stats(spark, d).collect()[0]
    # nearest-rank: k05 = ceil(1) = 1 -> p05 = 10.00;
    # k95 = ceil(19) = 19 -> p95 = 190.00
    assert r["n_orders"] == 20 and r["p05"] == 10.0 and r["p95"] == 190.0
    # winsorized: outlier clipped to 190 -> mean = (sum(10..190)+190)/20
    assert r["winsorized_mean"] == round(
        (sum(range(10, 200, 10)) + 190) / 20, 4
    )
    # trimmed: drop nothing below 10, drop the 10k -> mean of 10..190
    assert r["trimmed_mean"] == round(sum(range(10, 200, 10)) / 19, 4)


def test_iqr_anomaly_planted_fences(spark, tmp_path):
    """Planted hourly series with known quartiles and one extreme
    hour each side: the integer nearest-rank quartiles and the
    cross-multiplied Tukey fences must flag exactly those hours."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hive_2_spark.core.timeseries import ts_anomaly_iqr

    schema = pq.read_schema(os.path.join(SF_DIR, "events.parquet"))
    # 20 hourly values 10..200, plus a 10,000 spike and a -9,000 dip
    vals = [float(10 * i) for i in range(1, 21)] + [10_000.0, -9_000.0]
    base = datetime(2024, 2, 1)
    cols = {
        "event_id": list(range(len(vals))),
        "ts": [base + timedelta(hours=i) for i in range(len(vals))],
        "user_id": [1] * len(vals),
        "event_type": ["click"] * len(vals),
        "value": vals,
        "props": ["{}"] * len(vals),
    }
    tbl = pa.table({f.name: pa.array(cols[f.name], f.type) for f in schema})
    d = str(tmp_path / "sf_iqr")
    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    r = {x["event_type"]: x for x in ts_anomaly_iqr(spark, d).collect()}
    c = r["click"]
    # n = 22: q1 rank = ceil(550/100) = 6, q3 rank = ceil(1650/100) = 17
    # sorted series: -9000, 10..200, 10000 -> rank 6 = 50, rank 17 = 160
    assert c["n_pts"] == 22 and c["q1"] == 50.0 and c["q3"] == 160.0
    # fences: [50 - 165, 160 + 165] = [-115, 325] -> one each side
    assert c["n_low"] == 1 and c["n_high"] == 1


def test_time_to_convert_pure_python_replay(spark):
    """Replay the funnel-latency percentiles in pure Python: per-user
    first events from the raw parquet, integer-second gaps, textbook
    nearest-rank selection on the SORTED gap list — must equal the
    histogram-cumulative selection the Spark plan uses."""
    from hive_2_spark.core.events import event_time_to_convert

    con = duckdb.connect()
    rows = con.execute(
        "SELECT user_id, "
        "MIN(CASE WHEN event_type='view' THEN epoch_us(ts) END), "
        "MIN(CASE WHEN event_type='click' THEN epoch_us(ts) END), "
        "MIN(CASE WHEN event_type='purchase' THEN epoch_us(ts) END) "
        f"FROM '{SF_DIR}/events.parquet' "
        "WHERE event_type IN ('view','click','purchase') "
        "GROUP BY user_id"
    ).fetchall()
    edges = {
        "view->click": (1, 2), "click->purchase": (2, 3),
        "view->purchase": (1, 3),
    }
    expect = {}
    for edge, (si, di) in edges.items():
        gaps = sorted(
            (r[di] - r[si]) // 1_000_000
            for r in rows
            if r[si] is not None and r[di] is not None and r[di] >= r[si]
        )
        if not gaps:
            continue
        n = len(gaps)
        k50, k90 = (50 * n + 99) // 100, (90 * n + 99) // 100
        expect[edge] = (n, gaps[k50 - 1], gaps[k90 - 1], gaps[-1])
    got = {
        r["edge"]: (r["n_users"], r["p50_s"], r["p90_s"], r["max_s"])
        for r in event_time_to_convert(spark, SF_DIR).collect()
    }
    assert got == expect
