"""The checkpointed loop primitive every iterative operator runs on:
fixed mode runs exactly the cap, converge mode stops at the first
``done`` round and raises at the cap, and each round is checkpointed so
the returned state's plan carries none of the earlier rounds."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hive_2_spark.core.fixpoint import fixpoint


def _counter(spark):
    return spark.createDataFrame([(1, 0), (2, 0)], "k long, x long")


def _inc(df):
    return df.select("k", (F.col("x") + 1).alias("x"))


def _x(df) -> set[int]:
    return {r["x"] for r in df.collect()}


def test_fixed_mode_runs_exactly_max_rounds(spark):
    calls = []

    def step(df):
        calls.append(1)
        return _inc(df)

    state, rounds = fixpoint(_counter(spark), step, 5)
    assert rounds == 5 and len(calls) == 5
    assert _x(state) == {5}


def test_done_mode_returns_first_stopping_round(spark):
    seen = []

    def done(prev, nxt):
        p, n = _x(prev), _x(nxt)
        seen.append((p, n))
        return n == {3}

    state, rounds = fixpoint(_counter(spark), _inc, 10, done=done)
    assert rounds == 3 and _x(state) == {3}
    # done sees (previous state, this round's state), once per round
    assert seen == [({0}, {1}), ({1}, {2}), ({2}, {3})]


def test_done_on_the_last_allowed_round_does_not_raise(spark):
    state, rounds = fixpoint(
        _counter(spark), _inc, 4, done=lambda _, nxt: _x(nxt) == {4}
    )
    assert rounds == 4 and _x(state) == {4}


def test_cap_raises_naming_what_and_cap(spark):
    with pytest.raises(RuntimeError, match=r"widget did not converge in 4"):
        fixpoint(
            _counter(spark), _inc, 4, done=lambda p, n: False, what="widget"
        )


def test_returned_plan_holds_no_earlier_round_joins(spark):
    other = spark.createDataFrame([(1,), (2,)], "k long")

    def step(df):
        return df.join(other, "k").select("k", (F.col("x") + 1).alias("x"))

    state, _ = fixpoint(_counter(spark), step, 3)
    plan = state._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "LogicalRDD" in plan
    # control: the same three rounds without the primitive keep every join
    lazy = _counter(spark)
    for _ in range(3):
        lazy = step(lazy)
    assert lazy._jdf.queryExecution().optimizedPlan().toString().count(
        "Join"
    ) == 3
    assert _x(state) == _x(lazy) == {3}
