"""``session.run_concurrently``: the one pool for independent write jobs
pins the session it is given in every worker, and never spans sessions."""

from __future__ import annotations

import pytest

from hive_2_spark.session import run_concurrently


def test_run_concurrently_pins_the_given_session(spark):
    other = spark.newSession()
    active = []

    def record(df) -> None:
        jvm = other._jvm.org.apache.spark.sql.classic.SparkSession
        active.append(jvm.getActiveSession().get().equals(other._jsparkSession))

    run_concurrently(other, [(other.range(1), record) for _ in range(4)])
    assert active == [True] * 4


def test_run_concurrently_rejects_a_frame_of_another_session(spark):
    other = spark.newSession()
    ran = []
    jobs = [(spark.range(1), ran.append), (other.range(1), ran.append)]
    with pytest.raises(ValueError, match="pinned session"):
        run_concurrently(spark, jobs)
    assert ran == []
