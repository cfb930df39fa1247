"""Round-9 verdict items.

- Item 6: `_PF_CACHE` keyed by applicationId — a recreated SparkSession
  must never receive a frame persisted under a dead context. Proven with
  a REAL two-session subprocess (stop + getOrCreate), not a mock: the
  failure mode is JVM-side ("Cannot call methods on a stopped
  SparkContext"), so only a genuine session cycle exercises it.
- Item 2/3 support: the converged fixpoint oracles replay the stop
  rule; the unroll caps must dominate the observed round counts with
  margin (the only way those oracles can go wrong silently is a fixture
  needing more rounds than the unroll — then they return 0 rows, which
  the in-repo parity gate below would catch before any driver run).
"""

from __future__ import annotations

import subprocess
import sys

from tests.conftest import SF_DIR

_TWO_SESSION_SCRIPT = f"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
from hive_2_spark.llm import dedup

def run_once(tag, expect_stale):
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .getOrCreate())
    app = spark.sparkContext.applicationId
    stale = [k for k in dedup._PF_CACHE if k[0] != app]
    assert bool(stale) == expect_stale, (tag, stale)
    n = dedup.dedup_prefix_filter(spark, {SF_DIR!r}).count()
    key = (app, {SF_DIR!r})
    assert key in dedup._PF_CACHE, (tag, list(dedup._PF_CACHE))
    # the dead session's entry must be GONE, not unpersist-poked
    assert list(dedup._PF_CACHE) == [key], (tag, list(dedup._PF_CACHE))
    assert dedup._PF_CACHE[key].storageLevel.useMemory, tag
    spark.stop()
    return app, n

a1, n1 = run_once("first", expect_stale=False)
a2, n2 = run_once("second", expect_stale=True)
assert a1 != a2, (a1, a2)
assert n1 == n2, (n1, n2)
print("TWO_SESSION_OK", n1)
"""


def test_pf_cache_survives_session_recreation():
    """Second SparkSession after a stop(): the cache must drop the dead
    session's persisted frame and re-persist under the new app id —
    with the old dir-only key this crashed on the dead context."""
    proc = subprocess.run(
        [sys.executable, "-c", _TWO_SESSION_SCRIPT],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "TWO_SESSION_OK" in proc.stdout, proc.stdout


def test_converged_unrolls_dominate_observed_rounds(spark):
    """The SQL unroll caps leave real headroom over the rounds the
    fixtures actually need (pagerank: 88 at sf0.01; kmeans: 9), so the
    stop-round selection always lands inside the unroll."""
    import hive_2_spark.core.graph as G
    from hive_2_spark.llm.clustering import (
        _CONVERGE_CAP,
        _seeds,
        kmeans_converged,
    )
    from hive_2_spark.llm.similarity import load_embeddings

    from tests.conftest import SF_DIR_MID

    rows = G.graph_pagerank_converged(spark, SF_DIR).collect()
    assert rows and rows[0]["rounds"] < G._CONV_SQL_UNROLL * 0.8
    # 2x margin at the LARGER fixture: round counts grow with corpus
    # size (sf0.01 took 9 rounds, sf0.1 took 30 — the original cap of
    # 25 was sized on sf0.01 alone and raised at sf0.1), so the gate
    # runs where the pressure is.
    e = load_embeddings(spark, SF_DIR_MID)
    _, rounds = kmeans_converged(e, _seeds(e))
    assert rounds * 2 <= _CONVERGE_CAP, (rounds, _CONVERGE_CAP)
