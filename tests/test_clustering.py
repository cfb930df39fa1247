"""Ground-truth tests for the k-means family: planted well-separated
blobs must be recovered exactly, and the trend fit must match a NumPy
least-squares on the same points."""

from __future__ import annotations

from datetime import timezone

import numpy as np
from pyspark.sql import functions as F

from hive_2_spark.llm.clustering import _assign, _recenter
from tests.conftest import SF_DIR


def _blob_df(spark):
    """3 well-separated 4-d blobs, 20 points each (deterministic)."""
    rng = np.random.default_rng(7)
    centers = np.array(
        [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0],
         [-10.0, 10.0, -10.0, 10.0]]
    )
    rows = []
    for b, c in enumerate(centers):
        for i in range(20):
            vec = (c + rng.normal(0, 0.5, 4)).tolist()
            rows.append((b * 20 + i, f"blob{b}", vec))
    return spark.createDataFrame(rows, "vec_id long, label string, vec array<double>")


def test_kmeans_recovers_planted_blobs(spark):
    e = _blob_df(spark)
    # one seed inside each blob (ids 0, 20, 40)
    cents = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec")
    )
    assign = _assign(e, cents)
    assign = _assign(e, _recenter(assign))
    got = {r.vec_id: r.cluster for r in assign.collect()}
    assert len(got) == 60
    for vid, cl in got.items():
        assert cl == (vid // 20) * 20, f"vec {vid} landed in {cl}"


def test_recenter_is_elementwise_mean(spark):
    e = _blob_df(spark)
    cents = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("c_id"), F.col("vec").alias("c_vec")
    )
    a = _assign(e, cents)
    recentered = {r.c_id: r.c_vec for r in _recenter(a).collect()}
    by_cluster: dict[int, list] = {}
    for r in a.collect():
        by_cluster.setdefault(r.cluster, []).append(r.vec)
    for cid, vecs in by_cluster.items():
        want = np.mean(np.array(vecs), axis=0)
        np.testing.assert_allclose(recentered[cid], want, rtol=1e-12)


def test_trend_matches_numpy_lstsq(spark):
    import pyarrow.parquet as pq

    from hive_2_spark.core.timeseries import ts_trend

    got = {r.event_type: r for r in ts_trend(spark, SF_DIR).collect()}
    t = pq.read_table(
        SF_DIR + "/events.parquet", columns=["event_type", "ts", "value"]
    ).to_pylist()
    by_type: dict[str, list] = {}
    for r in t:
        # naive micros-as-UTC epoch, same as catalog._normalize_ts.
        # replace(tzinfo=utc) first: naive .timestamp() applies the HOST
        # timezone and would shift x by the UTC offset off-UTC boxes.
        us = (
            int(r["ts"].replace(tzinfo=timezone.utc).timestamp() * 1e6)
            if hasattr(r["ts"], "timestamp")
            else int(r["ts"])
        )
        by_type.setdefault(r["event_type"], []).append(
            (us / 86400000000.0, r["value"])
        )
    for et, pts in by_type.items():
        x = np.array([p[0] for p in pts])
        y = np.array([p[1] for p in pts])
        slope, icept = np.polyfit(x, y, 1)
        assert got[et].n == len(pts)
        np.testing.assert_allclose(got[et].slope, round(slope, 6), atol=2e-6)
        np.testing.assert_allclose(got[et].icept, round(icept, 2), atol=0.02)


def test_pca_power_matches_numpy(spark):
    import pyarrow.parquet as pq

    from hive_2_spark.llm.insights import emb_pca_power

    got = (
        emb_pca_power(spark, SF_DIR)
        .orderBy("dim")
        .collect()
    )
    t = pq.read_table(SF_DIR + "/embeddings.parquet").to_pydict()
    a = np.array([list(map(float, v)) for v in t["embedding"]])
    v = a[t["vec_id"].index(0)].astype(float)
    v /= np.linalg.norm(v)
    for _ in range(2):
        w = a.T @ (a @ v)
        v = w / np.linalg.norm(w)
    if v[0] < 0:
        v = -v
    assert [r.dim for r in got] == list(range(1, a.shape[1] + 1))
    np.testing.assert_allclose(
        [r.loading for r in got], np.round(v, 6), atol=2e-6
    )


def test_entropy_matches_python(spark):
    import math

    import pyarrow.parquet as pq

    from hive_2_spark.llm.insights import quality_entropy

    got = {r.doc_id: r for r in quality_entropy(spark, SF_DIR).collect()}
    t = pq.read_table(
        SF_DIR + "/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    for r in t:
        words = r["text"].split(" ")
        n = len(words)
        from collections import Counter

        h = -sum(
            (c / n) * math.log2(c / n) for c in Counter(words).values()
        )
        assert got[r["doc_id"]].n_words == n
        assert abs(got[r["doc_id"]].entropy_bits - round(h, 4)) < 2e-4


def test_kmeans_converged_blobs_and_fixture(spark):
    from pyspark.sql import functions as F2

    from hive_2_spark.llm.clustering import _seeds, kmeans_converged
    from hive_2_spark.llm.similarity import load_embeddings

    # planted blobs: fixpoint must recover the exact partition
    e = _blob_df(spark)
    cents = e.filter(F2.col("vec_id") % 20 == 0).select(
        F2.col("vec_id").alias("c_id"), F2.col("vec").alias("c_vec")
    )
    assign, rounds = kmeans_converged(e, cents)
    assert rounds >= 1
    for r in assign.collect():
        assert r.cluster == (r.vec_id // 20) * 20
    # real fixture: converges under the cap, assignments are total
    ef = load_embeddings(spark, SF_DIR)
    af, rf = kmeans_converged(ef, _seeds(ef))
    assert af.count() == ef.count()
    assert 1 <= rf <= 25
