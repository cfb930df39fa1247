"""Real Structured Streaming smoke tests: the streaming plans from
hive_2_spark.streaming run end-to-end on the events parquet via a memory
sink, and their results agree with the batch-equivalent queries."""

from __future__ import annotations

import os

import pytest

from hive_2_spark.catalog import load_table
from hive_2_spark.streaming import ingest, joins as sj, serving as sv
from hive_2_spark.streaming import windows as sw
from tests.conftest import SF_DIR


def _run_to_memory(spark, stream_df, name: str, mode: str) -> int:
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT COUNT(*) FROM {name}").collect()[0][0]


def test_stream_tumbling_runs_and_matches_batch(spark):
    n = _run_to_memory(
        spark, sw.stream_tumbling_builder(spark, SF_DIR), "t_tumble", "complete"
    )
    batch = sw.stream_tumbling(spark, SF_DIR).count()
    assert n == batch > 0


def test_stream_session_native_window(spark):
    n = _run_to_memory(
        spark, sw.stream_session_builder(spark, SF_DIR), "t_sess", "complete"
    )
    assert n > 0
    # native session_window sessionization must agree with the batch
    # lag/cumsum island computation on session COUNT
    batch_sessions = sw.stream_session(spark, SF_DIR).count()
    assert n == batch_sessions


def test_apply_in_pandas_with_state(spark):
    """Custom stateful operator: streaming state result == batch result."""
    from hive_2_spark.streaming import stateful

    n = _run_to_memory(
        spark, stateful.running_spend_stream(spark, SF_DIR), "t_state", "update"
    )
    assert n > 0
    stream_rows = {
        r["user_id"]: (r["total_spend"], r["n_events"])
        for r in spark.sql(
            # update mode may emit a row per batch per key; last wins
            "SELECT user_id, total_spend, n_events FROM t_state"
        ).collect()
    }
    batch_rows = {
        r["user_id"]: (r["total_spend"], r["n_events"])
        for r in stateful.running_spend_batch(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_ewma_stream_matches_batch_face(spark):
    """Stateful streaming EWMA == oracle-verified batch ts_ewma,
    value-for-value (update mode: last emitted row per key wins)."""
    from hive_2_spark.core.timeseries import ts_ewma
    from hive_2_spark.streaming import stateful

    n = _run_to_memory(
        spark, stateful.ewma_stream(spark, SF_DIR), "t_ewma", "update"
    )
    assert n > 0
    stream_rows = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in spark.sql(
            "SELECT user_id, n_events, ewma FROM t_ewma"
        ).collect()
    }
    batch_rows = {
        r["user_id"]: (r["n_events"], r["ewma"])
        for r in ts_ewma(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_chain_stream_matches_batch_face(spark):
    """Stateful streaming chain census == oracle-verified batch
    event_pattern_match_within, value-for-value (update mode: last
    emitted row per key wins) — proves the batch docstring's claim
    that the two running maxima ARE the streaming state vector."""
    from hive_2_spark.core.events import event_pattern_match_within
    from hive_2_spark.streaming import stateful

    n = _run_to_memory(
        spark, stateful.chain_census_stream(spark, SF_DIR),
        "t_chains", "update"
    )
    assert n > 0
    stream_rows = {
        r["user_id"]: (r["n_purchases"], r["n_chains"])
        for r in spark.sql(
            "SELECT user_id, n_purchases, n_chains FROM t_chains"
        ).collect()
    }
    batch_rows = {
        r["user_id"]: (r["n_purchases"], r["n_chains"])
        for r in event_pattern_match_within(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_stream_dedup_stateful(spark):
    n = _run_to_memory(
        spark, sw.stream_dedup_builder(spark, SF_DIR), "t_dedup", "append"
    )
    # event_id is unique in the fixture -> dedup keeps everything; the
    # smoke is that the stateful operator runs with a watermark at all
    assert n == 1000


def test_stream_sliding_runs_and_matches_batch(spark):
    n = _run_to_memory(
        spark, sw.stream_sliding_builder(spark, SF_DIR), "t_slide", "complete"
    )
    # both faces count per window: one row per distinct window start
    batch_windows = sw.stream_sliding(spark, SF_DIR).count()
    stream_windows = spark.sql(
        "SELECT COUNT(DISTINCT window_start) FROM t_slide"
    ).collect()[0][0]
    assert n == stream_windows == batch_windows > 0


# --- value-level stream/batch equivalence ------------------------------
# Each stream face is its batch face's transform over a readStream, so
# run as bounded micro-batches it must produce EXACTLY the batch face's
# rows, on every column. (batch face, stream face, output mode):

_EQUIV_CASES = {
    "tumbling": (sw.stream_tumbling, sw.stream_tumbling_builder, "complete"),
    "sliding": (sw.stream_sliding, sw.stream_sliding_builder, "complete"),
    "session": (sw.win_session_native, sw.stream_session_builder, "complete"),
    "static_join": (
        sj.stream_static_join, sj.stream_static_join_builder, "append"
    ),
    # the fixture fits one micro-batch: no pair straddles the watermark
    "interval_join": (
        sj.stream_interval_join, sj.stream_interval_join_builder, "append"
    ),
    "cluster_monitor": (
        sv.stream_cluster_monitor, sv.stream_cluster_monitor_builder, "complete"
    ),
    "anomaly_monitor": (
        sv.stream_anomaly_monitor, sv.stream_anomaly_monitor_builder, "complete"
    ),
    # stateless filter+project: append, no state
    "doc_gate": (ingest.stream_doc_gate, ingest.stream_doc_gate_builder, "append"),
    # watermark dedup on the unique event_id keeps every event
    "dedup": (
        lambda s, d: load_table(s, d, "events"), sw.stream_dedup_builder, "append"
    ),
}


@pytest.mark.parametrize("case", sorted(_EQUIV_CASES))
def test_stream_face_equals_batch_face_valuewise(spark, case):
    batch_face, stream_face, mode = _EQUIV_CASES[case]
    name = f"t_equiv_{case}"
    _run_to_memory(spark, stream_face(spark, SF_DIR), name, mode)
    stream, batch = spark.table(name), batch_face(spark, SF_DIR)
    assert stream.columns == batch.columns
    stream_rows = sorted(map(tuple, stream.collect()), key=repr)
    assert len(stream_rows) > 0
    assert stream_rows == sorted(map(tuple, batch.collect()), key=repr)


def test_foreach_batch_parquet_sink(spark, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    sw.run_foreach_batch_to_parquet(spark, SF_DIR, out, ckpt)
    written = spark.read.parquet(out)
    assert written.count() > 0
    assert "epoch" in written.columns
    # re-run against the same checkpoint: no new epochs, no duplication
    before = written.count()
    sw.run_foreach_batch_to_parquet(spark, SF_DIR, out, ckpt)
    assert spark.read.parquet(out).count() == before


def test_stream_left_outer_interval_join(spark):
    """Watermarked LEFT OUTER stream-stream join: emits every matched
    pair; unmatched purchases are bounded by the batch face's NULL rows
    (tail-of-stream unmatched rows are withheld until the watermark
    passes — correct watermark semantics on bounded input)."""
    n = _run_to_memory(
        spark,
        sj.stream_interval_join_left_builder(spark, SF_DIR),
        "t_ssj_left",
        "append",
    )
    matched = sj.stream_interval_join(spark, SF_DIR).count()
    batch_left = sj.stream_interval_join_left(spark, SF_DIR).count()
    assert matched <= n <= batch_left
    # matched rows must agree exactly with the inner-join face
    stream_matched = spark.sql(
        "SELECT COUNT(*) FROM t_ssj_left WHERE c_id IS NOT NULL"
    ).collect()[0][0]
    assert stream_matched == matched


def test_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Exactly-once resume: restarting a checkpointed query over an
    unchanged source must not re-emit already-committed batches."""
    ckpt = str(tmp_path / "ckpt")

    def run_once(qname: str) -> int:
        q = (
            sw.stream_tumbling_builder(spark, SF_DIR)
            .writeStream.outputMode("complete")
            .option("checkpointLocation", ckpt)
            .format("memory")
            .queryName(qname)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.lastProgress
        finally:
            q.stop()
        return progress["numInputRows"] if progress else 0

    first = run_once("t_ck1")
    second = run_once("t_ck2")
    assert first == 1000  # the full fixture processed once
    assert second == 0  # resume from checkpoint: nothing new to process


def test_transform_with_state_gated_or_runs(spark):
    """Spark 4 transformWithStateInPandas: runs when the protobuf runner
    dep is present, raises an actionable gate error when not."""
    import pytest

    from hive_2_spark.streaming import stateful

    if not stateful.tws_supported():
        with pytest.raises(NotImplementedError, match="protobuf"):
            stateful.running_spend_tws(spark, SF_DIR)
        return

    n = _run_to_memory(
        spark, stateful.running_spend_tws(spark, SF_DIR), "t_tws", "update"
    )
    assert n > 0
    stream_rows = {
        r["user_id"]: (r["total_spend"], r["n_events"])
        for r in spark.sql(
            "SELECT user_id, total_spend, n_events FROM t_tws"
        ).collect()
    }
    batch_rows = {
        r["user_id"]: (r["total_spend"], r["n_events"])
        for r in stateful.running_spend_batch(spark, SF_DIR).collect()
    }
    assert stream_rows == batch_rows


def test_trigger_available_now_bounded_run(spark):
    """Trigger.AvailableNow: process everything currently in the source
    as a bounded multi-batch run, then STOP on its own — the batch-job
    face of a streaming pipeline (backfills, catch-up runs). The query
    must terminate without manual stop and produce the batch answer."""
    q = (
        sw.stream_tumbling_builder(spark, SF_DIR)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_avail_now")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)  # self-terminates when caught up
    n = spark.sql("SELECT COUNT(*) FROM t_avail_now").collect()[0][0]
    assert n == sw.stream_tumbling(spark, SF_DIR).count() > 0


def test_stream_embeddings_link_replaces_stale_nonsymlink(spark):
    """A stale regular FILE at the symlink path must be replaced, not
    silently streamed instead of the fixture (round-3 advice: the old
    lexists-only guard skipped relinking over a non-symlink)."""
    from hive_2_spark.catalog import table_path
    from hive_2_spark.streaming._source import _source_dir, read_stream_table

    src_dir = _source_dir("embeddings", SF_DIR)
    os.makedirs(src_dir, exist_ok=True)
    link = os.path.join(src_dir, "embeddings.parquet")
    if os.path.lexists(link):
        os.remove(link)
    with open(link, "w") as f:
        f.write("stale non-symlink")
    read_stream_table(spark, SF_DIR, "embeddings")
    assert os.path.islink(link)
    assert os.readlink(link) == table_path(SF_DIR, "embeddings")


def test_versioned_upsert_sink_matches_batch_and_reader_never_404(spark, tmp_path):
    """Versioned-manifest sink (round-3 verdict item 7): after draining,
    read_versioned equals the batch face; a concurrent reader polling
    MANIFEST during the run must always resolve an existing, readable
    snapshot (either v{N-1} or v{N}, never ENOENT); idempotent replay."""
    import threading
    import time

    from hive_2_spark.streaming import cdc as scdc

    root, ckpt = str(tmp_path / "vstate"), str(tmp_path / "vckpt")
    errors: list[str] = []
    seen_versions: list[str] = []
    stop = threading.Event()

    def reader_loop():
        while not stop.is_set():
            time.sleep(0.01)
            path = scdc.current_version_path(root)
            if path is None:
                continue  # nothing published yet — allowed only at start
            seen_versions.append(os.path.basename(path))
            if not os.path.isdir(path):
                errors.append(f"manifest names missing dir {path}")
            elif not any(n.endswith(".parquet") for n in os.listdir(path)):
                errors.append(f"published dir incomplete {path}")

    t = threading.Thread(target=reader_loop, daemon=True)
    t.start()
    try:
        scdc.run_upsert_stream_versioned(spark, SF_DIR, root, ckpt)
    finally:
        stop.set()
        t.join(10)
    assert not errors, errors[:3]
    got = sorted(tuple(r) for r in scdc.read_versioned(spark, root).collect())
    want = sorted(
        tuple(r) for r in scdc.latest_state_batch(spark, SF_DIR).collect()
    )
    assert len(got) > 0 and got == want
    # versions the reader observed are monotonically non-decreasing
    assert seen_versions == sorted(seen_versions)
    # replay against the same checkpoint: no state change
    scdc.run_upsert_stream_versioned(spark, SF_DIR, root, ckpt)
    assert sorted(tuple(r) for r in scdc.read_versioned(spark, root).collect()) == want


def test_versioned_sink_gc_and_orphan_recovery(spark, tmp_path):
    """An unpublished (post-crash) orphan snapshot newer than MANIFEST is
    garbage-collected, old versions beyond keep-back are pruned, and the
    retried batch re-merges against the last PUBLISHED version."""
    from hive_2_spark.streaming import cdc as scdc

    root, ckpt = str(tmp_path / "vstate2"), str(tmp_path / "vckpt2")
    scdc.run_upsert_stream_versioned(spark, SF_DIR, root, ckpt)
    cur = os.path.basename(scdc.current_version_path(root))
    # simulate a crash AFTER snapshot write, BEFORE manifest flip
    orphan = os.path.join(root, f"v{int(cur[1:]) + 1:06d}")
    os.makedirs(orphan)
    # BEFORE GC: time-traveling to the unpublished orphan must refuse —
    # it was never named by a MANIFEST, so it may be mid-write garbage
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="not retained"):
        scdc.read_versioned(spark, root, version=int(cur[1:]) + 1)
    scdc._prune_versions(root)
    assert not os.path.isdir(orphan)          # dead snapshot collected
    assert scdc.current_version_path(root).endswith(cur)  # state intact
    versions = sorted(
        n for n in os.listdir(root)
        if n.startswith("v") and n[1:].isdigit()
    )
    assert len(versions) <= 2  # current + at most one back


def test_versioned_sink_time_travel(spark, tmp_path):
    """read_versioned(version=N) reads a retained older snapshot; a
    GC'd version raises with the retention explanation."""
    import pytest as _pytest

    from hive_2_spark.streaming import cdc as scdc

    root, ckpt = str(tmp_path / "vstate3"), str(tmp_path / "vckpt3")
    scdc.run_upsert_stream_versioned(spark, SF_DIR, root, ckpt)
    cur = int(os.path.basename(scdc.current_version_path(root))[1:])
    assert scdc.read_versioned(spark, root, version=cur).count() > 0
    if cur > 1:  # previous snapshot still retained (keep-1-back GC)
        prev = scdc.read_versioned(spark, root, version=cur - 1)
        assert prev.count() > 0
    with _pytest.raises(FileNotFoundError, match="not retained"):
        scdc.read_versioned(spark, root, version=cur + 7)


def test_session_native_exact_gap_boundary(spark, tmp_path):
    """Planted boundary data the fixtures lack: an event EXACTLY gap
    after its predecessor must MERGE (verified native behavior); one
    microsecond over must split. The oracle must agree cell-for-cell."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from datetime import datetime, timedelta

    from hive_2_spark.streaming.windows import ORACLES, win_session_native

    base = datetime(2024, 1, 1)
    rows = [
        # user 1: exact 30-min gaps -> ONE session of 3 events
        (1, base, 1.0),
        (1, base + timedelta(minutes=30), 1.0),
        (1, base + timedelta(minutes=60), 1.0),
        # user 2: 30 min + 1 us -> TWO sessions
        (2, base, 1.0),
        (2, base + timedelta(minutes=30, microseconds=1), 1.0),
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[0] for r in rows], pa.int64()),
            "event_type": pa.array(["click"] * len(rows)),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    d = str(tmp_path / "sess_gap")
    import os

    os.makedirs(d)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))

    rows_out = win_session_native(spark, d).collect()
    u1 = [r for r in rows_out if r.user_id == 1]
    u2 = [r for r in rows_out if r.user_id == 2]
    assert len(u1) == 1 and u1[0].n_events == 3  # exact gaps merge
    assert len(u2) == 2 and all(r.n_events == 1 for r in u2)  # 1us over splits

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    from hive_2_spark.parity import compare

    assert not compare(
        win_session_native(spark, d), con, ORACLES["win_session_native"]
    )
