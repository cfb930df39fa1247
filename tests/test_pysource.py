"""Custom Python DataSource: the partition contract and row generation
(the oracle proves the aggregate; these pin the API mechanics), and the
JSONL sink with its version log — one claim, one replay, compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_2_spark.core.pysource import _FORMAT, _register, read_python_datasource
from tests.conftest import SF_DIR


def test_partition_contract_drives_task_fanout(spark):
    _register(spark)
    raw = (
        spark.read.format(_FORMAT)
        .option("numPartitions", 7)
        .option("rowsPerPartition", 10)
        .load()
    )
    assert raw.rdd.getNumPartitions() == 7  # one task per InputPartition
    assert raw.count() == 70
    rows = {r.id: r for r in raw.collect()}
    assert rows[13].part == 1 and rows[13].payload == "row-000013"


def test_reregister_is_idempotent(spark):
    _register(spark)
    _register(spark)  # replacing the same name must not raise
    assert read_python_datasource(spark, SF_DIR).count() == 4


def test_streaming_reader_offsets_and_content(spark, tmp_path):
    """The streaming half of the source: micro-batches advance the
    offset, rows are the same deterministic generator output, and a
    restart from checkpoint resumes without duplicating ids."""
    import time

    _register(spark)
    out = str(tmp_path / "out")

    def run_until(min_rows):
        q = (
            spark.readStream.format(_FORMAT)
            .option("batchSize", 40)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="200 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 300  # generous: box may be under load
            while time.time() < deadline:
                if q.exception() is not None:
                    # fail loudly, not via a 300 s stall + count mismatch
                    raise AssertionError(f"query died: {q.exception()}")
                try:
                    if spark.read.parquet(out).count() >= min_rows:
                        break
                except Exception:
                    pass  # sink dir not created yet
                time.sleep(0.3)
        finally:
            q.stop()

    run_until(80)
    first = sorted(r.id for r in spark.read.parquet(out).select("id").collect())
    assert len(first) >= 80
    assert first == list(range(len(first)))  # contiguous from 0, no dupes
    row41 = spark.read.parquet(out).filter("id = 41").first()
    assert row41.payload == "row-000041" and row41.part == 41 % 4

    # restart from the same checkpoint: resumes AFTER the last offset —
    # ids stay contiguous and unique across the restart (exactly-once)
    run_until(len(first) + 40)
    both = sorted(r.id for r in spark.read.parquet(out).select("id").collect())
    assert len(both) >= len(first) + 40
    assert both == list(range(len(both)))


def test_sink_commit_writes_manifest_and_data(spark, tmp_path):
    """The writer half (round 10): staged *.tmp files are renamed on
    commit and the _MANIFEST-V0 names exactly the committed files."""
    import json
    import os

    from hive_2_spark.core.pysource import (
        _SINK_FORMAT,
        _register_sink,
        versioned_manifest_files,
    )

    _register_sink(spark)
    target = str(tmp_path / "sink")
    df = spark.range(100).selectExpr(
        "id AS doc_id", "CAST(id % 3 AS STRING) AS lang", "CAST(id AS INT) AS n_chars"
    )
    df.repartition(5).write.format(_SINK_FORMAT).option("path", target).mode(
        "append"
    ).save()
    manifest = json.load(open(os.path.join(target, "_MANIFEST-V0")))
    assert manifest["rows"] == 100
    files = versioned_manifest_files(target)
    assert len(files) == 5 and all(os.path.exists(f) for f in files)
    assert not [f for f in os.listdir(target) if f.endswith(".tmp")]
    back = spark.read.schema("doc_id bigint, lang string, n_chars int").json(files)
    ids = sorted(r.doc_id for r in back.collect())
    assert ids == list(range(100))  # no dupes, no losses


def test_sink_abort_leaves_no_manifest(spark, tmp_path):
    """A failing job must abort: staged files removed, no _MANIFEST-V0 —
    a reader that trusts only the manifest sees nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from hive_2_spark.core.pysource import _SINK_FORMAT, _register_sink

    _register_sink(spark)
    target = str(tmp_path / "sink_abort")
    poisoned = spark.range(50).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 49, F.lit("en"))
        .otherwise(F.raise_error("boom"))
        .alias("lang"),
    )
    with _pytest.raises(Exception):
        poisoned.coalesce(1).write.format(_SINK_FORMAT).option(
            "path", target
        ).mode("append").save()
    assert not os.path.exists(os.path.join(target, "_MANIFEST-V0"))
    leftovers = (
        [f for f in os.listdir(target) if not f.startswith("_")]
        if os.path.exists(target)
        else []
    )
    assert leftovers == [], leftovers


def test_stream_writer_exactly_once_across_restart(spark, tmp_path):
    """Full custom-source round trip IN STREAMING: hive2_synth stream
    reader -> hive2_jsonl_sink stream writer. Per-epoch manifests must
    cover every id exactly once, including across a graceful restart
    from the same checkpoint (the offset log replays deterministically,
    the sink's epoch manifests dedupe any partially-published batch)."""
    import json
    import time

    from hive_2_spark.core.pysource import (
        _FORMAT,
        _SINK_FORMAT,
        _register,
        _register_sink,
        stream_sink_manifest_files,
    )

    _register(spark)
    _register_sink(spark)
    target = str(tmp_path / "stream_sink")

    def run_until(min_rows):
        q = (
            spark.readStream.format(_FORMAT)
            .option("batchSize", 30)
            .load()
            .writeStream.format(_SINK_FORMAT)
            .option("path", target)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="150 milliseconds")
            .start()
        )
        try:
            deadline = time.time() + 300
            while time.time() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"query died: {q.exception()}")
                try:
                    files = stream_sink_manifest_files(target)
                except FileNotFoundError:
                    files = []
                n = 0
                for p in files:
                    with open(p) as f:
                        n += sum(1 for _ in f)
                if n >= min_rows:
                    return
                time.sleep(0.3)
            raise AssertionError("timed out waiting for rows")
        finally:
            q.stop()

    run_until(90)
    ids = []
    for p in stream_sink_manifest_files(target):
        with open(p) as f:
            ids.extend(json.loads(ln)["id"] for ln in f)
    first_n = len(ids)
    assert first_n >= 90
    assert sorted(ids) == list(range(first_n))  # exactly-once, in-order ids

    # graceful restart from the same checkpoint: no dupes, resumes after
    run_until(first_n + 30)
    ids = []
    for p in stream_sink_manifest_files(target):
        with open(p) as f:
            ids.extend(json.loads(ln)["id"] for ln in f)
    assert len(ids) >= first_n + 30
    assert sorted(ids) == list(range(len(ids)))


# ---------------------------------------------------------------------------
# The batch sink's version log: claim, snapshots, change sets, tail


def test_batch_sink_manifest_is_staged_then_renamed(tmp_path):
    """Round-11 ADVICE: batch commit must publish _MANIFEST-V0 only once
    its bytes are complete (crash mid-write leaves no truncated
    manifest) and abort
    must survive None commit messages from unfinished tasks."""
    import json
    import os

    from hive_2_spark.core.pysource import JsonlWriter, _Staged

    target = str(tmp_path / "sink")
    w = JsonlWriter({"path": target}, overwrite=False)

    class _Row:
        def __init__(self, i):
            self.i = i

        def asDict(self):
            return {"i": self.i}

    msgs = [w.write(iter([_Row(1), _Row(2)])), w.write(iter([_Row(3)]))]
    w.commit(msgs)
    names = sorted(os.listdir(target))
    assert "_MANIFEST-V0" in names
    assert not any(n.endswith(".tmp") for n in names)  # all renamed
    manifest = json.load(open(os.path.join(target, "_MANIFEST-V0")))
    assert manifest["rows"] == 3
    assert sorted(manifest["files"]) == [
        n for n in names if n.endswith(".jsonl")
    ]

    # abort with a None entry (unfinished task) must not raise and must
    # still clean the finished task's staged file
    staged = w.write(iter([_Row(9)]))
    assert os.path.exists(staged.path)
    w.abort([None, staged, None])
    assert not os.path.exists(staged.path)
    # double-abort (file already gone) is also safe
    w.abort([staged])
    # and a stale path that never existed
    w.abort([_Staged(path=str(tmp_path / "ghost.jsonl.tmp"), rows=0)])


def test_versioned_sink_time_travel_isolation(spark, tmp_path):
    """Snapshot semantics come from the manifest log alone: a later
    version's files and a staged-but-uncommitted tmp file are on disk
    but invisible to an earlier as_of; the latest snapshot unions all
    committed versions and nothing else."""
    import json
    import os

    from hive_2_spark.core.pysource import (
        _SINK_FORMAT,
        _register_sink,
        versioned_manifest_files,
    )

    _register_sink(spark)
    target = str(tmp_path / "tt")
    for v, ids in ((0, [1, 2]), (1, [3])):
        spark.createDataFrame(
            [(i,) for i in ids], "doc_id bigint"
        ).coalesce(1).write.format(_SINK_FORMAT).option(
            "path", target
        ).option("version", str(v)).mode("append").save()
    # plant an orphan staged file (a crashed writer's leftovers)
    with open(os.path.join(target, "stage-orphan.jsonl.tmp"), "w") as f:
        f.write(json.dumps({"doc_id": 999}) + "\n")

    def ids_at(as_of):
        files = versioned_manifest_files(target, as_of=as_of)
        if not files:
            return set()
        return {
            r.doc_id
            for r in spark.read.schema("doc_id bigint").json(files).collect()
        }

    assert ids_at(0) == {1, 2}        # v1's file exists but is invisible
    assert ids_at(1) == {1, 2, 3}
    assert ids_at(None) == {1, 2, 3}  # latest
    # the orphan tmp never appears in any snapshot
    assert not any(
        p.endswith(".tmp") for p in versioned_manifest_files(target)
    )
    # each log entry records its version (the commit-log audit field)
    with open(os.path.join(target, "_MANIFEST-V1")) as f:
        assert json.load(f)["version"] == 1


def test_versioned_sink_auto_cas_sequential(spark, tmp_path):
    """A commit without a version claims max+1: sequential commits land V0, V1,
    and a pre-existing foreign V7 pushes the next auto claim to V8."""
    import json
    import os

    from hive_2_spark.core.pysource import (
        _SINK_FORMAT,
        _register_sink,
        versioned_manifest_files,
    )

    _register_sink(spark)
    target = str(tmp_path / "cas")
    for ids in ([1, 2], [3]):
        spark.createDataFrame(
            [(i,) for i in ids], "doc_id bigint"
        ).coalesce(1).write.format(_SINK_FORMAT).option(
            "path", target
        ).mode("append").save()
    assert os.path.exists(os.path.join(target, "_MANIFEST-V0"))
    assert os.path.exists(os.path.join(target, "_MANIFEST-V1"))
    with open(os.path.join(target, "_MANIFEST-V1")) as f:
        assert json.load(f)["version"] == 1
    # a foreign writer's later entry moves the next claim past it
    with open(os.path.join(target, "_MANIFEST-V7"), "w") as f:
        json.dump({"files": [], "rows": 0, "version": 7}, f)
    spark.createDataFrame([(4,)], "doc_id bigint").coalesce(1).write.format(
        _SINK_FORMAT
    ).option("path", target).mode("append").save()
    assert os.path.exists(os.path.join(target, "_MANIFEST-V8"))
    got = {
        r.doc_id
        for r in spark.read.schema("doc_id bigint")
        .json(versioned_manifest_files(target))
        .collect()
    }
    assert got == {1, 2, 3, 4}
    # no stray CAS scratch files survive a commit
    assert not [n for n in os.listdir(target) if n.startswith("caschk-")]


def test_versioned_sink_auto_cas_contention(tmp_path):
    """Two writers racing the SAME next version must land distinct
    versions with no lost commit: drive _publish_cas directly from two
    threads gated on a barrier (the racy window is scan -> link)."""
    import json
    import os
    import threading

    from hive_2_spark.core.pysource import _Staged, _publish_cas

    target = str(tmp_path / "race")
    os.makedirs(target)
    results: list[int] = []
    errors: list[BaseException] = []
    barrier = threading.Barrier(2)

    def writer(tag: str):
        try:
            staged = os.path.join(target, f"stage-{tag}.jsonl.tmp")
            with open(staged, "w") as f:
                f.write(json.dumps({"doc_id": tag}) + "\n")
            barrier.wait()
            results.append(
                _publish_cas(target, [_Staged(path=staged, rows=1)])
            )
        except BaseException as exc:  # pragma: no cover - surfaced below
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in ("a", "b")
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert sorted(results) == [0, 1]  # both committed, distinct versions
    names = set()
    for v in (0, 1):
        with open(os.path.join(target, f"_MANIFEST-V{v}")) as f:
            m = json.load(f)
            assert m["version"] == v and m["rows"] == 1
            names.update(m["files"])
    assert len(names) == 2  # each commit published its own file


def test_versioned_sink_cas_race_cross_process(tmp_path):
    """Two OS PROCESSES (separate interpreters — the shape an
    object-store multi-writer actually hits, unlike the in-process
    thread race above) CAS-committing concurrently into
    one log dir: every claimed version distinct, the log dense with no
    lost commit, and CHANGES BETWEEN readable across the interleaving
    with exactly-once file visibility."""
    import json
    import os
    import subprocess
    import sys

    from hive_2_spark.core.pysource import versioned_manifest_files

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    target = str(tmp_path / "race")
    os.makedirs(target)
    script = r"""
import json, os, sys, time
from hive_2_spark.core.pysource import _Staged, _publish_cas
target, tag, n = sys.argv[1], sys.argv[2], int(sys.argv[3])
while not os.path.exists(os.path.join(target, "_GO")):
    time.sleep(0.002)
got = []
for i in range(n):
    staged = os.path.join(target, f"stage-{tag}-{i}.jsonl.tmp")
    with open(staged, "w") as f:
        f.write(json.dumps({"doc_id": f"{tag}-{i}"}) + "\n")
    got.append(_publish_cas(target, [_Staged(path=staged, rows=1)]))
print(json.dumps(got))
"""
    n = 8
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, target, tag, str(n)],
            env={**os.environ, "PYTHONPATH": repo},
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in ("a", "b")
    ]
    # both writers are parked on the barrier file — release together
    open(os.path.join(target, "_GO"), "w").close()
    outs = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err
        outs.append(json.loads(out.strip().splitlines()[-1]))
    va, vb = outs
    assert len(va) == len(vb) == n
    # distinct versions, dense log, no lost commit across processes
    assert sorted(va + vb) == list(range(2 * n))
    # CHANGES BETWEEN across the interleaving: each half-open range
    # names exactly its own commits' files, once each
    mid = n  # split the log anywhere; (since, as_of] semantics
    lo = versioned_manifest_files(target, as_of=mid - 1)
    hi = versioned_manifest_files(target, as_of=2 * n - 1, since=mid - 1)
    assert len(lo) == mid and len(hi) == n
    assert set(lo) | set(hi) == set(
        versioned_manifest_files(target, as_of=2 * n - 1)
    )
    assert not set(lo) & set(hi)
    # every committed row readable exactly once across the whole log
    docs = []
    for path in versioned_manifest_files(target):
        with open(path) as f:
            docs.extend(json.loads(line)["doc_id"] for line in f)
    assert sorted(docs) == sorted(
        f"{t}-{i}" for t in ("a", "b") for i in range(n)
    )


def test_changes_between_reads_only_the_range(spark, tmp_path):
    """versioned_manifest_files(since=lo, as_of=hi) must name exactly
    the files committed in (lo, hi] — the snapshot-diff contract."""
    from hive_2_spark.core.pysource import (
        _SINK_FORMAT,
        _register_sink,
        versioned_manifest_files,
    )

    _register_sink(spark)
    target = str(tmp_path / "chg")
    for ids in ([1], [2, 3], [4]):
        spark.createDataFrame(
            [(i,) for i in ids], "doc_id bigint"
        ).coalesce(1).write.format(_SINK_FORMAT).option(
            "path", target
        ).mode("append").save()

    def ids_between(lo, hi):
        files = versioned_manifest_files(target, as_of=hi, since=lo)
        if not files:
            return set()
        return {
            r.doc_id
            for r in spark.read.schema("doc_id bigint").json(files).collect()
        }

    assert ids_between(0, 1) == {2, 3}
    assert ids_between(0, 2) == {2, 3, 4}
    assert ids_between(1, 2) == {4}
    assert ids_between(2, 2) == set()  # empty range — no manifests read


def test_log_tail_stream_follows_cas_commits(spark, tmp_path):
    """The streaming TAIL face of the version log: a micro-batch
    stream over the manifest log must deliver exactly the committed
    rows (version-attributed, exactly-once), and a NEW version CAS'd
    while the stream runs must arrive as a later batch — the
    incremental-consumer contract the CHANGES BETWEEN key resolves in
    batch."""
    import json
    import os
    import time

    from hive_2_spark.core.pysource import (
        _SINK_FORMAT,
        _register_sink,
        tail_versions_stream,
    )

    _register_sink(spark)
    target = str(tmp_path / "tail")

    def commit(ids):
        spark.createDataFrame(
            [(i, "en", i * 10) for i in ids],
            "doc_id bigint, lang string, n_chars bigint",
        ).coalesce(1).write.format(_SINK_FORMAT).option(
            "path", target
        ).mode("append").save()

    commit([1, 2])
    commit([3])

    q = (
        tail_versions_stream(spark, target)
        .writeStream.format("memory")
        .queryName("t_logtail")
        .outputMode("append")
        .option(
            "checkpointLocation", str(tmp_path / "ckpt")
        )
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        def rows_now():
            return {
                (r.version, r.doc_id, r.lang, r.n_chars)
                for r in spark.sql("SELECT * FROM t_logtail").collect()
            }

        def wait_for(n, deadline_s=120):
            deadline = time.time() + deadline_s
            while time.time() < deadline:
                if q.exception() is not None:
                    raise AssertionError(f"query died: {q.exception()}")
                got = rows_now()
                if len(got) >= n:
                    return got
                time.sleep(0.3)
            raise AssertionError(f"timed out at {len(rows_now())}/{n} rows")

        got = wait_for(3)
        assert got == {
            (0, 1, "en", 10), (0, 2, "en", 20), (1, 3, "en", 30)
        }
        # a version committed while the stream runs arrives incrementally
        commit([4, 5])
        got = wait_for(5)
        assert got == {
            (0, 1, "en", 10), (0, 2, "en", 20), (1, 3, "en", 30),
            (2, 4, "en", 40), (2, 5, "en", 50),
        }
        # exactly-once: no duplicate (version, doc) pairs ever
        all_rows = spark.sql(
            "SELECT COUNT(*) AS n, COUNT(DISTINCT version || ':' || doc_id)"
            " AS d FROM t_logtail"
        ).collect()[0]
        assert all_rows.n == all_rows.d == 5
    finally:
        q.stop()
    # the log itself shows three CAS-claimed versions
    names = sorted(
        n for n in os.listdir(target) if n.startswith("_MANIFEST-V")
    )
    assert names == ["_MANIFEST-V0", "_MANIFEST-V1", "_MANIFEST-V2"]
    for i, n in enumerate(names):
        assert json.load(open(os.path.join(target, n)))["version"] == i


# ---------------------------------------------------------------------------
# Versioned-sink log compaction + retention (OPTIMIZE/VACUUM face)


@pytest.fixture()
def versioned_log(spark, tmp_path):
    """A fresh 4-version sink log over a tiny deterministic frame."""
    from hive_2_spark.core.pysource import _SINK_FORMAT, _register_sink

    _register_sink(spark)
    target = str(tmp_path / "log")
    d = spark.range(40).select(
        F.col("id").alias("doc_id"),
        (F.col("id") * 7).alias("payload"),
    )
    for v in range(4):
        (
            d.filter(F.col("doc_id") % 4 == v)
            .write.format(_SINK_FORMAT)
            .option("path", target)
            .option("version", str(v))
            .mode("append")
            .save()
        )
    return target


def _snapshot_rows(spark, target, as_of):
    from hive_2_spark.core.pysource import versioned_manifest_files

    files = versioned_manifest_files(target, as_of=as_of)
    schema = "doc_id bigint, payload bigint"
    if not files:
        return []
    return sorted(
        (r["doc_id"], r["payload"])
        for r in spark.read.schema(schema).json(files).collect()
    )


def test_compaction_preserves_surviving_snapshots(spark, versioned_log):
    """Snapshots at versions >= the compaction point must be
    row-identical before and after compact_and_expire."""
    from hive_2_spark.core.pysource import compact_and_expire

    before = {v: _snapshot_rows(spark, versioned_log, v) for v in (2, 3)}
    stats = compact_and_expire(versioned_log, 2)
    assert stats["version"] == 2
    assert stats["rows"] == 30  # versions 0-2 committed 30 of 40 rows
    assert stats["manifests_expired"] == 2
    after = {v: _snapshot_rows(spark, versioned_log, v) for v in (2, 3)}
    assert before == after
    assert _snapshot_rows(spark, versioned_log, None) == _snapshot_rows(
        spark, versioned_log, 3
    )


def test_compaction_expired_versions_raise(versioned_log):
    """Reads (and change feeds) below the checkpoint fail loudly."""
    from hive_2_spark.core.pysource import (
        compact_and_expire,
        versioned_manifest_files,
    )

    compact_and_expire(versioned_log, 2)
    for v in (0, 1):
        with pytest.raises(ValueError, match="expired"):
            versioned_manifest_files(versioned_log, as_of=v)
    with pytest.raises(ValueError, match="compacted"):
        versioned_manifest_files(versioned_log, as_of=3, since=1)
    # diffs entirely above the checkpoint still answer
    assert versioned_manifest_files(versioned_log, as_of=3, since=2)


def test_compaction_gc_and_single_file_checkpoint(spark, versioned_log):
    """After compaction: the checkpoint snapshot is served by exactly
    ONE file, and no unreferenced committed data file remains."""
    import os

    from hive_2_spark.core.pysource import (
        compact_and_expire,
        versioned_manifest_files,
    )

    stats = compact_and_expire(versioned_log, 2)
    assert stats["files_gc"] == stats["files_in"]
    ckpt_files = versioned_manifest_files(versioned_log, as_of=2)
    assert len(ckpt_files) == 1
    on_disk = {
        n for n in os.listdir(versioned_log) if n.endswith(".jsonl")
    }
    referenced = {
        os.path.basename(p)
        for p in versioned_manifest_files(versioned_log)
    }
    assert on_disk == referenced


def test_compaction_lingering_manifest_cannot_double_count(
    spark, versioned_log
):
    """Crash ordering: if expiry/GC never ran (a manifest below the
    checkpoint lingers), the reader must IGNORE it — the checkpoint
    replaces the prefix, so rows are not double-counted."""
    import json
    import os

    from hive_2_spark.core.pysource import compact_and_expire

    want = _snapshot_rows(spark, versioned_log, 3)
    compact_and_expire(versioned_log, 2)
    # resurrect a pre-compaction manifest naming a live data file
    ghost_data = "ghost.jsonl"
    with open(os.path.join(versioned_log, ghost_data), "w") as f:
        f.write(json.dumps({"doc_id": 0, "payload": 0}) + "\n")
    with open(os.path.join(versioned_log, "_MANIFEST-V0"), "w") as f:
        json.dump({"files": [ghost_data], "rows": 1, "version": 0}, f)
    assert _snapshot_rows(spark, versioned_log, 3) == want


# ---------------------------------------------------------------------------
# One claim, one replay: logs built through JsonlWriter with fake rows


class _Doc:
    def __init__(self, doc_id):
        self.doc_id = doc_id

    def asDict(self):
        return {"doc_id": self.doc_id, "lang": "en", "n_chars": self.doc_id}


def _commit(target, ids, version=None):
    """One batch commit of documents ``ids``, driven like Spark would."""
    from hive_2_spark.core.pysource import JsonlWriter

    opts = {"path": target}
    if version is not None:
        opts["version"] = str(version)
    w = JsonlWriter(opts, overwrite=False)
    w.commit([w.write(iter([_Doc(i) for i in ids]))])


def _tailed_ids(rows):
    return sorted(doc_id for _, doc_id, _, _ in rows)


def test_log_tail_resumed_below_checkpoint_raises(tmp_path):
    """A tail that emitted versions 0-1 must not re-emit the compacted
    rows of 0-1 when it resumes after compaction through 2: the log
    below the checkpoint is gone, so the read raises."""
    from hive_2_spark.core.pysource import LogTailStreamReader, compact_and_expire

    target = str(tmp_path / "log")
    for i in range(2):
        _commit(target, [i])
    tail = LogTailStreamReader({"path": target})
    rows, offset = tail.read(tail.initialOffset())
    assert _tailed_ids(rows) == [0, 1] and offset == {"v": 1}
    for i in range(2, 5):
        _commit(target, [i])
    compact_and_expire(target, 2)
    with pytest.raises(ValueError, match="compacted through version 2"):
        tail.read(offset)
    with pytest.raises(ValueError, match="compacted through version 2"):
        tail.readBetweenOffsets(offset, {"v": 4})
    # resuming at or above the checkpoint emits only the later entries
    rows, offset = tail.read({"v": 2})
    assert rows == [(3, 3, "en", 3), (4, 4, "en", 4)] and offset == {"v": 4}


def test_log_tail_fresh_over_lingering_manifests_emits_once(tmp_path, monkeypatch):
    """Compaction that crashed before expiry leaves V0/V1 beside the
    checkpoint at V2. A fresh tail emits the snapshot once: checkpoint
    rows labelled 2, later rows with their own version."""
    import os

    from hive_2_spark.core.pysource import LogTailStreamReader, compact_and_expire

    target = str(tmp_path / "log")
    for i in range(5):
        _commit(target, [i])

    def crash(path):
        raise OSError("simulated crash")

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(OSError, match="simulated crash"):
        compact_and_expire(target, 2)
    monkeypatch.undo()
    assert {"_MANIFEST-V0", "_MANIFEST-V1"} <= set(os.listdir(target))
    tail = LogTailStreamReader({"path": target})
    rows, offset = tail.read(tail.initialOffset())
    assert _tailed_ids(rows) == [0, 1, 2, 3, 4] and offset == {"v": 4}
    assert sorted((v, d) for v, d, _, _ in rows) == [
        (2, 0), (2, 1), (2, 2), (3, 3), (4, 4),
    ]
    assert tail.read(offset)[1] == offset  # nothing new to emit


def test_explicit_version_cannot_replace_a_commit(tmp_path):
    """A second commit of version 0 raises; V0 keeps its rows and the
    loser's data file is named by no entry."""
    import json
    import os

    from hive_2_spark.core.pysource import versioned_manifest_files

    target = str(tmp_path / "log")
    _commit(target, [1, 2], version=0)
    with pytest.raises(FileExistsError, match="version 0"):
        _commit(target, [3], version=0)
    with open(os.path.join(target, "_MANIFEST-V0")) as f:
        assert json.load(f)["rows"] == 2
    ids = []
    for path in versioned_manifest_files(target):
        with open(path) as f:
            ids.extend(json.loads(ln)["doc_id"] for ln in f)
    assert sorted(ids) == [1, 2]
    # no unset claim collides with the explicit entry either
    _commit(target, [4])
    assert os.path.exists(os.path.join(target, "_MANIFEST-V1"))


def test_sink_rejects_overwrite(spark, tmp_path):
    """The log only appends: mode("overwrite") raises, naming the sink,
    and commits nothing."""
    import os

    from hive_2_spark.core.pysource import _SINK_FORMAT, JsonlWriter, _register_sink

    with pytest.raises(ValueError, match=_SINK_FORMAT):
        JsonlWriter({"path": str(tmp_path / "w")}, overwrite=True)
    _register_sink(spark)
    target = str(tmp_path / "sink")
    df = spark.range(3).selectExpr("id AS doc_id")
    df.write.format(_SINK_FORMAT).option("path", target).mode("append").save()
    with pytest.raises(Exception, match=_SINK_FORMAT):
        df.write.format(_SINK_FORMAT).option("path", target).mode(
            "overwrite"
        ).save()
    assert sorted(n for n in os.listdir(target) if n.startswith("_")) == [
        "_MANIFEST-V0"
    ]


def test_version_log_names_only_in_claim_and_replay():
    """Only the claim (_publish_cas) and the replay (_replay) spell a
    log entry's name; every other reader and writer goes through them."""
    import ast
    import inspect

    from hive_2_spark.core import pysource

    tree = ast.parse(inspect.getsource(pysource))
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    owners = set()

    def visit(node, fn):
        if isinstance(node, ast.FunctionDef):
            fn = node.name
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and "_MANIFEST-V" in node.value
            and id(node) not in docstrings
        ):
            owners.add(fn)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, "<module>")
    assert owners == {"_publish_cas", "_replay"}


_OTHER_CWD_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from hive_2_spark import registry
# one key per way a worker used to import this package: data source
# classes, an Arrow UDF kernel's helpers, a helper that imported inside
# the task, and a mapInPandas function reaching a sibling module
arrow_keys = ("sim_cosine_topk", "sim_ivf_topk", "media_features")
for key, build in sorted(registry.all_queries().items()):
    if "python_datasource" in key or key in arrow_keys:
        print(key, build(spark, {sf!r}).count(), flush=True)
spark.stop()
"""


def test_python_datasource_keys_run_from_another_directory(tmp_path):
    """A Spark application that puts this repository on sys.path but
    runs from another directory: its Python workers cannot import this
    package, so every source and sink class and every UDF kernel must
    reach them without an import by module name."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c",
         _OTHER_CWD_SCRIPT.format(repo=repo, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    ran = [line.split()[0] for line in proc.stdout.splitlines()]
    assert ran == [
        "media_features",
        "read_python_datasource",
        "read_python_datasource_changes",
        "read_python_datasource_compacted",
        "read_python_datasource_pushdown",
        "read_python_datasource_timetravel",
        "roundtrip_python_datasource",
        "sim_cosine_topk",
        "sim_ivf_topk",
    ], proc.stdout
