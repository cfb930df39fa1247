"""Traced-run instrumentation, recorded from the benchmark's own files.

Spans are timed around the calls the benchmark makes into each layer
(and around ``hive_2_spark.catalog``'s public functions, wrapped before
the operator modules import them). Spark's work per span is read from
Spark's status store by job group: every traced op runs its build
and its execution under groups of their own, so each job, stage and
task is attributed to exactly one span. Spans are kept in memory and
summarised when the run ends.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str  # "<layer>.<phase>", e.g. "llm.build", "store.insert"
    op: str  # op identifier shared by the spans of one op (the parent)
    start: float  # epoch seconds
    end: float = 0.0
    group: str = ""  # Spark job group of this span
    jobs: list[dict] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and, on ``collect``, joins them to Spark's jobs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.spans: list[Span] = []
        self._seen_stages: set[int] = set()
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: str):
        """Time the block; Spark jobs it runs land in a job group of its own."""
        self._groups += 1
        s = Span(name, op, time.time(), group=f"perfbench-{self._groups}")
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)

    def collect(self, spans: list[Span]) -> None:
        """Attach job/stage/task counts and executor metrics to spans."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            for job_id in sorted(tracker.getJobIdsForGroup(s.group)):
                s.jobs.append(self._job(store, job_id))

    def _job(self, store, job_id: int) -> dict:
        jd = store.job(job_id)
        stage_ids = [jd.stageIds().apply(i) for i in range(jd.stageIds().size())]
        out = {
            "submit": _opt_ms(jd.submissionTime()),
            "complete": _opt_ms(jd.completionTime()),
            "stages": len(stage_ids),
            "skipped_stages": jd.numSkippedStages(),
            "tasks": jd.numCompletedTasks(),
            "executor_run_s": 0.0,
            "executor_cpu_s": 0.0,
            "jvm_gc_s": 0.0,
            "input_bytes": 0,
            "output_bytes": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
        }
        for sid in stage_ids:
            if sid in self._seen_stages:
                continue
            self._seen_stages.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":  # skipped stages did no work
                continue
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def last_job_id(self) -> int:
        """Id of the newest job the status store has seen (ids are dense),
        so jobs run outside any span can be counted."""
        self._jsc.listenerBus().waitUntilEmpty()
        jobs = self._jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def job_union_s(jobs: list[dict], start: float, end: float) -> float:
    """Seconds of [start, end] covered by at least one job's interval."""
    spans = sorted(
        (max(j["submit"], start), min(j["complete"], end))
        for j in jobs
        if j["submit"] is not None and j["complete"] is not None
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in spans:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


class CatalogCounter:
    """Wraps ``hive_2_spark.catalog.load_table`` and ``register_views``.

    Must be installed before the operator modules import the catalog
    names, so their module-level ``from ... import load_table`` binds the
    wrapper. ``register_views`` calls ``load_table`` for each table, so
    its time includes those calls.
    """

    NAMES = ("load_table", "register_views")

    def __init__(self) -> None:
        self.calls: dict[str, int] = defaultdict(int)
        self.seconds: dict[str, float] = defaultdict(float)

    def install(self) -> None:
        from hive_2_spark import catalog

        for name in self.NAMES:
            setattr(catalog, name, self._wrap(name, getattr(catalog, name)))

    def _wrap(self, name, fn):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.calls[name] += 1
                self.seconds[name] += time.perf_counter() - t0

        return timed

    def snapshot(self) -> tuple[dict, dict]:
        return dict(self.calls), dict(self.seconds)
