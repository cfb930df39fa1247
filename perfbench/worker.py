"""One run of one workload, in a fresh process started by ``run.py``.

Sequence: set-up (session, registry import or CRUD table, counted from
process launch), one warm pass whose outputs are checked against the
oracle, a calibration probe, closed-loop timed passes for ``--seconds``,
a second calibration probe, and the final CRUD table check. One client;
ops run one after another.

In a traced run (``--trace 1``) passes alternate untraced and traced;
per-layer metrics come from the traced passes and ``trace.overhead``
compares the two kinds.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict

LAUNCH = float(os.environ.get("PERFBENCH_LAUNCH", time.time()))

from fixtures import CachedOracle  # noqa: E402
from spec import END_TO_END, PER_LAYER  # noqa: E402
from tracing import CatalogCounter, Tracer, job_union_s  # noqa: E402
from workloads import (  # noqa: E402
    READ_OPS,
    WORKLOADS,
    WRITE_OPS,
    CrudPlan,
    check_crud_table,
    crud_meta,
    layer_of,
    permuted,
    run_crud_op,
    seed_table,
)


def log(msg: str) -> None:
    print(f"[{time.time() - LAUNCH:7.2f} s] {msg}", file=sys.stderr, flush=True)


class _Collected:
    """A collected result standing in for the DataFrame ``compare`` reads."""

    def __init__(self, frame) -> None:
        self._frame = frame

    def toPandas(self):
        return self._frame


class Run:
    def __init__(self, args) -> None:
        self.wl = WORKLOADS[args.workload]
        self.data = args.data
        self.table_path = os.path.join(args.run_dir, "crud_table")
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.rng = random.Random(args.seed)
        self.layer: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
        self.attempted = 0
        self.failed = 0
        self.catalog = CatalogCounter()

    # ------------------------------------------------------------ set-up
    def setup(self) -> None:
        """Start a session, import the registry (query workloads) and
        prepare the fixture (CRUD)."""
        t = time.time()
        from hive_2_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.get_spark_s"] = time.time() - t
        if self.trace:
            self.catalog.install()
        if not self.wl.crud:  # the model layer does not use the registry
            t = time.time()
            from hive_2_spark import registry

            self.queries = registry.all_queries()
            self.oracles = registry.all_oracles()
            self.layer["registry.all_queries_s"] = time.time() - t
        else:
            from hive_2_spark.model.store import ParquetStore

            self.shadow = seed_table(os.path.join(self.data, "orders.parquet"),
                                     self.table_path)
            self.store = ParquetStore(self.spark, crud_meta(self.table_path),
                                      self.table_path)
            self.plan = CrudPlan(self.shadow, self.rng)

    # --------------------------------------------------------------- ops
    def op_names(self) -> list[str]:
        if self.wl.crud:
            return self.plan.pass_ops()
        return permuted(list(self.wl.keys), self.rng)

    def run_op(self, name: str, tracer: Tracer | None, op_id: str):
        """Run one op; return (seconds, rows touched, error or None)."""
        self.attempted += 1
        if self.wl.crud:
            op = self.plan.draw(name)  # drawn outside the timed region
        t0 = time.perf_counter()
        try:
            if self.wl.crud:
                if tracer is None:
                    rows, bad = run_crud_op(self.spark, self.store, op)
                else:
                    with tracer.span(f"crud.{name}", op_id):
                        rows, bad = run_crud_op(self.spark, self.store, op)
            else:
                rows, bad = 0, None
                layer = layer_of(self.queries[name].__module__)
                if tracer is None:
                    df = self.queries[name](self.spark, self.data)
                    df.write.format("noop").mode("overwrite").save()
                else:
                    with tracer.span(f"{layer}.build", op_id):
                        df = self.queries[name](self.spark, self.data)
                    with tracer.span(f"{layer}.exec", op_id):
                        df.write.format("noop").mode("overwrite").save()
        except Exception:
            bad = traceback.format_exc()
            rows = 0
        seconds = time.perf_counter() - t0
        if bad is not None:
            self.failed += 1
            log(f"op {name} failed: {bad}")
        return seconds, rows, bad

    def warm_pass(self) -> float:
        """Run every op once; check query outputs against the oracle
        outside the timed region. Returns the pass's op time, which
        excludes the comparisons."""
        from hive_2_spark.parity import compare

        oracle = CachedOracle(self.wl.scale)
        total = 0.0
        for name in self.op_names():
            if self.wl.crud:
                seconds, _, _ = self.run_op(name, None, "warm")
                total += seconds
                continue
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                frame = self.queries[name](self.spark, self.data).toPandas()
                total += time.perf_counter() - t0
                problems = compare(_Collected(frame), oracle, self.oracles[name])
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                self.failed += 1
                log(f"oracle mismatch on {name}: {problems}")
        return total

    # ------------------------------------------------------- calibration
    def calibrate(self) -> tuple[float, float]:
        """5 one-row jobs, then one wide no-op stage: (median job
        seconds, slot-seconds per task of the wide stage)."""
        jobs = []
        for _ in range(5):
            t0 = time.perf_counter()
            self.spark.range(1).count()
            jobs.append(time.perf_counter() - t0)
        tasks = 32
        t0 = time.perf_counter()
        self.spark.range(0, tasks * 16, 1, tasks).write.format("noop").mode(
            "overwrite").save()
        wide = time.perf_counter() - t0
        log(f"calibration jobs {sum(jobs):.2f} s, wide stage {wide:.2f} s")
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        return statistics.median(jobs), wide * cpus / tasks

    # ---------------------------------------------------------- the run
    def run(self) -> dict:
        self.setup()
        setup_s = time.time() - LAUNCH
        warm_s = self.warm_pass()  # excludes the oracle comparisons
        setup_s += warm_s
        self.layer["warm_pass_s"] = warm_s
        log(f"set-up {setup_s:.2f} s, of which warm pass {warm_s:.2f} s")
        calib = [self.calibrate()]

        tracer = Tracer(self.spark) if self.trace else None
        passes: list[dict] = []
        deadline = time.perf_counter() + self.seconds
        # The first timed pass is still warming up (10-20 % slower); CRUD
        # passes are short enough to afford a third, so its median drops it.
        least = 4 if self.trace else 3 if self.wl.crud else 2
        while time.perf_counter() < deadline or len(passes) < least:
            traced = self.trace and len(passes) % 4 in (1, 2)  # U T T U: order-balanced
            passes.append(self.timed_pass(tracer if traced else None, len(passes)))

        log(f"{len(passes)} timed passes")
        calib.append(self.calibrate())
        if self.wl.crud:
            self.attempted += 1
            problems = check_crud_table(self.store, self.shadow)
            if problems:
                self.failed += 1
                log(f"final CRUD table differs from its shadow: {problems}")

        untraced = [p for p in passes if not p["traced"]]
        lat = [s for p in untraced for _, s in p["ops"]]
        per_key = defaultdict(list)
        for p in untraced:
            for name, s in p["ops"]:
                per_key[name].append(s)
        e2e = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p["seconds"] for p in untraced),
            "key_geomean_s": math.exp(statistics.fmean(
                math.log(statistics.median(v)) for v in per_key.values())),
        }
        tail_s, tail_pct = tail(lat)
        self.layer["op_p50_s"] = statistics.median(lat)
        self.layer["op_tail_s"] = tail_s
        self.layer["calib.job_s"] = statistics.fmean(c[0] for c in calib)
        self.layer["calib.task_s"] = statistics.fmean(c[1] for c in calib)
        if self.wl.crud:
            reads = [s for p in untraced for n, s in p["ops"] if n in READ_OPS]
            writes = [s for p in untraced for n, s in p["ops"] if n in WRITE_OPS]
            self.layer["read_p50_s"] = statistics.median(reads)
            self.layer["write_p50_s"] = statistics.median(writes)
        if self.trace:
            self.summarise_trace([p for p in passes if p["traced"]], untraced)
        units = {n: u for n, u, *_ in END_TO_END}
        layer_units = {n: u for n, u, _ in PER_LAYER}
        chosen = (
            {n: (self.layer[n], layer_units[n]) for n in layer_units}
            if self.trace else {n: (e2e[n], units[n]) for n in units}
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in chosen.items()},
            "info": {
                "workload": self.wl.name,
                "pass_s": [p["seconds"] for p in passes],
                "ops_timed": len(lat),
                "op_tail_percentile": tail_pct,
                "error_rate": self.failed / self.attempted,
            },
        }

    def timed_pass(self, tracer: Tracer | None, index: int) -> dict:
        names = self.op_names()
        catalog_before = self.catalog.snapshot()
        row_bytes = _row_bytes(self.table_path) if tracer and self.wl.crud else 0.0
        last_job = tracer.last_job_id() if tracer else 0
        t0 = time.perf_counter()
        ops = []
        for n, name in enumerate(names):
            seconds, rows, _ = self.run_op(name, tracer, f"{index}:{n}:{name}")
            ops.append((name, seconds, rows))
        seconds = time.perf_counter() - t0
        out = {"traced": tracer is not None, "seconds": seconds,
               "ops": [(n, s) for n, s, _ in ops]}
        if tracer is not None:
            out["user_bytes"] = sum(r for n, _, r in ops if n in WRITE_OPS) * row_bytes
            out["jobs_total"] = tracer.last_job_id() - last_job
            out["catalog"] = (catalog_before, self.catalog.snapshot())
            out["part_files"] = _part_files(self.table_path) if self.wl.crud else 0
            out["spans"] = [s for s in tracer.spans if s.op.startswith(f"{index}:")]
            tracer.collect(out["spans"])
        return out

    # ------------------------------------------------------ trace summary
    def summarise_trace(self, traced: list[dict], untraced: list[dict]) -> None:
        per_pass: list[dict[str, float]] = []
        per_key: dict[str, list[float]] = defaultdict(list)
        for p in traced:
            m: dict[str, float] = defaultdict(float)
            by_op: dict[str, list] = defaultdict(list)
            for s in p["spans"]:
                by_op[s.op].append(s)
            attributed = 0
            write_jobs = write_ops = written = 0
            for op_id, spans in by_op.items():
                name = op_id.split(":", 2)[2]
                jobs = [j for s in spans for j in s.jobs]
                attributed += len(jobs)
                start = min(s.start for s in spans)
                end = max(s.end for s in spans)
                for j in jobs:
                    for k in ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                              "input_bytes", "shuffle_read_bytes",
                              "shuffle_write_bytes", "spill_bytes"):
                        m[k] += j[k]
                if self.wl.crud:
                    if name in WRITE_OPS:
                        write_ops += 1
                        write_jobs += len(jobs)
                        written += sum(j["output_bytes"] for j in jobs)
                    continue
                layer = spans[0].name.split(".")[0]
                for s in spans:
                    phase = s.name.split(".")[1]
                    m[f"{layer}.{phase}_s"] += s.seconds
                    m[f"{layer}.{phase}_jobs"] += len(s.jobs)
                    if phase == "build":
                        per_key[f"q.{name}.build_s"].append(s.seconds)
                m[f"{layer}.stages"] += sum(j["stages"] for j in jobs)
                m[f"{layer}.skipped_stages"] += sum(j["skipped_stages"] for j in jobs)
                m[f"{layer}.tasks"] += sum(j["tasks"] for j in jobs)
                m[f"{layer}.driver_only_s"] += (end - start) - job_union_s(jobs, start, end)
                per_key[f"q.{name}.s"].append(end - start)
                per_key[f"q.{name}.jobs"].append(len(jobs))
            if self.wl.crud:
                m["store.jobs_per_write"] = write_jobs / max(write_ops, 1)
                m["store.bytes_written_per_user_byte"] = written / max(p["user_bytes"], 1)
                m["store.part_files"] = p["part_files"]
            (calls0, secs0), (calls1, secs1) = p["catalog"]
            m["catalog.load_table.calls"] = calls1.get("load_table", 0) - calls0.get("load_table", 0)
            m["catalog.load_table_s"] = secs1.get("load_table", 0.0) - secs0.get("load_table", 0.0)
            m["catalog.register_views_s"] = (
                secs1.get("register_views", 0.0) - secs0.get("register_views", 0.0))
            m["trace.unattributed_jobs"] = p["jobs_total"] - attributed
            # Share of the ops' wall time (as run_op measures it) outside
            # every span: what the layer spans fail to account for.
            m["trace.unspanned_op_share"] = 1.0 - (
                sum(s.seconds for s in p["spans"]) / sum(s for _, s in p["ops"]))
            per_pass.append(m)
        for name in {k for m in per_pass for k in m}:
            self.layer[name] = statistics.median(m.get(name, 0.0) for m in per_pass)
        for name, values in per_key.items():
            self.layer[name] = statistics.median(values)
        if self.wl.crud:
            kinds = {"read": "model.read_s", "save": "model.save_s",
                     "insert": "store.insert_s", "range_update": "store.update_s",
                     "upsert": "store.upsert_s", "delete": "store.delete_s",
                     "scan": "store.scan_s"}
            for kind, metric in kinds.items():
                self.layer[metric] = statistics.median(
                    s for p in traced for n, s in p["ops"] if n == kind)
        t_med = statistics.median(p["seconds"] for p in traced)
        u_med = statistics.median(p["seconds"] for p in untraced)
        self.layer["trace.overhead"] = t_med / u_med - 1.0


def tail(lat: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with at least ten samples beyond
    it, and that percentile; the maximum when there are too few samples."""
    ordered = sorted(lat)
    i = max(len(ordered) - 11, 0) if len(ordered) > 10 else len(ordered) - 1
    return ordered[i], 100.0 * (i + 1) / len(ordered)


def _part_files(path: str) -> int:
    return sum(1 for f in os.listdir(path) if f.startswith("part-"))


def _row_bytes(path: str) -> float:
    """On-disk bytes per row of the CRUD table: the base that turns the
    rows an op touches into user bytes."""
    import pyarrow.parquet as pq

    files = [os.path.join(path, f) for f in os.listdir(path) if f.startswith("part-")]
    rows = sum(pq.read_metadata(f).num_rows for f in files)
    return sum(os.path.getsize(f) for f in files) / max(rows, 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).run()
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    log("result written")
    # Skip the session's orderly shutdown: run.py stops the process group.
    os._exit(0)


if __name__ == "__main__":
    main()
