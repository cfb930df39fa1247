"""Smoke self-check of the benchmark itself.

    python3 perfbench/selfcheck.py

Runs each workload once untraced and twice traced with one seed, each
run as short as it can be (two timed passes; four when traced), and
asserts that

- every run is correct and prints exactly the metric names and units of
  ``BENCHMARK.json`` (end-to-end untraced, per-layer traced);
- in the trace, the layer spans (``build`` + ``exec`` of the operator
  layers, one span per CRUD call) account for the op wall time that the
  untraced timer around each op measures: ``trace.unspanned_op_share``
  is below 2 %;
- job, stage and task counts of a traced pass repeat exactly between
  the two traced runs.

Takes several minutes; the fixtures are the benchmark's own (small).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

COUNTS = [f"{layer}.{c}" for layer in ("core", "llm")
          for c in ("build_jobs", "exec_jobs", "stages", "skipped_stages", "tasks")]
COUNTS.append("store.jobs_per_write")


def run(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} failed:\n{proc.stderr[-4000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def expect_units(result: dict, spec: list[dict], what: str) -> None:
    got = {n: m["unit"] for n, m in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in spec}
    if got != want:
        raise SystemExit(f"{what}: printed metrics differ from BENCHMARK.json: "
                         f"{sorted(set(got.items()) ^ set(want.items()))}")
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"{what}: {result['failed']} of {result['attempted']} failed")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for wl in (w["name"] for w in bench["workloads"]):
        expect_units(run(wl, 0, 0), bench["end_to_end"], f"{wl} untraced")
        traced = [run(wl, 0, 1)["metrics"] for _ in range(2)]
        for n, m in enumerate(traced):
            expect_units({"metrics": m, "correct": True, "failed": 0},
                         bench["per_layer"], f"{wl} traced #{n}")
            share = m["trace.unspanned_op_share"]["value"]
            if not 0.0 <= share < 0.02:
                raise SystemExit(f"{wl}: spans miss {share:.1%} of the op wall time")
        for name in COUNTS:
            a, b = (t[name]["value"] for t in traced)
            if a != b:
                raise SystemExit(f"{wl}: {name} differs between runs: {a} != {b}")
        print(f"{wl}: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
