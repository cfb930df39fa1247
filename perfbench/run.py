"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the workload's fixture and its
oracle results on first use (cached under ``.perfbench_cache/``), runs
the workload in a fresh worker process on ``local[<cpus>]``, samples the
worker's process tree (Python, the Spark JVM and Python workers) for
peak RSS, and prints every metric with its unit. The last stdout line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics, or per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from fixtures import CACHE_DIR, ensure_fixture  # noqa: E402
from spec import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 170
DRIVER_MEM = "2g"


def _proc_group_rss_mb(pgid: int) -> float:
    """Resident MB of every live process in process group ``pgid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
            if int(stat.rsplit(")", 1)[1].split()[2]) != pgid:
                continue
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            continue  # the process ended while being read
    return total / 2**20


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(pgid: int) -> None:
    """Kill what is left of the worker's process group and wait for it."""
    if _group_alive(pgid):
        os.killpg(pgid, signal.SIGKILL)
    deadline = time.time() + 20
    while _group_alive(pgid) and time.time() < deadline:
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "hive_2_spark", "__init__.py")):
        print(f"no hive_2_spark package next to {HERE}; run from a checkout",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    sys.path.insert(0, ROOT)
    oracle_sql = []
    if wl.keys:
        from hive_2_spark.registry import all_oracles

        oracle_sql = [all_oracles()[k] for k in wl.keys]
    data, built_s = ensure_fixture(wl.scale, oracle_sql)

    run_dir = os.path.join(CACHE_DIR, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "spark-local"))
    out_path = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        PERFBENCH_LAUNCH=repr(time.time()),
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", wl.name, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--run-dir", run_dir, "--out", out_path]
    log_path = os.path.join(run_dir, "worker.log")
    peak = 0.0
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            deadline = time.time() + WORKER_TIMEOUT_S
            while proc.poll() is None:
                peak = max(peak, _proc_group_rss_mb(proc.pid))
                if time.time() > deadline:
                    print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
                    break
                time.sleep(0.1)
        finally:
            _stop_group(proc.pid)
            proc.wait()

    if proc.returncode != 0 or not os.path.exists(out_path):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-8000:])
        print(f"worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1
    with open(out_path) as fh:
        result = json.load(fh)
    info = result.pop("info")
    if args.trace:
        result["metrics"]["peak_rss_mb"]["value"] = peak

    names = [n for n, *_ in (PER_LAYER if args.trace else END_TO_END)]
    if sorted(result["metrics"]) != sorted(names):
        print("metric names differ from spec", file=sys.stderr)
        return 1
    info.update(peak_rss_mb=peak, fixture_build_s=built_s)
    for name in names:
        m = result["metrics"][name]
        print(f"{name:40s} {m['value']:>16.6g} {m['unit']}")
    for key, value in info.items():
        print(f"# {key}: {value}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
