"""The benchmark's metric names and units, in one place.

``python3 perfbench/spec.py`` prints the ``BENCHMARK.json`` these lists
define; the self-check compares a run's printed metrics against it.
"""

from __future__ import annotations

import json

from workloads import CORE_KEYS, LLM_KEYS, WORKLOADS

RUN_SECONDS = 10

END_TO_END = [
    # (name, unit, better, bound)
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("key_geomean_s", "s", "lower", 0.25),
]

# Shares measured from this benchmark's traced passes (4 CPUs).
_WHY = {
    "analytics_sf0.01": (
        "6 keys at sf0.01: SQL views, agg, window, bfs fixpoint, minhash, Arrow "
        "UDF. Traced: build 75% of op time, exec 25%, outside jobs 60%; 47 jobs a "
        "pass. No q9: cent sums off DuckDB at sf1"
    ),
    "model_crud": (
        "Model/ParquetStore on 75k orders rows, 3 reads and 5 merge-rewrite writes "
        "a pass. Traced: writes 87% of op time, 4.2 jobs a write, 130 bytes "
        "written per user byte"
    ),
}


def _per_layer() -> list[tuple[str, str, str]]:
    out = [
        ("session.get_spark_s", "s", "lower"),
        ("registry.all_queries_s", "s", "lower"),
        ("warm_pass_s", "s", "lower"),
        ("catalog.load_table.calls", "count", "lower"),
        ("catalog.load_table_s", "s", "lower"),
        ("catalog.register_views_s", "s", "lower"),
    ]
    for layer in ("core", "llm"):
        out += [
            (f"{layer}.build_s", "s", "lower"),
            (f"{layer}.exec_s", "s", "lower"),
            (f"{layer}.build_jobs", "count", "lower"),
            (f"{layer}.exec_jobs", "count", "lower"),
            (f"{layer}.stages", "count", "lower"),
            (f"{layer}.skipped_stages", "count", "higher"),
            (f"{layer}.tasks", "count", "lower"),
            (f"{layer}.driver_only_s", "s", "lower"),
        ]
    for key in CORE_KEYS + LLM_KEYS:
        out += [
            (f"q.{key}.s", "s", "lower"),
            (f"q.{key}.build_s", "s", "lower"),
            (f"q.{key}.jobs", "count", "lower"),
        ]
    out += [
        ("executor_run_s", "s", "lower"),
        ("executor_cpu_s", "s", "lower"),
        ("jvm_gc_s", "s", "lower"),
        ("input_bytes", "bytes", "lower"),
        ("shuffle_read_bytes", "bytes", "lower"),
        ("shuffle_write_bytes", "bytes", "lower"),
        ("spill_bytes", "bytes", "lower"),
        ("read_p50_s", "s", "lower"),
        ("write_p50_s", "s", "lower"),
        ("model.read_s", "s", "lower"),
        ("model.save_s", "s", "lower"),
        ("store.insert_s", "s", "lower"),
        ("store.update_s", "s", "lower"),
        ("store.upsert_s", "s", "lower"),
        ("store.delete_s", "s", "lower"),
        ("store.scan_s", "s", "lower"),
        ("store.jobs_per_write", "count", "lower"),
        ("store.bytes_written_per_user_byte", "ratio", "lower"),
        ("store.part_files", "count", "lower"),
        ("op_p50_s", "s", "lower"),
        ("op_tail_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
        ("calib.job_s", "s", "lower"),
        ("calib.task_s", "s", "lower"),
        ("trace.overhead", "ratio", "lower"),
        ("trace.unattributed_jobs", "count", "lower"),
        ("trace.unspanned_op_share", "ratio", "lower"),
    ]
    return out


PER_LAYER = _per_layer()


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": _WHY[n]} for n in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound}
            for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
