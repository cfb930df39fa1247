"""tools/bench_trend.py guard (round-9 verdict item 6): a query whose
newest timing exceeds 2x its trailing-3-round median must fail the run
loudly (exit 1), same-sf entries only. Pure-python: writes a synthetic
trend file, no Spark."""

from __future__ import annotations

import importlib.util
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

spec = importlib.util.spec_from_file_location(
    "bench_trend", REPO / "tools" / "bench_trend.py"
)
bench_trend = importlib.util.module_from_spec(spec)
sys.modules["bench_trend"] = bench_trend
spec.loader.exec_module(bench_trend)


def _write(tmp_path: Path, rows: list[dict]) -> Path:
    p = tmp_path / "trend.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
    return p


def _row(commit: str, sf: float, queries: dict) -> dict:
    return {
        "ts": 0.0,
        "commit": commit,
        "sf": sf,
        "total_sec": round(sum(queries.values()), 4),
        "queries": queries,
    }


def test_synthetic_spike_flagged(tmp_path, capsys):
    base = {"q_fast": 0.30, "q_big": 2.00}
    rows = [
        _row("aaa", 0.1, dict(base)),
        _row("bbb", 0.1, {"q_fast": 0.32, "q_big": 1.90}),
        _row("ccc", 0.1, {"q_fast": 0.28, "q_big": 2.10}),
        # spike: q_big jumps to 5.1s = 2.55x the 2.0 median but only
        # +143% vs prev -> must be caught by the MEDIAN guard even if
        # someone raises --threshold
        _row("ddd", 0.1, {"q_fast": 0.31, "q_big": 5.10}),
    ]
    p = _write(tmp_path, rows)
    rc = bench_trend.run(p, None, threshold=10.0, spike_factor=2.0)
    out = capsys.readouterr().out
    assert rc == 1
    assert "SPIKE" in out and "q_big" in out.split("FLAGGED")[1]


def test_quiet_run_passes(tmp_path):
    rows = [
        _row("aaa", 0.1, {"q": 1.00, "r": 0.40}),
        _row("bbb", 0.1, {"q": 1.10, "r": 0.38}),
        _row("ccc", 0.1, {"q": 0.95, "r": 0.44}),
        _row("ddd", 0.1, {"q": 1.05, "r": 0.41}),
    ]
    assert bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0) == 0


def test_cross_sf_rows_are_ignored(tmp_path):
    # an sf0.01 smoke row between two sf0.1 rows must not be diffed
    # against them (everything would look 5-10x faster/slower)
    rows = [
        _row("aaa", 0.1, {"q": 1.00}),
        _row("bbb", 0.1, {"q": 1.02}),
        _row("sss", 0.01, {"q": 0.11}),
        _row("ccc", 0.1, {"q": 0.98}),
    ]
    assert bench_trend.run(_write(tmp_path, rows), 0.1, 0.6, 2.0) == 0
    # and the default sf is the newest entry's sf
    assert bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0) == 0


def test_rows_with_different_cpus_are_never_diffed(tmp_path, capsys):
    # a 32-core and an 8-core run of the same commit differ only in
    # cpus: the 20x spike between them is box width, not a regression
    rows = [
        _row("aaa", 0.1, {"q": 2.00}) | {"cpus": 32},
        _row("aaa", 0.1, {"q": 40.0}) | {"cpus": 8},
    ]
    assert bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0) == 0
    assert "nothing to diff" in capsys.readouterr().out
    # a later 32-core row is diffed against the 32-core row only
    rows.append(_row("bbb", 0.1, {"q": 2.10}) | {"cpus": 32})
    assert bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0) == 0
    assert "prev=aaa total=2.0s" in capsys.readouterr().out


def test_new_key_not_flagged(tmp_path, capsys):
    rows = [
        _row("aaa", 0.1, {"q": 1.00}),
        _row("bbb", 0.1, {"q": 1.02}),
        _row("ccc", 0.1, {"q": 0.99, "brand_new": 3.00}),
    ]
    rc = bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0)
    assert rc == 0
    assert "new" in capsys.readouterr().out


def test_real_trend_file_parses():
    # the committed trend log must stay consumable by the guard
    rc = bench_trend.run(REPO / "BENCH_TREND.jsonl", None, 10.0, 1e9)
    assert rc == 0


def test_driver_boundary_rows_excluded(tmp_path, capsys, monkeypatch):
    """Round-10 verdict item 3: a driver-authored round-boundary row
    (4-5x faster capture-box artifact) must not sit in the
    trailing-median history NOR be the pairwise-diff baseline — without
    the exclusion, the fast row makes the next honest run look like a
    spike."""
    monkeypatch.setattr(
        bench_trend, "_is_driver_row", lambda r, repo: r["commit"] == "drv"
    )
    rows = [
        _row("aaa", 0.1, {"q": 2.00}),
        _row("bbb", 0.1, {"q": 2.10}),
        _row("ccc", 0.1, {"q": 1.95}),
        _row("drv", 0.1, {"q": 0.45}),  # driver capture artifact
        _row("ddd", 0.1, {"q": 2.05}),  # honest run: 4.5x the drv row
    ]
    rc = bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0)
    out = capsys.readouterr().out
    assert "drv" in out and "excluding" in out
    assert rc == 0  # vs honest history ddd is quiet
    # control: WITH the driver row in history the same data flags
    monkeypatch.setattr(bench_trend, "_is_driver_row", lambda r, repo: False)
    rc2 = bench_trend.run(_write(tmp_path, rows), None, 0.6, 2.0)
    assert rc2 == 1


def test_unresolvable_commits_fail_open():
    # tmp-dir trend files aren't in a git repo: _is_driver_row must
    # return False (keep the row) instead of raising
    assert bench_trend._is_driver_row({"commit": "zzzzzzz"}, REPO) is False
    assert bench_trend._is_driver_row({"commit": None}, REPO) is False


def _git(repo: Path, *args: str) -> str:
    import subprocess

    return subprocess.run(
        ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t@t",
         "-c", "commit.gpgsign=false", *args],
        check=True, capture_output=True, text=True,
    ).stdout.strip()


def test_boundary_row_classified_by_adding_commit(tmp_path, capsys):
    """A round-boundary commit appends a row TAGGED with the builder
    commit it benchmarked: the row must still count as driver-authored,
    because the commit that added its line is the boundary commit. An
    uncommitted appended line can't be blamed and is kept (fail open)."""
    _git(tmp_path, "init", "-q")
    honest = [
        _row("aaa", 0.1, {"q": 2.00}),
        _row("bbb", 0.1, {"q": 2.10}),
        _row("ccc", 0.1, {"q": 1.95}),
    ]
    p = _write(tmp_path, honest)
    _git(tmp_path, "add", p.name)
    _git(tmp_path, "commit", "-q", "-m", "Add the engine")
    builder = _git(tmp_path, "rev-parse", "--short", "HEAD")

    def append(row: dict) -> None:
        with p.open("a") as f:
            f.write(json.dumps(row) + "\n")

    append(_row(builder, 0.1, {"q": 0.45}))  # capture-box artifact
    _git(tmp_path, "commit", "-qam", "round 16: verdict/advice/correctness/bench")
    append(_row("ddd", 0.1, {"q": 2.05}))  # honest run: 4.5x the drv row
    _git(tmp_path, "commit", "-qam", "Tune the engine")

    assert bench_trend.run(p, None, 0.6, 2.0) == 0
    out = capsys.readouterr().out
    assert "excluding" in out and builder in out and "prev=ccc" in out

    # uncommitted line: no adding commit -> kept, and it is diffed
    append(_row("eee", 0.1, {"q": 0.40}))
    assert bench_trend.run(p, None, 0.6, 2.0) == 0
    assert "cur=eee" in capsys.readouterr().out
