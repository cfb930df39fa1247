#!/usr/bin/env python
"""Guard BENCH_TREND.jsonl against silent per-query regressions.

Two checks, both mechanical so a round driver or CI step can gate on
the exit code instead of eyeballing:

1. Pairwise diff (last two same-sf entries): per-query delta table,
   flag anything over --threshold (default 60%: two back-to-back runs
   of IDENTICAL code on this box differ by up to ~50% per query —
   single-node, shared CPU — so anything tighter flags noise).
2. Trailing-median guard (round-9 verdict item 6): flag any query in
   the newest entry that exceeds --spike-factor (default 2.0) x its
   median over the up-to-3 PRIOR same-sf entries. This catches the
   curation_mixture_balance-style load spike the same round it
   happens, instead of a judge finding it next round. Medians need >=2
   prior entries for a key; newer keys are skipped (printed as "new").

Entries are compared only within the same (sf, cpus) group, the group
of the newest same-sf entry: the trend log also carries sf0.01 smoke
rows, and diffing a sf0.01 run against a sf0.1 run would flag
everything. Likewise a 32-core and an 8-core run of the same commit
differ by up to 20x on single keys. Rows written before bench.py
recorded ``cpus`` form their own group.

Driver-authored rows are EXCLUDED from both checks (round-10 verdict
item 3): the per-round boundary bench runs on the driver's capture box,
which measured 4-5x faster on text-heavy keys than any builder quiet-box
run (commit 9c53780) — an artifact of that environment, not a code
change. Leaving such rows in the trailing-median history biases medians
and diffs. A row is driver-authored iff the commit that ADDED its line
(``git blame --line-porcelain`` of the trend file) has a subject matching
the round-boundary pattern ("round N: verdict/advice/correctness/bench").
The row's own ``commit`` field is not used: a boundary commit tags its
rows with the builder commit it benchmarked. Rows whose adding commit
can't be resolved (untracked file, uncommitted line, no git) are kept
(fail open — a missing git object must not silence the guard).

Usage: python tools/bench_trend.py [--threshold 0.6] [--spike-factor 2.0]
                                   [--sf 0.1] [--trend-file PATH]
Exit 1 if either check flags a query. A flagged key means: re-run on a
quiet box; if it reproduces, .explain("formatted") the key and treat it
as a plan regression.
"""

from __future__ import annotations

import json
import re
import statistics
import subprocess
import sys
from pathlib import Path

_BOUNDARY_RE = re.compile(r"^round \d+: .*(verdict|correctness|bench)")
# --line-porcelain header: "<sha> <orig line> <final line>[ <group size>]"
_BLAME_HEADER_RE = re.compile(r"^([0-9a-f]{40}) \d+ (\d+)")


def _arg(flag: str, default, cast):
    if flag in sys.argv:
        return cast(sys.argv[sys.argv.index(flag) + 1])
    return default


_SUBJECT_CACHE: dict[str, bool] = {}


def _added_by(trend_path: Path) -> list:
    """Per line of ``trend_path``, the sha of the commit that added it
    (None for an uncommitted line); [] when git can't blame the file."""
    try:
        out = subprocess.run(
            ["git", "-C", str(trend_path.resolve().parent), "blame",
             "--line-porcelain", "--", trend_path.name],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.SubprocessError):
        return []
    if out.returncode != 0:
        return []
    shas: dict[int, str] = {}
    for ln in out.stdout.splitlines():
        m = _BLAME_HEADER_RE.match(ln)
        if m:
            shas[int(m.group(2))] = m.group(1)
    uncommitted = "0" * 40  # blame's sha for a not-yet-committed line
    return [
        None if shas.get(i, uncommitted) == uncommitted else shas[i]
        for i in range(1, max(shas, default=0) + 1)
    ]


def _is_driver_row(row: dict, repo: Path) -> bool:
    """True iff the commit that added the row's line (``row["_added_by"]``,
    set by :func:`run` from git blame) is a driver round-boundary
    commit (see module docstring). Unresolvable commits -> False."""
    commit = row.get("_added_by")
    if not commit:
        return False
    if commit in _SUBJECT_CACHE:
        return _SUBJECT_CACHE[commit]
    try:
        subject = subprocess.run(
            ["git", "-C", str(repo), "log", "-1", "--format=%s", commit],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip()
    except Exception:
        return False
    _SUBJECT_CACHE[commit] = bool(_BOUNDARY_RE.match(subject))
    return _SUBJECT_CACHE[commit]


def run(trend_path: Path, sf, threshold: float, spike_factor: float) -> int:
    added_by = _added_by(trend_path)
    lines = []
    for i, ln in enumerate(trend_path.read_text().splitlines()):
        if ln.strip():
            r = json.loads(ln)
            r["_added_by"] = added_by[i] if i < len(added_by) else None
            lines.append(r)
    if sf is None and lines:
        sf = lines[-1]["sf"]  # default: the sf of the newest entry
    repo = trend_path.resolve().parent
    driver = [_is_driver_row(r, repo) for r in lines]
    if any(driver):
        tags = sorted({str(r.get("commit")) for r, d in zip(lines, driver) if d})
        print(
            "excluding driver-authored boundary rows from guard history "
            f"({sum(driver)} rows, tagged commits: {', '.join(tags)})"
        )
    rows = [
        r for r, d in zip(lines, driver) if r.get("sf") == sf and not d
    ]
    cpus = rows[-1].get("cpus") if rows else None
    rows = [r for r in rows if r.get("cpus") == cpus]
    if len(rows) < 2:
        print(
            f"{len(rows)} sf={sf} cpus={cpus} entries in {trend_path.name}"
            " — nothing to diff"
        )
        return 0

    prev, cur = rows[-2], rows[-1]
    history = rows[:-1][-3:]  # up to 3 prior entries for the median guard
    print(
        f"sf={sf} cpus={cpus}  "
        f"prev={prev.get('commit')} total={prev['total_sec']}s  ->  "
        f"cur={cur.get('commit')} total={cur['total_sec']}s  "
        f"(median guard over {len(history)} prior)"
    )
    print(f"{'query':<28}{'prev':>8}{'cur':>8}{'delta':>9}{'med3':>8}")
    flagged: list[str] = []
    for key in cur["queries"]:
        c = cur["queries"][key]
        p = prev["queries"].get(key)
        hist = [r["queries"][key] for r in history if key in r["queries"]]
        med = statistics.median(hist) if len(hist) >= 2 else None
        med_s = f"{med:>8.3f}" if med is not None else f"{'--':>8}"
        if p is None:
            print(f"{key:<28}{'--':>8}{c:>8.3f}{'new':>9}{med_s}")
            continue
        pct = (c - p) / p if p else 0.0
        marks = []
        if pct > threshold:
            marks.append("REGRESSED")
        if med is not None and med > 0 and c > spike_factor * med:
            marks.append(f"SPIKE {c / med:.1f}x med")
        flag = (" <-- " + ", ".join(marks)) if marks else ""
        print(f"{key:<28}{p:>8.3f}{c:>8.3f}{pct:>+8.0%}{med_s}{flag}")
        if marks:
            flagged.append(key)
    if flagged:
        print(f"FLAGGED ({len(flagged)}): {', '.join(sorted(flagged))}")
    return 1 if flagged else 0


def main() -> int:
    threshold = _arg("--threshold", 0.6, float)
    spike_factor = _arg("--spike-factor", 2.0, float)
    sf = _arg("--sf", None, float)
    trend_path = _arg(
        "--trend-file",
        Path(__file__).resolve().parent.parent / "BENCH_TREND.jsonl",
        Path,
    )
    return run(Path(trend_path), sf, threshold, spike_factor)


if __name__ == "__main__":
    sys.exit(main())
