"""bench.py stdout contract: the round driver tails the last 2000 chars
of combined output and json-parses the final line found there. Round 9's
line overflowed that window (BENCH_r09 ``parsed: null``); these tests pin
the fix — the rendered line must fit with margin for ANY plausible timing
map, including the real 80-key round-9 data and adversarial inflations.
No Spark session needed: the renderer is pure.
"""

from __future__ import annotations

import json
from pathlib import Path

import bench

REPO = Path(__file__).resolve().parent.parent


def _real_timings() -> dict[str, float]:
    rows = [
        json.loads(ln)
        for ln in (REPO / "BENCH_TREND.jsonl").read_text().splitlines()
        if ln.strip()
    ]
    # last entry with the widest key set (the 80-key round-9 runs)
    return max(rows, key=lambda r: len(r["queries"]))["queries"]


def _assert_accounted(parsed: dict, t: dict) -> None:
    """The line-fit contract: every headline key is either in the map
    or declared omitted; any omission drops only the cheapest keys."""
    kept = parsed["queries"]
    n_omitted = parsed.get("queries_omitted", 0)
    assert len(kept) + n_omitted == len(t)
    assert set(kept) <= set(t)
    if n_omitted:
        kept_min = min(t[k] for k in kept)
        dropped = [t[k] for k in t if k not in kept]
        assert max(dropped) <= kept_min + 0.6  # cheapest keys dropped


def test_real_key_map_fits_with_full_accounting() -> None:
    # The real trend rows now exceed the always-fits width (86+ keys at
    # round 11): the contract is fit + parse + FULL accounting, with
    # any omission declared and spent on the cheapest keys only.
    t = _real_timings()
    assert len(t) >= 80
    line = bench._render_stdout_line(sum(t.values()), t, 0.1)
    assert len(line) <= bench._STDOUT_LINE_LIMIT
    assert "\n" not in line
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_sec"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    _assert_accounted(parsed, t)
    # the expensive keys (the ones the judge compares) always survive
    by_cost = sorted(t, key=t.get, reverse=True)
    assert set(by_cost[:60]) <= set(parsed["queries"])


def test_inflated_values_still_fit() -> None:
    # Under heavy load every timing can grow past 10 s — more digits per
    # value. The adaptive tiers must still land under the window.
    t = {k: v * 37.3 for k, v in _real_timings().items()}
    line = bench._render_stdout_line(sum(t.values()), t, 0.1)
    assert len(line) <= bench._STDOUT_LINE_LIMIT
    parsed = json.loads(line)
    _assert_accounted(parsed, t)


def test_many_keys_degrade_not_overflow() -> None:
    # Future rounds add headline keys; the renderer degrades precision
    # (then, only past the physical window limit, drops cheapest keys
    # with an explicit queries_omitted count) instead of overflowing.
    t = {f"some_future_operator_key_{i:03d}": 0.1234 + i / 97 for i in range(110)}
    line = bench._render_stdout_line(sum(t.values()), t, 0.1)
    assert len(line) <= bench._STDOUT_LINE_LIMIT
    parsed = json.loads(line)
    n_kept = len(parsed["queries"])
    assert n_kept + parsed.get("queries_omitted", 0) == 110
    # ~33 chars/entry at these deliberately long names -> ~54 fit; real
    # headline names average ~18 chars so real capacity is far higher.
    assert n_kept >= 50
    if parsed.get("queries_omitted"):
        # dropped keys are the cheapest ones
        kept_min = min(parsed["queries"].values())
        dropped = [v for k, v in t.items() if k not in parsed["queries"]]
        assert max(dropped) <= kept_min + 0.6


def test_bare_count_branch_carries_omitted_digest(monkeypatch) -> None:
    """When keys are dropped, the line must carry `omitted_hash` = md5
    of the sorted dropped-key list, so a reader can verify WHICH keys
    were dropped against BENCH_TREND.jsonl's full map instead of
    trusting a bare count. The digest must be reproducible from the
    kept/full key sets alone."""
    import hashlib

    t = {f"k{i:02d}": 1.0e11 + i * 9.97e8 for i in range(40)}
    monkeypatch.setattr(bench, "_STDOUT_LINE_LIMIT", 400)
    parsed = json.loads(bench._render_stdout_line(sum(t.values()), t, 0.1))
    assert parsed.get("queries_omitted", 0) > 0
    assert "omitted_keys" not in parsed
    dropped = sorted(k for k in t if k not in parsed["queries"])
    assert len(dropped) == parsed["queries_omitted"]
    expect = hashlib.md5(",".join(dropped).encode()).hexdigest()[:12]
    assert parsed["omitted_hash"] == expect


def test_precision_kept_when_it_fits() -> None:
    t = {"a_key": 0.2567, "b_key": 5.0312}
    parsed = json.loads(bench._render_stdout_line(5.2879, t, 0.01))
    assert parsed["queries"]["a_key"] == 0.26
    assert parsed["queries"]["b_key"] == 5.03


def test_headline_keys_all_registered() -> None:
    # a typo'd HEADLINE entry silently drops the key from the bench
    # (bench.py filters to registered keys) — catch it here instead
    from hive_2_spark import registry

    q = registry.all_queries()
    missing = [k for k in bench.HEADLINE if k not in q]
    assert missing == [], missing
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_tail_window_parse_simulation() -> None:
    # Exactly what the driver does: keep the last 2000 chars, parse the
    # final line. Prepend stage-progress noise like a real run.
    t = _real_timings()
    line = bench._render_stdout_line(sum(t.values()), t, 0.1)
    stream = ("\r[Stage 999:>   (0 + 1) / 1]\r" * 200) + line + "\n"
    tail = stream[-2000:]
    last = [ln for ln in tail.splitlines() if ln.strip()][-1]
    assert json.loads(last)["queries"] == json.loads(line)["queries"]
