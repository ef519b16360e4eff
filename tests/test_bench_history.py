"""The bench-history gate must be red on a REAL regression and green on
box noise — proven both ways against the actual committed bench maps
(r9 verdict: "a gate that is red on noise and has never been shown red
on a real regression protects nothing"). Pure map math, no Spark.
"""

from __future__ import annotations

import copy
import importlib.util
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_spec = importlib.util.spec_from_file_location(
    "bench_history", REPO / "scripts" / "bench_history.py"
)
bench_history = importlib.util.module_from_spec(_spec)
sys.modules["bench_history"] = bench_history
_spec.loader.exec_module(bench_history)  # type: ignore[union-attr]


def _real_maps():
    cur = bench_history._load_map(None)
    old = bench_history._load_map(bench_history._oldest_committed_rev())
    return cur, old


def test_green_on_driver_refresh_box_noise():
    """The driver's r9 bench refresh (calibration 0.4398 vs the builder's
    0.205 — a 1.6x box swing with a further CPU residual) must NOT trip
    the gate: its only unjustified >2x ratio is a sub-second query whose
    absolute excess is ~0.4s, pure residual drift."""
    cur, old = _real_maps()
    res = bench_history.compare_maps(cur, old)
    assert not res["unjustified"], f"gate red on box noise: {res['unjustified']}"
    # The r9 flap case specifically: ratio may exceed 2x, excess stays
    # under the floor (if future maps drop below 2x entirely, that's fine).
    wq = res["ratios"].get("work_queue_next_slice")
    if wq is not None and wq > 2.0:
        assert res["excess_sec"]["work_queue_next_slice"] <= 1.0


def test_red_on_planted_regression():
    """Plant a real-magnitude regression into the actual current map — a
    query 4x slower and +3s absolute (the signature of e.g. an injected
    .repartition(200) in its plan) — and require the gate to flag it."""
    cur, old = _real_maps()
    planted = copy.deepcopy(cur)
    victim = "top_parts_by_revenue"  # registered since round 1, unjustified
    assert victim in planted["queries"] and victim in old["queries"]
    assert victim not in bench_history.JUSTIFIED
    planted["queries"][victim] = planted["queries"][victim] * 4 + 3.0
    res = bench_history.compare_maps(planted, old)
    assert victim in res["unjustified"], (
        f"gate missed a planted 4x/+3s regression on {victim}: "
        f"ratio={res['ratios'][victim]:.2f} excess={res['excess_sec'][victim]:.2f}"
    )


def test_red_on_planted_uniform_creep_survivor():
    """The floor must not neuter the threshold: a 2.5x/+2s planted creep
    on a mid-cost query still flags even though a 2.15x/0.4s one doesn't."""
    cur, old = _real_maps()
    planted = copy.deepcopy(cur)
    victim = "top_parts_by_revenue"
    base = max(planted["queries"][victim], 1.5)
    planted["queries"][victim] = base * 2.5
    res = bench_history.compare_maps(planted, old)
    assert victim in res["unjustified"]


def test_red_on_planted_regression_atop_justified_growth():
    """release_export_replay's round-10 growth is justified (payload-
    skinny cascade), but the justification must not become a blank check:
    a planted 2x-on-top regression still lands in `flagged` — and since
    JUSTIFIED silences it, this test documents the residual exposure by
    asserting the flag fires at the mechanism level (ratio + excess both
    trip) on top of the justified baseline."""
    import json
    import subprocess

    victim = "release_export_replay"
    assert victim in bench_history.JUSTIFIED
    cur = bench_history._load_map(None)
    # The round-1 baseline predates the query; gate against the OLDEST
    # committed map that carries it (bench_history --baseline REV covers
    # this comparison for real once the default baseline rolls forward).
    revs = subprocess.run(
        ["git", "-C", str(REPO), "log", "--format=%H", "--", "BENCH_FULL.json"],
        capture_output=True, text=True, check=True,
    ).stdout.split()
    old = None
    for rev in reversed(revs):
        try:
            m = bench_history._load_map(rev)
        except (subprocess.CalledProcessError, json.JSONDecodeError):
            continue
        if victim in m["queries"]:
            old = m
            break
    assert old is not None, "no committed BENCH_FULL.json carries the victim"
    planted = copy.deepcopy(cur)
    planted["queries"][victim] = planted["queries"][victim] * 2 + 3.0
    res = bench_history.compare_maps(planted, old)
    assert victim in res["flagged"], (
        f"planted 2x/+3s on top of the justified baseline did not trip the "
        f"mechanism: ratio={res['ratios'][victim]:.2f}"
    )


def test_cpu_probe_preferred_when_both_maps_carry_it():
    """Normalization preference: CPU probe > IO probe > panel median."""
    old = {
        "queries": {"a": 1.0, "b": 2.0},
        "calibration_sec": 0.2,
        "calibration_cpu_sec": 1.0,
    }
    # Box got 2x slower by CPU, IO probe only shows 1.25x: per-query times
    # doubled uniformly -> CPU normalization sees ratio 1.0 everywhere.
    cur = {
        "queries": {"a": 2.0, "b": 4.0},
        "calibration_sec": 0.25,
        "calibration_cpu_sec": 2.0,
    }
    res = bench_history.compare_maps(cur, old)
    assert res["mode"].startswith("true CPU-calibration")
    assert abs(res["ratios"]["a"] - 1.0) < 1e-9
    assert not res["flagged"]
    # Same maps WITHOUT the CPU probe: IO normalization misattributes the
    # residual 1.6x to the queries — exactly the r9 blind spot — but the
    # floor still holds the small-absolute case back.
    for m in (old, cur):
        m.pop("calibration_cpu_sec")
    res_io = bench_history.compare_maps(cur, old)
    assert res_io["mode"].startswith("true IO-calibration")
    assert res_io["ratios"]["a"] > 1.5


def _main_against_head(monkeypatch, cur: dict) -> tuple[int, dict]:
    """Run ``main --baseline HEAD`` with ``cur`` as the working-tree map;
    return its exit code and the comparison it printed."""
    runs = []
    compare = bench_history.compare_maps
    load = bench_history._load_map
    monkeypatch.setattr(
        bench_history, "compare_maps", lambda *a, **k: runs.append(compare(*a, **k)) or runs[-1]
    )
    monkeypatch.setattr(
        bench_history, "_load_map", lambda rev: copy.deepcopy(cur) if rev is None else load(rev)
    )
    code = bench_history.main(["--baseline", "HEAD"])
    return code, runs[0]


def test_baseline_head_green_on_unchanged_map(monkeypatch):
    """The before/after compare around a bench refresh: the committed map
    against itself passes, every normalized ratio exactly 1.0."""
    code, res = _main_against_head(monkeypatch, bench_history._load_map("HEAD"))
    assert code == 0
    assert set(res["ratios"].values()) == {1.0}


def test_baseline_head_red_on_planted_regression(monkeypatch):
    cur = bench_history._load_map("HEAD")
    victim = "top_parts_by_revenue"
    cur["queries"][victim] = cur["queries"][victim] * 4 + 3.0
    code, res = _main_against_head(monkeypatch, cur)
    assert code == 1
    assert set(res["unjustified"]) == {victim}
