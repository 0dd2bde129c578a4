"""Tests for ab_pairs.py: python3 -m pytest -q tools"""
import json

import ab_pairs

METRICS = [{"name": "pass_s", "better": "lower", "bound": 0.25},
           {"name": "rows_per_s", "better": "higher", "bound": 0.25}]


def line(wl, side, seed, pass_s, failed=0):
    res = {"correct": True, "attempted": 5, "failed": failed,
           "metrics": {"pass_s": {"value": pass_s, "unit": "s"},
                       "rows_per_s": {"value": 1000 / pass_s, "unit": "rows/s"}}}
    return f"{wl} {side} {seed} {json.dumps(res)}"


def rows(lines):
    runs, bad = ab_pairs.parse(lines)
    return {tuple(c.strip() for c in r.split("|")[1:3]): r
            for r in ab_pairs.table(runs, METRICS)[2:]}, bad


def test_ten_clear_wins_improve_both_directions():
    lines = []
    for seed in range(10):
        lines += [line("w", "parent", seed, 7.0 + 0.1 * seed),
                  line("w", "change", seed, 5.0 + 0.1 * seed)]
    out, bad = rows(lines)
    assert not bad
    assert out[("w", "pass_s")].rstrip().endswith("| 10/10 | improved |")
    assert out[("w", "rows_per_s")].rstrip().endswith("| 10/10 | improved |")
    assert "0/50" in out[("w", "ops failed/attempted")]


def test_too_few_pairs_is_not_a_gain():
    lines = []
    for seed in range(6):
        lines += [line("w", "parent", seed, 7.0), line("w", "change", seed, 5.0)]
    out, _ = rows(lines)
    assert out[("w", "pass_s")].rstrip().endswith("| 6/6 | no worse |")


def test_worse_beyond_bound_and_wide_spread():
    lines = []
    for seed in range(10):
        lines += [line("w", "parent", seed, 4.0), line("w", "change", seed, 6.0)]
        lines += [line("v", "parent", seed, 4.0 + 4 * (seed % 2)),
                  line("v", "change", seed, 4.5 + 4 * (seed % 2))]
    out, _ = rows(lines)
    assert out[("w", "pass_s")].rstrip().endswith("| 0/10 | worse |")
    assert out[("v", "pass_s")].rstrip().endswith("| 0/10 | unresolved |")


def test_runs_without_a_result_are_reported():
    runs, bad = ab_pairs.parse([line("w", "parent", 1, 5.0), "w change 1 ", ""])
    assert set(runs) == {("w", "parent")}
    assert bad == ["w change 1 "]
