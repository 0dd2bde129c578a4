#!/usr/bin/env python3
"""Judge interleaved parent/change runs of the pipeline benchmark.

Usage: python3 tools/ab_pairs.py RESULTS.txt [--benchmark BENCHMARK.json]

RESULTS.txt holds one run per line: `<workload> <side> <seed> <json>`, where
<side> is `parent` or `change` and <json> is the last stdout line of
`perfbench/run.py --trace 0` for that workload and seed. A pair is the two
sides' runs of one workload on one seed.

For every workload and every end-to-end metric that BENCHMARK.json lists it
prints each side's median and quartiles, the change's wins over the pairs
(ties count for neither), and a verdict by the sandbox rule of the
choosing-metrics guide (section 8):

  improved    the change wins >= 9/10 of at least ten pairs, and the medians
              differ, in the better direction, by more than the parent's
              Q3 - Q1;
  no worse    the change's median is worse than the parent's by at most the
              metric's relative bound;
  worse       it is worse by more than the bound;
  unresolved  either side's Q3 - Q1 exceeds the bound (relative to its
              median) and the change does not beat every parent run with
              every run of its own.

Runs whose line carries no JSON result are counted and reported, not judged.
"""
import argparse
import json
import os
import statistics
from collections import defaultdict

SIDES = ("parent", "change")
MIN_PAIRS = 10
WIN_SHARE = 0.9


def parse(lines):
    """-> ({(workload, side): {seed: result}}, [unparsed lines])"""
    runs, bad = defaultdict(dict), []
    for line in lines:
        if not line.strip():
            continue
        parts = line.strip().split(" ", 3)
        if len(parts) < 4 or parts[1] not in SIDES:
            bad.append(line.rstrip("\n"))
            continue
        wl, side, seed, payload = parts
        try:
            runs[(wl, side)][int(seed)] = json.loads(payload)
        except ValueError:
            bad.append(line.rstrip("\n"))
    return runs, bad


def quartiles(xs):
    """(Q1, median, Q3); a single value is its own quartiles."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def fmt(x):
    return f"{x:.3f}" if abs(x) < 100 else f"{x:.0f}"


def verdict(parent, change, pairs, better, bound):
    """Judge one metric of one workload. `parent`/`change` are all runs of
    each side, `pairs` the (parent, change) values matched by seed."""
    sign = 1 if better == "lower" else -1   # sign * (a - b) > 0: b is better
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(parent), quartiles(change)
    gain = sign * (pmed - cmed)
    if (len(pairs) >= MIN_PAIRS and wins >= WIN_SHARE * len(pairs)
            and gain > pq3 - pq1):
        return wins, "improved"
    spread = max((pq3 - pq1) / abs(pmed) if pmed else 0.0,
                 (cq3 - cq1) / abs(cmed) if cmed else 0.0)
    dominates = all(sign * (p - c) > 0 for p in parent for c in change)
    if spread > bound and not dominates:
        return wins, "unresolved"
    worse_by = -gain / abs(pmed) if pmed else 0.0
    return wins, "worse" if worse_by > bound else "no worse"


def table(runs, end_to_end):
    """Markdown rows: one per workload and end-to-end metric, then ops."""
    out = ["| workload | metric | parent median (Q1–Q3) | change median (Q1–Q3) "
           "| change wins | verdict |", "|---|---|---|---|---|---|"]
    for wl in sorted({w for w, _ in runs}):
        by_side = {s: runs.get((wl, s), {}) for s in SIDES}
        seeds = sorted(set(by_side["parent"]) & set(by_side["change"]))
        for m in end_to_end:
            name = m["name"]

            def value(side, seed):
                v = by_side[side][seed].get("metrics", {}).get(name)
                return None if v is None else v["value"]

            vals = {s: [x for x in (value(s, k) for k in sorted(by_side[s]))
                        if x is not None] for s in SIDES}
            if not vals["parent"] or not vals["change"]:
                continue
            pairs = [(value("parent", k), value("change", k)) for k in seeds]
            pairs = [(p, c) for p, c in pairs if p is not None and c is not None]
            wins, v = verdict(vals["parent"], vals["change"], pairs,
                              m["better"], m["bound"])
            cells = []
            for s in SIDES:
                q1, med, q3 = quartiles(vals[s])
                cells.append(f"{fmt(med)} ({fmt(q1)}–{fmt(q3)}) n={len(vals[s])}")
            out.append(f"| {wl} | {name} | {cells[0]} | {cells[1]} "
                       f"| {wins}/{len(pairs)} | {v} |")
        ops = []
        for s in SIDES:
            rs = by_side[s].values()
            ops.append(f"{sum(r.get('failed', 0) for r in rs)}/"
                       f"{sum(r.get('attempted', 0) for r in rs)}")
        out.append(f"| {wl} | ops failed/attempted | {ops[0]} | {ops[1]} | | |")
    return out


def main():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser()
    ap.add_argument("results")
    ap.add_argument("--benchmark", default=os.path.join(root, "BENCHMARK.json"))
    ns = ap.parse_args()
    with open(ns.benchmark) as f:
        end_to_end = json.load(f)["end_to_end"]
    with open(ns.results) as f:
        runs, bad = parse(f)
    print("\n".join(table(runs, end_to_end)))
    if bad:
        print(f"\n{len(bad)} run(s) without a result:")
        for line in bad:
            print(f"  {line[:120]}")


if __name__ == "__main__":
    main()
