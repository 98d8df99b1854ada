#!/usr/bin/env python3
"""Pair the benchmark artifacts of two checkouts and judge each metric.

Usage: python3 scripts/perfpairs.py <parent_out_dir> <change_out_dir>
  Each directory holds `perfbench/out/<workload>-seed<N>-trace0.json`
  artifacts from one checkout (run the same seeds on both, alternating
  which side runs first). Artifacts are paired by (workload, seed); an
  artifact without a partner is listed and left out.

For every end-to-end metric of every workload it prints each side's
median and quartiles, the number of pairs the change won (ties count
for neither side) and the verdict of the claim rule: the change wins at
least 9 of every 10 pairs AND its median beats the parent's by more
than the parent's interquartile range. Whether lower or higher is better
comes from BENCHMARK.json (`end_to_end[].better`, default lower). Runs
that were not correct or had failed operations are counted per side.
"""
import glob
import json
import os
import re
import statistics
import sys

NAME = re.compile(r"^(?P<workload>.+)-seed(?P<seed>\d+)-trace0\.json$")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(out_dir):
    runs = {}
    for path in glob.glob(os.path.join(out_dir, "*-trace0.json")):
        m = NAME.match(os.path.basename(path))
        if m:
            with open(path) as f:
                runs[(m["workload"], int(m["seed"]))] = json.load(f)
    return runs


def quartiles(xs):
    """(q1, median, q3) by linear interpolation between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def better_directions():
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return {m["name"]: m.get("better", "lower") for m in json.load(f)["end_to_end"]}
    except (OSError, KeyError, ValueError):
        return {}


def judge(parent, change, lower_is_better):
    """Per-metric summary over paired values (parent[i], change[i])."""
    sign = 1.0 if lower_is_better else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    pq1, pmed, pq3 = quartiles(parent)
    cq1, cmed, cq3 = quartiles(change)
    gain = sign * (pmed - cmed)
    iqr = pq3 - pq1
    claim = wins * 10 >= 9 * len(parent) and gain > iqr
    return {"parent": (pq1, pmed, pq3), "change": (cq1, cmed, cq3),
            "wins": wins, "losses": losses, "pairs": len(parent),
            "gain": gain, "parent_iqr": iqr, "claim": claim}


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    parent_runs, change_runs = load(sys.argv[1]), load(sys.argv[2])
    keys = sorted(parent_runs.keys() & change_runs.keys())
    for k in sorted(parent_runs.keys() ^ change_runs.keys()):
        side = "parent" if k in parent_runs else "change"
        print(f"unpaired: {k[0]} seed {k[1]} ({side} only)")
    better = better_directions()
    for workload in sorted({w for w, _ in keys}):
        pairs = [(parent_runs[k], change_runs[k]) for k in keys if k[0] == workload]
        seeds = [s for w, s in keys if w == workload]
        print(f"\n{workload}: {len(pairs)} pairs, seeds {seeds}")
        for side, i in (("parent", 0), ("change", 1)):
            bad = sum(1 for p in pairs if not p[i]["correct"] or p[i]["failed"])
            print(f"  {side}: {bad} of {len(pairs)} runs incorrect or with failures")
        metrics = [m for m in pairs[0][0]["metrics"] if all(
            isinstance(r["metrics"].get(m, {}).get("value"), (int, float))
            for p in pairs for r in p)]
        print(f"  {'metric':<14}{'parent q1/med/q3':>28}{'change q1/med/q3':>28}"
              f"{'won':>8}{'gain':>10}{'p.IQR':>9}  verdict")
        for m in metrics:
            lower = better.get(m, "lower") == "lower"
            r = judge([p[0]["metrics"][m]["value"] for p in pairs],
                      [p[1]["metrics"][m]["value"] for p in pairs], lower)
            fmt = lambda q: "/".join(f"{v:.3f}" for v in q)
            verdict = "gain holds" if r["claim"] else "no gain"
            print(f"  {m:<14}{fmt(r['parent']):>28}{fmt(r['change']):>28}"
                  f"{r['wins']:>4}/{r['pairs']:<3}{r['gain']:>10.3f}{r['parent_iqr']:>9.3f}"
                  f"  {verdict} ({r['losses']} lost)")


if __name__ == "__main__":
    main()
