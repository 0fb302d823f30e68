#!/usr/bin/env python3
"""Compare two sets of benchmark runs (run artifacts from .perfbench/runs/).

    python3 perfbench/compare.py --base A/*.json --change B/*.json

Per workload and end-to-end metric: both sides' medians and quartiles, the
fraction of pairs the change wins (pairs by seed, else by run order; ties
count for neither), and a verdict under the BENCHMARK.json bound:

  gain          the change wins >= 90% of pairs and the medians differ by
                more than the base's own quartile distance
  regression    the change's median is worse by more than the bound
  unresolved    the base's quartile distance exceeds the bound and the
                change does not read better on every run
  within bound  otherwise

Then, from the traced runs of each side, the per-layer metrics and span
self times ranked by how much they moved, so a slowdown points at a
module or phase.
"""

import argparse
import json
import os
import statistics
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(paths):
    runs = defaultdict(lambda: {"plain": [], "traced": []})
    for p in paths:
        a = json.load(open(p))
        runs[a["workload"]]["traced" if a["trace"] else "plain"].append(a)
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(base, change):
    """Pairs by seed where both sides ran it, else by position."""
    bs, cs = {a["seed"]: a for a in base}, {a["seed"]: a for a in change}
    common = sorted(set(bs) & set(cs))
    if len(common) >= min(len(base), len(change)):
        return [(bs[s], cs[s]) for s in common]
    return list(zip(base, change))


def verdict(b, c, wins, n_pairs, bound, lower):
    bq1, bmed, bq3 = quartiles(b)
    cmed = statistics.median(c)
    worse = (cmed - bmed) if lower else (bmed - cmed)
    spread = (bq3 - bq1) / abs(bmed) if bmed else float("inf")
    all_better = (max(c) < min(b)) if lower else (min(c) > max(b))
    if spread > bound and not all_better:
        return "unresolved"
    if n_pairs and wins / n_pairs >= 0.9 and worse < 0 and -worse > bq3 - bq1:
        return "gain"
    if worse > bound * abs(bmed):
        return "regression"
    return "within bound"


def main():
    ap = argparse.ArgumentParser(description="Compare two sets of benchmark runs.")
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--change", nargs="+", required=True)
    ap.add_argument("--top", type=int, default=15)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    e2e = spec["end_to_end"]
    base, change = load(a.base), load(a.change)

    print(f"{'workload':<10} {'metric':<18} {'base q1/med/q3':>28} {'change q1/med/q3':>28}"
          f" {'wins':>6} verdict")
    for wl in sorted(set(base) & set(change)):
        b_runs, c_runs = base[wl]["plain"], change[wl]["plain"]
        if not b_runs or not c_runs:
            continue
        ps = pairs(b_runs, c_runs)
        for m in e2e:
            name, lower = m["name"], m["better"] == "lower"
            b = [r["end_to_end"][name] for r in b_runs]
            c = [r["end_to_end"][name] for r in c_runs]
            pw = [(x["end_to_end"][name], y["end_to_end"][name]) for x, y in ps]
            wins = sum((y < x) if lower else (y > x) for x, y in pw)
            v = verdict(b, c, wins, len(pw), m["bound"], lower)
            fb = "/".join(f"{q:.4g}" for q in quartiles(b))
            fc = "/".join(f"{q:.4g}" for q in quartiles(c))
            print(f"{wl:<10} {name:<18} {fb:>28} {fc:>28} {wins:>3}/{len(pw):<2} {v}")

    for wl in sorted(set(base) & set(change)):
        bt, ct = base[wl]["traced"], change[wl]["traced"]
        if not bt or not ct:
            continue
        moved = []
        for k in bt[0]["per_layer"]:
            x = statistics.median(r["per_layer"][k] for r in bt)
            y = statistics.median(r["per_layer"][k] for r in ct)
            if x or y:
                moved.append((abs(y - x) / max(abs(x), 1e-12), k, x, y))
        for name in set(bt[0]["spans"]) | set(ct[0]["spans"]):
            def per_span(runs):
                xs = [r["spans"][name]["self_ms"] / r["spans"][name]["n"]
                      for r in runs if name in r["spans"]]
                return statistics.median(xs) if xs else 0.0
            x, y = per_span(bt), per_span(ct)
            moved.append((abs(y - x) / max(abs(x), 1e-12), f"span {name} self_ms/call", x, y))
        print(f"\n{wl}: per-layer and span self-time moves, largest first")
        for rel, k, x, y in sorted(moved, reverse=True)[:a.top]:
            print(f"  {k:<40} {x:>12.4g} -> {y:<12.4g} ({(y - x) / x if x else float('inf'):+.1%})")


if __name__ == "__main__":
    main()
