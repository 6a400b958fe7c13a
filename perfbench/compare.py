#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit (A) and a change (B).

    python3 perfbench/compare.py A_RECORDS B_RECORDS

Each argument is a records directory (.bench_build/perfbench/records of a
checkout, or any directory of run records). For every workload and end-to-end
metric it prints each side's median and quartiles, the fraction of seed-paired
runs B wins, and a verdict against the metric's bound in BENCHMARK.json:

  regressed    B's median is worse than A's by more than the bound
  improved     B wins at least 9/10 of pairs and the medians differ by more
               than A's own quartile spread
  unresolved   A's quartile spread is wider than the bound and B does not
               beat every A run
  within bound otherwise

From traced runs it then prints the per-layer deltas of the medians.
"""
import glob
import json
import os
import statistics
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "**", "*.json"), recursive=True)):
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            r = json.load(f)
        if "metrics" in r and "workload" in r:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pairs(a, b):
    """Pair runs by seed where both sides ran it, else in run order."""
    bs = {r["seed"]: r for r in b}
    if all(r["seed"] in bs for r in a):
        return [(r, bs[r["seed"]]) for r in a]
    return list(zip(a, b))


def verdict(av, bv, wins, n, bound, lower_better):
    q1, ma, q3 = quartiles(av)
    mb = statistics.median(bv)
    worse = (mb - ma) / ma if lower_better else (ma - mb) / ma
    spread = (q3 - q1) / ma
    b_beats_all = (max(bv) < min(av)) if lower_better else (min(bv) > max(av))
    if worse > bound:
        return "regressed"
    if n and wins / n >= 0.9 and abs(mb - ma) > q3 - q1:
        return "improved"
    if spread > bound and not b_beats_all:
        return "unresolved"
    return "within bound"


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(common.REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    a_all, b_all = load(sys.argv[1]), load(sys.argv[2])
    workloads = [w["name"] for w in bench["workloads"]]
    print(f"{'workload':18s} {'metric':17s} {'A median [q1, q3]':>30s} "
          f"{'B median [q1, q3]':>30s} {'B wins':>7s}  verdict")
    for w in workloads:
        a = [r for r in a_all if r["workload"] == w and not r["trace"]]
        b = [r for r in b_all if r["workload"] == w and not r["trace"]]
        if not a or not b:
            print(f"{w:18s} (no untraced runs on {'A' if not a else 'B'})")
            continue
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"
            av = [r["metrics"][name]["value"] for r in a]
            bv = [r["metrics"][name]["value"] for r in b]
            ps = pairs(a, b)
            wins = sum(1 for x, y in ps if (y["metrics"][name]["value"] < x["metrics"][name]["value"]) == lower
                       and y["metrics"][name]["value"] != x["metrics"][name]["value"])
            fa, fb = quartiles(av), quartiles(bv)
            print(f"{w:18s} {name:17s} {fa[1]:10.4g} [{fa[0]:.4g}, {fa[2]:.4g}]".ljust(67) +
                  f"{fb[1]:10.4g} [{fb[0]:.4g}, {fb[2]:.4g}]".rjust(30) +
                  f" {wins:3d}/{len(ps):<3d}  {verdict(av, bv, wins, len(ps), m['bound'], lower)}")
        fa = sum(r["failed"] for r in a), sum(r["attempted"] for r in a)
        fb = sum(r["failed"] for r in b), sum(r["attempted"] for r in b)
        print(f"{w:18s} {'failed':17s} {fa[0]}/{fa[1]} vs {fb[0]}/{fb[1]}")

    print("\nper-layer (traced runs): median A -> median B")
    for w in workloads:
        a = [r for r in a_all if r["workload"] == w and r["trace"]]
        b = [r for r in b_all if r["workload"] == w and r["trace"]]
        if not a or not b:
            print(f"{w}: no traced runs on {'A' if not a else 'B'}")
            continue
        for m in bench["per_layer"]:
            name = m["name"]
            av = [r["metrics"][name]["value"] for r in a if name in r["metrics"]]
            bv = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            if not av or not bv:
                continue
            ma, mb = statistics.median(av), statistics.median(bv)
            if ma == 0 and mb == 0:
                continue
            rel = f"{(mb - ma) / ma:+.1%}" if ma else "new"
            print(f"{w:18s} {name:34s} {ma:14.6g} -> {mb:<14.6g} {mb - ma:+14.6g} {m['unit']:6s} {rel}")


if __name__ == "__main__":
    main()
