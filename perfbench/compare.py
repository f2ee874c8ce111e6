#!/usr/bin/env python3
"""A/B compare two sets of benchmark runs.

    python3 perfbench/compare.py A... --vs B... [--json OUT]

A and B are directories (searched recursively) or files of run results,
the *.result.json files run.py writes under .bench_build/runs/. A is the
parent, B the change. For each workload and each end-to-end metric of
BENCHMARK.json it reports both sides' sample count, median and quartiles,
the share of pairs B wins (runs paired by seed, else by order) and a
verdict by the choosing-metrics section 8 rule: "gain", "regression",
"unresolved" or "no change". Two sets of the same code should read
"no change" everywhere; exit status 1 flags a regression.
"""
import argparse
import glob
import json
import os
import sys

import benchlib as bl


def load(where):
    files = []
    for w in where:
        files += sorted(glob.glob(os.path.join(w, "**", "*.result.json"), recursive=True)) \
            if os.path.isdir(w) else [w]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if not r.get("trace"):
            runs.setdefault(r["workload"], []).append(r)
    return runs


def pairs(a, b, name):
    by_seed = {r["seed"]: r for r in a}
    matched = [(by_seed[r["seed"]], r) for r in b if r["seed"] in by_seed]
    if len(matched) < min(len(a), len(b)):
        matched = list(zip(a, b))
    return ([x["result"]["metrics"][name]["value"] for x, _ in matched],
            [y["result"]["metrics"][name]["value"] for _, y in matched])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("a", nargs="+", help="parent runs, then --vs, then change runs")
    ap.add_argument("--vs", nargs="+", required=True, dest="b")
    ap.add_argument("--json", help="also write the table as JSON here")
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                           "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    A, B = load(args.a), load(args.b)
    rows = []
    for w in [x["name"] for x in spec["workloads"]]:
        if w not in A or w not in B:
            continue
        for m in spec["end_to_end"]:
            name = m["name"]
            va = [r["result"]["metrics"][name]["value"] for r in A[w]]
            vb = [r["result"]["metrics"][name]["value"] for r in B[w]]
            pa, pb = pairs(A[w], B[w], name)
            qa, qb = bl.quartiles(va), bl.quartiles(vb)
            wins = bl.win_rate(pa, pb, m["better"])
            rows.append({
                "workload": w, "metric": name, "unit": m["unit"], "bound": m["bound"],
                "a": {"n": len(va), "q1": qa[0], "median": qa[1], "q3": qa[2],
                      "spread": bl.spread(va)},
                "b": {"n": len(vb), "q1": qb[0], "median": qb[1], "q3": qb[2],
                      "spread": bl.spread(vb)},
                "b_win_rate": wins,
                "pairs": len(pa),
                "verdict": bl.verdict(va, vb, wins, m["better"], m["bound"])})
    print(f"{'workload':10} {'metric':14} {'A median [q1, q3]':>28} {'B median [q1, q3]':>28}"
          f" {'A sprd':>6} {'B sprd':>6} {'B wins':>6}  verdict")
    for r in rows:
        a, b = r["a"], r["b"]
        print(f"{r['workload']:10} {r['metric']:14} "
              f"{a['median']:10.4g} [{a['q1']:.4g}, {a['q3']:.4g}] n={a['n']:<2}"
              f"{b['median']:10.4g} [{b['q1']:.4g}, {b['q3']:.4g}] n={b['n']:<2}"
              f" {a['spread']:6.3f} {b['spread']:6.3f} {r['b_win_rate']:6.2f}  {r['verdict']}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(rows, fh, indent=1)
    sys.exit(1 if any(r["verdict"] == "regression" for r in rows) else 0)


if __name__ == "__main__":
    main()
