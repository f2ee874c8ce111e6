#!/usr/bin/env python3
"""Traced artifact of one workload, from the repository root:

    python3 perfbench/artifact.py --workload W --seed N --seconds S

Makes PAIRS pairs of an untraced and a traced run at the same seed,
alternating which runs first, and writes perfbench/artifacts/<W>.json:
the median end-to-end values of each side, the tracing overhead (traced
median minus untraced median, and as a share of untraced), and the median
over the traced runs of every per-layer metric and span self time.
"""
import argparse
import json
import os
import subprocess
import sys

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
PAIRS = 3


def run(args, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True)
    path = next(l.split(" = ", 1)[1] for l in p.stdout.splitlines()
                if l.startswith("result file = "))
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    runs = {0: [], 1: []}
    for i in range(PAIRS):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(run(args, trace))
    plain, traced = runs[0], runs[1]

    def med(rs, key):
        return bl.median([r["info"][key] for r in rs])

    overhead = {}
    for k in plain[0]["result"]["metrics"]:
        u, t = med(plain, k), med(traced, k)
        overhead[k] = {"untraced": u, "traced": t, "delta": t - u, "share": (t - u) / u if u else 0.0}
    layers = {k: {"value": bl.median([r["result"]["metrics"][k]["value"] for r in traced]),
                  "unit": v["unit"]} for k, v in traced[0]["result"]["metrics"].items()}
    with open("/proc/cpuinfo") as fh:
        model = next((l.split(":", 1)[1].strip() for l in fh if l.startswith("model name")), "")
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "pairs": PAIRS,
        "host": {"cpus": len(os.sched_getaffinity(0)), "cpu_model": model},
        "correct": all(r["result"]["correct"] for r in plain + traced),
        "failures": [f for r in plain + traced for f in r["failures"]],
        "tracing_overhead": overhead,
        "self_time_s": {k[len("self."):-len("_s")]: v["value"]
                        for k, v in layers.items() if k.startswith("self.")},
        "per_layer": {k: v for k, v in layers.items() if not k.startswith("self.")},
    }
    os.makedirs(os.path.join(BENCH, "artifacts"), exist_ok=True)
    dest = os.path.join(BENCH, "artifacts", f"{args.workload}.json")
    with open(dest, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(dest)


if __name__ == "__main__":
    main()
