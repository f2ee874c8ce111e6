#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, run from the repository root.

    python3 perfbench/run.py --workload serde|llm_batch|streaming \
        --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (sbt, offline) into
.bench_build/ the first time, stages the seeded input, runs the harness in
a fresh JVM, checks every answer, and prints the metrics. The last line of
standard output is the one-line JSON result; the lines before it name every
metric with its unit, and every failed op with its cause. The full record
of the run, failures included, is written under .bench_build/runs/.

`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
is a separate, listener-instrumented run that reports the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import benchlib as bl

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected.json")
# -Xms = -Xmx. Without -Xms, G1 sizes the heap by GC pause times; on a shared
# 4-CPU VM peak_rss_mb then spread 0.13-0.28 of its median between seeds.
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 700
# 1 KB messages: each produce leg lasts seconds at this count
SERDE_MESSAGES = 20000
FAMILIES = ["Queries", "RelOps", "MiningOps", "TextOps", "VectorOps", "StreamOps", "Main"]
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"engine source {need} not found under {ROOT}: "
                 "run from the root of a graft checkout")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached["stamp"] == stamp:
            return cached["classpath"], False
    os.makedirs(BUILD, exist_ok=True)
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=max(10, deadline - time.time()))
    with open(log, "a") as fh:
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}), see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp, True


# ---------------------------------------------------------------- input

def stage(seed):
    """The sf0.01 tables with every table's rows permuted by the seed: same
    rows, schema and one file per table, so answers do not depend on it."""
    import numpy as np
    import pyarrow.parquet as pq
    out = os.path.join(BUILD, "data", f"seed-{seed}")
    if os.path.exists(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    for i, name in enumerate(sorted(os.listdir(DATA))):
        src = os.path.join(DATA, name)
        table = pq.read_table(src)
        codec = pq.ParquetFile(src).metadata.row_group(0).column(0).compression
        order = np.random.default_rng([seed, i]).permutation(table.num_rows)
        pq.write_table(table.take(order), os.path.join(tmp, name), compression=codec.lower())
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- run

def launch(cp, args, data, out, deadline):
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_STREAM_CKPT_DIR"] = os.path.join(work, "ckpt")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [x for o in JDK17_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness",
              "--workload", args.workload, "--data", data, "--work", work, "--out", out,
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores), "--seed", str(args.seed),
              "--messages", str(SERDE_MESSAGES)]
           + (["--dump", os.path.abspath(args.dump)] if args.dump else []))
    log = out + ".log"
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, 9)
            p.wait()
            code = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read()[-3000:]
        fail(f"harness exited with {code}; log {log}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- checks

def check(rec, expected):
    """Failure records for every op that threw or whose answer is wrong,
    plus the number of ops attempted."""
    ops = [o for o in rec["ops"] if not o["name"].startswith("layer_")]
    failures = []

    def bad(o, why):
        failures.append({"op": o["name"], "pass": o.get("pass"), "cause": why})

    n = rec["checks"].get("messages")
    for o in ops:
        if not o["ok"]:
            bad(o, o["error"])
        elif rec["workload"] == "serde":
            r = o["report"]
            if r["totalMensagens"] != n:
                bad(o, f"counted {r['totalMensagens']} messages, produced {n}")
            elif o["name"].startswith("consume") and r["mensagensSucesso"] != n:
                bad(o, f"{n - r['mensagensSucesso']} messages did not decode")
        else:
            want = expected.get(o["name"])
            if o["fingerprint"] != want:
                bad(o, f"answer fingerprint {o['fingerprint']}, expected {want}")
    attempted = len(ops)
    if rec["workload"] == "serde":
        attempted += 2  # one decode check per format
        c = rec["checks"]
        want = {"rows": n, "ok": n, "seq_sum": n * (n + 1) // 2}
        for fmt in ("avro", "json"):
            if c[fmt] != want:
                bad({"name": f"check_{fmt}"}, f"decoded summary {c[fmt]}, expected {want}")
    return failures, attempted


# ---------------------------------------------------------------- metrics

def dur(x):
    return (x["end"] - x["start"]) / 1000.0


def end_to_end(rec):
    passes = rec["passes"]
    return {
        "setup_s": (rec["setup_ms"] / 1000.0, "s"),
        "cold_pass_s": (dur(passes[0]), "s"),
        "warm_pass_s": (bl.median([dur(p) for p in passes[1:]]), "s"),
        "peak_rss_mb": (rec["vmhwm_kb"] / 1024.0, "MB"),
    }


def leg(rec, name):
    return bl.median([dur(o) for o in rec["ops"] if o["name"] == name and o["ok"]])


def serde_metrics(rec):
    """Per-leg throughput, the reference's own numbers, msg/s."""
    n = rec["checks"]["messages"]
    out = {}
    for what in ("produce", "consume"):
        for fmt in ("avro", "json"):
            t = leg(rec, f"{what}_{fmt}")
            out[f"{what}_{fmt}_msg_s"] = (n / t if t else 0.0, "msg/s")
    return out


def stream_batches(rec, windows):
    return [b for b in rec["events"]["progress"]
            if any(bl.starts_in(b["start"], w) for w in windows)]


def batch_span(b):
    return b["start"], b["start"] + b["durations"].get("triggerExecution", 0)


def microbatch(rec):
    ops = [(o["start"], o["end"]) for o in rec["ops"]]
    ms = [b["durations"].get("triggerExecution", 0) for b in stream_batches(rec, ops)]
    p, v, n = bl.tail_percentile(ms)
    return bl.median(ms), n, p, v


def per_layer(rec):
    """Per-layer metrics of a traced run. Times and counts are per pass
    (mean over the run's passes) unless the name says otherwise."""
    P = len(rec["passes"])
    cores = rec["cores"]
    ev = rec["events"]
    main = [o for o in rec["ops"] if not o["name"].startswith("layer_")]
    windows = [(o["start"], o["end"]) for o in main]

    def in_ops(t):
        return any(bl.starts_in(t, w) for w in windows)

    jobs = [j for j in ev["jobs"] if in_ops(j["start"])]
    job_stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in ev["stages"] if s["id"] in job_stage_ids and s["start"] > 0]
    sql = [q for q in ev["sql"] if q and in_ops(min(p["start"] for p in q.values()))]
    batches = stream_batches(rec, windows)
    op_wall = sum(dur(o) for o in main)
    in_job = sum(bl.covered([(j["start"], j["end"]) for j in jobs], *w) for w in windows) / 1000.0
    task_run = sum(s["run_ms"] for s in stages) / 1000.0
    m = {}

    def put(name, value, unit):
        m[name] = (value, unit)

    put("session.create_s", rec["session_create_ms"] / 1000.0, "s")
    serde = rec["workload"] == "serde"
    n = rec["checks"].get("messages", 0)
    gen = leg(rec, "layer_generate") if serde else 0.0
    enc = {f: leg(rec, f"layer_encode_{f}") if serde else 0.0 for f in ("avro", "json")}
    put("sources.generate_s", gen, "s")
    for f in ("avro", "json"):
        put(f"functions.{f}_encode_s", enc[f] - gen, "s")
    put("serde.write_s", bl.median([leg(rec, f"produce_{f}") - enc[f] for f in ("avro", "json")])
        if serde else 0.0, "s")
    for f in ("avro", "json"):
        t = leg(rec, f"transport_{f}") if serde else 0.0
        put(f"functions.{f}_decode_s", leg(rec, f"consume_{f}") - t if serde else 0.0, "s")
        put(f"serde.transport_{f}_s", t, "s")
        rep = next((o["report"] for o in main if o["name"] == f"produce_{f}" and o["ok"]), None)
        put(f"serde.bytes_per_msg_{f}",
            rep["totalBytes"] / rep["totalMensagens"] if rep else 0.0, "count")
    for k, (v, u) in (serde_metrics(rec) if serde else {
            f"{w}_{f}_msg_s": (0.0, "msg/s") for w in ("produce", "consume")
            for f in ("avro", "json")}).items():
        put(k, v, u)

    for kind in ("cold", "warm"):
        ps = [p for p in rec["passes"] if p["kind"] == kind]
        builds = sum(c["builds"] for p in ps for c in p["plancache"].values()) / len(ps)
        hits = sum(c["hits"] for p in ps for c in p["plancache"].values()) / len(ps)
        put(f"plancache.{kind}.builds", builds, "count")
        put(f"plancache.{kind}.hits", hits, "count")
        put(f"plancache.{kind}.build_s",
            sum(c["build_s"] for p in ps for c in p["plancache"].values()) / len(ps), "s")
        put(f"plancache.{kind}.hit_ratio", hits / (hits + builds) if hits + builds else 0.0,
            "ratio")
    put("plancache.persisted_mb", max(p["persisted_mb"] for p in rec["passes"]), "MB")

    put("query.build_s", sum(o["built"] - o["start"] for o in main) / 1000.0 / P, "s")
    put("query.exec_s", sum(o["end"] - o["built"] for o in main) / 1000.0 / P, "s")
    for fam in FAMILIES:
        put(f"family.{fam}.wall_s", sum(dur(o) for o in main if o["family"] == fam) / P, "s")

    trig = sum(b["durations"].get("triggerExecution", 0) for b in batches) / 1000.0
    put("streaming.batches", len(batches) / P, "count")
    put("streaming.trigger_s", trig / P, "s")
    for key, name in (("addBatch", "add_batch_s"), ("queryPlanning", "query_planning_s"),
                      ("latestOffset", "latest_offset_s"), ("walCommit", "wal_commit_s")):
        put(f"streaming.{name}",
            sum(b["durations"].get(key, 0) for b in batches) / 1000.0 / P, "s")
    stream_wall = sum(dur(o) for o in main if o["family"] == "StreamOps")
    put("streaming.outside_batch_s", (stream_wall - trig) / P if batches else 0.0, "s")
    peak = {}
    for b in batches:
        peak[b["query"]] = max(peak.get(b["query"], 0), b["state_rows"])
    put("streaming.state_rows", sum(peak.values()) / P, "count")
    p50, nb, _, _ = microbatch(rec)
    put("streaming.microbatch_p50_ms", p50, "ms")

    n_stages = len(stages)
    n_tasks = sum(s["tasks"] for s in stages)
    put("spark.jobs", len(jobs) / P, "count")
    put("spark.stages", n_stages / P, "count")
    put("spark.tasks", n_tasks / P, "count")
    put("spark.tasks_per_stage", n_tasks / n_stages if n_stages else 0.0, "count")
    put("spark.in_job_s", in_job / P, "s")
    put("spark.driver_gap_s", (op_wall - in_job) / P, "s")
    put("spark.catalyst_s", sum(
        p["end"] - p["start"] for q in sql for k, p in q.items()
        if k in ("analysis", "optimization", "planning")) / 1000.0 / P, "s")
    put("spark.task_run_s", task_run / P, "s")
    put("spark.task_cpu_s", sum(s["cpu_ns"] for s in stages) / 1e9 / P, "s")
    put("spark.core_busy_frac", task_run / (op_wall * cores) if op_wall else 0.0, "ratio")
    put("spark.shuffle_write_mb", sum(s["shuffle_write_b"] for s in stages) / 1048576.0 / P, "MB")
    put("spark.shuffle_read_mb", sum(s["shuffle_read_b"] for s in stages) / 1048576.0 / P, "MB")
    put("spark.spill_mb", sum(s["spill_b"] for s in stages) / 1048576.0 / P, "MB")
    put("spark.gc_s", sum(s["gc_ms"] for s in stages) / 1000.0 / P, "s")
    put("spark.failed_tasks", ev["failed_tasks"], "count")

    for layer, t in self_times(rec, jobs, stages, batches).items():
        put(f"self.{layer}_s", t / 1000.0 / P, "s")
    return m


def self_times(rec, jobs, stages, batches):
    """Self time per span layer, summed over the run, in ms. The span tree
    is run > pass > op > {build, exec} > {micro-batch >} job > stage; a
    child belongs to the parent span in which it starts."""
    J = [(j["start"], j["end"]) for j in jobs]
    B = [batch_span(b) for b in batches]
    S = {s["id"]: (s["start"], s["end"]) for s in stages}
    out = {"pass": 0.0, "build": 0.0, "exec": 0.0, "microbatch": 0.0, "job": 0.0, "stage": 0.0}
    ops = [(o["start"], o["end"]) for o in rec["ops"]]
    for p in rec["passes"]:
        span = (p["start"], p["end"])
        out["pass"] += bl.self_time(span, [o for o in ops if bl.starts_in(o[0], span)])
    for o in rec["ops"]:
        for layer, span in (("build", (o["start"], o["built"])), ("exec", (o["built"], o["end"]))):
            mine_b = [b for b in B if bl.starts_in(b[0], span)]
            top_jobs = [j for j in J if bl.starts_in(j[0], span)
                        and not any(bl.starts_in(j[0], b) for b in mine_b)]
            out[layer] += bl.self_time(span, mine_b + top_jobs)
    for b in B:
        out["microbatch"] += bl.self_time(b, [j for j in J if bl.starts_in(j[0], b)])
    for j, job in zip(J, jobs):
        out["job"] += bl.self_time(j, [S[i] for i in job["stages"] if i in S])
    out["stage"] = sum(e - s for s, e in S.values())
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serde", "llm_batch", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--dump", help="write the mix's answers and oracle SQL here instead "
                    "of measuring (input for tools/check_oracle.py)")
    args = ap.parse_args()
    t0 = time.time()
    cp, built = build(t0 + BUILD_LIMIT_S)
    deadline = (time.time() if built else t0) + RUN_LIMIT_S
    data = stage(args.seed)
    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{int(t0 * 1000)}"
    out = os.path.join(runs, tag + ".record.json")
    if args.dump:
        args.workload = "dump"
        rec = launch(cp, args, data, out, deadline)
        print(json.dumps(rec["fingerprints"], indent=1, sort_keys=True))
        return

    rec = launch(cp, args, data, out, deadline)
    with open(EXPECTED) as fh:
        expected = json.load(fh).get(args.workload, {})
    failures, attempted = check(rec, expected)
    e2e = end_to_end(rec)
    info = {"failed_frac": (bl.failed_frac(len(failures), attempted), "ratio")}
    if args.workload == "serde":
        info.update(serde_metrics(rec))
    if args.workload == "streaming":
        p50, nb, p, v = microbatch(rec)
        info["microbatch_p50_ms"] = (p50, f"ms over {nb} batches")
        info[f"microbatch_p{p}_ms" if p else "microbatch_max_ms"] = (v, "ms")
    metrics = per_layer(rec) if args.trace else e2e
    for name, (v, u) in {**e2e, **info, **(metrics if args.trace else {})}.items():
        print(f"{name} = {v:.6g} {u}")
    for f in failures:
        print(f"FAILED {f['op']} (pass {f['pass']}): {f['cause']}")
    print(f"passes = {len(rec['passes'])}, ops attempted = {attempted}, failed = {len(failures)}")
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    result_file = os.path.join(runs, tag + ".result.json")
    print(f"result file = {result_file}")
    with open(result_file, "w") as fh:
        json.dump({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "seconds": args.seconds, "result": result, "failures": failures,
                   "info": {k: v for k, (v, _) in {**e2e, **info}.items()}}, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
