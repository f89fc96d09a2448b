#!/usr/bin/env python3
"""Benchmark launcher: one workload, one seed, one run.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 5 --trace 0

Builds the engine plus harness from the checkout's sources (perfbench/build.sh)
and generates the input tables (perfbench/src/perfbench/GenData.scala) on first
use, caching both under perfbench/.build. Each run then:

  1. starts INSTANCES fresh benchmark JVMs, one after another; `setup_s` is
     the median of their process-start to session-warmed times;
  2. in each, runs the workload's keys (perfbench/workloads/<name>.txt) as
     one closed-loop client, in pass orders derived from --seed, for
     --seconds;
  3. checks each key's output fingerprint against
     perfbench/expected/<name>.tsv;
  4. prints one JSON line: the end-to-end metrics with --trace 0, the
     per-layer metrics with --trace 1.

Every directory the run writes (java.io.tmpdir, SPARK_GRAFT_SCRATCH,
SPARK_LOCAL_DIRS, the warehouse) sits under a fresh run directory in
perfbench/.build/runs, measured into `housekeeping.scratch_left_mb` and then
deleted. The full per-run record, with the per-key breakdown of a traced run,
is written to perfbench/.out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, ".out")
SF = "0.1"
INSTANCES = 2              # fresh measured JVMs per run
HEAP = "3g"
RUN_TIMEOUT_S = 170        # whole run, all JVMs included

E2E_UNITS = {"setup_s": "s", "run_s": "s", "query_p50_s": "s", "heap_retained_mb": "MB"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def tree_digest(*paths):
    """Digest of the .scala and .sh files at or under the given paths."""
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
        for base, _, names in os.walk(p):
            files += [os.path.join(base, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        if f.endswith(".scala") or f.endswith(".sh"):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    stamp = os.path.join(BUILD, "classes.stamp")
    digest = tree_digest(os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src"),
                         os.path.join(HERE, "build.sh"))
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh")], stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("build failed", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)


def new_run_dir():
    d = os.path.join(BUILD, "runs", f"{os.getpid()}-{time.time_ns()}")
    for sub in ("tmp", "scratch", "local", "warehouse"):
        os.makedirs(os.path.join(d, sub))
    return d


def jvm(args, run_dir, timeout):
    """Runs the harness JVM with every writable root inside run_dir."""
    cmd = ["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dperfbench.runDir={run_dir}"]
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
              "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
              "sun.nio.cs", "sun.security.action", "sun.util.calendar"):
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.path.join(BUILD, "classes") + os.pathsep + os.path.join(spark_jars(), "*"),
            "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"), TZ="UTC")
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "ab") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, env=env, cwd=run_dir,
                               timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            fail(f"JVM timed out: {' '.join(args[:1])}", 1)
    if r.returncode != 0:
        with open(log_path, errors="replace") as fh:
            lines = [ln for ln in fh if not ln.lstrip().startswith("at ")]
        sys.stderr.write("".join(lines[-40:]))
        fail(f"JVM exited with {r.returncode}: {' '.join(args[:1])}", 1)
    return r.stdout.decode()


def ensure_data(deadline):
    data = os.path.join(BUILD, "data", f"sf{SF}")
    stamp = data + ".stamp"
    digest = tree_digest(os.path.join(HERE, "src", "perfbench", "GenData.scala")) + SF
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return data
    shutil.rmtree(data, ignore_errors=True)
    run_dir = new_run_dir()
    try:
        jvm(["gen", data, SF], run_dir, deadline - time.time())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return data


def dir_mb(path):
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            p = os.path.join(base, f)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total / 1e6


def tail_value(values):
    """The highest percentile with at least ten values above it, and that
    percentile. Below 21 values that percentile would sit under the median,
    so the maximum (p100) is reported instead."""
    s = sorted(values)
    if len(s) < 21:
        return s[-1], 100.0
    i = len(s) - 11
    return s[i], 100.0 * (i + 1) / len(s)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture", action="store_true",
                    help="write the observed fingerprints to expected/<workload>.tsv")
    a = ap.parse_args()

    keys_file = os.path.join(HERE, "workloads", f"{a.workload}.txt")
    if not os.path.isfile(keys_file):
        fail(f"unknown workload {a.workload}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources (src/main/scala) not found beside perfbench/")
    keys = [k for k in (ln.split("#")[0].strip() for ln in open(keys_file)) if k]
    expected = os.path.join(HERE, "expected", f"{a.workload}.tsv")

    start = time.time()
    ensure_built()
    deadline = time.time() + RUN_TIMEOUT_S
    data = ensure_data(deadline)
    if time.time() - start > 60:       # first run in a checkout: build and data now cached
        deadline = time.time() + RUN_TIMEOUT_S

    # Fresh JVMs that each set up and run the timed passes, in their own
    # seed-derived orders. In a traced run the last one is traced, and the
    # others are its untraced reference for the tracing overhead.
    recs = []
    for instance in range(INSTANCES):
        traced = a.trace and instance == INSTANCES - 1
        run_dir = new_run_dir()
        record_path = os.path.join(run_dir, "record.json")
        args = ["run", "--data", data, "--keys", ",".join(keys), "--seed", str(a.seed),
                "--instance", str(instance), "--seconds", str(a.seconds), "--trace", str(int(traced)),
                "--out", record_path]
        if a.capture:
            args += ["--capture", expected + f".{instance}"]
        else:
            args += ["--expected", expected]
        try:
            jvm(args, run_dir, deadline - time.time())
            with open(record_path) as fh:
                rec = json.load(fh)
            rec["scratch_left_mb"] = sum(dir_mb(os.path.join(run_dir, d))
                                         for d in ("tmp", "scratch", "local", "warehouse"))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        recs.append(rec)
    if a.capture:
        captured = [open(expected + f".{i}").read() for i in range(len(recs))]
        for i in range(len(recs)):
            os.remove(expected + f".{i}")
        if len(set(captured)) != 1:
            fail("instances disagree on the fingerprints; not capturing", 1)
        with open(expected, "w") as fh:
            fh.write(captured[0])

    samples = [s for r in recs for s in r["samples"]]
    per_key = {}
    for s in samples:
        if not s["traced"]:
            per_key.setdefault(s["key"], []).append(s["latency_s"])
    # A key's latency is the median of its untraced executions across
    # instances, which run the keys in different orders.
    key_latency = {k: statistics.median(v) for k, v in per_key.items()}
    tail, tail_pct = tail_value(list(key_latency.values()))
    pass_walls = [p["wall_s"] for r in recs for p in r["passes"] if not p["traced"]]
    failed = sum(1 for s in samples if not s["ok"])
    outside = sorted({k for r in recs for k in r["outside_checkout"]})
    e2e = {
        "setup_s": statistics.median(r["setup_s"] for r in recs),
        "run_s": statistics.median(pass_walls),
        "query_p50_s": statistics.median(key_latency.values()),
        "heap_retained_mb": statistics.median(r["heap_retained_mb"] for r in recs),
    }
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "keys": keys, "setup_samples_s": [r["setup_s"] for r in recs],
              "passes": [r["passes"] for r in recs],
              "query_tail": {"value_s": tail, "percentile": tail_pct, "keys": len(key_latency)},
              "attempted": len(samples), "failed": failed, "failed_frac": failed / max(1, len(samples)),
              "failures": [s for s in samples if not s["ok"]],
              "keys_writing_outside_checkout": outside,
              "end_to_end": e2e, "per_key_latency_s": per_key}

    if a.trace:
        layer = per_layer(recs[-1], recs[:-1])
        record["per_layer"] = layer
        record["traces"] = recs[-1]["traces"]
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for f in record["failures"]:
        print(f"perfbench: {f['key']} failed: {f['err']}", file=sys.stderr)
    correct = failed == 0 and not outside
    print(json.dumps({"correct": correct, "attempted": len(samples), "failed": failed, "metrics": metrics}))


LAYER_SUMS = [
    "ops.build_s", "ops.build_jobs",
    "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
    "codegen.classes_compiled", "codegen.compile_s",
    "tables.files_discovered", "tables.listing_jobs", "tables.input_mb",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb", "exec.output_mb",
    "exec.single_task_stages", "exec.driver_only_s",
    "streaming.batches", "streaming.trigger_s", "streaming.get_batch_s", "streaming.query_planning_s",
    "streaming.add_batch_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.state_rows", "streaming.state_mb",
    "housekeeping.release_s",
]


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ns_per_row"):
        return "ns/row"
    if name.endswith("_frac") or name.endswith("vs_builtin") or name.endswith("slot_util"):
        return "ratio"
    return "count"


def per_layer(rec, untraced):
    """Workload-level sums of the traced instance's per-key layer metrics
    (median over its passes), the derived ratios, the scratch leak, the
    tracing overhead against the untraced instances, and the probe."""
    by_pass = {}
    for t in rec["traces"]:
        acc = by_pass.setdefault(t["pass"], {})
        for k, v in t["metrics"].items():
            acc[k] = acc.get(k, 0.0) + v
    out = {}
    for name in LAYER_SUMS + ["exec.wall_s", "exec.slot_s"]:
        out[name] = statistics.median(p.get(name, 0.0) for p in by_pass.values())
    out["exec.slot_util"] = out["exec.task_s"] / out["exec.slot_s"] if out["exec.slot_s"] else 0.0
    del out["exec.wall_s"], out["exec.slot_s"]
    out["housekeeping.scratch_left_mb"] = rec["scratch_left_mb"]
    traced_wall = statistics.median(p["wall_s"] for p in rec["passes"])
    untraced_wall = statistics.median(p["wall_s"] for r in untraced for p in r["passes"])
    out["trace_overhead_frac"] = traced_wall / untraced_wall - 1
    out.update(rec["probe"])
    return out


if __name__ == "__main__":
    main()
