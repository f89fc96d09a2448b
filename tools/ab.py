#!/usr/bin/env python3
"""Interleaved parent/change A/B of the repo benchmark (BENCHMARK.json).

    python3 tools/ab.py --parent DIR --change DIR --workload W --seeds 11-20 [--out FILE]

DIR is a checkout (make the parent's with `git archive`, not a worktree).
For each seed the benchmark command runs once in each checkout, at the
declared `run_seconds` with `--trace 0`; odd seeds run the parent first, even
seeds the change first. Every run's JSON line is appended to --out (JSON
lines, one per run, tagged with side and seed) when given.

Per end-to-end metric it prints the parent's median and quartiles, the
change's median, how many pairs the change won (ties count for neither side),
whether the change's median stays within the metric's `bound` (a fraction of
the parent's median, in the metric's worse direction), and whether the gain
rule holds: the change wins at least 9 of 10 pairs and the medians differ by
more than the parent's quartile spread. Any run that is not `correct: true`
or reports failed operations is flagged, and the exit status is 1.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec):
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return {"correct": False, "failed": None, "metrics": {}, "exit": p.returncode}
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="11-20")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    runs = {"parent": {}, "change": {}}
    bad = []
    for seed in seed_list(a.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for side in order:
            r = run_once(getattr(a, side), bench, a.workload, seed)
            runs[side][seed] = r
            if r.get("correct") is not True or r.get("failed") != 0:
                bad.append((side, seed))
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "seed": seed, "workload": a.workload,
                                         **r}) + "\n")
            vals = " ".join(f"{k}={v['value']:.3f}" for k, v in r.get("metrics", {}).items())
            print(f"seed {seed} {side}: correct={r.get('correct')} failed={r.get('failed')} {vals}",
                  file=sys.stderr, flush=True)

    print(f"workload {a.workload}: {len(runs['parent'])} pairs, seeds {a.seeds}")
    print(f"{'metric':18} {'parent median [q1-q3]':>30} {'change median':>14} "
          f"{'wins':>6} {'within bound':>13} {'gain rule':>10}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(runs["parent"][s]["metrics"][name]["value"],
                  runs["change"][s]["metrics"][name]["value"])
                 for s in runs["parent"]
                 if name in runs["parent"][s].get("metrics", {})
                 and name in runs["change"].get(s, {}).get("metrics", {})]
        if not pairs:
            print(f"{name:18} no complete pairs")
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        pm, cm = statistics.median(par), statistics.median(chg)
        q1, q3 = quartiles(par)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        limit = pm * (1 + m["bound"]) if lower else pm * (1 - m["bound"])
        within = cm <= limit if lower else cm >= limit
        gain = wins >= 0.9 * len(pairs) and abs(pm - cm) > (q3 - q1) \
            and (cm < pm if lower else cm > pm)
        print(f"{name:18} {pm:10.3f} [{q1:.3f}-{q3:.3f}]{'':>3} {cm:14.3f} "
              f"{wins:>3}/{len(pairs):<2} {str(within):>13} {str(gain):>10}")
    for side, seed in bad:
        r = runs[side][seed]
        print(f"FLAG: {side} seed {seed}: correct={r.get('correct')} failed={r.get('failed')}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
