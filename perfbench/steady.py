#!/usr/bin/env python3
"""Steadiness check: run one workload N times and report each end-to-end
metric's median, quartiles and spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload ingest --runs 10
    python3 perfbench/steady.py --workload ingest --runs 10 --other ../parent

Run i uses seed `--seed + i`. With `--other DIR` (the root of a second
checkout, e.g. the parent commit), each seed runs on both builds, the order
alternating from one seed to the next, and the report adds the other
build's median and spread and the change between the two medians
(positive = this build is worse). Spread is the
distance between the first and third quartile (Python's
statistics.quantiles, n=4) as a share of the median; a metric is steady
when its spread is below a third of its bound. Raw results are appended to
.perfbench/steady-<workload>.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(root, workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("run failed: %s seed %d in %s (exit %d)\n%s" % (
            workload, seed, root, p.returncode, p.stderr[-4000:]))
    r = json.loads(lines[-1])
    r["wall_s"] = round(time.time() - t0, 1)
    if r["failed"] or not r["correct"]:
        print(p.stderr[p.stderr.find("warm-up done"):][-6000:], file=sys.stderr)
    return r


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--other", help="root of a second checkout to alternate with")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    sides = {"this": ROOT}
    if a.other:
        sides["other"] = os.path.abspath(a.other)
    results = {s: [] for s in sides}
    log = os.path.join(ROOT, ".perfbench", "steady-%s.jsonl" % a.workload)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for i in range(a.runs):
        seed = a.seed + i
        order = list(sides) if i % 2 == 0 else list(reversed(list(sides)))
        for side in order:
            r = run_once(sides[side], a.workload, seed, seconds)
            results[side].append(r)
            with open(log, "a") as fh:
                fh.write(json.dumps({"side": side, "seed": seed, "result": r}) + "\n")
            print("%s seed %d (%.0f s): %s" % (side, seed, r["wall_s"], " ".join(
                "%s=%s" % (m["name"], r["metrics"][m["name"]]["value"]) for m in metrics)),
                file=sys.stderr)
    print("workload %s, %d runs per build, %d s each" % (a.workload, a.runs, seconds))
    for side, rs in results.items():
        walls = [r["wall_s"] for r in rs]
        print("%s: wall time per run: median %.0f s, max %.0f s" % (
            side, statistics.median(walls), max(walls)))
    for side, rs in results.items():
        shares = sorted({r["failed"] / r["attempted"] for r in rs})
        print("%s: correct in %d/%d runs; failed share %s" % (
            side, sum(r["correct"] for r in rs), len(rs), shares))
    head = "%-10s %5s %12s %12s %12s %8s %6s %6s" % (
        "metric", "unit", "q1", "median", "q3", "spread", "bound", "steady")
    if a.other:
        head += " %12s %8s %8s" % ("other med", "spread", "change")
    print(head)
    for m in metrics:
        name, bound = m["name"], m["bound"]
        vals = [r["metrics"][name]["value"] for r in results["this"]]
        if None in vals:
            print("%-10s has no value in some runs (every operation of its kind failed)" % name)
            continue
        q1, med, q3 = summary(vals)
        spread = (q3 - q1) / med
        line = "%-10s %5s %12.4f %12.4f %12.4f %8.4f %6.3f %6s" % (
            name, m["unit"], q1, med, q3, spread, bound,
            "yes" if spread < bound / 3 else "NO")
        if a.other:
            oq1, omed, oq3 = summary([r["metrics"][name]["value"] for r in results["other"]])
            worse = (med - omed) / omed if m["better"] == "lower" else (omed - med) / omed
            line += " %12.4f %8.4f %+8.4f" % (omed, (oq3 - oq1) / omed, worse)
        print(line)


if __name__ == "__main__":
    main()
