#!/usr/bin/env python3
"""Steadiness runner: repeat one workload N times, each with its own seed,
and print every metric's median, quartiles and spread (the inter-quartile
distance as a share of the median), next to the bound BENCHMARK.json sets.

    python3 enginebench/steady.py --workload graph_loops --runs 10
    python3 enginebench/steady.py --workload stream_ticks --runs 5 --both

Run it from the repository root. A run whose CPU probe (recorded before and
after its timed phase) reads more than 1.5x the fastest probe of the set was
taken under host load: it is flagged, listed, and left out of the figures.
With --both an untraced set runs first, then a traced one, and the tracing
overhead is printed as the traced wall_s minus the untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOAD_FACTOR = 1.5
# per-layer metrics a traced set summarizes
TRACED = {"trace.wall_s", "exec.jobs_per_op", "exec.driver_gap_ms_per_op",
          "plans.analysis_ms_per_op", "exec.task_cpu_ms_per_op"}


def run_once(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-3000:])
        return None
    res = json.loads(lines[-1])
    report_path = os.path.join(".bench_out", f"{workload}-s{seed}-t{trace}.json")
    with open(report_path) as fh:
        report = json.load(fh)
    return res, report


def summarize(name, values, bound):
    med = statistics.median(values)
    if len(values) >= 2:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = values[0]
    spread = (q3 - q1) / med if med else float("nan")
    b = "" if bound is None else f" bound={bound:.3f} {'OK' if spread < bound / 3 else 'WIDE'}"
    print(f"{name:34s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
          f"spread={spread:.4f}{b}")
    return med


def run_set(args, trace, bounds):
    rows = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = run_once(args.workload, seed, args.seconds, trace)
        if r is None:
            print(f"seed {seed}: FAILED")
            continue
        res, report = r
        ex = report["extra"]
        probe = max(ex["probe_before_ms"], ex["probe_after_ms"])
        rows.append((seed, res, probe))
        vals = {k: round(v["value"], 4) for k, v in res["metrics"].items()
                if not trace or k in TRACED}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              f"probe={probe:.0f}ms {vals}", flush=True)
    if not rows:
        return {}
    best = min(p for _, _, p in rows)
    clean = [r for r in rows if r[2] <= LOAD_FACTOR * best]
    for seed, _, p in rows:
        if p > LOAD_FACTOR * best:
            print(f"seed {seed}: LOAD-SUSPECT probe {p:.0f}ms vs best {best:.0f}ms; excluded")
    print(f"--- {args.workload} trace={trace}: {len(clean)} clean runs of {len(rows)}")
    meds = {}
    for k in clean[0][1]["metrics"]:
        if trace and k not in TRACED:
            continue
        meds[k] = summarize(k, [r[1]["metrics"][k]["value"] for r in clean], bounds.get(k))
    return meds


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", action="store_true", help="traced runs only")
    ap.add_argument("--both", action="store_true", help="untraced set, then traced set")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    untraced = None
    if not args.trace or args.both:
        meds = run_set(args, 0, bounds)
        untraced = meds.get("wall_s")
    if args.trace or args.both:
        meds = run_set(args, 1, bounds)
        if untraced is not None and "trace.wall_s" in meds:
            print(f"tracing overhead: {meds['trace.wall_s'] - untraced:+.4f} s per fixed list "
                  f"(traced {meds['trace.wall_s']:.4f} - untraced {untraced:.4f})")


if __name__ == "__main__":
    main()
