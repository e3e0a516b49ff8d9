#!/usr/bin/env python3
"""Alternating A/B runner: run this benchmark against two source trees
(A = parent, B = change) pair by pair, alternating which side goes first,
and apply the claim rule of the choosing-metrics guide (section 8):
B wins a metric only when it is better in at least 9 of 10 pairs (ties count
for neither side) and the medians differ by more than A's own quartile spread.

    python3 enginebench/ab.py --a ../parent --b . --workload graph_loops --pairs 10

Each tree is a repository checkout (its src/main/scala is built); both sides
run the same benchmark code, this directory's. Runs whose CPU probe reads
above 1.5x the fastest probe of their side are flagged as load-suspect and
left out of the comparison. Seeds run 201, 202, ... so pair i uses one seed
on both sides.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LOAD_FACTOR = 1.5


def run(tree, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    with open(os.path.join(tree, ".bench_out", f"{workload}-s{seed}-t0.json")) as fh:
        ex = json.load(fh)["extra"]
    res = json.loads(lines[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}, \
        max(ex["probe_before_ms"], ex["probe_after_ms"])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="parent tree")
    ap.add_argument("--b", required=True, help="change tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    pairs = []
    for i in range(args.pairs):
        seed = 201 + i
        order = [("A", args.a), ("B", args.b)] if i % 2 == 0 else [("B", args.b), ("A", args.a)]
        got = {}
        for side, tree in order:
            got[side] = run(tree, args.workload, seed, seconds)
        if got["A"] is None or got["B"] is None:
            print(f"pair {i} seed {seed}: a run failed; pair dropped")
            continue
        pairs.append((seed, got["A"], got["B"]))
        print(f"pair {i} seed {seed}: A={ {k: round(v, 4) for k, v in got['A'][0].items()} } "
              f"B={ {k: round(v, 4) for k, v in got['B'][0].items()} }", flush=True)
    if not pairs:
        sys.exit("no complete pairs")
    best = {s: min(p[1 if s == "A" else 2][1] for p in pairs) for s in "AB"}
    clean = [p for p in pairs if p[1][1] <= LOAD_FACTOR * best["A"]
             and p[2][1] <= LOAD_FACTOR * best["B"]]
    for p in pairs:
        if p not in clean:
            print(f"seed {p[0]}: LOAD-SUSPECT pair excluded (probes {p[1][1]:.0f}/{p[2][1]:.0f} ms)")
    print(f"--- {len(clean)} clean pairs of {len(pairs)}")
    for k, direction in better.items():
        a = [p[1][0][k] for p in clean]
        b = [p[2][0][k] for p in clean]
        qa = statistics.quantiles(a, n=4) if len(a) >= 2 else [a[0]] * 3
        qb = statistics.quantiles(b, n=4) if len(b) >= 2 else [b[0]] * 3
        sign = 1 if direction == "lower" else -1
        wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
        losses = sum(1 for x, y in zip(a, b) if sign * (x - y) < 0)
        ma, mb = statistics.median(a), statistics.median(b)
        claim = wins >= 0.9 * len(a) and abs(ma - mb) > (qa[2] - qa[0])
        print(f"{k:16s} A median={ma:.4f} [{qa[0]:.4f}, {qa[2]:.4f}]  "
              f"B median={mb:.4f} [{qb[0]:.4f}, {qb[2]:.4f}]  "
              f"B better in {wins}/{len(a)} (worse in {losses})  "
              f"{'GAIN' if claim else 'no claim'}")


if __name__ == "__main__":
    main()
