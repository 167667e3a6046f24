#!/usr/bin/env python3
"""Run perfbench on two checkouts in alternating pairs and compare them.

    python3 scripts/perfbench_ab.py PARENT CHANGE --workload plc_node --seeds 21-30
    python3 scripts/perfbench_ab.py ../parent . --workload plc_node --seeds 11 --trace 1

Each seed is one pair: `python3 perfbench/run.py` runs once in each
checkout, with the same workload and seed, for BENCHMARK.json's
`run_seconds`. The side that runs
first alternates from pair to pair, so drift in host load falls on both
sides alike. Every run builds from its own checkout's sources (the first
run of a checkout compiles it).

Prints one line per pair with both values of every metric, then each
side's median and quartiles, then, per metric, in how many pairs the
change was better (the direction comes from BENCHMARK.json). Each run's
full result stays where perfbench/run.py keeps it: one line in its
checkout's .bench_work/runs.jsonl.

Exits 1 if any run failed, printed `correct: false`, or counted a failed
operation; 2 on bad arguments.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds_arg(text):
    """`21-30`, `5,7,9` or a mix: `1,4-6`."""
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace))]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="checkout of the base commit")
    ap.add_argument("change", help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds_arg, help="e.g. 21-30 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for path in sides.values():
        if not os.path.exists(os.path.join(path, "perfbench", "run.py")):
            print(f"no perfbench/run.py in {path}", file=sys.stderr)
            return 2
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["per_layer" if a.trace else "end_to_end"]}

    values = {"parent": {}, "change": {}}
    bad = 0
    for i, seed in enumerate(a.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        got = {}
        for side in order:
            res = run_once(sides[side], a.workload, seed, bench["run_seconds"], a.trace)
            if res is None or not res["correct"] or res["failed"]:
                bad += 1
                print(f"seed {seed} {side}: FAILED {json.dumps(res)}", flush=True)
                continue
            got[side] = res
        if len(got) < 2:
            continue
        cells = []
        for name in better:
            pv = got["parent"]["metrics"][name]["value"]
            cv = got["change"]["metrics"][name]["value"]
            values["parent"].setdefault(name, []).append(pv)
            values["change"].setdefault(name, []).append(cv)
            cells.append(f"{name} {pv:.4g}/{cv:.4g}")
        print(f"seed {seed} ({order[0]} first) parent/change: " + ", ".join(cells), flush=True)

    pairs = len(values["parent"].get(next(iter(better)), []))
    print(f"\n{pairs} complete pairs, {bad} failed runs")
    for name, direction in better.items():
        pv, cv = values["parent"].get(name, []), values["change"].get(name, [])
        if not pv:
            continue
        (p1, p2, p3), (c1, c2, c3) = quartiles(pv), quartiles(cv)
        wins = sum(1 for x, y in zip(pv, cv) if (y < x if direction == "lower" else y > x))
        print(f"{name}: parent median {p2:.4g} [q1 {p1:.4g}, q3 {p3:.4g}], "
              f"change median {c2:.4g} [q1 {c1:.4g}, q3 {c3:.4g}], "
              f"change/parent {c2 / p2 if p2 else float('nan'):.3f}, "
              f"change {direction} in {wins} of {len(pv)}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
