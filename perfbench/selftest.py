#!/usr/bin/env python3
"""Self-test of the benchmark: a short run of every workload, untraced and traced.

    python3 perfbench/selftest.py [--seconds 4]

Run from the repository root. Asserts that every end-to-end metric named
in BENCHMARK.json is printed with its unit, that the output checks pass,
that the traced run prints every named per-layer metric, and that the
benchmark refuses to run, without printing a result, in a directory that
holds only BENCHMARK.json and the benchmark's own files.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys


def last_json(stdout):
    lines = [l for l in stdout.strip().split("\n") if l.strip()]
    try:
        return json.loads(lines[-1]) if lines else None
    except ValueError:
        return None


def run(cmd, seconds, workload, trace, cwd):
    args = cmd + ["--workload", workload, "--seed", "7", "--seconds", str(seconds),
                  "--trace", str(trace)]
    return subprocess.run(args, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=4)
    a = ap.parse_args()
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems = []
    # plc_node_open is runnable but not in BENCHMARK.json (see README.md)
    workloads = [w["name"] for w in bench["workloads"]]
    workloads += [w for w in ("plc_node_open",) if w not in workloads]
    for name in workloads:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            r = run(bench["command"], a.seconds, name, trace, root)
            out = last_json(r.stdout) if r.returncode == 0 else None
            tag = f"{name} --trace {trace}"
            if out is None:
                problems.append(f"{tag}: exit {r.returncode}\n{r.stderr[-2000:]}")
                continue
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: keys {sorted(out)}")
            if not out.get("correct") or out.get("failed") != 0 or out.get("attempted", 0) < 1:
                problems.append(f"{tag}: checks failed {out.get('failed')}/{out.get('attempted')}")
            for m in bench[key]:
                got = out["metrics"].get(m["name"])
                if not got or got.get("unit") != m["unit"] or \
                        not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {m['name']} missing or without unit {m['unit']}")
                elif trace == 0 and got["value"] == 0:
                    problems.append(f"{tag}: end-to-end metric {m['name']} is 0")
            print(f"[selftest] {tag}: {len(out['metrics'])} metrics, "
                  f"{out['failed']}/{out['attempted']} failed", flush=True)
    # a directory with only the benchmark must fail without a result
    bare = os.path.join(root, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(root, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    r = run(bench["command"], a.seconds, workloads[0], 0, bare)
    if r.returncode == 0 or last_json(r.stdout) is not None:
        problems.append("bare directory: the benchmark did not refuse to run")
    shutil.rmtree(bare, ignore_errors=True)
    for p in problems:
        print(f"[selftest] FAIL {p}", file=sys.stderr)
    print("[selftest] " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
