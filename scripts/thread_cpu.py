#!/usr/bin/env python3
"""CPU seconds per thread group of one perfbench run, from a JFR recording.

    python3 scripts/thread_cpu.py --workload stream_ingest --seed 15
    python3 scripts/thread_cpu.py --workload plc_node --seed 3 --last 8 --top 20

Builds the checkout's perfbench jars and class-data archive first (as
perfbench/run.py would), then runs `python3 perfbench/run.py` once with a
JFR recording of `jdk.ThreadCPULoad` and `jdk.CPULoad` every second,
started through JAVA_TOOL_OPTIONS. From the recording it sums, per thread
group, the CPU seconds of the run's last `--last` seconds (by default
BENCHMARK.json's `run_seconds`, about the measured window, which ends the
run). A group is a thread name with its numbers and ids dropped: every
"Executor task launch worker for task …" is one group,
"broadcast-exchange-3" falls into "broadcast-exchange". For
stream_ingest the last seconds also hold the restart and warm-up batches
that precede the measured ones.

perfbench's `cpu_ms_per_op` counts the CPU of the Java threads that
ThreadMXBean lists. What it leaves out is printed apart: the JIT compiler
threads, the JFR recorder's own threads, and the garbage collector, whose
worker threads are not Java threads and have no `jdk.ThreadCPULoad`
events; for it the window's collections and their pause time
(`jdk.GarbageCollection`, wall seconds) are printed. The whole process's
CPU (`jdk.CPULoad`) closes the list.

JFR reports a load as a share of all the processors the JVM sees; this
multiplies it by that count (the cores this process may run on, or
`--cpus`) and by the sampling period.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERIOD_S = 1.0
JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ThreadCPULoad">
    <setting name="enabled">true</setting><setting name="period">1 s</setting>
  </event>
  <event name="jdk.CPULoad">
    <setting name="enabled">true</setting><setting name="period">1 s</setting>
  </event>
  <event name="jdk.GarbageCollection">
    <setting name="enabled">true</setting><setting name="threshold">0 ms</setting>
  </event>
</configuration>
"""


def group(name):
    """A thread name with its instance numbers dropped."""
    name = re.sub(r"\s+for task\b.*$", "", name)
    name = re.sub(r"\s*\[[^\]]*\]", "", name)  # a query's [id = …, runId = …]
    name = re.sub(r"[\s#-]*\d+$", "", name)
    return re.sub(r"\d+", "N", name)


def kind(name):
    if "CompilerThread" in name or name.startswith("Sweeper"):
        return "jit"
    if name.startswith("JFR "):
        return "jfr"
    return "java"


def events(jfr_file, event):
    p = subprocess.run(["jfr", "print", "--json", "--events", event, jfr_file],
                       capture_output=True, text=True, check=True)
    return json.loads(p.stdout)["recording"]["events"]


def seconds(ts):
    """JFR's ISO timestamp (nanosecond digits allowed) as epoch seconds."""
    from datetime import datetime
    m = re.match(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(.*)$", ts)
    base = datetime.fromisoformat(m.group(1) + (m.group(3).replace("Z", "+00:00") or "+00:00"))
    return base.timestamp() + (float("0." + m.group(2)) if m.group(2) else 0.0)


def duration_s(d):
    """A JFR duration as seconds: `jfr print --json` writes ISO-8601 (`PT0.0123S`)."""
    if isinstance(d, (int, float)):
        return d / 1e9
    m = re.match(r"PT(?:(\d+)M)?([\d.]+)S$", d)
    return (int(m.group(1) or 0) * 60 + float(m.group(2))) if m else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="perfbench run length (default: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--last", type=float, help="seconds summed, at the run's end (default: --seconds)")
    ap.add_argument("--cpus", type=int, help="processors the JVM sees (default: this process's)")
    ap.add_argument("--top", type=int, default=15, help="Java thread groups printed")
    ap.add_argument("--keep", help="keep the recording at this path")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        run_seconds = json.load(f)["run_seconds"]
    secs = a.seconds or run_seconds
    last = a.last or secs
    cpus = a.cpus or len(os.sched_getaffinity(0))

    # build first, without the recording, so only the measured JVM records
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import build  # noqa: E402
    import run  # noqa: E402
    cwd = os.getcwd()
    os.chdir(ROOT)
    try:
        run.class_archive(ROOT, build.build(ROOT))
    finally:
        os.chdir(cwd)

    tmp = tempfile.mkdtemp(prefix="thread-cpu-")
    jfc = os.path.join(tmp, "cpu.jfc")
    with open(jfc, "w") as f:
        f.write(JFC)
    jfr_file = os.path.abspath(a.keep) if a.keep else os.path.join(tmp, "run.jfr")
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(os.environ.get("JAVA_TOOL_OPTIONS", "") +
               f" -XX:StartFlightRecording=settings={jfc},filename={jfr_file}").strip())
    try:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(a.seed), "--seconds", str(secs), "--trace", str(a.trace)],
                           cwd=ROOT, env=env, capture_output=True, text=True)
        result = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not result or not os.path.exists(jfr_file):
            sys.stderr.write(p.stderr[-3000:])
            print(f"perfbench run failed (exit {p.returncode})", file=sys.stderr)
            return 1
        threads = [(seconds(e["values"]["startTime"]), e["values"]["eventThread"]["javaName"]
                    or e["values"]["eventThread"]["osName"],
                    e["values"]["user"] + e["values"]["system"])
                   for e in events(jfr_file, "jdk.ThreadCPULoad") if e["values"].get("eventThread")]
        process = [(seconds(e["values"]["startTime"]), e["values"]["jvmUser"] + e["values"]["jvmSystem"])
                   for e in events(jfr_file, "jdk.CPULoad")]
        gcs = [(seconds(e["values"]["startTime"]), e["values"]["sumOfPauses"])
               for e in events(jfr_file, "jdk.GarbageCollection")]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if not threads or not process:
        print("the recording holds no CPU load events", file=sys.stderr)
        return 1
    end = max(t for t, _, _ in threads)
    # an event covers the period before it: the window's first event is
    # the one a period after its start
    since = end - last + PERIOD_S / 2

    per = defaultdict(float)
    by_kind = defaultdict(float)
    for t, name, load in threads:
        if t >= since:
            cpu_s = load * PERIOD_S * cpus
            by_kind[kind(name)] += cpu_s
            if kind(name) == "java":
                per[group(name)] += cpu_s
    proc_s = sum(load for t, load in process if t >= since) * PERIOD_S * cpus
    pauses = [duration_s(d) for t, d in gcs if t >= end - last]

    print(f"{a.workload} seed {a.seed}: CPU s over the last {last:g} s of the run "
          f"({cpus} processors, {PERIOD_S:g} s samples)")
    for name, cpu_s in sorted(per.items(), key=lambda kv: -kv[1])[:a.top]:
        print(f"  {cpu_s:8.2f}  {name}")
    rest = sorted(per.items(), key=lambda kv: -kv[1])[a.top:]
    if rest:
        print(f"  {sum(v for _, v in rest):8.2f}  ({len(rest)} more groups)")
    print(f"  {by_kind['java']:8.2f}  = Java threads counted by cpu_ms_per_op")
    print("not counted by cpu_ms_per_op:")
    print(f"  {by_kind['jit']:8.2f}  JIT compiler threads")
    print(f"  {by_kind['jfr']:8.2f}  JFR recorder threads")
    print(f"  {sum(pauses):8.2f}  GC pauses, wall s ({len(pauses)} collections)")
    print(f"  {proc_s:8.2f}  = whole process (jdk.CPULoad)")
    print(result[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
