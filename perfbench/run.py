#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload plc_node --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the program from source on first use
(cached under .bench_build), makes the workload's inputs from the seed,
runs the measurement in one pinned JVM, checks the outputs, and prints
one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced run. Host facts of each run are appended to
.bench_work/runs.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import inputs  # noqa: E402

WORKLOADS = ("plc_node", "plc_node_open", "stream_ingest", "trainset_batch")
# the workloads whose classes go into the class-data archive
ARCHIVED = ("plc_node", "stream_ingest", "trainset_batch")
HEAP = "3g"
CODE_CACHE = "512m"
RUN_TIMEOUT_S = 170
ARCHIVE_TIMEOUT_S = 600
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cores():
    """Spark's task slots: half the cores. The other half runs the JIT
    compiler, the GC and the load generator, so the task threads are not
    time-sliced against them and their CPU time (what the end-to-end
    metrics count) does not grow with that contention.
    """
    return max(1, cores() // 2)


def cpu_jiffies():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def host_facts(j0, j1):
    steal = 100.0 * (j1[0] - j0[0]) / (j1[1] - j0[1]) if j1[1] > j0[1] else 0.0
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    commit = None
    head = os.path.join(os.getcwd(), ".git", "HEAD")
    if os.path.exists(head):
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"steal_pct": round(steal, 3), "loadavg": load, "nproc": cores(), "git_commit": commit}


def jvm_command(classpath, confs, work, extra=()):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", *extra, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ReservedCodeCacheSize={CODE_CACHE}",
             "-XX:+UseCodeCacheFlushing", "-XX:+UseParallelGC", "-Xss4m", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", classpath, "perfbench.Main", *confs])


def write_conf(workload, seed, seconds, trace, work, in_dir):
    conf = os.path.join(work, "conf.json")
    with open(conf, "w") as f:
        json.dump({"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
                   "cores": spark_cores(), "work": work, "inputs": in_dir,
                   "out": os.path.join(work, "result.json")}, f)
    return conf


def class_archive(root, classpath):
    """The JVM class-data archive of `classpath`, made once per build by a
    short run of every listed workload in one JVM. Loading Spark's classes
    from it instead of from the jars takes about 9 s off the start of each
    run and off its first operation. None if it could not be made; runs
    then load classes from the jars.
    """
    build_dir = os.path.join(root, ".bench_build")
    path = os.path.join(build_dir, "classes-"
                        + hashlib.sha256(classpath.encode()).hexdigest()[:16] + ".jsa")
    if os.path.exists(path):
        return path
    work = tempfile.mkdtemp(prefix=".tmp-cds-", dir=build_dir)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        confs = []
        for w in ARCHIVED:
            wdir = os.path.join(work, w)
            in_dir = os.path.join(wdir, "inputs")
            inputs.make(w, 0, 1, in_dir, train=True)
            confs.append(write_conf(w, 0, 1, False, wdir, in_dir))
        jsa = os.path.join(work, "classes.jsa")
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        print(f"[perfbench] recording class-data archive -> {path}", file=sys.stderr, flush=True)
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                rc = subprocess.run(
                    jvm_command(classpath, confs, work, [f"-XX:ArchiveClassesAtExit={jsa}"]),
                    cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                    timeout=ARCHIVE_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -9
        if rc != 0 or not os.path.exists(jsa):
            print(f"[perfbench] no class-data archive (exit {rc})", file=sys.stderr)
            return None
        os.rename(jsa, path)
        return path
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(workload, seed, seconds, trace):
    root = os.getcwd()
    try:
        classpath = build.build(root)
        archive = class_archive(root, classpath)
    except (RuntimeError, OSError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    share = [f"-XX:SharedArchiveFile={archive}"] if archive else []
    t_start = time.monotonic()
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    in_dir = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    inputs.make(workload, seed, seconds, in_dir)
    conf = write_conf(workload, seed, seconds, trace, work, in_dir)
    out = os.path.join(work, "result.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    j0 = cpu_jiffies()
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(jvm_command(classpath, [conf], work, share), cwd=work, env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    j1 = cpu_jiffies()
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"[perfbench] measurement process failed (exit {rc})", file=sys.stderr)
        return 1
    with open(out) as f:
        res = json.load(f)
    attempted, failed = res["attempted"], res["failed"]
    if workload == "trainset_batch":
        with open(os.path.join(work, "trainset_oracle.sql")) as f:
            sql = f.read()
        with open(os.path.join(work, "trainset_rows.csv")) as f:
            got = inputs.rows_hash(f.read().split("\n"))
        t_oracle = time.monotonic()
        want = inputs.trainset_oracle_hash(sql, os.path.join(in_dir, "documents.parquet"),
                                           os.path.join(root, ".bench_build"))
        print(f"[perfbench] oracle {time.monotonic() - t_oracle:.1f} s", file=sys.stderr)
        attempted += 1
        if got != want:
            failed += 1
            print(f"[perfbench] trainset rows {got[:12]} != oracle {want[:12]}", file=sys.stderr)
    units = UNITS_LAYER if trace else UNITS_E2E
    values = res["per_layer"] if trace else res["end_to_end"]
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    facts = host_facts(j0, j1)
    facts.update(res.get("info", {}))
    record = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
              "end_to_end": res["end_to_end"], "per_layer": res["per_layer"] if trace else None,
              "attempted": attempted, "failed": failed, "host": facts}
    with open(os.path.join(root, ".bench_work", "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(f"[perfbench] host {json.dumps(facts)}", file=sys.stderr)
    keep = {"spans.jsonl", "jvm.log", "result.json"}
    for name in os.listdir(work):
        if name not in keep:
            p = os.path.join(work, name)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


with open(os.path.join(HERE, "..", "BENCHMARK.json")) as _f:
    _bench = json.load(_f)
UNITS_E2E = {m["name"]: m["unit"] for m in _bench["end_to_end"]}
UNITS_LAYER = {m["name"]: m["unit"] for m in _bench["per_layer"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sys.exit(run(a.workload, a.seed, a.seconds, bool(a.trace)))


if __name__ == "__main__":
    main()
