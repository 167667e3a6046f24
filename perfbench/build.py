"""Compile the program and the benchmark harness with scalac, cached by source hash.

The program's Scala sources (src/main/scala) compile into
.bench_build/prog-<hash>.jar; the harness (perfbench/scala) compiles
against them into .bench_build/harness-<hash>.jar. A jar exists only once
its compile finished, so an interrupted build is redone, never reused.
The classes are jarred, not left in directories, because the JVM's
class-data archive (see run.py) takes classes only from jars.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import zipfile


def _spark_jars(root):
    """$SPARK_HOME/jars, else the unmanagedBase that build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


def _sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def _digest(paths, root, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _jar(classes, dest):
    """Zip the compiled `classes` tree into the jar `dest`, atomically."""
    tmp = dest + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    os.rename(tmp, dest)


def _compile(srcs, jars, classpath, dest, log):
    if os.path.isfile(dest):
        return dest
    build_root = os.path.dirname(dest)
    os.makedirs(build_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=build_root)
    args_file = os.path.join(tmp, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
           "@" + args_file]
    print(f"[perfbench] compiling {len(srcs)} files -> {dest}", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    os.remove(args_file)
    try:
        if r.returncode != 0:
            raise RuntimeError(f"scalac failed ({r.returncode})")
        _jar(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return dest


def build(root, log=sys.stderr):
    """Return the classpath (program, harness, Spark jars) for a run from `root`."""
    prog_src = os.path.join(root, "src", "main", "scala")
    bench_src = os.path.join(root, "perfbench", "scala")
    if not os.path.isdir(prog_src) or not _sources(prog_src):
        raise RuntimeError(f"no program sources under {prog_src}")
    spark_jars = _spark_jars(root)
    if not os.path.isdir(spark_jars):
        raise RuntimeError(f"Spark jars not found ('{spark_jars}'); set SPARK_HOME")
    out = os.path.join(root, ".bench_build")
    jars = os.path.join(spark_jars, "*")
    prog_files = _sources(prog_src)
    prog = _compile(prog_files, jars, jars,
                    os.path.join(out, "prog-" + _digest(prog_files, root) + ".jar"), log)
    bench_files = _sources(bench_src)
    harness_jar = "harness-" + _digest(bench_files, root, os.path.basename(prog)) + ".jar"
    harness = _compile(bench_files, jars, prog + os.pathsep + jars,
                       os.path.join(out, harness_jar), log)
    resources = os.path.join(root, "src", "main", "resources")
    cp = [prog, harness] + ([resources] if os.path.isdir(resources) else []) + [jars]
    return os.pathsep.join(cp)
