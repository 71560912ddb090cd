#!/usr/bin/env python3
"""Repository benchmark: builds the library and the benchmark from source,
then runs one workload and prints its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload <gt_qc|doc_dedup|dedup_stream|graph_iter>
                             --seed <n> --seconds <s> --trace <0|1>

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 reports the end-to-end
metrics, --trace 1 the per-layer metrics of a traced run (whose span tree
is written to perfbench/.out/spans-<workload>-<seed>.json).

Build: scalac from the Spark distribution named by SPARK_HOME compiles
src/main/scala plus perfbench/src into perfbench/.build; the build is
reused while no source changed. All inputs, stores and Spark scratch
space live under perfbench/.work, which is emptied at the start of every
run. Hidden self-test options: --size tiny, --inject exception|tamper.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
WORKLOADS = ("gt_qc", "doc_dedup", "dedup_stream", "graph_iter")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# a fixed-size heap: a growing one makes early operations pay for resizing;
# no perf-data file, which the JVM would write outside the checkout
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false"] + [
    opt
    for pkg in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                "java.net", "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for opt in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    r = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(r):
        out += [os.path.join(d, f) for f in files]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not os.path.isdir(jars):
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def build(jars):
    """Compiles when the sources changed; returns the classes directory."""
    srcs, res = sources(), resources()
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    tmp = os.path.join(BUILD, "classes.tmp")
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", tmp, "-classpath", cp, "-Ybackend-parallelism", "4", "-nowarn",
           "@" + args_file]
    print("perfbench: compiling", len(srcs), "sources", file=sys.stderr)
    code, _ = call(cmd, BUILD_TIMEOUT_S, capture=False)
    if code != 0:
        fail(f"compilation failed (exit {code})")
    base = os.path.join(ROOT, "src", "main", "resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def call(cmd, timeout, capture, cwd=None, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it. Returns (exit code, stdout text or None)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else sys.stderr,
                         text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s", 3)
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"))
    ap.add_argument("--inject", default="none", choices=("none", "exception", "tamper"))
    a = ap.parse_args()

    # runs share the build and work directories: a second run waits
    os.makedirs(OUT, exist_ok=True)
    lock = open(os.path.join(OUT, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    jars = spark_jars()
    classes = build(jars)
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--size", a.size, "--inject", a.inject,
           "--work", WORK, "--out", OUT])
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep it inside
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    code, out = call(cmd, RUN_TIMEOUT_S, capture=True, cwd=WORK, env=env)
    shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        fail(f"benchmark process failed (exit {code})", code or 4)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
