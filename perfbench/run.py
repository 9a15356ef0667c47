#!/usr/bin/env python3
"""Repo benchmark entry point (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine's sources
together with the benchmark (sbt, offline) and later runs reuse the
classes while the sources are unchanged. Each run starts one JVM with
Spark in local[nproc], prints the run's log on stderr and, as the last
line of stdout, one JSON object: {"correct", "attempted", "failed",
"metrics"}. The exit code is non-zero when the build, the run or a
correctness check fails; a build or run failure prints no result.

Everything the run writes stays under .bench_build/ in the repository.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile unless the classes match the current sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no engine sources under src/main/scala; run from the repository root")
    stamp = os.path.join(BUILD, "classes.sha256")
    want = fingerprint(sources())
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == want:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "clean", "compile"]
    r = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: build failed")
    with open(stamp, "w") as fh:
        fh.write(want)


def spark_home():
    """The Spark install the engine compiles and runs against ($SPARK_HOME)."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME does not point at a Spark install")
    return home


def heap():
    """Half of MemTotal, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return "%dg" % max(2, min(8, g))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    os.environ["SPARK_HOME"] = spark_home()
    build()
    work = os.path.join(BUILD, "run-%d" % os.getpid())
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result = os.path.join(work, "result.json")
    mem = heap()
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-XX:+UseParallelGC", "-Xms" + mem, "-Xmx" + mem, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", CLASSES + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*"),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--result", result])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        code = None
    try:
        out = open(result).read() if os.path.exists(result) else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.exit("perfbench: run %s without a result" % ("timed out" if code is None else "exited %s" % code))
    print(out, flush=True)
    sys.exit(0 if code == 0 else 1)


if __name__ == "__main__":
    main()
