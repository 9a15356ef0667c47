#!/usr/bin/env python3
"""Where one thread's CPU samples go in a JFR recording.

    tools/jfr_top.py <file.jfr> [thread] [frame] [--top N]

Reads the recording's `jdk.ExecutionSample` events (through the JDK's
`jfr print --json`), keeps the samples of the threads whose Java name
starts with `thread` (default "main"; "Executor task launch worker"
takes every Spark task thread) and, when `frame` is given, only the samples
with a stack frame whose `Class.method` contains `frame` (e.g.
`SearchWorkload.op`). It prints two tables, each share in percent of the
kept samples:

  self by line       the top frame of each sample, as Class.method:line
  inclusive by method  every Class.method on the stack, once per sample

Line attribution is only as good as the recording: run the JVM with
`-XX:+UnlockDiagnosticVMOptions -XX:+DebugNonSafepoints`, or samples
pile up on the nearest safepoint (loop back-edges, call sites) instead of
the line that spent the time.
"""
import argparse
import collections
import json
import shutil
import subprocess
import sys


def samples(path):
    """The stack of every execution sample: (thread name, frames leaf first)."""
    jfr = shutil.which("jfr")
    if jfr is None:
        sys.exit("jfr_top: the JDK's `jfr` tool is not on PATH")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ExecutionSample", path],
                         check=True, capture_output=True, text=True).stdout
    for ev in json.loads(out)["recording"]["events"]:
        v = ev["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        st = v.get("stackTrace") or {}
        frames = []
        for f in st.get("frames") or []:
            m = f["method"]
            cls = m["type"]["name"].rsplit(".", 1)[-1]
            frames.append((f"{cls}.{m['name']}", f.get("lineNumber", -1)))
        yield thread, frames


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("file")
    ap.add_argument("thread", nargs="?", default="main")
    ap.add_argument("frame", nargs="?", default=None)
    ap.add_argument("--top", type=int, default=25)
    a = ap.parse_args()
    self_line = collections.Counter()
    incl = collections.Counter()
    n = 0
    for thread, frames in samples(a.file):
        if not thread.startswith(a.thread) or not frames:
            continue
        if a.frame and not any(a.frame in m for m, _ in frames):
            continue
        n += 1
        m, line = frames[0]
        self_line[f"{m}:{line}"] += 1
        for method in {m for m, _ in frames}:
            incl[method] += 1
    under = f" under {a.frame}" if a.frame else ""
    print(f"{n} samples of threads '{a.thread}*'{under}")
    if n == 0:
        return
    for title, counter in (("self by line", self_line), ("inclusive by method", incl)):
        print(f"\n{title}:")
        for key, c in counter.most_common(a.top):
            print(f"  {100.0 * c / n:6.1f}%  {key}")


if __name__ == "__main__":
    main()
