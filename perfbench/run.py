#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload serve-paging --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run builds the graft
library and the benchmark from source with sbt (perfbench/build.sbt); later
runs reuse the build unless a source file changed. The benchmark JVM then
sets up a server over a seeded corpus, drives the workload through graft's
public APIs, checks every answer and prints one `metric` line per metric.
The last line of standard output is the result object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from the traced replay (spans land in perfbench/out/).
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("serve-paging", "query-mix", "ingest-live")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"

# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files.extend(os.path.join(d, f) for f in fs)
    for f in files:
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_group(cmd, cwd, timeout, stdout):
    """Run `cmd` in its own process group; kill the whole group on
    timeout or interrupt and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def build():
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbenchClasspath"]
    rc = run_group(cmd, HERE, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit {rc})", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # the benchmark measures the graft library of the enclosing checkout
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("no graft sources next to perfbench/ (run from a graft checkout)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap size keeps GC sizing, and with it set-up time and
    # latency, the same from run to run; the program's own heap use is
    # heap_live_mb, since G1 touches the whole heap over a run
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"]
           + opens + ["-cp", cp, "perfbench.Main",
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--work", work, "--out", out,
                      "--result", result])
    t0 = time.time()
    try:
        sys.stdout.flush()
        rc = run_group(cmd, ROOT, JVM_TIMEOUT_S, sys.stdout)
        res = None
        if rc == 0 and os.path.exists(result):
            with open(result) as f:
                res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if res is None:
        die(f"benchmark JVM failed (exit {rc}) after {time.time() - t0:.0f} s", 1)
    # the result carries the metrics BENCHMARK.json declares for this mode;
    # every other measurement stays on the `metric` lines above
    declared = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    got = res["metrics"]
    res["metrics"] = {n: got.get(n, {"value": None, "unit": None}) for n in declared}
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
