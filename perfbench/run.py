#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine.

    python3 perfbench/run.py --workload commit_history --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the engine and
the benchmark with sbt (perfbench/build.sbt); later runs reuse the build
until a source file changes. One JVM runs the workload on Spark
local[N], N = the processors it may use, and prints a report line; the
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Scratch files go to .bench_work/ and
are removed; reports, spans and curves go to .bench_out/.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
JAVAOPTS = os.path.join(TARGET, "bench-javaopts.txt")
WORKLOADS = ("commit_history", "lakehouse_reads", "corpus_pipeline")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"


def sources():
    """Every file the build reads: both builds' definitions and sources."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return [f for f in files if os.path.isfile(f)]


def build():
    """Compile with sbt unless the last build is newer than every source."""
    if os.path.exists(CLASSPATH) and os.path.exists(JAVAOPTS):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) < built for f in sources()):
            return
    print("perfbench: building with sbt", file=sys.stderr, flush=True)
    proc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE,
                          stdout=sys.stderr, stderr=sys.stderr,
                          stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("perfbench: build failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: no engine sources (src/main/scala/graft) beside perfbench/")
    build()

    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out, exist_ok=True)
    with open(JAVAOPTS) as f:
        jopts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + jopts + ["-cp", cp, "graftbench.Main",
                      "--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", args.trace,
                      "--repo-root", ROOT, "--work-dir", work, "--out-dir", out])
    # Spark's scratch space follows SPARK_LOCAL_DIRS when it is set
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    lines = []
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, env=env,
                            stdin=subprocess.DEVNULL, text=True)
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if line.startswith("report "):
                print(line, end="", flush=True)
        # wait4, not wait: it also returns the JVM's resource usage
        _, status, usage = os.wait4(proc.pid, 0)
        proc.returncode = os.waitstatus_to_exitcode(status)
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if result is None or proc.returncode not in (0, 1):
        sys.exit(f"perfbench: the workload exited with {proc.returncode} and no result")
    if args.trace == "0":
        # ru_maxrss is in KiB on Linux: the JVM's peak resident set
        result["metrics"]["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    line = json.dumps(result)
    with open(os.path.join(out, f"result-{args.workload}-{args.seed}-t{args.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line, flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
