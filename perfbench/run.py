#!/usr/bin/env python3
"""graft benchmark: four workloads driven through graft's public entry points.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, and runs them in one JVM with Spark in
local[nproc] mode; shuffle partitions, copy parallelism and incremental
workers are all nproc. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, read from a
run that alternates untraced and traced rounds. Progress, a readable
summary and any failed check go to stderr. Spans of a traced run are
written to .bench_build/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_drift", "incremental_replay", "bulk_copy", "corpus_build")
# every run must end within this many seconds, build included
DEADLINE_S = 175
JVM_OPTS = [
    # the heap starts small and grows as the program needs it; retained_mb
    # is read from the memory MXBeans, so it does not depend on heap sizing
    "-Xms128m", "-Xmx2g", "-Xss8m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def metric_spec(trace):
    """The metrics this run reports, from BENCHMARK.json: "name:unit,..."."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ",".join("%s:%s" % (m["name"], m["unit"])
                    for m in spec["per_layer" if trace else "end_to_end"])


def valid(result):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return False
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return False
    return isinstance(result["failed"], int)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    start = time.time()

    try:
        metrics = metric_spec(a.trace)
    except (OSError, ValueError, KeyError) as e:
        print("perfbench: cannot read BENCHMARK.json: %s" % e, file=sys.stderr)
        return 2
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    trace_out = os.path.join(build.BUILD_DIR, "traces", "%s-seed%d.json" % (a.workload, a.seed))
    cmd = [build.java()] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-cp", classes + os.pathsep + jars, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--nproc", str(nproc), "--metrics", metrics,
        "--work", work, "--out", out, "--trace-out", trace_out]
    # Spark's local dirs must stay inside the work directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded %d s, stopped" % DEADLINE_S, file=sys.stderr)
        proc.kill()
        proc.wait()
        rc = -1
    try:
        with open(out) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or result is None or not valid(result):
        print("perfbench: no valid result (JVM exit %s)" % rc, file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
