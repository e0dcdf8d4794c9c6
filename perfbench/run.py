#!/usr/bin/env python3
"""Benchmark for the graft connector path and analytics gates.

Run from the root of a checkout of this repository:

    python3 perfbench/run.py --workload sync_incremental --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for the reason behind each):
  sync_incremental   2 closed-loop tenants syncing 5 streams through HttpFrontend
  gate_mix           a fixed mix of analytics gates in one local Spark session

The first run builds the repository and the harness with sbt (perfbench/
build.sbt pulls the repository's root build in as a source dependency) and
caches the classpath under perfbench/.build/; later runs rebuild only when a
source file changed. Each run prints the host record, one `metric <name>
<value> <unit>` line per metric (with --trace 1 also the per-layer metrics),
and, as the last line, one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
It exits non-zero when an output did not verify, and without a result when
the repository sources are missing. Scratch files go under perfbench/.run/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD_DIR = os.path.join(HERE, ".build")
RUN_DIR = os.path.join(HERE, ".run")
WORKLOADS = ("sync_incremental", "gate_mix")
HEAP = {"sync_incremental": "1g", "gate_mix": "2g"}
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, as paths relative to the checkout root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(f for f in files if os.path.isfile(f))


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath")
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        try:
            p = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                 "compile", "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s, see {log}", 3)
    with open(log) as fh:
        lines = [l.strip() for l in fh if l.strip()]
    if p.returncode != 0 or not lines or not lines[-1].endswith(".jar"):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed, see {log}", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


def declared_metrics(trace):
    """Metric names BENCHMARK.json promises for this kind of run, if present."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout: the program's sources (build.sbt, src/main/scala) are missing", 2)
    if args.workload == "gate_mix" and not os.path.isdir(os.path.join(HERE, "data", "sf0.001")):
        fail("perfbench/data/sf0.001 is missing", 2)
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH", 2)

    cp = classpath()
    run_dir = os.path.join(RUN_DIR, f"{args.workload}-trace{args.trace}")
    tmp = os.path.join(RUN_DIR, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    # Spark gets half the cores: the JIT, GC and the listener bus need the
    # rest, and a session that asks for every core of a shared host times
    # the scheduler more than the gates.
    env["SPARK_GRAFT_CPUS"] = str(max(1, (os.cpu_count() or 2) // 2))
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = (["java", f"-Xmx{HEAP[args.workload]}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           # traced runs count the gates' local file-system calls
           + (["-Dspark.hadoop.fs.file.impl=perfbench.CountingFileSystem"] if args.trace else [])
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--run-dir", run_dir, "--start-epoch-ns", str(time.time_ns()),
              "--data", os.path.join(HERE, "data", "sf0.001"),
              "--goldens", os.path.join(HERE, "goldens.json")])
    log = os.path.join(run_dir, "stderr.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s, see {log}", 4)
    lines = out.splitlines()
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict):
        sys.stdout.write(out)
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{args.workload} exited {proc.returncode} without a result", proc.returncode or 5)
    want = declared_metrics(args.trace == 1)
    if want is not None and sorted(want) != sorted(result["metrics"]):
        sys.stdout.write(out)
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(want) ^ set(result['metrics']))}", 6)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
