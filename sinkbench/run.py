#!/usr/bin/env python3
"""Sinker benchmark: builds the program and the benchmark from source, runs
one workload (or all of them) and prints the result as a JSON line.

    python3 sinkbench/run.py --workload access_log --seed 1 --seconds 12 --trace 0
    python3 sinkbench/run.py --seed 1               # every workload, untraced

Run it from the root of a checkout. The last line of standard output is
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Each run also
leaves a detail file (and, traced, its spans) in sinkbench/results/.
The exit code is non-zero when the delivered rows are wrong.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
WORKLOADS = ["access_log", "keyed_narrow", "schema_drift"]

# Spark on JDK 17 outside spark-submit needs these (as the root build sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[sinkbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads: the program's and the benchmark's."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compile with sbt unless the recorded classpath is newer than every source."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("sinkbench: the program's sources (../build.sbt, ../src/main/scala) are missing")
    if os.path.isfile(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= stamp for f in sources() if os.path.exists(f)):
            return open(CLASSPATH).read().strip()
    log("building (sbt)")
    t0 = time.time()
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp,
         "export sinkbench/Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [l.strip() for l in p.stdout.splitlines() if l.strip()]
    cp = lines[-1] if lines else ""
    if p.returncode != 0 or cp.startswith("[") or "classes" not in cp:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit("sinkbench: build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def run_one(cp, workload, seed, seconds, trace):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    # a fixed heap: peak RSS then tracks memory use, not heap-sizing decisions
    cmd = (["java", "-Xms2g", "-Xmx2g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
              "-Dspark.local.dir=" + os.path.join(WORK, "spark-local"),
              "-Dspark.sql.warehouse.dir=" + os.path.join(WORK, "warehouse"),
              "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-Duser.timezone=UTC",
              "-cp", cp, "sinkbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", WORK, "--results", RESULTS])
    try:
        p = subprocess.run(cmd, cwd=WORK, stdout=subprocess.PIPE, timeout=170, text=True)
    except subprocess.TimeoutExpired:
        sys.exit(f"sinkbench: {workload} run timed out")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if not lines:
        sys.exit(f"sinkbench: {workload} run failed (exit {p.returncode}) without a result")
    result = json.loads(lines[-1])
    if p.returncode != 0 and result.get("correct", False):
        sys.exit(f"sinkbench: {workload} run exited {p.returncode}")
    return result


def show(workload, result):
    for k, m in result["metrics"].items():
        log(f"{workload:13s} {k:40s} {m['value']:>16.6g} {m['unit']}")
    log(f"{workload:13s} correct={result['correct']} attempted={result['attempted']} "
        f"failed={result['failed']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    cp = build()
    if a.workload != "all":
        r = run_one(cp, a.workload, a.seed, a.seconds, a.trace == 1)
        show(a.workload, r)
        print(json.dumps(r), flush=True)
        sys.exit(0 if r["correct"] else 1)
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        r = run_one(cp, wl, a.seed, a.seconds, a.trace == 1)
        show(wl, r)
        merged["correct"] &= r["correct"]
        merged["attempted"] += r["attempted"]
        merged["failed"] += r["failed"]
        merged["metrics"].update({f"{wl}.{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(merged), flush=True)
    sys.exit(0 if merged["correct"] else 1)


if __name__ == "__main__":
    main()
