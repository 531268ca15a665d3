#!/usr/bin/env python3
"""Repo benchmark: the raster2points jobs users run, plus a catalog mix.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source (perfbench/build.sbt, output
under .bench_build/), makes the workload's inputs from the seed, runs one
measured JVM, checks every output, and prints two JSON lines: an `info` line
(contention witness and derived figures) and, last, the result
`{"correct", "attempted", "failed", "metrics"}`. Exits nonzero when an
output check fails or the program cannot be built. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("raster_csv_area", "raster_parquet_cog_utm", "catalog_mix")
ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
# the sf0.1 tables: read-only inputs, the same default graft.Bench uses
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = min(4, os.cpu_count() or 1)
# every run after the build ends within this many seconds
RUN_BUDGET_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build_env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit:
            env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    env.setdefault("COURSIER_MODE", "offline")
    return env


def source_stamp():
    """Hash of every input of the build: harness, program sources, build files."""
    h = hashlib.sha256()
    for base in (os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
                 os.path.join(BENCH, "src"), os.path.join(ROOT, "src", "main")):
        if os.path.isfile(base):
            h.update(base.encode())
            with open(base, "rb") as f:
                h.update(f.read())
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "__pycache__"))
            for name in sorted(files):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def classpath():
    """Compile with sbt when any source changed; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=build_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=850).returncode
    classes = os.path.join(BUILD, "target")
    lines = [l.strip() for l in open(log, errors="replace") if l.startswith(classes)]
    if rc != 0 or not lines:
        fail(f"build failed (sbt exit {rc}):\n{tail(log)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java(cp, main, args, log, deadline, heap):
    # a fixed heap: G1 then sizes its young generation the same way in every
    # run, which keeps the RSS high-water mark comparable between runs
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dderby.system.home={os.path.join(BUILD, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + [str(a) for a in args]
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    with open(log, "w") as out:
        try:
            return subprocess.run(cmd, cwd=BUILD, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(1, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            return "timeout"


def oracle_check(work, deadline):
    """Hash-compare each catalog query's rows with its DuckDB oracle SQL,
    through the repo's own checker. Returns {query: ok}."""
    checker = os.path.join(ROOT, "tools", "check_oracle.py")
    res = subprocess.run([sys.executable, checker, SF_DIR, os.path.join(work, "check")],
                         capture_output=True, text=True, stdin=subprocess.DEVNULL,
                         timeout=max(1, deadline - time.time()))
    verdict = {}
    for line in res.stdout.splitlines():
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("OK", "FAIL"):
            verdict[parts[1].rstrip(":")] = parts[0] == "OK"
    if res.returncode != 0:
        print(res.stderr[-2000:], file=sys.stderr)
    return verdict, res.stdout


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("src/main/scala/graft/Raster.scala", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"run from the root of a checkout: {need} not found")
    if a.workload == "catalog_mix" and not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")):
        fail(f"catalog tables not found in {SF_DIR} (set SPARK_GRAFT_SF_DIR)")

    cp = classpath()
    deadline = time.time() + RUN_BUDGET_S
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    fixtures = os.path.join(work, "fixtures")
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        rc = java(cp, "graft.perfbench.Main",
                  ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                   "--trace", a.trace, "--fixtures", fixtures, "--work", work,
                   "--result", result, "--sf", SF_DIR, "--cpus", CPUS],
                  log, deadline, "2g")
        if rc != 0 or not os.path.exists(result):
            fail(f"measured JVM failed ({rc}):\n{tail(log)}")
        with open(result) as f:
            r = json.load(f)
        failed = r["failed"]
        failures = list(r["failures"])
        if a.workload == "catalog_mix":
            t0 = time.time()
            verdict, report = oracle_check(work, deadline)
            r["info"]["oracle_check_s"] = time.time() - t0
            # a query whose checked rows mismatch fails every one of its runs
            failed = 0
            for q, runs in r["query_runs"].items():
                if verdict.get(q):
                    failed += r["query_errors"].get(q, 0)
                else:
                    failed += runs
                    failures.append(f"{q}: oracle mismatch")
            if any(not ok for ok in verdict.values()):
                print(report, file=sys.stderr)
        for msg in failures:
            print(f"perfbench: FAILED {msg}", file=sys.stderr)
        if a.trace:
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json"))
        info = dict(r["info"])
        info["failed_frac"] = failed / max(1, r["attempted"])
        print(json.dumps({"info": {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                   "cpus": CPUS, **info}}))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": r["attempted"], "failed": failed,
                          "metrics": r["metrics"]}))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
