#!/usr/bin/env python3
"""Repository benchmark: the real ExtractJob end to end on one workload.

Run from the root of a checkout:

    python3 perfbench/run.py --workload web-mix --seed 7 --seconds 10 --trace 0

It builds the benchmark package (perfbench/build.sbt compiles the
checkout's src/main together with the harness in perfbench/src) once per
source fingerprint, then starts the benchmark JVM (graft.perfbench.JobBench).
The last stdout line is
one JSON object: {"correct", "attempted", "failed", "metrics"}.

Build outputs go to .bench_build/, run data to .bench_work/ (the corpus
and job outputs are deleted after each run; traces stay in
.bench_work/traces/). Exit code is non-zero, with no result line, when
the build or any phase fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RUN = os.path.join(WORK, "run")
HEAP = "3g"
RUN_BUDGET_S = 170  # a run, without the build, must end well inside 180 s

SOURCES = ["src/main", "perfbench/src/main", "perfbench/build.sbt",
           "perfbench/project/build.properties", "perfbench/stamps.json"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint():
    h = hashlib.sha256()
    for top in SOURCES:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile once per source fingerprint; returns the runtime classpath."""
    missing = [s for s in SOURCES if not os.path.exists(os.path.join(ROOT, s))]
    if missing:
        fail(f"this checkout lacks {', '.join(missing)}: nothing to build")
    fp = fingerprint()
    cp_file, fp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as err:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL,
            text=True, timeout=840)
    with open(log, "a") as out:
        out.write(r.stdout)
    lines = [line.strip() for line in r.stdout.splitlines() if line.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return lines[-1]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def jvm(cp, args, log_name, deadline):
    """Run JobBench; returns its stdout lines. Fails on a non-zero exit."""
    os.makedirs(os.path.join(RUN, "tmp"), exist_ok=True)
    log = os.path.join(RUN, log_name)
    cmd = [java(), f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(RUN, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.JobBench"] + args
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"{log_name}: timed out")
        finally:
            if proc.poll() is None:  # timed out or interrupted: never leave the JVM behind
                proc.kill()
                proc.wait()
    with open(log) as f:
        lines = f.read().splitlines()
    for line in lines:
        if line.startswith("perfbench:"):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail(f"{log_name}: exit {proc.returncode}", proc.returncode or 2)
    return out.splitlines()


def tagged(lines, tag):
    found = [line[len(tag):].strip() for line in lines if line.startswith(tag)]
    if not found:
        fail(f"no {tag.strip()} line in the benchmark output")
    return found[-1]


def main():
    # a terminated run stops its JVM too (see the finally in jvm())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    shutil.rmtree(RUN, ignore_errors=True)
    try:
        out = jvm(cp, ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", str(a.trace),
                       "--work", RUN], "run.log", deadline)
        result = json.loads(tagged(out, "PERFBENCH_RESULT "))
    finally:
        shutil.rmtree(RUN, ignore_errors=True)
    print(f"perfbench: corpus stamp {json.dumps(result.pop('stamp'))}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
