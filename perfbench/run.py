#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as JSON.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: posts_steady, docs_lifecycle (BENCHMARK.json).

The program is built from the checkout's own sources on first use
(`sbt writeClasspath` in this directory, offline) and rebuilt whenever
a source or build file changes. Each run gets a fresh work directory
under perfbench/.work, deleted afterwards; traced runs write their
spans to perfbench/out. The last line of stdout is the result object;
on any failure the script exits non-zero and prints no result.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORKLOADS = ("posts_steady", "docs_lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def build():
    """Compile if the sources changed since the last build; return the
    runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(hashlib.sha256(fh.read()).digest())
    stamp = digest.hexdigest()
    stamp_file = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building the program and the benchmark (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError(f"build failed (exit {proc.returncode})")
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    with open(cp_file) as fh:
        return fh.read().strip()


def valid_result(obj, trace):
    if not isinstance(obj, dict) or set(obj) != {"correct", "attempted", "failed", "metrics"}:
        return False
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    return (isinstance(obj["attempted"], int) and obj["attempted"] >= 1
            and isinstance(obj["failed"], int) and set(obj["metrics"]) == want
            and all(isinstance(v.get("value"), (int, float)) for v in obj["metrics"].values()))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        ap.error("--seconds must be 1..60")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no program sources under {os.path.join(ROOT, 'src', 'main')}: "
            "run from the root of a full checkout")
        return 2

    classpath = build()
    work = os.path.join(BENCH, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("scratch", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "local"))
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap: peak RSS is then the heap plus what the
    # program holds outside it (state-store memory, buffers, threads)
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--out", os.path.join(BENCH, "out")]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)

    def stop(signum, _frame):  # stopped from outside: take the JVM down too
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        out = None
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None or proc.returncode != 0:
        log(f"benchmark JVM failed (exit {proc.returncode})")
        return 1
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not valid_result(result, a.trace == "1"):
        log("the JVM printed no valid result line")
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # a failed build or run: no result line
        log(f"error: {e}")
        sys.exit(1)
