#!/usr/bin/env python3
"""Run one perfbench workload against the graft sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

On first use (or when a source changed) it builds graft and the benchmark
with sbt, offline, then runs the workload in a fresh JVM whose scratch files
stay under .bench_build/. The JVM's last stdout line, the result object, is
the last line this script prints. Exit status is non-zero, with no result
printed, when the build or the run fails or runs out of time.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("olap_suite", "http_dashboard", "scan_heavy", "ingest_rollup")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the same list as the
# root build's javaOptions).
ADD_OPENS = [
    "--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]

# Everything the build reads: graft's sources and build, and the benchmark's.
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main")


# Process groups this script started and has not yet reaped.
CHILDREN = set()


def fail(msg, code=1):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def stop_children():
    """Kills every process group still running and waits for each to end."""
    for proc in list(CHILDREN):
        if proc.poll() is None:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        CHILDREN.discard(proc)


def on_signal(signum, _frame):
    stop_children()
    fail("stopped by signal %d" % signum, 128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; returns (exit code, stdout)
    or raises subprocess.TimeoutExpired once the group is killed."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    CHILDREN.add(proc)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    finally:
        stop_children()


def sources_digest():
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns the runtime classpath and the digest of the build inputs,
    building first if any input changed."""
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip(), digest
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            code, out = run_child(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "export perfbench/Runtime/fullClasspath"],
                BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True)
        except FileNotFoundError:
            fail("sbt not found on PATH")
        except subprocess.TimeoutExpired:
            fail("build timed out after %d s" % BUILD_TIMEOUT_S)
        log.write(out)
    lines = [l.strip() for l in out.splitlines()
             if "perfbench" in l and os.pathsep in l and not l.startswith("[")]
    if code != 0 or not lines:
        fail("build failed (exit %d), see %s" % (code, log_path))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1], digest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("graft sources not found under %s" % ROOT, 2)

    started = time.monotonic()
    classpath, digest = build()
    # seed-independent inputs (the olap tables) are kept between runs of
    # one build; those of earlier builds are dropped
    cache_root = os.path.join(BUILD, "cache")
    cache = os.path.join(cache_root, digest[:16])
    if os.path.isdir(cache_root):
        for old in os.listdir(cache_root):
            if old != digest[:16]:
                shutil.rmtree(os.path.join(cache_root, old), ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    budget = min(RUN_TIMEOUT_S, BUILD_TIMEOUT_S + 50 - (time.monotonic() - started))

    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + ADD_OPENS + [
        "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", results, "--cache", cache]
    log_path = os.path.join(BUILD, "run-%s.log" % a.workload)
    last = []
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=log,
                                    text=True, start_new_session=True)
            CHILDREN.add(proc)

            def relay():
                for line in proc.stdout:
                    last[:] = [line.rstrip("\n")]
                    if not line.startswith("{"):
                        sys.stdout.write(line)
                        sys.stdout.flush()

            reader = threading.Thread(target=relay, daemon=True)
            reader.start()
            try:
                code = proc.wait(timeout=budget)
            except subprocess.TimeoutExpired:
                stop_children()
                reader.join(5)
                fail("%s did not finish within %d s, see %s" % (a.workload, budget, log_path))
            reader.join(30)
            stop_children()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not last or not last[0].startswith("{"):
        fail("%s failed (exit %d), see %s" % (a.workload, code, log_path))
    print(last[0])
    sys.stdout.flush()


if __name__ == "__main__":
    main()
