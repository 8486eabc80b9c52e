#!/usr/bin/env python3
"""Crawl benchmark launcher.

    python3 crawlbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the crawler and the benchmark from
source on first use (sbt, into the checkout), then runs one workload in
one JVM at local[nproc]. Every output line of the JVM is passed through;
the last line is the result JSON. Exits non-zero when the build fails,
when an output check fails, or when the run does not finish in time.
All files it writes stay under the checkout: build output in `target/`
directories, inputs, stores and Spark scratch under `.bench_work/`
(deleted after every run).
"""

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BENCH_DIR, "target", "classpath.txt")
WORKLOADS = ["crawl_heavy", "crawl_polite_ranged"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these opens (the list
# spark-submit itself passes).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"crawlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, timeout, **kw):
    """Run cmd, killing its whole process group on timeout; returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        return None


def classpath_ready():
    if not os.path.exists(CLASSPATH):
        return None
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    return cp if cp and all(os.path.exists(p) for p in cp.split(os.pathsep)) else None


def build():
    """Compile the crawler and the benchmark once per checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the crawler's sources (src/main/scala/graft) are not in this checkout")
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = classpath_ready()
        if cp:
            return cp
        print("crawlbench: building (sbt writeClasspath)", file=sys.stderr, flush=True)
        code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false", "writeClasspath"],
                           cwd=BENCH_DIR, timeout=BUILD_TIMEOUT_S,
                           stdout=sys.stderr, stdin=subprocess.DEVNULL)
        cp = classpath_ready()
        if code != 0 or not cp:
            fail(f"build failed (sbt exit {code})")
        return cp


def source_id():
    """The commit when this is a git checkout, else a digest of the sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return "git:" + out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src")):
        for dirpath, dirs, files in sorted(os.walk(base)):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return "sha256:" + h.hexdigest()[:16]


def clean_scratch():
    """Delete everything a run leaves in the work dir: inputs, stores, Spark scratch."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        if name != "build.lock":
            p = os.path.join(WORK, name)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)


def run_one(cp, workload, seed, seconds, trace, source):
    """One workload in one JVM. Returns (exit code, parsed result or None)."""
    nproc = os.cpu_count() or 1
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={nproc}",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
            f"-Dcrawlbench.source={source}",
            "-cp", cp, "crawlbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", WORK]
    lines = []
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, 9)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            lines.append(line)
            if not line.startswith("{"):
                print(line, flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        clean_scratch()
    if timed_out.is_set():
        print(f"crawlbench: {workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3, None
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines[-1])
    return code, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp = build()
    source = source_id()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results, worst = {}, 0
    for name in names:
        code, result = run_one(cp, name, a.seed, a.seconds, a.trace, source)
        if result is None:
            fail(f"{name} printed no result (exit {code})", code or 1)
        results[name] = result
        worst = worst or code
    if a.workload == "all":
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{m}": v for w, r in results.items() for m, v in r["metrics"].items()},
        }))
    else:
        print(json.dumps(results[a.workload]))
    sys.exit(1 if worst else 0)


if __name__ == "__main__":
    main()
