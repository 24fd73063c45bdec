#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse that
build while no source file has changed. Each run is one fresh JVM
(perfbench.Main). Its last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; the lines before it are the
human-readable report. Scratch data goes to .bench_work/ and is removed
after the run; traces and the untraced results (per workload, seed and
build, for the tracing overhead) go to .bench_out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("news_monthly", "corpus_curation", "vector_search")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the same list the engine's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the run's build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources.

    Returns the runtime classpath and the sources' stamp."""
    cp_file = os.path.join(HERE, "target", "runtime.classpath")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        fail(f"build failed (sbt exit {proc.returncode})")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as fh:
        return fh.read().strip(), stamp


def heap():
    """A quarter of the machine's memory, between 2 and 4 GB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{max(2, min(4, kb // (4 * 1024 * 1024)))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    classpath, stamp = build()

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    # a fixed-size heap and the stop-the-world parallel collector: no heap
    # resizing and no concurrent GC threads competing with task threads,
    # which keeps run-to-run spread down
    cmd = [java, f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+UseParallelGC",
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--out", out, "--stamp", stamp]

    last = None
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line  # the result, printed once the run has ended
            else:
                print(line, flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    if code != 0:
        fail(f"benchmark JVM exited with {code}")
    try:
        result = json.loads(last)
    except (TypeError, ValueError):
        fail("benchmark JVM printed no result line")
    print(last, flush=True)
    sys.exit(0 if isinstance(result, dict) else 2)


if __name__ == "__main__":
    main()
