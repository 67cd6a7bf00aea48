#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 cvbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark with sbt when their sources changed
since the last build (the classpath is cached under cvbench/target), then
runs cvbench.Main in one JVM with fixed flags. The JVM's standard output
passes through; its last line is the result object. Exits non-zero, with
no result, when the build or the run fails.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
WORK = os.path.join(ROOT, ".bench_build", "cvbench")
RUN_TIMEOUT_S = 170

# Fixed JVM flags: a heap that never resizes, and a fixed JIT thread count
# so that compilation competes with the workload the same way in every run.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:CICompilerCount=2"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_stamp():
    """Hash of every file the build reads, so a changed engine rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    stamp_file = os.path.join(TARGET, "cvbench-classpath-" + source_stamp() + ".txt")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            return f.read().strip()
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\nbuild failed\n")
        sys.exit(1)
    sys.stderr.write("built in %.1f s\n" % (time.time() - t0))
    os.makedirs(TARGET, exist_ok=True)
    for old in os.listdir(TARGET):
        if old.startswith("cvbench-classpath-"):
            os.remove(os.path.join(TARGET, old))
    with open(stamp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    cp = classpath()
    tmp = os.path.join(WORK, "tmp-%d" % os.getpid())
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "cvbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    last = ""
    try:
        for line in proc.stdout:
            if not line.startswith("{"):
                sys.stdout.write(line)
                sys.stdout.flush()
            last = line.strip() or last
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not last.startswith("{"):
        sys.stderr.write("benchmark exited with %d and no result\n" % code)
        sys.exit(1)
    print(last)


if __name__ == "__main__":
    main()
