#!/usr/bin/env python3
"""Run one benchmark workload of the engine.

    python3 perfbench/run.py --workload etl_batch --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run builds the engine and
the benchmark from source with sbt; later runs reuse that build until a
source or build file changes. The measured program is a JVM running
graftbench.Main (see perfbench/README.md). Its result object, one JSON
line, is printed last; the exit code is non-zero when an output check
failed or the run could not be made.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# A run must end within 180 s; the JVM gets this long once built.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "4g"

# Spark on JDK 17 needs these when it is not started by spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Everything the build reads: a change to any of these rebuilds.
SOURCES = ["src/main", "build.sbt", "project/build.properties",
           "perfbench/src/main", "perfbench/build.sbt", "perfbench/project/build.properties"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = []
        if os.path.isdir(path):
            for d, _, names in os.walk(path):
                files += [os.path.join(d, n) for n in names]
        elif os.path.isfile(path):
            files.append(path)
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    print(f"[perfbench] building: {' '.join(cmd)}", file=sys.stderr)
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out", 3)
    sys.stderr.write(out)
    if proc.returncode != 0:
        fail(f"build failed with exit code {proc.returncode}", 3)
    lines = [l.strip() for l in out.splitlines()
             if l.strip() and not l.startswith("[") and ".jar" in l]
    if not lines:
        fail("build printed no classpath", 3)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    for rel in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"{rel} not found: run from the root of a checkout of the engine")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", a.trace]

    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    timer = threading.Timer(RUN_TIMEOUT_S, kill)
    timer.start()
    signal.signal(signal.SIGTERM, lambda *_: (kill(), sys.exit(143)))
    signal.signal(signal.SIGINT, lambda *_: (kill(), sys.exit(130)))
    started = time.monotonic()
    try:
        lines = proc.stdout.read().splitlines()
        code = proc.wait()
    finally:
        timer.cancel()
        kill()
    if time.monotonic() - started >= RUN_TIMEOUT_S:
        fail(f"run did not end within {RUN_TIMEOUT_S} s", 4)

    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if not result:
        fail(f"the run printed no result (exit code {code})", code or 5)
    print(result[-1])
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
