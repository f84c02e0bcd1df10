#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <query_sweep|elt_land> \
        --seed <n> --seconds <s> --trace <0|1> [--smoke] [--plant-wrong <query>]

Run from the root of a graft checkout. The first run compiles graft's
library sources together with the harness under perfbench/src (an sbt
build of its own, perfbench/build.sbt) and caches the classpath; later
runs start the benchmark JVM directly. Every run gets a fresh scratch
directory under .perfbench-work/ (removed at exit) for the generated
inputs, the warehouse and Spark's local files.

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1 (see perfbench/METRICS.md). With --trace 1
the spans are also written to perfbench/out/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import uuid

HOME = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HOME)
TARGET = os.path.join(HOME, "target")
STAMP = os.path.join(TARGET, "bench-stamp.txt")
CLASSPATH = os.path.join(TARGET, "bench-classpath.txt")
WORKLOADS = ["query_sweep", "elt_land"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the benchmark JVM is compiled from."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HOME, "src")]
    files = [os.path.join(HOME, "build.sbt"),
             os.path.join(HOME, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    want = stamp()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                with open(CLASSPATH) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HOME, env=env, stdin=subprocess.DEVNULL, capture_output=True,
            text=True, timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(want)
    return lines[-1].strip()


def heap():
    """A quarter of the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-wrong")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for need in [os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
                 os.path.join(HOME, "build.sbt")]:
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing: run from a graft checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt must be on PATH")
    cp = build()

    work = os.path.join(ROOT, ".perfbench-work", uuid.uuid4().hex[:12])
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           # a fixed, pre-touched heap keeps peak RSS from following G1's
           # run-to-run heap sizing; it then moves with native memory
           [f"-Xms{heap()}g", f"-Xmx{heap()}g", "-XX:+AlwaysPreTouch", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--home", HOME, "--work", work])
    cmd += ["--smoke"] if a.smoke else []
    cmd += ["--plant-wrong", a.plant_wrong] if a.plant_wrong else []
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    os.makedirs(os.path.join(HOME, "out"), exist_ok=True)
    log = os.path.join(HOME, "out", f"{a.workload}-{a.seed}-{a.trace}.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, stderr=err, text=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s (log: {log})")
            finally:
                # on a timeout or a SIGTERM to this script, the JVM goes too
                if p.poll() is None:
                    p.kill()
                p.wait()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out)
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
