#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload wells --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (the harness's own build file is
perfbench/build.sbt) and caches the runtime classpath; later runs start the
JVM directly. Everything a run writes goes under the build directory
($CARGO_TARGET_DIR, default .bench_build) and sbt's own target directories.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("wells", "catalog")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the same list the
# program's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


CHILDREN = []


def stop(proc):
    """Kill a child started in its own session, with everything it started."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def on_term(signum, _frame):
    for proc in CHILDREN:
        stop(proc)
    sys.exit(128 + signum)


def source_digest():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(build_dir):
    """Compile with sbt once per source digest; return the classpath file."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = os.path.join(build_dir, "classpath.digest")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return cp_file
    print("[perfbench] building program and harness with sbt", file=sys.stderr)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, start_new_session=True)
    CHILDREN.append(proc)
    try:
        stdout, stderr = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        fail("build timed out")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
        sys.stderr.write(stdout[-4000:] + stderr[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp_file


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, on_term)
    signal.signal(signal.SIGINT, on_term)

    # The harness compiles the program from the checkout's sources; without
    # them there is nothing to measure.
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program source missing: {need}")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp_file = build(build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    summary = os.path.join(work, "summary.txt")
    log = os.path.join(build_dir, "logs", f"{a.workload}-{a.seed}-{a.trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    os.makedirs(os.path.join(build_dir, "traces"), exist_ok=True)
    with open(cp_file) as fh:
        classpath = fh.read()
    cmd = ["java", "-Xmx3g", "-Xss4m", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", os.path.join(HERE, "data", "sf0.01"),
            "--fingerprints", os.path.join(HERE, "fingerprints.tsv"),
            "--result", result, "--summary", summary,
            "--trace-out", os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.jsonl")]
    code = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                    stdout=lf, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            CHILDREN.append(proc)
            try:
                code = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(proc)
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
        if os.path.exists(summary):
            with open(summary) as fh:
                sys.stdout.write(fh.read())
        if code != 0 or not os.path.exists(result):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"JVM exited with {code}; log: {log}")
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(res), flush=True)
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
