#!/usr/bin/env python3
"""Runs the benchmark of the KG pipeline's production path.

Run from the repository root:

    python3 perfbench/run.py --workload dense --seed 1 --seconds 20 --trace 0

The first run compiles the program (src/main/scala) together with the
benchmark (perfbench/src/main/scala) with sbt; later runs reuse the
build while no source file has changed. Each run starts one JVM
(Spark local[4], one closed-loop client), which generates the
workload's inputs from the seed, measures, checks the outputs and
prints one JSON result as the last line of standard output. All files
are written under perfbench/ (build output in perfbench/target, run
files in perfbench/work, trace spans in perfbench/out).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "runtime-classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORKLOADS = ("dense", "sparse")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_child(cmd, cwd, env, timeout, out, err):
    """Runs cmd in its own process group, copying its stdout to `out`
    (when given) and keeping its lines; its stderr passes through. Kills
    the whole group on timeout or interruption, and always waits for it.
    Returns (exit code or None when killed, stdout lines)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                            stderr=err, text=True, start_new_session=True)
    lines = []

    def pump():
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            if out is not None:
                print(line, end="", file=out, flush=True)

    reader = threading.Thread(target=pump, daemon=True)
    reader.start()
    try:
        code = proc.wait(timeout=timeout)
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    reader.join(timeout=10)
    return code, lines


def build():
    digest = source_digest()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    code, lines = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "writeClasspath"], HERE, env, BUILD_TIMEOUT_S, None,
                            subprocess.STDOUT)
    if code != 0:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def on_sigterm(_signum, _frame):
    # unwinds into run_child, which kills and reaps the child's group
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, on_sigterm)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        fail(f"program sources not found under {PROGRAM_SRC}; run from a full checkout")

    build()
    with open(CLASSPATH_FILE) as f:
        classpath = f.read().strip()
    work = os.path.join(HERE, "work", a.workload)
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed, pre-faulted heap: on a VM, faulting heap pages in lazily
    # while executor threads allocate makes wall times swing widely
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work]
    if a.trace:
        cmd += ["--spans", os.path.join(HERE, "out", f"spans-{a.workload}-{a.seed}.jsonl")]
    try:
        code, lines = run_child(cmd, work, None, RUN_TIMEOUT_S, sys.stderr, None)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM {'did not finish' if code is None else f'exited with {code}'}")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("benchmark JVM printed no result line")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
