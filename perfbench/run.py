#!/usr/bin/env python3
"""Run one perfbench workload against the engine source beside this directory.

    python3 perfbench/run.py --workload retrieve_serve --seed 1 --seconds 5 --trace 0

Run it from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under .bench_build/; later
runs start the JVM directly. The last line of standard output is the result
object: {"correct", "attempted", "failed", "metrics"}. The full run record (and
the spans, with --trace 1) lands in .bench_build/perfbench/runs/.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("rag_experiment", "retrieve_serve")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 600
JVM_OPTS = [
    "-Xmx3g",
    "-Xms3g",
    "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=512m",
    # C2 compiles a hot method after a fifth of the default calls, so
    # the few warm-up ops bring the engine's paths to their steady speed
    "-XX:Tier4InvocationThreshold=1000",
    "-XX:Tier4MinInvocationThreshold=200",
    "-XX:Tier4CompileThreshold=3000",
    "-XX:Tier4BackEdgeThreshold=10000",
    "-Dspark.sql.codegen.cache.maxEntries=4096",
] + [
    arg
    for pkg in (
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
        "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    )
    for arg in ("--add-opens", pkg + "=ALL-UNNAMED")
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads: both build definitions and main sources."""
    roots = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
        os.path.join(HERE, "src", "main"),
    ]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless the cached classpath matches the sources."""
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "[error]" in proc.stdout:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 3)
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return cp


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail("engine source not found next to perfbench/ (missing %s)" % p)

    cp = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "graft.perfbench.Main",
                                 "--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", a.trace,
                                 "--out", OUT, "--commit", commit()]
    start = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGTERM)
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        fail("run exceeded %d s" % RUN_LIMIT_S, 4)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    print("perfbench: run took %.1f s" % (time.time() - start), file=sys.stderr)
    sys.exit(code)


if __name__ == "__main__":
    main()
