#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload <batch|live_ingest> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (outputs under target/ directories and .bench_build/);
later runs reuse the build while the sources are unchanged. The benchmark
JVM is then started directly, and the last line of its standard output,
one JSON object with `correct`, `attempted`, `failed` and `metrics`, is
printed as the last line here. Every other byte of output goes to stderr.
Exits non-zero, printing no result, when the build or the run fails or
runs out of time.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch", "live_ingest")

BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 175          # a run must end within 180 s of its start
JVM_HEAP = "-Xmx3g"

# Spark on JDK 17 needs these outside spark-submit (the same list the
# program's own build passes to its forked JVMs).
ADD_OPENS = [flag for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for flag in ("--add-opens", pkg + "=ALL-UNNAMED")]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: paths, sizes and mtimes."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, timeout_s, **kw):
    """Run `cmd` in its own process group; kill the whole group on
    timeout. Returns (returncode or None on timeout, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def build():
    """Compile the program and the benchmark; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("program sources (build.sbt, src/main/scala) not found next to perfbench/")
        return None
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building program and benchmark with sbt")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, _ = run_bounded(["sbt", "-batch", f"-Djava.io.tmpdir={tmp}",
                         "-Dsbt.server.autostart=false", "compile", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr,
                        stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.isfile(cp_file):
        log(f"build failed (exit {rc})")
        return None
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp_file).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    t_start = time.time()
    cp = build()
    if cp is None:
        return 2
    built_s = time.time() - t_start
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--work", os.path.join(BUILD, "work")]
    budget = RUN_BUDGET_S + (built_s if built_s > 1 else 0) - (time.time() - t_start)
    rc, out = run_bounded(cmd, max(budget, 30), cwd=ROOT, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        log("run exceeded its time budget; killed")
        return 3
    lines = [ln for ln in out.splitlines() if ln.strip()]
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if rc != 0 or not lines:
        log(f"benchmark JVM exited {rc} without a result")
        return rc or 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        log("malformed result line")
        return 5
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
