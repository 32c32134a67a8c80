#!/usr/bin/env python3
"""Mover lifecycle benchmark: extract -> sanitize -> export -> load.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload point_extract|bulk_lifecycle \
        --seed N --seconds S --trace 0|1

The first run in a checkout builds the program and the benchmark with sbt
(perfbench/build.sbt compiles ../src/main/scala together with the benchmark's
own code in perfbench/src) and generates the source tables into perfbench/.work/data.
Later runs reuse both until a source file changes.

Every run is a closed loop with one client on local[min(4, nproc)]: warm-up
cycles, then measured cycles until S seconds have passed (at least one).
A cycle is one extract, one load of its artifact into a fresh in-memory
Derby database and one reload into the now-full database. Outputs are
checked outside the timed parts. A summary goes to stderr; the last line
of stdout is the result object, with the end-to-end metrics (--trace 0) or
the per-layer metrics of a traced run (--trace 1). The raw measurements of
the run stay in perfbench/.work/results/.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
DATA = os.path.join(WORK, "data")

# a run must end within 180 s; the JVM is stopped short of that
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# the module openings spark-submit passes on JDK 17 (the root build.sbt
# gives forked runs the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(PROGRAM_SRC):
        die(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; "
            "run from the root of a full checkout")
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        timeout=BUILD_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (sbt exit {proc.returncode})")
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java(args, timeout):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap: a growing one made peak RSS and GC vary from run to run
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={WORK}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Lifecycle"] + args
    # stdout too goes to stderr: the result line must be the last stdout line
    proc = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=timeout)
    if proc.returncode != 0:
        die(f"benchmark JVM exited with {proc.returncode}")


def summary(raw, res):
    n = len(raw["cycles"])
    attempted, failed, causes = stats.failures(raw)
    lines = [f"perfbench: {raw['workload']} seed {raw['seed']} "
             f"traced={raw['traced']}: {n} measured cycles "
             f"(extract p90 has {stats.samples_beyond(n, 0.9)} samples "
             f"beyond it), {failed} of {attempted} ops failed"]
    lines += [f"  failed x{k}: {c}" for c, k in sorted(causes.items())]
    lines += [f"  error: {e}" for e in raw["errors"]]
    lines += [f"  {k} = {v['value']} {v['unit']}"
              for k, v in res["metrics"].items()]
    print("\n".join(lines), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["point_extract", "bulk_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    try:
        if not os.path.exists(os.path.join(DATA, "_READY")):
            java(["prepare", DATA], RUN_TIMEOUT_S)
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        out = os.path.join(results, f"{a.workload}-{a.seed}-trace{a.trace}.json")
        cpus = min(4, os.cpu_count() or 1)
        java(["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
              str(cpus), DATA, os.path.join(WORK, "run"), out], RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("benchmark JVM timed out and was stopped")
    with open(out) as fh:
        raw = json.load(fh)
    res = stats.result(raw, traced=bool(a.trace))
    summary(raw, res)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
