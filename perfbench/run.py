#!/usr/bin/env python3
"""Runs one workload of the engine's benchmark and prints its result.

    python3 perfbench/run.py --workload tenants_exact --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (into perfbench/target); later runs reuse
the build while the sources are unchanged. Everything a run writes stays
under .bench_build/perfbench in the checkout. The last line of standard
output is the result as one JSON object; progress, per-workload figures
and Spark's warnings go to standard error.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("tenants_exact", "graph_updates", "query_suite")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit needs these (as in the engine's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    dirs = [ENGINE_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark when the sources changed; returns the classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file, stamp_file = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "stamp")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp()
        if os.path.exists(stamp_file) and os.path.exists(cp_file):
            with open(stamp_file) as f:
                if f.read() == want:
                    with open(cp_file) as g:
                        return g.read().strip()
        log("building engine and benchmark with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false").strip()
        t0 = time.time()
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        if p.returncode != 0:
            sys.stderr.write(p.stdout[-6000:])
            sys.exit(f"[perfbench] build failed (sbt exit {p.returncode})")
        classes = os.path.join(HERE, "target", "scala-2.13", "classes")
        cps = [l.strip() for l in p.stdout.splitlines() if l.strip().startswith(classes)]
        if not cps:
            sys.stderr.write(p.stdout[-6000:])
            sys.exit("[perfbench] build printed no classpath")
        log(f"built in {time.time() - t0:.1f} s")
        with open(cp_file, "w") as f:
            f.write(cps[-1])
        with open(stamp_file, "w") as f:
            f.write(want)
        return cps[-1]


def java(cp, main, args, work, timeout):
    """Runs a JVM main; returns (exit code, stdout). Standard error passes through."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # A fixed young generation keeps peak RSS from following the
    # collector's adaptive resizing from run to run.
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", cp, main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    p = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log(f"{main} did not finish within {timeout} s")
        return 124, ""
    return p.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's own tests")
    ap.add_argument("--pin", nargs="?", const=os.path.join(HERE, "pins", "query_suite.tsv"),
                    metavar="FILE", help="write the query_suite pins (default: perfbench/pins/query_suite.tsv)")
    a = ap.parse_args()
    if not (a.selftest or a.pin) and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        sys.exit(f"[perfbench] no engine sources under {ENGINE_SRC}; run from a full checkout")
    cp = build()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = java(cp, "perfbench.SelfTest", [], work, RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        if a.pin:
            code, _ = java(cp, "perfbench.QuerySuite", [
                "--root", ROOT, "--work", work,
                "--out", os.path.abspath(a.pin)], work, 3600)
            sys.exit(code)
        code, out = java(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", ROOT, "--work", work,
            "--results", os.path.join(OUT, "results"),
            "--t0-ms", str(int(time.time() * 1000))], work, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        sys.exit(code or 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"[perfbench] malformed result line: {lines[-1][:300]}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
