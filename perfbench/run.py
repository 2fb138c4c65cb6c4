#!/usr/bin/env python3
"""Benchmark entry point. Run it from the repository root:

    python3 perfbench/run.py --workload edgar_etl_serve --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5 --trace 0

Builds the program and the harness from source (once per source state),
runs one workload in a fresh JVM, which also applies the output gates, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
`--workload all` runs every workload in turn and exits non-zero if any gate
fails. Needs a JDK (`java`), the Spark distribution the program's build
compiles against, and this Python's standard library; everything it writes
goes under .bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["edgar_etl_serve", "operator_mix"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Program and harness sources, and the resource directories."""
    srcs, resources = [], []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            srcs += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
        if os.path.isdir(os.path.join(base, "resources")):
            resources.append(os.path.join(base, "resources"))
    return sorted(srcs), resources


def tool(name):
    """A JDK tool: from PATH, else from JAVA_HOME."""
    return shutil.which(name) or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", name)


def spark_jars():
    """The jar directory the program's build compiles against (its
    `unmanagedBase`), else that of $SPARK_HOME."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if m:
        return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def source_stamp(srcs, resources, jars):
    """Content hash of everything the build and the run read from the
    checkout, and the names of the jars they read."""
    h = hashlib.sha256()
    for p in srcs + sorted(os.path.join(d, f) for r in resources
                           for d, _, fs in os.walk(r) for f in fs):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build():
    """Compiles program + harness with the Scala compiler the Spark
    distribution ships (the Scala version the program is built with); no
    build tool, no dependency resolution. Returns the runtime classpath."""
    srcs, resources = sources()
    spark = spark_jars()
    jars = sorted(glob.glob(os.path.join(spark, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {spark}")
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp(srcs, resources, jars)
    cp = os.pathsep.join([classes] + resources + [os.path.join(spark, "*")])
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return cp
    log(f"compiling {len(srcs)} program and harness sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    fresh = classes + ".new"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(fresh)
    os.makedirs(tmp)
    args = os.path.join(BUILD, "sources.txt")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{s}"' for s in srcs))
    p = run_child([tool("java"), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                   f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(spark, "*"),
                   "scala.tools.nsc.Main", "-classpath", os.pathsep.join(jars),
                   "-d", fresh, "-nowarn", f"@{args}"], BUILD_TIMEOUT_S, capture=True)
    if p is None or p.returncode != 0:
        if p is not None:
            sys.stderr.write(p.stdout[-6000:])
        raise SystemExit("build failed" + (" (timeout)" if p is None else ""))
    os.rename(fresh, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


# Spark binds to the loopback address whatever the host name resolves to
CHILD_ENV = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def run_child(cmd, timeout, capture=False, stdout=None):
    """Runs one child process to its end (killed at `timeout`, or when this
    script is stopped); returns the CompletedProcess, or None on timeout."""
    try:
        return subprocess.run(cmd, cwd=ROOT, env=CHILD_ENV, stdin=subprocess.DEVNULL,
                              timeout=timeout, stdout=subprocess.PIPE if capture else stdout,
                              stderr=subprocess.STDOUT, text=capture)
    except subprocess.TimeoutExpired:
        return None


# the module openings spark-submit adds on JDK 17
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, workload, seed, seconds, trace):
    work = os.path.join(ROOT, ".bench_build", f"run-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    # a fixed set of JIT compiler threads: their CPU time is read per thread
    cmd = [tool("java"), "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", f"-Djava.io.tmpdir={tmp}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", work, "--out", out]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        p = run_child(cmd, JVM_TIMEOUT_S, stdout=logf)
    if p is None or p.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(open(jvm_log).read()[-6000:])
        raise SystemExit("benchmark JVM " + ("timed out" if p is None
                                             else f"failed ({p.returncode})"))
    return json.load(open(out))


def run_one(cp, workload, seed, seconds, trace):
    rec = run_jvm(cp, workload, seed, seconds, trace)
    for n in rec["gates"]:
        log(n)
    for e in rec["errors"]:
        log("FAILED " + e)
    setup = rec["setup"]
    log(f"{workload}: session {setup['session_s']:.2f}s, inputs and warm-up "
        f"{setup['inputs_and_warm_up_s']:.2f}s (set-up CPU {setup['cpu_s']:.2f}s), "
        f"passes {[round(p['wall_s'], 3) for p in rec['passes']]}, "
        f"without steal {[round(p['unstolen_wall_s'], 3) for p in rec['passes']]}, "
        f"output gates {rec['check_s']:.1f}s")
    # attempted: requests or entries issued; failed: those that failed, plus
    # every output gate that did not hold (a wrong output is a failure)
    attempted = max(1, rec["attempted"])
    return {"correct": not rec["errors"], "attempted": attempted,
            "failed": min(rec["failed"], attempted), "metrics": rec["metrics"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # stopped from outside: the running child is killed and waited for on
    # the way out (subprocess.run does both when interrupted)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("no program source next to the benchmark: run from a full checkout")
    cp = build()
    if a.workload != "all":
        print(json.dumps(run_one(cp, a.workload, a.seed, a.seconds, a.trace)), flush=True)
        return 0
    ok = True
    for w in WORKLOADS:
        r = run_one(cp, w, a.seed, a.seconds, a.trace)
        for name, m in r["metrics"].items():
            print(f"{w} {name} = {m['value']:.6g} {m['unit']}", flush=True)
        print(f"{w} correct = {r['correct']}, failed {r['failed']} of {r['attempted']}", flush=True)
        ok = ok and r["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
