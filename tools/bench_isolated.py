#!/usr/bin/env python3
"""Chunked isolated-JVM battery bench — the canonical BENCH_LOCAL protocol.

Three rounds running, the in-suite whole-battery number needed a controls
file to explain host pressure (r12b, r14, r14b): one JVM accumulating 280
entries' block-manager debt, codegen cache, and GC history makes late
entries read 1.3-4x slow. The slope protocol (fresh JVM per entry,
min-of-3) never needed controls - so this driver promotes it to the
battery record, amortizing JVM startup by running CHUNKS of entries per
JVM (Bench already unpersists + GCs + min-of-Ns per entry inside a run).

Usage:
  python3 tools/bench_isolated.py [--sf DIR] [--chunk N] [--runs N]
                                  [--cpus N] [--out FILE]
                                  [--only NAME[,NAME...]]

--only times just the named entries, chunked like the full battery; it
defaults to $SPARK_GRAFT_ONLY, so a per-entry before/after pair is the same
command run in two checkouts. A name no chunk timed is an error record.

Output: one JSON object, same schema as graft.Bench's line (queries /
metrics / errors / error_count / sf) plus protocol metadata, written to
--out and printed.
"""
import argparse
import json
import os
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JAR = os.path.join(
    REPO, "target/scala-2.13/"
    "secfinancialdatapipelineusingsnowflakedbtspark_2.13-0.1.0.jar")
SUBMIT = "/opt/spark/bin/spark-submit"


def run_bench(env_extra, cpus, capture_stdout=True):
    env = dict(os.environ)
    env.update(env_extra)
    cmd = [SUBMIT, "--master", f"local[{cpus}]", "--driver-memory", "16g",
           "--conf", "spark.ui.enabled=false",
           "--class", "graft.Bench", JAR]
    return subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)


def list_entries(cpus):
    r = run_bench({"SPARK_GRAFT_LIST": "1"}, cpus)
    names = [l.strip() for l in r.stdout.splitlines()
             if l.strip() and " " not in l.strip()]
    if not names:
        sys.exit("entry listing failed - is the jar built? (sbt package)")
    return names


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--chunk", type=int, default=16)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=32)  # match the driver's
    # local[32] and the slope baselines (r15 verdict task #6: a 16-cpu
    # canonical record confounded isolated-to-isolated comparisons)
    ap.add_argument("--out", default="BENCH_LOCAL_isolated.json")
    ap.add_argument("--only", default=os.environ.get("SPARK_GRAFT_ONLY"),
                    help="comma-separated subset (skips listing); "
                         "default $SPARK_GRAFT_ONLY")
    args = ap.parse_args()

    names = sorted({n.strip() for n in (args.only or "").split(",")} - {""}) \
        or list_entries(args.cpus)
    chunks = [names[i:i + args.chunk] for i in range(0, len(names), args.chunk)]
    print(f"[bench_isolated] {len(names)} entries in {len(chunks)} chunks "
          f"of <= {args.chunk}, runs={args.runs}, sf={args.sf}", file=sys.stderr)

    queries, colds, metrics, errors = {}, {}, {}, {}
    t0 = time.time()
    for i, chunk in enumerate(chunks):
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            chunk_out = tf.name
        r = run_bench({
            "SPARK_GRAFT_SF_DIR": args.sf,
            "SPARK_GRAFT_CPUS": str(args.cpus),
            "SPARK_GRAFT_RUNS": str(args.runs),
            "SPARK_GRAFT_ONLY": ",".join(chunk),
            "SPARK_GRAFT_BENCH_OUT": chunk_out,
        }, args.cpus)
        try:
            with open(chunk_out) as f:
                rec = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            # a crashed chunk must be a loud per-entry error, never a gap
            for n in chunk:
                errors[n] = f"chunk {i} failed: rc={r.returncode} ({e})"
            continue
        finally:
            try:
                os.unlink(chunk_out)
            except OSError:
                pass
        queries.update(rec.get("queries", {}))
        colds.update(rec.get("cold", {}))
        metrics.update(rec.get("metrics", {}))
        errors.update(rec.get("errors", {}))
        done = sum(len(c) for c in chunks[:i + 1])
        print(f"[bench_isolated] chunk {i + 1}/{len(chunks)} done "
              f"({done}/{len(names)} entries, {time.time() - t0:.0f}s elapsed)",
              file=sys.stderr)

    for n in names:
        if n not in queries and n not in errors:
            errors[n] = "not timed: no battery entry has this name"

    record = {
        "metric": "total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "cold": colds,
        "metrics": metrics,
        "errors": errors,
        "error_count": len(errors),
        "sf": args.sf,
        "protocol": {"isolation": "fresh-JVM-per-chunk",
                     "chunk": args.chunk, "runs": args.runs,
                     "cpus": args.cpus,
                     "timing": "queries=warm-min (sample 1 under cold)"},
    }
    line = json.dumps(record, sort_keys=True)
    with open(args.out, "w") as f:
        f.write(line + "\n")
    print(line)


if __name__ == "__main__":
    main()
