#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts: a parent and a change.

Usage:
  python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N
                               --seed0 S [--out FILE.jsonl]

Pair i runs `perfbench/run.py --workload W --seed S+i --trace 0` once in
each checkout, one after the other, parent first on even pairs and change
first on odd ones, so a drift of the host's load falls on both sides alike.
Both sides run for the `run_seconds` that CHANGE_DIR's BENCHMARK.json sets.

For every end-to-end metric that CHANGE_DIR's BENCHMARK.json declares, it
prints each side's median and quartiles, the pairs the change won, and
whether a gain claim holds: the change wins at least 9 pairs in 10, and its
median is better than the parent's by more than the parent's interquartile
range. Every run's correctness (`correct`, `failed` of `attempted`) is
printed too, and a run that is not correct makes the exit status non-zero.

With --out, each run's result line is appended to FILE as JSON (side, pair,
seed, and the run's own record). Uses Python's standard library only, and
writes nothing inside either checkout besides what perfbench itself writes
there (its build and run directories under .bench_build/).
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time


def log(msg):
    print(f"[bench_pairs] {msg}", file=sys.stderr, flush=True)


def run(checkout, workload, seed, seconds):
    """One untraced perfbench run in `checkout`; its JSON result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "error": f"exit {p.returncode}", "wall_s": time.time() - t0}
    rec = json.loads(lines[-1])
    rec["wall_s"] = time.time() - t0
    return rec


def quartiles(xs):
    """(q1, median, q3); with one value all three are that value."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(metrics, records, pairs):
    """One line per end-to-end metric over the pairs whose two runs both
    reported it (a failed run reports nothing)."""
    out = []
    for m in metrics:
        name, lower = m["name"], m.get("better", "lower") == "lower"
        rows = [(records[("parent", i)]["metrics"].get(name, {}).get("value"),
                 records[("change", i)]["metrics"].get(name, {}).get("value"))
                for i in range(pairs)]
        rows = [(p, c) for p, c in rows if p is not None and c is not None]
        if not rows:
            out.append(f"{name}: no complete pair")
            continue
        ps, cs = [p for p, _ in rows], [c for _, c in rows]
        pq1, pmed, pq3 = quartiles(ps)
        cq1, cmed, cq3 = quartiles(cs)
        wins = sum(1 for p, c in rows if (c < p if lower else c > p))
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = wins >= math.ceil(0.9 * len(rows)) and gap > pq3 - pq1
        change = (cmed - pmed) / pmed * 100 if pmed else float("nan")
        out.append(
            f"{name} ({m.get('unit', '')}, {'lower' if lower else 'higher'} is better, "
            f"bound {m.get('bound', '-')}): parent median {pmed:.4g} [q1 {pq1:.4g}, q3 {pq3:.4g}]"
            f" | change median {cmed:.4g} [q1 {cq1:.4g}, q3 {cq3:.4g}] | {change:+.1f}%"
            f" | change wins {wins}/{len(rows)} | parent IQR {pq3 - pq1:.4g}"
            f" | claim {'holds' if holds else 'does not hold'}")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out")
    a = ap.parse_args()
    sides = {"parent": os.path.abspath(a.parent_dir), "change": os.path.abspath(a.change_dir)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    metrics = bench["end_to_end"]
    records, ok = {}, True
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = run(sides[side], a.workload, seed, bench["run_seconds"])
            records[(side, i)] = rec
            ok = ok and rec.get("correct", False)
            log(f"pair {i} seed {seed} {side}: correct {rec.get('correct')}, failed "
                f"{rec.get('failed')} of {rec.get('attempted')}, {rec['wall_s']:.0f} s, " +
                ", ".join(f"{m['name']} {rec['metrics'][m['name']]['value']:.4g}"
                          for m in metrics if m["name"] in rec.get("metrics", {})))
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"side": side, "pair": i, "seed": seed,
                                         "workload": a.workload, **rec}) + "\n")
    print(f"{a.workload}: {a.pairs} alternating pairs, seeds {a.seed0}-{a.seed0 + a.pairs - 1}")
    for line in summarize(metrics, records, a.pairs):
        print(line)
    for side in ("parent", "change"):
        runs = [records[(side, i)] for i in range(a.pairs)]
        print(f"{side}: {sum(r.get('correct', False) for r in runs)}/{len(runs)} runs correct, "
              f"failed {sum(r.get('failed', 0) for r in runs)} of "
              f"{sum(r.get('attempted', 0) for r in runs)} operations")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
