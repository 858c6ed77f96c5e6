#!/usr/bin/env python3
"""Steadiness check: run every workload in two sets of seeded runs of the same
code and check that the sets agree within the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b] [--traced]

Set k uses seeds 100*(k-1)+1 .. 100*(k-1)+runs. For each workload and
end-to-end metric it prints each set's median and quartiles and the spread
(interquartile range over median). It fails when a spread exceeds the
metric's bound or when a later set's median is worse than
the first set's by more than the bound. With --traced it also makes one
traced run per workload, which prints the per-layer table and the tracing
overhead against the untraced runs.

Held-out seed: HELD_OUT_SEED below was never used while the benchmark was
tuned. A later claim of a gain must also hold on it.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HELD_OUT_SEED = 7919


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {p.returncode})")
    if trace:
        sys.stderr.write("".join(l + "\n" for l in p.stderr.splitlines()
                                 if l.startswith(("LAYER", "SELFTIME", "perfbench:"))))
    return json.loads(p.stdout.strip().splitlines()[-1])


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--traced", action="store_true")
    a = ap.parse_args()
    metrics = bench["end_to_end"]
    ok = True
    print(f"held-out seed for later claims: {HELD_OUT_SEED}")
    for w in a.workloads.split(","):
        sets = []
        for k in range(a.sets):
            seeds = [100 * k + i + 1 for i in range(a.runs)]
            results = [run(w, s, bench["run_seconds"], 0) for s in seeds]
            bad = [r for r in results if not r["correct"] or r["failed"]]
            if bad:
                ok = False
                print(f"{w} set {k + 1}: {len(bad)} runs with failed operations")
            sets.append({m["name"]: [r["metrics"][m["name"]]["value"] for r in results]
                         for m in metrics})
        for m in metrics:
            n, bound, unit = m["name"], m["bound"], m["unit"]
            first = None
            for k, values in enumerate(s[n] for s in sets):
                q1, med, q3 = quartiles(values)
                spread = (q3 - q1) / med
                verdict = ""
                if spread > bound:
                    ok, verdict = False, "  SPREAD OVER BOUND"
                elif spread > bound / 3:
                    verdict = "  (spread over a third of the bound)"
                if first is None:
                    first = med
                else:
                    worse = (med - first) / first
                    if m["better"] == "higher":
                        worse = -worse
                    verdict += f"  vs set 1: {100 * worse:+.1f}%"
                    if worse > bound:
                        ok, verdict = False, verdict + " WORSE THAN BOUND"
                print(f"{w:10s} {n:12s} set {k + 1}: median {med:10.4f} {unit:3s} "
                      f"q1 {q1:10.4f} q3 {q3:10.4f} spread {100 * spread:5.1f}% "
                      f"(bound {100 * bound:.0f}%){verdict}")
        if a.traced:
            run(w, 1, bench["run_seconds"], 1)
    print("steady: OK" if ok else "steady: FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
