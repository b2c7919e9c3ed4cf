#!/usr/bin/env python3
"""Traced-run report: per-layer numbers, spans, the deterministic-work check
and the tracing overhead, written under perfbench/results/.

Usage (from the checkout root):
  python3 perfbench/report.py [--seed N] [--workloads a,b,...] [--seconds S]

For each workload it runs the same seed twice untraced and twice traced,
alternating.
 - Deterministic work: the four runs must record identical work (writes,
   Spark jobs per write and per read, delta commits, compactions and the
   count-trigger prediction per lake table). The number of writes is fixed
   by --seconds, not by a clock, and tracing only listens, so any
   difference is a real change of work.
 - Tracing overhead: per end-to-end metric, the mean of the traced runs
   against the mean of the untraced runs, as a share of the latter.
 - perfbench/results/<workload>.json: the per-layer metrics, span self
   times, work record, determinism verdict and overhead;
   perfbench/results/<workload>-spans.json: the first traced run's spans
   as [id, name, start_ms, end_ms, parent_id, op_id].
Exits 1 if any workload's work differs between runs or a run is incorrect.
"""
import argparse
import json
import os
import platform
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run as bench  # noqa: E402

RESULTS = os.path.join(build.BENCH_DIR, "results")


def main():
    s = bench.spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=s["run_seconds"])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in s["workloads"]))
    a = ap.parse_args()
    os.makedirs(RESULTS, exist_ok=True)
    ok = True
    for w in a.workloads.split(","):
        # alternate untraced and traced runs so host drift hits both alike
        runs = {0: [], 1: []}
        for t in (0, 1, 0, 1):
            runs[t].append(bench.run(w, a.seed, a.seconds, t))
        every = runs[0] + runs[1]
        works = [r["work"] for r in every]
        same = all(x == works[0] for x in works)
        correct = all(r["correct"] for r in every)
        ok = ok and same and correct
        overhead = {}
        for m in s["end_to_end"]:
            n = m["name"]
            base = sum(r["end_to_end"][n] for r in runs[0]) / 2
            traced = sum(r["end_to_end"][n] for r in runs[1]) / 2
            overhead[n] = (traced - base) / base if base else 0.0
        first = runs[1][0]
        report = {
            "workload": w, "seed": a.seed, "seconds": a.seconds,
            "host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                     "system": platform.system()},
            "correct": correct,
            "deterministic_work": same,
            "work": works if not same else works[0],
            "per_layer": first["per_layer"],
            "self_ms": first["self_ms"],
            "tracing_overhead": overhead,
            "end_to_end": {"untraced": [r["end_to_end"] for r in runs[0]],
                           "traced": [r["end_to_end"] for r in runs[1]]},
        }
        with open(os.path.join(RESULTS, "%s.json" % w), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
            f.write("\n")
        with open(os.path.join(RESULTS, "%s-spans.json" % w), "w") as f:
            json.dump(first["spans"], f, separators=(",", ":"))
            f.write("\n")
        print("%s: correct=%s deterministic_work=%s overhead(write_ms.p50)=%+.3f"
              % (w, correct, same, overhead.get("write_ms.p50", 0.0)))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
