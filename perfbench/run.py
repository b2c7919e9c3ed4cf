#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the checkout root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest

Builds the engine and the benchmark from source (perfbench/build.py), then
runs graftbench.Main in one JVM with `local[N]`, N = min(4, cores). Every
file the run writes lives under `.bench_build/` in the checkout: the lake,
checkpoints and WAL segments in a per-run work dir that is deleted at the
end, and the full result (all metrics, the deterministic-work record and,
with --trace 1, the spans) in
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.

With --trace 0 the printed metrics are the end-to-end ones, with --trace 1
the per-layer ones. Exits non-zero without printing a result when the build
or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
BENCH = os.path.join(build.BENCH_DIR, "..", "BENCHMARK.json")


def spec():
    with open(BENCH) as f:
        return json.load(f)


def java(main, args, name):
    """Run `main` in a fresh JVM inside a scratch work dir that is deleted
    afterwards; return its exit code ("timeout" if it was killed)."""
    build.build()
    work = os.path.join(build.BUILD_DIR, "work", "%s-%d" % (name, os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file in the system temp dir
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), main, "--work", work] + args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            cwd=work, start_new_session=True)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return the full result dict."""
    results = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, "%s-seed%d-trace%d.json" % (workload, seed, trace))
    if os.path.exists(out):
        os.remove(out)
    code = java("graftbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--out", out], workload)
    if code != 0 or not os.path.isfile(out):
        raise SystemExit("run: %s failed (%s)" % (workload, code))
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selftest", action="store_true",
                    help="check that the correctness model catches a corrupted lake")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.selftest:
        code = java("graftbench.SelfTest", [], "selftest")
        print("selftest: %s" % ("ok" if code == 0 else "FAILED (%s)" % code))
        sys.exit(0 if code == 0 else 1)
    if None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    s = spec()
    names = [w["name"] for w in s["workloads"]]
    if a.workload not in names:
        raise SystemExit("run: unknown workload %r (have %s)" % (a.workload, names))
    r = run(a.workload, a.seed, a.seconds, a.trace)
    if r["errors"]:
        print("\n".join(r["errors"]), file=sys.stderr)
    section, metrics = (("per_layer", s["per_layer"]) if a.trace
                        else ("end_to_end", s["end_to_end"]))
    values = r[section]
    print(json.dumps({
        "correct": r["correct"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in metrics},
    }))


if __name__ == "__main__":
    main()
