#!/usr/bin/env python3
"""Benchmark of record for graft: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload etl_sync --seed 1 --seconds 6 --trace 0

Run from the root of a graft checkout. The first run compiles graft and
the benchmark (perfbench/build.py). Each run gets its own scratch root
under perfbench/.runs, removed at exit. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"} with every
end-to-end metric of BENCHMARK.json (--trace 0) or every per-layer one
(--trace 1). The lines before it name the same measurements by the
workload's own operations. A traced run also writes its spans to
perfbench/out/spans_<workload>_<seed>.jsonl.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("etl_sync", "corpus_dedup", "vector_search")
TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests)")
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]
    jar, archive = build.ensure(root)

    run_dir = os.path.join(BENCH, ".runs", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    result_path = os.path.join(run_dir, "result.json")
    spans_path = os.path.join(BENCH, "out", f"spans_{args.workload}_{args.seed}.jsonl")
    cmd = build.java_command(jar, run_dir, archive=archive) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(build.cores()), "--scale", str(args.scale),
        "--root", run_dir, "--result", result_path, "--spans", spans_path,
    ]
    env = dict(os.environ, SPARK_DRIVER_MEM=build.driver_mem(), SPARK_LOCAL_IP="127.0.0.1")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir,
                            env=env, start_new_session=True)

    def stop(*_):
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(3)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {TIMEOUT_S} s")
        if code != 0 or not os.path.exists(result_path):
            fail(f"benchmark JVM exited with {code}")
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
               for m in declared if m["name"] in res["metrics"]}
    unmatched = {m["name"] for m in declared} ^ set(res["metrics"])
    if unmatched:
        print(f"perfbench: metrics not both declared and measured: {sorted(unmatched)}",
              file=sys.stderr)
        res["correct"] = False
    for name, value, unit, n in res["report"]:
        print(f"{args.workload} {name} {value:.6g} {unit} (n={n})")
    if res["failures"]:
        print(f"{args.workload} failures: {res['failures']}", file=sys.stderr)
    print(f"{args.workload} inputs {json.dumps(res['inputs'])} passes {res['passes']} "
          f"measured_s {res['measured_s']:.3f} pass_runs_s {res['pass_runs_s']} "
          f"setups_s {res['setup_runs_s']} warmup_s {res['warmup_s']:.3f}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
