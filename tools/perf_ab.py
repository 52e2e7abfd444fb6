#!/usr/bin/env python3
"""Alternating-pair A/B of the benchmark of record between two checkouts.

    python3 tools/perf_ab.py --parent DIR --change DIR --workload W \
        --pairs 10 --seed0 N [--trace 1] [--out results.json]

Pair i runs `python3 perfbench/run.py --workload W --seed N+i --seconds S
--trace 0` once in each checkout, with S read from the change checkout's
BENCHMARK.json. The side that runs first alternates from pair to pair.
Each checkout builds into its own `.bench_build` (CARGO_TARGET_DIR is set
per checkout, never shared), so the two jars never overwrite each other.

For every end-to-end metric it prints the parent and change medians, the
change's worse-by fraction (signed by the metric's `better`: positive is
worse), the metric's bound, the parent's IQR/median and how many pairs the
change won. A metric whose parent IQR/median is wider than its bound is
marked "unresolved": the runs spread too widely to tell. It also prints
failed/attempted operations per side. The exit code is 1 when a metric is
worse than its bound or the change's failed share is higher than the
parent's, else 0.

With `--trace 1` every pair is followed by a traced pair (`--trace 1`
runs of both checkouts, same seed, the side that runs first alternating
too), and the parent and change medians of every per-layer metric the
workload reports are printed after the end-to-end summary. They are
informational: they have no bound and do not change the exit code.

`--summarize results.json` re-prints the summary of a saved run without
running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def worse_by(parent, change, better):
    """Fraction by which `change` is worse than `parent` (negative: better)."""
    if parent == 0:
        return 0.0 if change == parent else float("inf")
    d = (change - parent) / abs(parent)
    return d if better == "lower" else 0.0 - d  # 0.0 - d: no "-0.000"


def summarize(end_to_end, runs):
    """Summary of `runs` = {"parent": [result, ...], "change": [...]}, where
    a result is perfbench/run.py's last stdout line (parsed) or None for a
    run that produced none; the two lists are aligned by pair."""
    rows = []
    for m in end_to_end:
        name = m["name"]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(runs["parent"], runs["change"])
                 if p and c and name in p["metrics"] and name in c["metrics"]]
        if len(pairs) < 2:
            rows.append({"name": name, "n": len(pairs), "verdict": "missing"})
            continue
        par = [p for p, _ in pairs]
        chg = [c for _, c in pairs]
        q1, pmed, q3 = quartiles(par)
        cmed = statistics.median(chg)
        spread = (q3 - q1) / abs(pmed) if pmed else float("inf")
        wb = worse_by(pmed, cmed, m["better"])
        wins = sum(1 for p, c in pairs if worse_by(p, c, m["better"]) < 0)
        if wb > m["bound"]:
            verdict = "WORSE"
        elif spread > m["bound"]:
            verdict = "unresolved"
        else:
            verdict = "ok"
        rows.append({"name": name, "n": len(pairs), "parent": pmed, "change": cmed,
                     "worse_by": wb, "bound": m["bound"], "parent_iqr_rel": spread,
                     "wins": wins, "verdict": verdict})
    ops = {}
    for side in SIDES:
        done = [r for r in runs[side] if r]
        ops[side] = {
            "attempted": sum(r["attempted"] for r in done),
            "failed": sum(r["failed"] for r in done),
            "incorrect_runs": sum(1 for r in done if not r["correct"]),
            "missing_runs": len(runs[side]) - len(done),
        }
    return rows, ops


def summarize_layers(per_layer, traced):
    """Parent and change medians of each per-layer metric over the traced
    pairs `traced` (same shape as `runs` in summarize); metrics the
    workload does not report, or reports as 0 on both sides, are left out."""
    rows = []
    for m in per_layer:
        name = m["name"]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in zip(traced["parent"], traced["change"])
                 if p and c and name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        pmed = statistics.median(p for p, _ in pairs)
        cmed = statistics.median(c for _, c in pairs)
        if pmed == cmed == 0:
            continue
        rows.append({"name": name, "n": len(pairs), "parent": pmed, "change": cmed,
                     "worse_by": worse_by(pmed, cmed, m["better"])})
    return rows


def failed_share(o):
    # a run that produced no result counts as one failed operation
    att = o["attempted"] + o["missing_runs"]
    return (o["failed"] + o["missing_runs"]) / att if att else 0.0


def regressed(rows, ops):
    return (any(r["verdict"] in ("WORSE", "missing") for r in rows)
            or failed_share(ops["change"]) > failed_share(ops["parent"])
            or ops["change"]["incorrect_runs"] > ops["parent"]["incorrect_runs"])


def report(workload, rows, ops, out=None):
    out = out or sys.stdout
    print(f"== {workload}", file=out)
    print(f"{'metric':<18}{'n':>3}{'parent':>12}{'change':>12}{'worse_by':>10}"
          f"{'bound':>7}{'p_iqr/med':>10}{'wins':>6}  verdict", file=out)
    for r in rows:
        if r["verdict"] == "missing":
            print(f"{r['name']:<18}{r['n']:>3}  (fewer than 2 complete pairs)  missing",
                  file=out)
            continue
        print(f"{r['name']:<18}{r['n']:>3}{r['parent']:>12.6g}{r['change']:>12.6g}"
              f"{r['worse_by']:>+10.3f}{r['bound']:>7.2f}{r['parent_iqr_rel']:>10.3f}"
              f"{r['wins']:>3}/{r['n']:<2}  {r['verdict']}", file=out)
    for side in SIDES:
        o = ops[side]
        print(f"{side}: failed/attempted {o['failed']}/{o['attempted']}"
              f"  incorrect runs {o['incorrect_runs']}  runs without result "
              f"{o['missing_runs']}", file=out)


def report_layers(workload, rows, out=None):
    out = out or sys.stdout
    print(f"== {workload} per-layer, traced pairs (informational: no bound, "
          "no effect on the exit code)", file=out)
    print(f"{'metric':<44}{'n':>3}{'parent':>12}{'change':>12}{'worse_by':>10}", file=out)
    for r in rows:
        print(f"{r['name']:<44}{r['n']:>3}{r['parent']:>12.6g}{r['change']:>12.6g}"
              f"{r['worse_by']:>+10.3f}", file=out)


def run_once(checkout, workload, seed, seconds, trace=0):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(f"perf_ab: {checkout} seed {seed} exited {r.returncode}:\n"
                         f"{r.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="1: also run a traced pair per pair and print per-layer medians")
    ap.add_argument("--out", help="write the raw results here (JSON)")
    ap.add_argument("--summarize", help="summarize a saved --out file instead of running")
    args = ap.parse_args()

    if args.summarize:
        with open(args.summarize) as f:
            saved = json.load(f)
        spec, workload, runs = saved["spec"], saved["workload"], saved["runs"]
        traced = saved.get("traced")
    else:
        for a in ("parent", "change", "workload", "seed0"):
            if getattr(args, a) is None:
                ap.error(f"--{a} is required unless --summarize is given")
        dirs = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
        with open(os.path.join(dirs["change"], "BENCHMARK.json")) as f:
            spec = json.load(f)
        workload = args.workload
        runs = {side: [] for side in SIDES}
        traced = {side: [] for side in SIDES} if args.trace else None
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            for trace, into in ((0, runs), (1, traced)):
                if into is None:
                    continue
                for side in order:
                    res = run_once(dirs[side], workload, seed, spec["run_seconds"], trace)
                    into[side].append(res)
                    ok = "no result" if res is None else f"failed {res['failed']}/{res['attempted']}"
                    print(f"perf_ab: pair {i + 1}/{args.pairs} seed {seed} {side}"
                          f"{' traced' if trace else ''}: {ok}", file=sys.stderr, flush=True)
        if args.out:
            with open(args.out, "w") as f:
                saved = {"spec": spec, "workload": workload, "runs": runs}
                if traced:
                    saved["traced"] = traced
                json.dump(saved, f)

    rows, ops = summarize(spec["end_to_end"], runs)
    report(workload, rows, ops)
    if traced:
        report_layers(workload, summarize_layers(spec["per_layer"], traced))
    sys.exit(1 if regressed(rows, ops) else 0)


if __name__ == "__main__":
    main()
