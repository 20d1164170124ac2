#!/usr/bin/env python3
"""Run the benchmark's workloads and check them against BENCHMARK.json.

All workloads once at one seed: prints every end-to-end metric with its unit
and whether every output digest matched; exits 1 if any run was incorrect.

    python3 perfbench/selftest.py --seed 7

Agreement self-test: two sets of runs over seeds 1..N for each workload. For
each end-to-end metric it prints the spread of each set (quartile distance
over median, as statistics.quantiles(n=4) gives them) and the drift of the
second set's median from the first's, and fails if a spread other than
setup_s's exceeds the metric's bound or a median drifts by more than it.
Results go to .bench_runs/selftest.json.

    python3 perfbench/selftest.py --agree --seeds 10 [--workload curation]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run(workload, seed, seconds, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def one_seed(bench, seed):
    ok = True
    for w in bench["workloads"]:
        r = run(w["name"], seed, bench["run_seconds"])
        if r is None:
            print("%-10s seed %d: run failed" % (w["name"], seed))
            ok = False
            continue
        ok &= r["correct"]
        print("%-10s seed %d: correct=%s attempted=%d failed=%d fail_frac=%.4f" % (
            w["name"], seed, r["correct"], r["attempted"], r["failed"],
            r["failed"] / r["attempted"]))
        for name, m in r["metrics"].items():
            print("    %-16s %14.4f %s" % (name, m["value"], m["unit"]))
    return ok


def agree(bench, seeds, workloads):
    summary = {}
    ok = True
    for w in workloads:
        sets = []
        for _ in range(2):
            runs = [run(w, s, bench["run_seconds"]) for s in range(1, seeds + 1)]
            if any(r is None or not r["correct"] for r in runs):
                print("%s: a run failed or was incorrect" % w)
                ok = False
            sets.append([r for r in runs if r is not None])
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a, b = ([r["metrics"][name]["value"] for r in s] for s in sets)
            sa, sb = spread(a), spread(b)
            drift = statistics.median(b) / statistics.median(a) - 1
            good = drift <= bound and (name == "setup_s" or (sa <= bound and sb <= bound))
            ok &= good
            summary["%s/%s" % (w, name)] = {
                "median_1": statistics.median(a), "median_2": statistics.median(b),
                "spread_1": sa, "spread_2": sb, "drift": drift, "bound": bound,
                "ok": good, "values_1": a, "values_2": b,
                "wall_s": [r["wall_s"] for r in sets[0] + sets[1]]}
            print("%-10s %-14s med %10.3f %10.3f  spread %.3f %.3f  drift %+.3f  bound %.2f %s" % (
                w, name, statistics.median(a), statistics.median(b), sa, sb, drift, bound,
                "ok" if good else "FAIL"))
    os.makedirs(os.path.join(ROOT, ".bench_runs"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_runs", "selftest.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--agree", action="store_true")
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    bench = spec()
    if a.agree:
        ws = a.workload or [w["name"] for w in bench["workloads"]]
        ok = agree(bench, a.seeds, ws)
    else:
        ok = one_seed(bench, a.seed)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
