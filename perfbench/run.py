#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 12 --trace 0

Builds the library and harness first if needed (perfbench/build.py), then
runs one JVM on local[nproc] against seeded inputs generated from the sf0.01
tables in perfbench/data. Every run gets its own directory under
.bench_runs/ for java.io.tmpdir, spark.local.dir and the generated inputs,
deleted when the run ends. A receipt line (nproc, loadavg before/after,
within-run spread, tail percentile and sample count) is printed before the
result and appended to .bench_runs/receipts.jsonl; the full report of the
run (per-operation latencies and digests, spans and stages when traced) is
written to .bench_runs/reports/.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. --record rewrites the committed digests of the workload for
the given seed (perfbench/digests.txt) from the run's warm-up pass.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

RUNS = os.path.join(ROOT, ".bench_runs")
TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()

    bench = spec()
    data = os.path.join(HERE, "data")
    if not os.path.isdir(data):
        raise SystemExit("perfbench: source tables missing at %s" % data)
    classes = build.ensure()

    os.makedirs(RUNS, exist_ok=True)
    for d in os.listdir(RUNS):  # left behind by a run that was killed outright
        pid = d.rsplit("-", 1)[-1]
        if d.startswith("run-") and pid.isdigit() and not os.path.exists("/proc/" + pid):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(RUNS, "run-%s-%d" % (tag, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    report = os.path.join(RUNS, "reports", tag + ".json")
    cmd = ["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS] + [
        "-Xmx2g", "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=64",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--source", data, "--work", work, "--report", report,
        "--digests", os.path.join(HERE, "digests.txt")] + (["--record"] if a.record else [])

    load_before = loadavg()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: run exceeded %d s" % TIMEOUT_S)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    load_after = loadavg()
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit("perfbench: JVM exited %d without a result" % proc.returncode)
    res = json.loads(lines[-1])

    kind = "per_layer" if a.trace else "end_to_end"
    metrics = {}
    for m in bench[kind]:
        got = res["metrics"].get(m["name"])
        if got is None:
            # a traced layer the workload never reached did no work
            if not a.trace:
                raise SystemExit("perfbench: run did not produce metric %s" % m["name"])
            got = {"value": 0.0}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    with open(report) as fh:
        detail = json.load(fh)
    receipt = {
        "receipt": tag, "nproc": os.cpu_count(), "loadavg_before": load_before,
        "loadavg_after": load_after, "within_run_spread": detail["within_run_spread"],
        "passes": sum(1 for p in detail["passes"] if not p["traced"]),
        "tail_percentile": detail["tail_percentile"], "op_samples": detail["op_samples"],
        "setup": detail["setup"], "attempted": res["attempted"], "failed": res["failed"],
        "fail_frac": res["failed"] / res["attempted"],
    }
    with open(os.path.join(RUNS, "receipts.jsonl"), "a") as fh:
        fh.write(json.dumps(receipt) + "\n")
    print(json.dumps(receipt))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
