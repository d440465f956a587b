"""Benchmark command: builds the program and the benchmark, runs one workload
in a fresh JVM and prints the result object as the last line of stdout.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 0

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones (and writes the run's spans under the build dir). A
per-layer metric of a layer the workload does not exercise reads 0. Exits
non-zero, without a result, when the build or the run fails, and with the
result but non-zero when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
RUN_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def check_data(data_dir):
    with open(os.path.join(data_dir, "SHA256SUMS")) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(data_dir, name), "rb") as g:
                if hashlib.sha256(g.read()).hexdigest() != digest:
                    raise SystemExit(f"perfbench: {name} does not match SHA256SUMS")


def stopped(signum, _frame):
    # unwinds through the finally blocks that stop the compiler or the JVM
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stopped)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    data_dir = os.path.join(HERE, "data")
    check_data(data_dir)
    classes = build.build()

    runs = os.path.join(os.path.dirname(build.build_dir()), "perfbench-runs")
    run_dir = os.path.join(runs, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    cp = os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(build.spark_jars(), "*")])
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # a fixed heap: growing one pays for fresh pages mid-run, which made
        # run-to-run times swing by a quarter on a 4-core VM
        "-Xms1200m", "-Xmx1200m", "-Xss4m", "-XX:-UsePerfData",
        "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--run-dir", run_dir, "--data-dir", data_dir, "--out", out]
    proc = None
    try:
        proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=run_dir)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
        if not os.path.isfile(out):
            raise SystemExit(f"perfbench: run failed (exit {rc}) without a result")
        with open(out) as f:
            res = json.load(f)
    finally:
        # the JVM never outlives the command
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]]["value"], "unit": m["unit"]}
        elif a.trace:
            metrics[m["name"]] = {"value": 0, "unit": m["unit"]}
        else:
            raise SystemExit(f"perfbench: run did not measure {m['name']}")
    for k in sorted(set(got) - set(metrics)):
        print(f"perfbench: measured but not declared: {k}", file=sys.stderr)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] and rc == 0 else 1)


if __name__ == "__main__":
    main()
