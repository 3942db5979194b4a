#!/usr/bin/env python3
"""Journey benchmark of the graft engine.

    python3 journeybench/run.py --workload upload_churn|knn_batch --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the harness from source
(build.py), runs one workload in one JVM on local[nproc] (src/Journey.scala),
runs the checks that need DuckDB (oracle.py), and prints two lines: a report
(per-operation latencies, stationarity, checks, provenance) and, last, the
result object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See README.md for the workloads and what each metric should move with.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import oracle  # noqa: E402
import vectors  # noqa: E402

WORKLOADS = ("upload_churn", "knn_batch")
RUN_LIMIT_S = 170
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(classpath, args, work, budget_s):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [build.java(), "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", *JVM_OPENS, "-cp", os.pathsep.join(classpath),
           "journeybench.Journey", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # on a timeout, SIGTERM or Ctrl-C the JVM goes down with us
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log_path) as log:
            tail = log.read()[-3000:]
        why = "timed out" if code is None else f"exited with {code}"
        raise RuntimeError(f"harness JVM {why}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("journeybench: terminated"))

    try:
        classpath = build.ensure(ROOT)
    except build.BuildError as e:
        sys.exit(f"journeybench: {e}")
    started = time.monotonic()
    work = os.path.join(ROOT, ".bench_build", "run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "knn_batch":
            knn_rows = vectors.write(os.path.join(work, "knn-data"), args.seed)
        res = run_jvm(classpath, args, work, RUN_LIMIT_S - 10 - (time.monotonic() - started))
        problems = list(res["problems"])
        if args.workload == "knn_batch":
            problems += oracle.check(res["report"])
        report = dict(res["report"], problems=problems,
                      run_wall_s=round(time.monotonic() - started, 3))
        for key in ("oracle_sql", "oracle_out", "data_dir"):
            report.pop(key, None)
        if args.workload == "knn_batch":
            report["knn_rows"] = knn_rows
        result = {"correct": bool(res["correct"]) and not problems,
                  "attempted": int(res["attempted"]), "failed": int(res["failed"]),
                  "metrics": res["metrics"]}
    except Exception as e:
        sys.exit(f"journeybench: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(ROOT, ".bench_build", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as f:
        json.dump({"report": report, "result": result}, f, indent=1, sort_keys=True)
    print(json.dumps({"report": report}, sort_keys=True))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()
