#!/usr/bin/env python3
"""Loader benchmark: one command, three workloads, every output checked.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the program and the harness from
source (perfbench/build.py), runs one workload in a fresh JVM at local[4]
(perfbench/src/perfbench/Main.scala), checks the outputs, and prints two
JSON lines: a detail line (every end-to-end metric of the workload by name
and unit, the output check, the contention stamp, the input hash), then the
result line `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end metrics; with `--trace 1` they
are the per-layer metrics of a traced run, whose span tree is written to
perfbench/.traces/<workload>-seed<n>.json.

Workloads: enriched_backfill, sdj_stream, query_mix (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402

WORKLOADS = ("enriched_backfill", "sdj_stream", "query_mix")
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        sys.exit(f"perfbench: workload JVM failed ({code})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classpath = build.build()

    work = os.path.join(BENCH, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    trace_path = os.path.join(BENCH, ".traces", f"{a.workload}-seed{a.seed}.json")
    run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--work", work, "--result", result_path,
                        "--trace-file", trace_path], work)
    with open(result_path) as f:
        r = json.load(f)

    if a.workload == "query_mix":
        import querycheck
        d = r["detail"]
        qc = querycheck.check(d["query_data"], d["query_out"])
        d["oracle"] = qc
        mismatched = len(qc["failed"])
        passes = d["passes"]
        r["failed"] += mismatched * passes
        r["correct"] = r["correct"] and mismatched == 0 and qc["self_test_caught"]
        r["reported"]["failed_ratio"] = r["failed"] / r["attempted"]

    units = r["units"]
    detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "run_s": r["run_s"],
              "end_to_end": {k: {"value": v, "unit": units[k]}
                             for k, v in {**r["e2e"], **r["reported"]}.items()},
              **r["detail"]}
    print(json.dumps(detail))
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = r["layers"] if a.trace else r["e2e"]
    missing = [m["name"] for m in names if m["name"] not in values]
    if missing:
        sys.exit(f"perfbench: metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": bool(r["correct"]), "attempted": int(r["attempted"]),
                      "failed": int(r["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
