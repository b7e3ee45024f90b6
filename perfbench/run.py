#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the benchmark
harness from source (`perfbench/build.py`, output under `.bench_build/`),
generates the workload's inputs from the seed, runs the workload in one
JVM (`graftbench.Main`, Spark on `local[nproc]`), checks the outputs,
and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
`BENCHMARK.json`; with `--trace 1` they are its per-layer metrics, taken
from a traced run that also writes its spans to
`.bench_build/traces/<workload>-<seed>.json`. A line starting with
`detail:` before it carries the workload's own named figures.

Exit status: 0 when every check passed, 1 when a check failed (the result
line is still printed), 2 when the benchmark could not run at all.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing under perfbench/

import build  # noqa: E402

WORKLOADS = ("ingest_paced", "ingest_backlog", "store_aging")
JVM_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
        jar = build.build(root)
    except (OSError, ValueError, SystemExit) as e:
        sys.stderr.write(f"perfbench: cannot set up: {e}\n")
        return 2
    out_root = os.path.join(root, ".bench_build")
    work = os.path.join(out_root, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]

    log_path = os.path.join(out_root, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            r = subprocess.run(build.java_cmd(jar, work, args), cwd=work,
                               stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: workload timed out, see {log_path}\n")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    lines = r.stdout.splitlines()
    res = next((json.loads(l[9:]) for l in lines if l.startswith("@@RESULT ")), None)
    detail = next((json.loads(l[9:]) for l in lines if l.startswith("@@DETAIL ")), {})
    if res is None:
        sys.stderr.write(f"perfbench: workload exited {r.returncode} without a "
                         f"result, see {log_path}\n")
        shutil.rmtree(work, ignore_errors=True)
        return 2
    attempted, failed = res["attempted"], res["failed"]
    problems = list(res["problems"])
    if r.returncode != 0:
        failed += 1
        problems.append(f"JVM exited {r.returncode}")
    if a.trace:
        tdir = os.path.join(out_root, "traces")
        os.makedirs(tdir, exist_ok=True)
        src = os.path.join(work, "trace.json")
        if os.path.exists(src):
            shutil.copy(src, os.path.join(tdir, f"{a.workload}-{a.seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    got = res["metrics"]
    out = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        name, unit = m["name"], m["unit"]
        if name in got and got[name]["value"] is not None:
            out[name] = {"value": got[name]["value"], "unit": unit}
        elif a.trace:
            # a layer this workload does not exercise did no work
            out[name] = {"value": 0.0, "unit": unit}
        else:
            failed += 1
            problems.append(f"metric {name} not measured")
    detail["failed_ratio"] = failed / max(1, attempted)
    for p in problems[:10]:
        print(f"problem: {p}", file=sys.stderr)
    print("detail: " + json.dumps(detail, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
