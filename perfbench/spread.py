#!/usr/bin/env python3
"""Run one workload over several seeds and summarise each end-to-end metric.

    python3 perfbench/spread.py --workload <name> --seeds 1-10 [--seconds 10] [--out f.json]

Per metric it reports the median, the first and third quartiles
(`statistics.quantiles(values, n=4)`) and the spread (Q3 - Q1) / median,
the figures `BENCHMARK.json` bounds are judged against. Run from the
repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list:
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b) + 1)) if b else [int(a)]
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs, values = [], {}
    for s in seeds(a.seeds):
        t0 = time.time()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                            "--workload", a.workload, "--seed", str(s),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if not lines:
            print(f"seed {s}: exit {r.returncode}, no result", flush=True)
            runs.append({"seed": s, "exit": r.returncode})
            continue
        res = json.loads(lines[-1])
        detail = json.loads(lines[-2][len("detail: "):]) if len(lines) > 1 else {}
        wall = time.time() - t0
        runs.append({"seed": s, "exit": r.returncode, "wall_s": round(wall, 1),
                     "correct": res["correct"], "failed": res["failed"],
                     "metrics": {k: v["value"] for k, v in res["metrics"].items()},
                     "detail": detail})
        print(f"seed {s}: exit {r.returncode} wall {wall:.0f}s correct {res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    summary = {}
    for k, xs in values.items():
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        m = statistics.median(xs)
        summary[k] = {"median": m, "q1": q1, "q3": q3, "spread": (q3 - q1) / m}
        print(f"{k}: median {m:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {(q3 - q1) / m:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "seconds": a.seconds, "runs": runs,
                       "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
