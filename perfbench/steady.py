#!/usr/bin/env python3
"""Steadiness check: run workloads repeatedly and report each end-to-end
metric's median, quartiles and spread against its bound.

    python3 perfbench/steady.py [--workloads lookup,churn] [--runs 10]
                                [--first-seed 1] [--seconds 10]

Run it from the repository root. Run i uses seed first-seed + i. The
spread is (q3 - q1) / median with Python's statistics.quantiles(n=4);
a metric is steady when its spread is within its BENCHMARK.json bound,
and comfortably steady below a third of it. Every run's result line, with the line before it (per-kind medians,
setup repetitions, phase times), is appended to
.perfbench_work/steady.jsonl.
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


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    a = ap.parse_args()

    log_path = os.path.join(ROOT, ".perfbench_work", "steady.jsonl")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    ok = True
    for w in a.workloads.split(","):
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(a.runs):
            seed = a.first_seed + i
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
                ok = False
                continue
            res = json.loads(lines[-1])
            detail = json.loads(lines[-2]) if len(lines) > 1 else None
            with open(log_path, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "wall_s": wall,
                                    "detail": detail, **res}) + "\n")
            if not res["correct"]:
                ok = False
            for k, v in res["metrics"].items():
                values[k].append(v["value"])
            print(f"{w} seed {seed}: {wall:.0f} s wall, correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        print(f"\n{w}: {'metric':<14} {'median':>10} {'q1':>10} {'q3':>10} "
              f"{'spread':>7} {'bound':>6}")
        for m in spec["end_to_end"]:
            xs = values[m["name"]]
            if len(xs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            flag = ""
            if spread > m["bound"]:
                flag, ok = "OVER BOUND", False
            elif spread > m["bound"] / 3:
                flag = "over bound/3"
            print(f"{w}: {m['name']:<14} {med:>10.4g} {q1:>10.4g} {q3:>10.4g} "
                  f"{spread:>7.3f} {m['bound']:>6} {flag}")
        print(flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
