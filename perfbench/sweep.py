#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --workloads flight_feed table_ops llm_ops \\
        --seeds 1 2 3 4 5 6 7 8 9 10 --trace 0 --out sweep.json

Runs `perfbench/run.py` once per workload and seed, one run at a time,
with `run_seconds` from BENCHMARK.json. Prints, per workload and metric,
the median, the quartiles (`statistics.quantiles(values, n=4)`) and the
spread (quartile distance ÷ median), and writes every run's result line
to `--out`.
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


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]

    runs = []
    for w in args.workloads:
        for seed in args.seeds:
            t0 = time.time()
            res = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            lines = res.stdout.strip().splitlines()
            host = next((l for l in lines if l.startswith("host:")), "")
            try:
                result = json.loads(lines[-1])
            except (IndexError, ValueError):
                result = None
                sys.stderr.write(res.stderr[-2000:])
            runs.append({"workload": w, "seed": seed, "wall_s": time.time() - t0,
                         "host": host, "result": result})
            print(f"{w} seed {seed}: {time.time() - t0:.1f} s "
                  f"{'ok' if result and result['correct'] else 'FAILED'} {host}", flush=True)

    summary = {}
    for w in args.workloads:
        results = [r["result"] for r in runs if r["workload"] == w and r["result"]]
        if len(results) < 2:
            continue
        names = results[0]["metrics"].keys()
        summary[w] = {n: summarize([r["metrics"][n]["value"] for r in results])
                      for n in names}
        summary[w]["wall_s"] = summarize(
            [r["wall_s"] for r in runs if r["workload"] == w and r["result"]])
        for n, s in summary[w].items():
            print(f"{w} {n}: median {s['median']:.5g} "
                  f"q1 {s['q1']:.5g} q3 {s['q3']:.5g} spread {s['spread']:.3f}")
    with open(args.out, "w") as fh:
        json.dump({"run_seconds": seconds, "runs": runs, "summary": summary}, fh, indent=1)


if __name__ == "__main__":
    main()
