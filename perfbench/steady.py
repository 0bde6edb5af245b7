#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the spread (distance
between the quartiles as a share of the median, statistics.quantiles n=4).
Every run measures for BENCHMARK.json's `run_seconds`.

    python3 perfbench/steady.py --workload live --seeds 1-10

Run from the repository root; appends one JSON line per set to
.bench_build/results/steady.jsonl.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    seconds = bench["run_seconds"]
    values, runs = {}, []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", str(seconds),
             "--trace", "0"], stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, check=True).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        runs.append({"seed": seed, "wall_s": time.time() - t0, **res})
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(json.dumps(runs[-1]), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for k, xs in values.items():
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        summary[k] = {"median": statistics.median(xs), "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / statistics.median(xs),
                      "bound": bounds.get(k)}
    line = {"workload": a.workload, "seeds": a.seeds, "seconds": seconds,
            "correct": all(r["correct"] for r in runs),
            "failed_share": [r["failed"] / r["attempted"] for r in runs],
            "wall_s": [round(r["wall_s"], 1) for r in runs],
            "summary": summary}
    os.makedirs(".bench_build/results", exist_ok=True)
    with open(".bench_build/results/steady.jsonl", "a") as f:
        f.write(json.dumps(line) + "\n")
    for k, s in summary.items():
        print(f"{k:12s} median {s['median']:.4g}  q1 {s['q1']:.4g}  "
              f"q3 {s['q3']:.4g}  spread {s['spread']:.3f}  bound {s['bound']}")
    print("correct:", line["correct"], " wall_s:", line["wall_s"])


if __name__ == "__main__":
    main()
