#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarize each metric.

Usage, from the root of a checkout:

    python3 perfbench/sweep.py --out <file.json> [--trace 0|1] [--first-seed N]
        [--seeds N] [--workloads a,b]

For each workload it runs `perfbench/run.py` once per seed (seeds
first-seed .. first-seed+seeds-1) with the run length from
BENCHMARK.json, then records every metric's values, median, first and
third quartile (`statistics.quantiles(values, n=4)`) and spread
((q3 - q1) / median). Runs that fail or report failed operations are
listed and left out of the statistics.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    names = [w["name"] for w in bench["workloads"]]
    if args.workloads:
        names = args.workloads.split(",")
    summary = {"run_seconds": bench["run_seconds"], "trace": args.trace,
               "seeds": list(range(args.first_seed, args.first_seed + args.seeds)),
               "workloads": {}}
    for w in names:
        values, bad, walls = {}, [], []
        for seed in summary["seeds"]:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", args.trace],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            walls.append(time.time() - t0)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, ValueError):
                res = None
            if p.returncode != 0 or res is None or not res["correct"] or res["failed"]:
                bad.append({"seed": seed, "code": p.returncode,
                            "result": res})
                continue
            for k, v in res["metrics"].items():
                values.setdefault(k, {"unit": v["unit"], "values": []})["values"].append(v["value"])
            print(w, seed, f"{walls[-1]:.1f}s",
                  {k: round(v["value"], 3) for k, v in res["metrics"].items()},
                  flush=True)
        stats = {}
        for k, v in values.items():
            xs = v["values"]
            med = statistics.median(xs)
            q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
            stats[k] = {"unit": v["unit"], "median": med, "q1": q1, "q3": q3,
                        "spread": (q3 - q1) / med if med else 0.0, "values": xs}
            print(f"  {w:14s} {k:26s} median {med:12.3f} spread {stats[k]['spread']:.3f}",
                  flush=True)
        summary["workloads"][w] = {"metrics": stats, "failed_runs": bad,
                                   "mean_wall_s": sum(walls) / len(walls)}
    with open(args.out, "w") as fh:
        json.dump(summary, fh, indent=1)


if __name__ == "__main__":
    main()
