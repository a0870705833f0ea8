#!/usr/bin/env python3
"""Run every workload on N seeds and report, per end-to-end metric, the
median and the spread (interquartile range over the median, the statistic
the bounds in BENCHMARK.json are set against). With --write, record the
result as perfbench/baseline.json together with the machine it ran on.

    python3 perfbench/baseline.py [--seeds 10] [--first-seed 1] [--write]
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for w in (w["name"] for w in spec["workloads"]):
        values, walls = {}, []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", "0"], cwd=HERE.parent, capture_output=True, text=True)
            walls.append(time.time() - t0)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            for k, v in json.loads(p.stdout.strip().splitlines()[-1])["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(w, seed, f"{walls[-1]:.1f}s", flush=True)
        report[w] = {"run_wall_s_median": round(statistics.median(walls), 1), "metrics": {
            k: {"median": round(statistics.median(v), 4), "spread": round(spread(v), 4),
                "bound": bounds[k]} for k, v in values.items()}}
        for k, m in report[w]["metrics"].items():
            flag = "" if k == "setup_s" or m["spread"] <= m["bound"] / 3 else "  (above bound/3)"
            print(f"  {w:12s} {k:10s} median {m['median']:9.3f}  spread {m['spread']:.3f}{flag}")
    if args.write:
        doc = {"machine": {"cpus": os.cpu_count(), "cpu": platform.processor() or platform.machine(),
                           "memory_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
                                              / 2**30, 1)},
               "seeds": [args.first_seed, args.first_seed + args.seeds - 1],
               "note": "Earlier BENCH_r*.json files were taken on 32 or 8 cores with graft.Bench; "
                       "they are history, not a baseline for this benchmark.",
               "workloads": report}
        (HERE / "baseline.json").write_text(json.dumps(doc, indent=2) + "\n")


if __name__ == "__main__":
    main()
