#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload, untraced and traced,
at the benchmark's scale (sf0.005), must exit 0 with a correct result line whose
metrics are exactly the names BENCHMARK.json declares, with their units and
finite values, and must print the workload's headline metrics before it.

    python3 perfbench/smoke_test.py
"""
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

HEADLINE = {
    "full_build": {"sales_build_s", "supplier_build_s", "retained_cache_mb", "failed_ratio"},
    "incremental": {"incr_batch_p50_s", "incr_batch_max_s", "queries_s", "retained_cache_mb",
                    "failed_ratio"},
}


def main():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    declared = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert declared[1] == run.per_layer_units(), "BENCHMARK.json per_layer is out of date"
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    for workload in run.WORKLOADS:
        for trace in (0, 1):
            p = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                                "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                               cwd=HERE.parent, capture_output=True, text=True, timeout=900)
            where = f"{workload} trace={trace}"
            assert p.returncode == 0, f"{where}: exit {p.returncode}\n{p.stderr[-2000:]}"
            lines = p.stdout.strip().splitlines()
            result, headline = json.loads(lines[-1]), json.loads(lines[-2])
            assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
            assert result["correct"] is True and result["failed"] == 0, where
            assert result["attempted"] >= 1, where
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == declared[trace], f"{where}: metric names or units differ"
            assert all(math.isfinite(v["value"]) for v in result["metrics"].values()), where
            assert set(headline["headline"]) == HEADLINE[workload], f"{where}: headline metrics"
            print(f"ok  {where}: {len(got)} metrics", flush=True)


if __name__ == "__main__":
    main()
