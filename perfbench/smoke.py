"""Smoke test of the benchmark itself: ``python3 perfbench/smoke.py``.

Runs every workload in the tiny size (sf0.001 TPC-H tables, a 2k-doc
corpus) untraced and traced, and asserts that each run passes its
correctness gate and prints every metric ``BENCHMARK.json`` names with its
unit (all workloads, including ones the file does not list, print the same
metric sets). Then runs one tiny workload per kind of check with every
output deliberately damaged and asserts the gate reports the run incorrect.
Takes eight to ten minutes on four cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_sql", "llm_dedup", "index_ingest")


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         text=True, timeout=300)
    if out.returncode != 0:
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for workload in WORKLOADS:
        for trace in (0, 1):
            res = run(workload, trace)
            assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == expected[trace], f"{workload} trace={trace}: {got}"
            print(f"ok {workload} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations checked")
    for workload in WORKLOADS:
        res = run(workload, 0, "--corrupt")
        assert not res["correct"] and res["failed"] > 0, f"gate missed damage: {res}"
        print(f"ok {workload}: damaged outputs failed {res['failed']}/{res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
