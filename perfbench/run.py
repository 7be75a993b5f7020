"""Benchmark launcher: ``python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0|1`` from the root of a checkout.

Sizes the Spark session to the host (``SPARK_GRAFT_CPUS`` = usable cores,
``SPARK_GRAFT_DRIVER_MEM`` well below physical RAM), keeps every file the
run writes under ``.perfbench_work/`` in the checkout, runs ``worker.py``
in its own process group, and after it exits stops whatever is left of
that group (the JVM, Python workers) and waits until it is gone. Prints a
``perfbench-info`` line and, as the last line, the result JSON. Exits
non-zero without a result when the engine is not in the checkout or the
run failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tpch_sql", "llm_dedup", "index_ingest")
TIMEOUT_S = 170


def driver_heap() -> str:
    """A quarter of physical RAM, capped at 1 GiB: the inputs are small, the
    host is shared, and a heap the workload fills keeps the JVM's resident
    size (``peak_rss_mb``) steady from run to run."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(512, min(1024, total_kb // 4 // 1024))}m"


def stop_group(pgid: int, grace: float = 10.0) -> None:
    """SIGTERM the process group, SIGKILL what outlives ``grace``, and
    return only once no member is left."""
    for sig, wait in ((signal.SIGTERM, grace), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="input size; 'tiny' is the smoke-test mode")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every output before its check (gate self-test)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "datafusion_ray_spark", "session.py")):
        print(f"perfbench: no datafusion_ray_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    # One hash seed for the driver process and every Python worker, so string
    # hashing (set order, partitioning of Python-side keys) repeats per run.
    # No JVM (Spark's launcher or the driver JVM) writes an hsperfdata file
    # to /tmp: the run writes only inside the checkout.
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cores), SPARK_GRAFT_DRIVER_MEM=driver_heap(),
               TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join([ROOT, HERE]), PYTHONHASHSEED="0",
               JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--work", work, "--result", result_path]
    if args.corrupt:
        cmd.append("--corrupt")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    # A SIGTERM to the launcher still stops the worker's group (finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
            print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        finally:
            stop_group(proc.pid)
            proc.wait()
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):  # the traced run's spans outlive the work dir
            shutil.copy(spans, os.path.join(
                ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.jsonl"))
        if code != 0 or not os.path.exists(result_path):
            print(f"perfbench: worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            out = json.load(f)
        print("perfbench-info " + json.dumps(out["info"]))
        print(json.dumps(out["result"]), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

if __name__ == "__main__":
    sys.exit(main())
