"""One benchmark run inside the environment ``run.py`` prepared.

Generates the seeded inputs, builds the session, registers tables, runs
the warm pass (every output checked), then measures whole passes of the
workload in a closed loop with one caller for ``--seconds``. With
``--trace 1`` the time is split between an untraced and a traced
measurement, and the result carries the per-layer metrics instead of the
end-to-end ones. The result JSON is written to ``--result``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import multiprocessing
import os
import sys
import time
import traceback

import numpy as np

import gen
import tracing
from tracing import Tracer, median

#: Input sizes per workload: (TPC-H scale factor, corpus docs).
SIZES = {
    "full": {"tpch_sql": (0.05, 500), "llm_dedup": (0.001, 2_000),
             "index_ingest": (0.001, 8_000)},
    "tiny": {"tpch_sql": (0.001, 500), "llm_dedup": (0.001, 2_000),
             "index_ingest": (0.001, 2_000)},
}

#: Extra JVM options per workload. tpch_sql is planner-bound: with C1 only,
#: its warm pass is ~12 s shorter and its measured pass ~15% faster than
#: under the default tiered JIT, whose C2 threads are still compiling
#: then. llm_dedup's kernels are compute-bound and C1 makes its pass ~45%
#: slower, so it keeps the default JIT.
JVM_OPTS = {"tpch_sql": "-XX:TieredStopAtLevel=1"}

with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: Metric name -> unit, as BENCHMARK.json declares them. Every traced run
#: reports every per-layer metric; a layer the workload does not exercise
#: reports 0.
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
STAGES = ("quality_score", "exact_dedup", "minhash_dedup_pairs", "duplicate_groups",
          "hash_embedding", "tfidf_topk", "write_shards", "incremental_dedup_pairs")

#: Span names whose per-operation duration is a per-layer metric.
SPAN_METRICS = {
    "context.sql": "context.sql_s", "context.plan": "context.plan_s",
    "context.collect": "context.collect_s", "sources.write": "sources.write_s",
    "sources.compact": "sources.compact_s",
    **{f"operators.{s}": f"operators.{s}_s" for s in STAGES},
}


class Measurement:
    """Closed-loop measurement of whole passes."""

    def __init__(self) -> None:
        self.latencies: list[float] = []
        self.pass_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.windows: dict[str, tuple[float, float]] = {}


def run_pass(w, ops, tracer: Tracer, sc, m: Measurement, traced: bool, next_op: list) -> float:
    """Run one pass; returns its time (sum of operation latencies)."""
    total = 0.0
    for label, fn in ops:
        op = next_op[0]
        next_op[0] += 1
        tracer.op = op
        group = f"perfbench-op-{op}"
        if traced:
            sc.setJobGroup(group, label)
        wall0, t0 = time.time(), time.perf_counter()
        try:
            with tracer.span("bench.op"):
                value = fn()
            err = None
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            value, err = None, traceback.format_exc(limit=3).strip().splitlines()[-1]
        dt = time.perf_counter() - t0
        wall1 = time.time()
        m.attempted += 1
        m.latencies.append(dt)
        total += dt
        if err is None:
            err = w.check(label, value)
        if err is None and traced:
            w.inspect(label, value)
            for key, val in tracing.job_counts(sc, group).items():
                tracer.add(key, val)
            m.windows[group] = (wall0, wall1)
        if err is not None:
            m.failed += 1
            m.errors.append(f"{label}: {err}")
        if value is not None:
            w.after_op(value)
    err = w.end_pass()
    if err is not None:
        m.failed += 1
        m.errors.append(f"end of pass: {err}")
    return total


def measure(w, seconds: float, rng, tracer: Tracer, sc, traced: bool, next_op: list) -> Measurement:
    """Whole passes until another pass would overrun ``seconds`` (at least
    one pass)."""
    m = Measurement()
    tracer.enabled = traced
    start = time.perf_counter()
    while True:
        pass_time = run_pass(w, w.pass_ops(rng), tracer, sc, m, traced, next_op)
        m.pass_times.append(pass_time)
        if time.perf_counter() - start + pass_time > seconds:
            break
    tracer.enabled = False
    return m


def per_layer(tracer: Tracer, traced: Measurement, untraced: Measurement, setup: dict,
              event_metrics: dict) -> dict[str, float]:
    ops = sorted({s[4] for s in tracer.spans if s[4] is not None})
    per_op: dict[int, dict[str, float]] = {op: dict(tracer.counters.get(op, {})) for op in ops}
    for name, start, end, _parent, op in tracer.spans:
        if name in SPAN_METRICS and op in per_op:
            key = SPAN_METRICS[name]
            per_op[op][key] = per_op[op].get(key, 0.0) + (end - start)
    for group, vals in event_metrics.items():
        op = int(group.rsplit("-", 1)[1])
        if op in per_op:
            per_op[op].update(vals)
    out = {name: 0.0 for name in PER_LAYER}
    for name in PER_LAYER:
        vals = [d[name] for d in per_op.values() if name in d]
        if vals:
            out[name] = median(vals)
    out["context.rows_examined_per_row_returned"] = (
        out["sources.scan_rows"] / out["context.result_rows"] if out["context.result_rows"] else 0.0)
    out["operators.lsh_precision"] = (
        out["operators.near_dup_pairs"] / out["operators.candidate_pairs"]
        if out["operators.candidate_pairs"] else 0.0)
    n_ops = max(len(ops), 1)
    for layer, secs in tracer.self_times().items():
        out[f"{layer}.self_s"] = secs / n_ops
    op_wall = sum(e - s for n, s, e, _p, _o in tracer.spans if n == "bench.op")
    out["trace.unaccounted_share"] = out["bench.self_s"] * n_ops / op_wall if op_wall else 0.0
    out["trace.overhead_s"] = median(traced.latencies) - median(untraced.latencies)
    out.update(setup)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--size", default="full", choices=sorted(SIZES))
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--corrupt", action="store_true",
                    help="deliberately damage every output before the check (gate self-test)")
    args = ap.parse_args()

    from datafusion_ray_spark import hostinfo
    from workloads import WORKLOADS

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "host_epoch": hostinfo.host_epoch(), "load1_start": tracing.load1()}

    sf, n_docs = SIZES[args.size][args.workload]
    data_dir = os.path.join(args.work, "data")
    t0 = time.perf_counter()
    census = gen.write_all(data_dir, sf, gen.CorpusSpec(n_docs), args.seed)
    info["input_gen_s"] = time.perf_counter() - t0
    info["inputs"] = {"tpch_sf": sf, **census}

    tracer = Tracer()
    w = WORKLOADS[args.workload](data_dir, census, tracer, args.work)
    if args.corrupt:
        _corrupt(w)
    # The oracle runs in its own process, beside the session start, so its
    # memory never shows in the driver's RSS.
    pool = concurrent.futures.ProcessPoolExecutor(
        1, mp_context=multiprocessing.get_context("spawn"))
    oracle = pool.submit(type(w).oracle, data_dir)

    from datafusion_ray_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        "spark.local.dir": os.path.join(args.work, "spark-local"),
        # A fixed, pre-touched heap: no heap growth or page faults while
        # measuring (steadier times, ~10 s shorter set-up) and a resident
        # size that varies only with what lives outside the heap.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+AlwaysPreTouch "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} {JVM_OPTS.get(args.workload, '')}",
    }
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
                     "spark.eventLog.compress": "false"})
    t0 = time.perf_counter()
    spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
    build_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    t0 = time.perf_counter()
    w.register(spark)
    register_s = time.perf_counter() - t0
    w.expected = oracle.result()
    pool.shutdown()

    rng = np.random.default_rng([args.seed, 9])
    next_op = [0]
    warm = Measurement()
    t0 = time.perf_counter()
    run_pass(w, w.warm_ops(), tracer, sc, warm, False, next_op)
    warmup_s = time.perf_counter() - t0

    sampler = tracing.RssSampler([os.getpid(), jvm.pid])
    sampler.start()
    # A traced run splits its time: untraced first, then traced.
    seconds = args.seconds / 2 if args.trace else args.seconds
    m = measure(w, seconds, rng, tracer, sc, False, next_op)
    sampler.stop()
    traced = measure(w, seconds, rng, tracer, sc, True, next_op) if args.trace else None

    spark.stop()
    sc._gateway.shutdown()
    jvm.stdin.close()
    jvm.wait(timeout=60)

    attempted = warm.attempted + m.attempted + (traced.attempted if traced else 0)
    failed = warm.failed + m.failed + (traced.failed if traced else 0)
    errors = warm.errors + m.errors + (traced.errors if traced else [])
    tail_value, tail_pct, beyond = tracing.tail(m.latencies)
    info.update({"load1_end": tracing.load1(), "ops_measured": len(m.latencies),
                 "passes_measured": len(m.pass_times), "op_tail_percentile": tail_pct,
                 "op_tail_samples_beyond": beyond, "error_rate": failed / attempted,
                 "errors": errors[:10]})
    setup = {"session.build_s": build_s, "sources.register_s": register_s,
             "session.warmup_s": warmup_s}
    if args.trace:
        groups = traced.windows
        events = tracing.event_log_metrics(log_dir, groups, cores)
        values = per_layer(tracer, traced, m, setup, events)
        units = PER_LAYER
        tracer.dump(os.path.join(args.work, "spans.jsonl"))
        info["spans"] = len(tracer.spans)
    else:
        values = {
            "setup_s": build_s + register_s + warmup_s,
            "op_p50_s": median(m.latencies),
            "op_tail_s": tail_value,
            "input_rows_per_s": w.input_rows / median(m.pass_times),
            "peak_rss_mb": sampler.peak / 2**20,
        }
        units = END_TO_END
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": tracing.finite(float(values[k])), "unit": u}
                          for k, u in units.items()}}
    with open(args.result, "w") as f:
        json.dump({"info": info, "result": result}, f)
    return 0


def _corrupt(w) -> None:
    """Damage every output before its check: the gate must trip."""
    check = w.check
    w.check = lambda label, value: check(label, w.corrupt(value))


if __name__ == "__main__":
    sys.exit(main())
