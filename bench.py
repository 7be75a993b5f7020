"""Benchmark harness: run the full query suite and emit one JSON line.

Mirrors the reference's benchmark runner shape
(``/root/reference/tpch/tpcbench.py:91-102`` — per-query seconds + total in
a JSON record). Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1)
on ``local[$SPARK_GRAFT_CPUS]``.

Usage: python bench.py [--sf-dir DIR] [--queries q1,q5,...] [--runs N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

#: load1/ncpu above this at bench start = another workload is eating the
#: cores this bench is about to time against. 0.25 on a 32-cpu host means
#: ~8 busy cores of FOREIGN work — far above the idle baseline (~2) and
#: far below this bench's own steady state, so it separates the two.
LOAD_WARN_THRESHOLD = 0.25
LOAD_RETRY_WAIT_S = 30

#: Queries whose OUTPUT is corpus-sized (one row per input row/event): their
#: collect() wall is dominated by driver output transfer, not by the plan —
#: measured 94% driver-collect for ev_sessionize at 100x (SCALE.md r7
#: adjudication). For these, BENCH_DETAIL records BOTH walls per query:
#: `collect_s` (the headline number, comparable across rounds) and
#: `compute_s` (a noop-sink run of the same plan — what a production job
#: that WRITES its output would pay), so a sweep can separate plan
#: regressions from output-transfer cost automatically. A noop WRITE is
#: used, not count(): count() lets Catalyst prune the expensive
#: projections the query exists to compute (the text_normalize 2x lesson).
CORPUS_SIZED_OUTPUT = {
    "ev_sessionize", "ev_session_window", "ev_scd2", "ev_ewma",
    "win_rolling_median", "text_normalize",
}

#: Calibration probes (round-11): three plan-stable TPC-H queries re-timed
#: immediately AFTER the suite and compared against (a) their committed
#: same-epoch walls and (b) their own walls from THIS run. Twice (r8, r10)
#: a bench total moved on host weather and cost a round of post-hoc
#: adjudication; the emitted inflation_factor lets a loaded run label
#: ITSELF. Chosen for stability: their plans are shuffle-drift-gated and
#: their implementations haven't changed since round 2, so a moved ratio
#: means weather, not code — if a round DOES touch the TPC-H layer,
#: read the factor that round with that in mind.
CALIBRATION_PROBES = ("q1", "q6", "q18")


def _jvm_snapshot(spark) -> dict | None:
    """One cheap (few py4j calls) driver-JVM state snapshot, used to
    bracket every query (round-12, VERDICT r11 #1: the dedup composites'
    in-suite walls swing up to 5x their isolated min on identical code on
    noisy epochs — record per-query GC time/count, heap, loaded classes,
    codegen compilations and broadcast count so suite-accumulated JVM
    state is measurable instead of conjectural). Taken OUTSIDE the timed
    region; any failure degrades to None, never to a lost artifact."""
    try:
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gc_ms = 0
        gc_n = 0
        for b in mf.getGarbageCollectorMXBeans():
            gc_ms += b.getCollectionTime()
            gc_n += b.getCollectionCount()
        snap = {
            "gc_ms": int(gc_ms),
            "gc_n": int(gc_n),
            "heap_mb": round(
                mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 1e6, 1
            ),
            "classes": int(
                mf.getClassLoadingMXBean().getTotalLoadedClassCount()
            ),
        }
        try:  # Scala object: codegen compilation counter (whole-stage janino)
            cm = getattr(
                getattr(jvm.org.apache.spark.metrics.source,
                        "CodegenMetrics$"), "MODULE$")
            snap["codegen_n"] = int(cm.METRIC_COMPILATION_TIME().getCount())
        except Exception:  # noqa: BLE001 - best-effort
            pass
        try:
            snap["broadcasts"] = int(
                spark.sparkContext._jsc.sc().env().broadcastManager()
                .nextBroadcastId()
            )
        except Exception:  # noqa: BLE001 - best-effort
            pass
        return snap
    except Exception:  # noqa: BLE001 - instrumentation must never fail a run
        return None


def _jvm_delta(before: dict | None, after: dict | None) -> dict | None:
    """Per-query bracket: counters as deltas, gauges (heap) as the AFTER
    value — growth across queries shows up as a rising heap_mb series."""
    if not before or not after:
        return None
    out = {
        k: after[k] - before[k]
        for k in ("gc_ms", "gc_n", "classes", "codegen_n", "broadcasts")
        if k in before and k in after
    }
    out["heap_mb"] = after.get("heap_mb")
    return out


def _host_load() -> dict:
    """One-line host-contention snapshot for the bench artifact."""
    ncpu = os.cpu_count() or 1
    try:
        load1, load5, _ = os.getloadavg()
    except OSError:  # platform without getloadavg
        load1 = load5 = -1.0
    return {
        "load1": round(load1, 2),
        "load5": round(load5, 2),
        "ncpu": ncpu,
        "load1_per_cpu": round(load1 / ncpu, 4),
    }


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    parser.add_argument("--queries", default=None, help="comma-separated subset")
    # min-of-2 by default: the second (warm) run is cheap and removes both
    # machine-load noise and one-shot janino/JIT compile from per-query
    # numbers — the compiled-engine baseline's per-query times never pay a
    # JIT either, so min-of-runs is the apples-to-apples steady state.
    parser.add_argument(
        "--runs", type=int,
        default=int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")),
    )
    parser.add_argument(
        "--detail-out", default=None,
        help="write the per-query detail record to this path instead of "
             "BENCH_DETAIL.json (used by scale_check.py so a scale-up run "
             "never clobbers the committed 1x baseline detail)",
    )
    args = parser.parse_args()

    from datafusion_ray_spark.queries.registry import build_registry
    from datafusion_ray_spark.session import build_session
    from datafusion_ray_spark.sources.tables import register_tables

    registry = build_registry()
    if args.queries:
        names = args.queries.split(",")
        unknown = [n for n in names if n not in registry]
        if unknown:
            parser.error(
                f"unknown queries: {', '.join(unknown)}; "
                f"valid names: {', '.join(registry)}"
            )
    else:
        names = list(registry)

    # Contention guard (round-5 post-mortem: an orphaned bench process
    # inflated a whole round's numbers ~20% and the drift was only caught
    # by a judge rerun). Record host load into the artifact so a loaded
    # run is self-identifying, and when the host is already busy at start,
    # wait once for it to drain before measuring.
    host_prewait = _host_load()
    host_start = host_prewait
    waited = False
    if host_start["load1_per_cpu"] > LOAD_WARN_THRESHOLD:
        print(
            f"bench: WARNING host is loaded at start "
            f"(load1={host_start['load1']}, {host_start['ncpu']} cpus) — "
            f"waiting {LOAD_RETRY_WAIT_S}s for it to drain",
            file=sys.stderr,
        )
        time.sleep(LOAD_RETRY_WAIT_S)
        waited = True
        host_start = _host_load()
        if host_start["load1_per_cpu"] > LOAD_WARN_THRESHOLD:
            print(
                "bench: WARNING host is STILL loaded "
                f"(load1={host_start['load1']}) — numbers in this artifact "
                "are contention-inflated; rerun on an idle host before "
                "comparing across rounds",
                file=sys.stderr,
            )

    spark = build_session(app_name="datafusion_ray_spark_bench")
    # Register (and thereby schema-infer) once up front so per-query timings
    # measure execution, matching how the reference times `sql+collect` after
    # registration (/root/reference/tpch/tpcbench.py:104-131).
    register_tables(spark, args.sf_dir)

    # warmup (not measured): JVM/codegen, the Python worker pool + Arrow
    # channel (mapInPandas spawns one worker per core on first use), and the
    # md5/expression intrinsics the dedup pipelines lean on.
    # Touch actual column data, not just parquet footers (COUNT(*) is
    # metadata-only): warms page cache + the vectorized reader codegen paths.
    spark.sql(
        "SELECT COUNT(*), SUM(l_quantity), MAX(l_shipdate) FROM lineitem"
    ).collect()
    spark.sql("SELECT MAX(n_chars), MAX(length(text)) FROM documents").collect()
    spark.range(64).repartition(32).mapInPandas(lambda it: it, "id long").count()
    spark.sql(
        "SELECT max(md5(concat('x', CAST(id AS STRING)))) FROM range(100000)"
    ).collect()
    # createDataFrame + broadcast-join machinery (first use pays JVM-side
    # init; several operators build small driver-side probe tables).
    probe = spark.createDataFrame([("w", 0)], ["k", "v"])
    probe.join(spark.range(10).withColumnRenamed("id", "v").hint("broadcast"),
               "v", "left").collect()
    # Round-11 warmup extension (same purpose as min-of-runs, stated
    # above: the compiled-engine baseline never pays a JIT, so steady
    # state is the apples-to-apples regime): the r11 calibration probes
    # exposed that the OLD warmup left the first ~30 queries ~1.5x above
    # steady state (self_ratio 0.64 — probes re-timed after the suite ran
    # 36% faster than the same queries' in-suite walls), because it never
    # touched the join/aggregate/window/sort/explode/regexp runtime
    # classes those queries lean on. These statements heat exactly those
    # paths on synthetic range() data — no testdata results are computed
    # or reusable (first-pass q1 3.42 -> 2.19 s, q18 3.99 -> 2.04 s in
    # the fresh-session A/B; see OPTIMIZATION_r11.md).
    spark.sql(
        "SELECT k, count(*) c, sum(v) s, avg(v) a FROM (SELECT id % 1000 k,"
        " cast(id as double) v FROM range(200000)) GROUP BY k"
        " ORDER BY c DESC, k LIMIT 10"
    ).collect()
    spark.sql(
        "WITH t AS (SELECT id % 997 k, id v FROM range(200000)),"
        " u AS (SELECT id % 997 k, id w FROM range(100000))"
        " SELECT count(*), sum(t.v + u.w) FROM t JOIN u ON t.k = u.k"
    ).collect()
    spark.sql(
        "SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) rn,"
        " lag(v) OVER (PARTITION BY k ORDER BY v) lg,"
        " sum(v) OVER (PARTITION BY k ORDER BY v ROWS BETWEEN 3 PRECEDING"
        " AND CURRENT ROW) s"
        " FROM (SELECT id % 500 k, id v FROM range(100000))"
        " ORDER BY k, rn LIMIT 5"
    ).collect()
    spark.sql(
        "SELECT count(*) FROM (SELECT explode(split(concat("
        "'a b c d e f g h i j ', cast(id as string)), ' ')) w"
        " FROM range(50000)) WHERE w rlike '^[a-z0-9]+$'"
    ).collect()
    spark.sql("SELECT count(distinct id % 10000) FROM range(300000)").collect()

    # Per-query fault isolation: one broken query must never cost the round
    # its entire bench artifact (round 1 lost it to an oversized line, round
    # 2 to a crash-on-first-error — the summary line is now unconditional).
    per_query: dict[str, float] = {}
    compute_only: dict[str, float] = {}
    shuffle: dict[str, dict[str, int]] = {}
    jvm_brackets: dict[str, dict] = {}
    errors: dict[str, str] = {}
    from datafusion_ray_spark.plans import runtime_shuffle_metrics

    for name in names:
        entry = registry[name]
        best = None
        jvm_before = _jvm_snapshot(spark)
        try:
            for _ in range(args.runs):
                start = time.perf_counter()
                df = entry.run(spark, args.sf_dir)
                df.collect()
                elapsed = time.perf_counter() - start
                best = elapsed if best is None else min(best, elapsed)
                # Cold-vs-cold (round-9, SCALE.md r8 finding): operators
                # that persist() intermediates would otherwise serve run 2
                # from run 1's cached blocks (CacheManager matches the
                # rebuilt logical plan), overstating 100x ratios ~2x by
                # making t1x warm while t100x is single-run cold. Dropping
                # the cache between runs keeps min-of-N's purpose (JIT/
                # codegen warmth) without the data-cache subsidy.
                spark.catalog.clearCache()
            per_query[name] = round(best, 4)
            if name in CORPUS_SIZED_OUTPUT:
                best_c = None
                for _ in range(args.runs):
                    start = time.perf_counter()
                    entry.run(spark, args.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    c = time.perf_counter() - start
                    best_c = c if best_c is None else min(best_c, c)
                    spark.catalog.clearCache()
                compute_only[name] = round(best_c, 4)
            # Shuffle-volume baseline next to the time baseline (read from
            # the last executed plan, after timing — zero timing impact):
            # a plan regression (new Expand, lost broadcast, extra
            # exchange, 2x shuffle bytes) should fail as loudly as a wrong
            # answer. tests/test_shuffle_drift.py diffs these against the
            # committed SHUFFLE_BASELINE.json.
            try:
                shuffle[name] = runtime_shuffle_metrics(df)
            except Exception as e:  # noqa: BLE001 - metrics are best-effort
                print(f"bench: {name} metrics failed: {e}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 - record and keep benching
            msg = f"{type(e).__name__}: {e}"
            errors[name] = msg[:300]
            print(f"bench: {name} failed: {msg[:300]}", file=sys.stderr)
        # Drop any blocks the query persisted (dedup candidate sets etc.) so
        # later queries aren't measured under earlier queries' cache residue.
        spark.catalog.clearCache()
        bracket = _jvm_delta(jvm_before, _jvm_snapshot(spark))
        if bracket is not None:
            jvm_brackets[name] = bracket
        # Nudge the ContextCleaner: shuffle files and checkpoint blocks of
        # dead plans are only reclaimed after driver GC notices the RDDs
        # are unreachable. At scale-up factors a suite accumulates tens of
        # GB of dead spill between natural GCs — the r6 100x sweep filled
        # the work disk exactly this way. Outside the timed loop: zero
        # timing impact.
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:  # noqa: BLE001 - cleanup is best-effort
            pass

    sf = args.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else args.sf_dir

    from datafusion_ray_spark.hostinfo import host_epoch

    # Calibration probe (see CALIBRATION_PROBES): re-time the probes now,
    # after the whole suite, against the committed full-run detail read
    # from disk BEFORE this run overwrites it.
    committed_detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    committed_detail = None
    try:
        with open(committed_detail_path, encoding="utf-8") as f:
            committed_detail = json.load(f)
    except Exception:  # noqa: BLE001 - first run / missing baseline
        pass
    # The probe must never cost the round its bench artifact (same fault-
    # isolation invariant as the suite loop above: the detail write and
    # summary line below are unconditional) — a probe failure is recorded
    # in the calibration record, not raised.
    calibration = None
    probe_names = [p for p in CALIBRATION_PROBES if p in per_query]
    try:
        calibration = _run_calibration(
            spark, registry, args, probe_names, per_query,
            committed_detail, sf_val, host_epoch,
        ) if probe_names else None
    except Exception as e:  # noqa: BLE001 - probe is advisory
        calibration = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(f"bench: calibration probe failed: {calibration['error']}",
              file=sys.stderr)

    host_end = _host_load()
    detail = {
        "metric": "suite_total_seconds",
        "value": round(sum(per_query.values()), 4),
        "unit": "sec",
        "queries": per_query,
        "sf": sf_val,
        "engine": "datafusion_ray_spark",
        "n_queries": len(per_query),
        "errors": errors,
        "shuffle": shuffle,
        # Host-epoch stamp (round-9): absolute walls are only comparable
        # within one boot; gates machine-check this instead of trusting
        # post-hoc adjudication (the r8 mid-round-reboot lesson).
        "epoch": host_epoch(),
        # collect_s == queries[name]; compute_s is the noop-sink wall of the
        # same plan (see CORPUS_SIZED_OUTPUT). collect_s - compute_s ~ driver
        # output-transfer cost; compare compute_s across rounds for plan
        # health of corpus-sized-output queries.
        "compute_s": compute_only,
        # Host state brackets: load1 at start is OTHER work (taken before
        # the session spins up); at end it includes this bench's own tail.
        # contended_at_start marks artifacts whose numbers should not be
        # compared across rounds without a rerun. start_prewait/waited
        # preserve the pre-drain-wait probe: a run that started loaded but
        # drained during the wait stays self-identifying (ADVICE r6).
        "host": {
            "start_prewait": host_prewait,
            "start": host_start,
            "end": host_end,
            "waited": waited,
            "contended_at_start":
                host_start["load1_per_cpu"] > LOAD_WARN_THRESHOLD,
        },
        # Per-query driver-JVM brackets (round-12, VERDICT r11 #1): deltas
        # of GC ms/count, loaded classes, codegen compilations, broadcast
        # ids, plus post-query heap. Taken outside the timed region.
        "jvm": jvm_brackets,
        # Self-adjudication (round-11): probe walls re-timed after the
        # suite vs the committed same-epoch baseline (inflation_factor)
        # and vs this run's own walls (self_ratio). A factor ~1.0 says
        # the absolute seconds in this artifact are comparable to the
        # committed baseline; >1.2 says the host was loaded and the
        # artifact says so itself — no post-hoc forensics needed.
        "calibration": calibration,
    }
    # A SUBSET run (--queries) must not clobber the committed full-registry
    # detail baseline (this bit twice: r9's 31204a9 and a round-10 smoke) —
    # route it to a scratch file unless --detail-out says otherwise.
    default_name = (
        "BENCH_DETAIL.json" if args.queries is None
        else "BENCH_DETAIL_SUBSET.json"
    )
    detail_path = args.detail_out or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), default_name)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    # Full per-query record first (humans / logs)...
    print(json.dumps(detail))

    # ...then a compact (<1 KB) machine-readable summary as the FINAL stdout
    # line: consumers with a bounded tail window (the per-round driver) must
    # be able to parse it whole.  Per-query detail lives in BENCH_DETAIL.json.
    _FAMILIES = {"dedup", "sim", "join", "ev", "text", "sketch", "mm", "pipe",
                 "emb", "sink"}
    _PIPELINE = {"doc_chunk", "seq_pack", "pii_redact", "len_histogram",
                 "source_mix", "split_train_test", "text_normalize",
                 "contamination_check", "sample_stratified", "dsir_weights",
                 "shuffle_shard", "contamination_ngram", "vocab_stats",
                 "sample_uniform", "ppl_bucket_sample", "sample_weighted",
                 "lang_temperature_mix", "split_group_holdout"}

    def family(name: str) -> str:
        if name.startswith("q") and name[1:].isdigit():
            return "tpch"
        if name in _PIPELINE:
            return "pipe"
        prefix = name.split("_", 1)[0]
        return prefix if prefix in _FAMILIES else "sql"

    families: dict[str, float] = {}
    for name, sec in per_query.items():
        families[family(name)] = round(families.get(family(name), 0.0) + sec, 4)
    tpch = {n: s for n, s in per_query.items() if family(n) == "tpch"}
    summary = {
        "metric": "suite_total_seconds",
        "value": detail["value"],
        "unit": "sec",
        "sf": sf_val,
        "engine": "datafusion_ray_spark",
        "n_queries": len(per_query),
        "queries": tpch,
        "families": families,
        "n_errors": len(errors),
        "err_queries": sorted(errors)[:20],
        "detail_file": os.path.basename(detail_path),
        "epoch_id": detail["epoch"]["epoch_id"],
        "inflation_factor":
            calibration.get("inflation_factor") if calibration else None,
        "calibration_self_ratio":
            calibration.get("self_ratio") if calibration else None,
    }
    print(json.dumps(summary))
    spark.stop()
    # Nonzero rc only when the run is substantially broken (>20% failed),
    # so the driver still records the artifact for isolated failures.
    if errors and len(errors) > max(1, len(names)) * 0.2:
        return 1
    return 0


def _run_calibration(
    spark, registry, args, probe_names, per_query, committed_detail,
    sf_val, host_epoch,
) -> dict:
    """Re-time the calibration probes under the SAME protocol as the
    suite (min-of-args.runs — a different run count would bias both
    ratios) and compare against the committed same-epoch baseline."""
    probe_walls: dict[str, float] = {}
    for p in probe_names:
        best = None
        for _ in range(args.runs):
            start = time.perf_counter()
            registry[p].run(spark, args.sf_dir).collect()
            el = time.perf_counter() - start
            best = el if best is None else min(best, el)
            spark.catalog.clearCache()
        probe_walls[p] = round(best, 4)

    def _median(xs: list[float]) -> float:
        xs = sorted(xs)
        mid = len(xs) // 2
        return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2

    # self-ratio ~1.0 when the weather held through the run; >1 means
    # load ARRIVED mid-suite (the probes run last)
    self_ratio = round(_median(
        [probe_walls[p] / per_query[p] for p in probe_names
         if per_query.get(p)]
    ), 3)
    inflation = None
    baseline_epoch_match = bool(committed_detail) and (
        committed_detail.get("epoch", {}).get("epoch_id")
        == host_epoch()["epoch_id"]
        and committed_detail.get("sf") == sf_val
    )
    if baseline_epoch_match:
        base_q = committed_detail.get("queries", {})
        ratios = [probe_walls[p] / base_q[p] for p in probe_names
                  if base_q.get(p)]
        if ratios:
            inflation = round(_median(ratios), 3)
    if inflation is not None and inflation > 1.2:
        print(
            f"bench: WARNING calibration inflation_factor={inflation} "
            "vs the committed same-epoch baseline — this artifact's "
            "absolute walls are contention-inflated; compare plans/"
            "shuffle, not seconds", file=sys.stderr,
        )
    return {
        "probes": probe_walls,
        "suite_walls": {p: per_query[p] for p in probe_names},
        "self_ratio": self_ratio,
        "inflation_factor": inflation,
        "baseline_epoch_match": baseline_epoch_match,
        "host_at_probe": _host_load(),
    }


if __name__ == "__main__":
    sys.exit(main())
