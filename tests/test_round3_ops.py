"""Behavioral tests for the round-3 additions: interval-overlap join,
nearest as-of, SCD-2, EWMA, winsorize, funnel, SQ8 ANN, PageRank.

Value-level certification lives in the oracle gate
(tests/test_suite_oracle.py); these tests pin the
edge-case SEMANTICS the oracles don't isolate: exactly-once pairing,
tie-breaking, tolerance fall-through, interval chaining, fixed-point
invariants.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F


def _ts(minute: int, second: int = 0):
    return dt.datetime(2024, 1, 1, minute // 60, minute % 60, second)


# ---------------------------------------------------------------------------
# interval_overlap_join


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp"
    )


def test_interval_join_matches_naive_nonequi(spark):
    from datafusion_ray_spark.operators.rangejoin import interval_overlap_join

    left = _mk_events(
        spark,
        [(i, i % 3, _ts(7 * i)) for i in range(40)],
    )
    right = _mk_events(
        spark,
        [(100 + i, i % 3, _ts(5 * i, 30)) for i in range(40)],
    )
    got = interval_overlap_join(
        left, right, left_minutes=20, right_minutes=10
    ).toPandas()
    # naive reference: raw non-equi join (fine on 40x40 rows)
    l = left.select(
        F.col("event_id").alias("lid"),
        F.col("user_id").alias("k"),
        F.unix_micros("ts").alias("ls"),
        (F.unix_micros("ts") + 20 * 60 * 1_000_000).alias("le"),
    )
    r = right.select(
        F.col("event_id").alias("rid"),
        F.col("user_id").alias("rk"),
        F.unix_micros("ts").alias("rs"),
        (F.unix_micros("ts") + 10 * 60 * 1_000_000).alias("re"),
    )
    naive = (
        l.join(r, (l.k == r.rk) & (l.ls <= r.re) & (r.rs <= l.le))
        .select("lid", "rid")
        .toPandas()
    )
    got_pairs = set(zip(got.l_event_id, got.r_event_id))
    naive_pairs = set(zip(naive.lid, naive.rid))
    assert got_pairs == naive_pairs
    # exactly-once: no duplicated pair rows from multi-bucket explode
    assert len(got) == len(got_pairs)
    assert (got.overlap_s >= 0).all()


# ---------------------------------------------------------------------------
# asof_join direction="nearest"


def test_asof_nearest_tie_goes_backward(spark):
    from datafusion_ray_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts(10), 0.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, _ts(8), 100.0), (1, _ts(12), 200.0)],
        "user_id long, ts timestamp, value double",
    )
    row = asof_join(left, right, direction="nearest").first()
    assert row["r_value"] == 100.0  # equidistant -> backward wins


def test_asof_nearest_tolerance_falls_through(spark):
    from datafusion_ray_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts(60), 0.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, _ts(0), 100.0), (1, _ts(70), 200.0)],
        "user_id long, ts timestamp, value double",
    )
    # backward candidate is 60 min away (outside 15-min tolerance), the
    # 10-min forward one must be chosen instead of returning NULL
    row = asof_join(
        left, right, direction="nearest", tolerance_seconds=15 * 60
    ).first()
    assert row["r_value"] == 200.0
    # nothing in range -> NULL match
    row2 = asof_join(
        left, right, direction="nearest", tolerance_seconds=60
    ).first()
    assert row2["r_value"] is None and row2["r_ts"] is None


def test_asof_nearest_equal_ts_is_distance_zero(spark):
    from datafusion_ray_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, _ts(10), 0.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 100.0), (1, _ts(11), 200.0)],
        "user_id long, ts timestamp, value double",
    )
    assert asof_join(left, right, direction="nearest").first()["r_value"] == 100.0


# ---------------------------------------------------------------------------
# SCD-2


def test_scd2_compresses_and_chains(spark):
    from datafusion_ray_spark.operators.eventops import scd2_snapshot

    ev = spark.createDataFrame(
        [
            (1, 1, _ts(0), 1.0),
            (2, 1, _ts(10), 1.0),   # same tier -> same span
            (3, 1, _ts(20), 2.0),   # change
            (4, 1, _ts(30), 2.0),
            (5, 1, _ts(40), 1.0),   # change back -> NEW span (type 2)
        ],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = scd2_snapshot(ev).orderBy("version").toPandas()
    assert list(out.version) == [1, 2, 3]
    assert list(out.tier) == [1, 2, 1]
    assert list(out.n_events) == [2, 2, 1]
    # intervals chain: valid_to[i] == valid_from[i+1]; exactly one current
    assert list(out.valid_to)[:-1] == list(out.valid_from)[1:]
    assert list(out.is_current) == [False, False, True]


# ---------------------------------------------------------------------------
# EWMA


def test_ewma_constant_series_and_single_row(spark):
    from datafusion_ray_spark.operators.eventops import ewma_feature

    ev = spark.createDataFrame(
        [(i, 1, _ts(i), 7.5) for i in range(12)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = ewma_feature(ev).toPandas()
    assert (out.ewma == 7.5).all()  # constant input -> constant EWMA
    one = spark.createDataFrame(
        [(1, 2, _ts(0), 3.25)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    assert ewma_feature(one).first()["ewma"] == 3.25


def test_ewma_weights_recent_heavier(spark):
    from datafusion_ray_spark.operators.eventops import ewma_feature

    ev = spark.createDataFrame(
        [(i, 1, _ts(i), float(i)) for i in range(10)],
        "event_id long, user_id long, ts timestamp, value double",
    )
    out = ewma_feature(ev).orderBy("event_id").toPandas()
    # strictly increasing series -> EWMA lags the last value but increases
    assert all(a < b for a, b in zip(out.ewma, out.ewma[1:]))
    assert (out.ewma <= out.value).all()


# ---------------------------------------------------------------------------
# funnel


def test_funnel_counts_non_increasing_and_strictly_after(spark):
    from datafusion_ray_spark.operators.eventops import funnel_steps

    ev = spark.createDataFrame(
        [
            # user 1 completes in order
            (1, 1, _ts(0), "view"), (2, 1, _ts(1), "click"), (3, 1, _ts(2), "purchase"),
            # user 2: purchase BEFORE click -> must not count at step 3
            (4, 2, _ts(0), "view"), (5, 2, _ts(2), "click"), (6, 2, _ts(1), "purchase"),
            # user 3: view only
            (7, 3, _ts(0), "view"),
        ],
        "event_id long, user_id long, ts timestamp, event_type string",
    )
    out = funnel_steps(ev).orderBy("step_no").toPandas()
    assert list(out.n_users) == [3, 2, 1]


# ---------------------------------------------------------------------------
# SQ8


def test_sq8_codes_bounded_and_query_is_top1(spark, sf_dir):
    from datafusion_ray_spark.operators import similarity
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    stats = similarity.sq8_stats(emb)
    assert len(stats) == similarity.DIM
    coded = emb.select(
        similarity.sq8_encode_expr(stats).alias("c")
    ).select(F.explode("c").alias("v"))
    mn, mx = coded.agg(F.min("v"), F.max("v")).first()
    assert 0 <= mn and mx <= similarity.SQ_LEVELS
    # without exclusion the query vector itself must rank first
    qv = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    top = similarity.sq8_ann_topk(emb, qv, k=1).first()
    assert top["vec_id"] == 0


# ---------------------------------------------------------------------------
# PageRank


def test_pagerank_mass_and_bounds(spark, sf_dir):
    from datafusion_ray_spark.operators.graph import (
        SCALE, pagerank_fixed_point, trade_edges,
    )
    from datafusion_ray_spark.sources.tables import load_table

    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "supplier", "nation")}
    edges = trade_edges(t["lineitem"], t["orders"], t["customer"],
                        t["supplier"], t["nation"])
    nodes = t["nation"].select(F.col("n_name").alias("node"))
    pr = pagerank_fixed_point(edges, nodes, iters=3).toPandas()
    assert len(pr) == 25
    base = ((SCALE - 850_000) * SCALE // 25) // SCALE
    assert (pr.rank_micro >= base).all()
    # floor-division only loses mass: total stays in (0.9, 1.0] units
    assert 0.9 * SCALE < pr.rank_micro.sum() <= SCALE
    # the distributed loop (driver fast-path disabled) must be bit-equal
    dist = (
        pagerank_fixed_point(edges, nodes, iters=3, max_driver_edges=0)
        .toPandas().sort_values("node").reset_index(drop=True)
    )
    fast = pr.sort_values("node").reset_index(drop=True)
    assert (dist.rank_micro == fast.rank_micro).all()
    assert (dist.node == fast.node).all()


def test_sq8_rerank_converges_to_exact_with_wide_candidates(spark, sf_dir):
    from datafusion_ray_spark.operators import similarity
    from datafusion_ray_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    qv = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    n = emb.count()
    wide = similarity.sq8_rerank_topk(
        emb, qv, k=5, n_candidates=n, exclude_vec_id=0
    ).toPandas()
    exact = similarity.cosine_topk(emb, qv, k=5, exclude_vec_id=0).toPandas()
    assert list(wide.vec_id) == list(exact.vec_id)
    assert list(wide.cosine) == list(exact.cosine)


def test_compact_files_preserves_data(spark, sf_dir, tmp_path):
    from datafusion_ray_spark.sources.layout import compact_files
    from datafusion_ray_spark.sources.tables import load_table

    src = str(tmp_path / "fragmented")
    out = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events")
    # simulate micro-batch fragmentation: many tiny files
    ev.repartition(64).write.parquet(src)
    import glob
    assert len(glob.glob(f"{src}/part-*.parquet")) == 64

    n_files = compact_files(spark, src, out, target_file_rows=5_000)
    assert len(glob.glob(f"{out}/part-*.parquet")) == n_files < 64
    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.count() == b.count()
    assert sorted(a.columns) == sorted(b.columns)
    # value-level equality: symmetric difference is empty
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
