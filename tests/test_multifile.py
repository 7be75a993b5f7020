"""Multi-file layout gate: the engine on realistic (split) tables.

All three driver sf* dirs are single-file single-row-group parquet — the
degenerate layout ``spread()`` exists to fix. A real table is many files;
this suite rewrites sf0.01 via ``testing.make_multifile`` (32 part files
per corpus table) and proves:

- scans split naturally (≥32 input partitions on lineitem/events), so
  ``spread()`` is a no-op (returns the SAME DataFrame object — the extra
  shuffle exists only in the degenerate case it fixes);
- a representative query subset stays oracle-green on the directory
  layout (the full 171-query artifact lives in CORRECTNESS_MULTIFILE.json,
  regenerated per round via
  ``python correctness_local.py --sf-dir .mfdata/sf0.01``).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from datafusion_ray_spark.queries.registry import build_registry
from datafusion_ray_spark.sources.tables import (
    duckdb_register,
    load_table,
    spread,
)
from datafusion_ray_spark.testing import assert_frames_match, make_multifile

_SRC = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def mf_dir(tmp_path_factory) -> str:
    return make_multifile(_SRC, str(tmp_path_factory.mktemp("mfdata")))


@pytest.fixture(scope="module")
def mf_oracle(mf_dir):
    con = duckdb.connect()
    duckdb_register(con, mf_dir)
    yield con
    con.close()


def test_scans_split_and_spread_noops(spark, mf_dir):
    # make_multifile writes 32 parts for big tables (>=50k rows: lineitem
    # at sf0.01) and 8 for mid-size ones (events at sf0.01 is 10k rows).
    # Spark packs small files into about one split per core, so a scan
    # plans at least min(parts, defaultParallelism) splits. spread()'s
    # no-op contract is "enough splits for every core" — it must be
    # identity exactly when the scan already has >= defaultParallelism
    # splits (lineitem), and may still fire below that.
    cores = spark.sparkContext.defaultParallelism
    for table, parts in (("lineitem", 32), ("events", 8)):
        df = load_table(spark, mf_dir, table)
        n = df.rdd.getNumPartitions()
        want = min(parts, cores)
        assert n >= want, f"{table}: only {n} scan splits on multi-file layout"
        if n >= cores:
            assert spread(df) is df, (
                f"{table}: spread() repartitioned an already-split scan — "
                "it must only fire on under-split inputs"
            )


def _write_random_parquet(path, spark, row_groups: int) -> None:
    """A seeded, incompressible int64 file big enough that Spark plans at
    least defaultParallelism splits for it under the session's open cost,
    cut into ``row_groups`` equal row groups."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    cores = spark.sparkContext.defaultParallelism
    open_cost = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    n = (cores + 2) * open_cost // 8
    values = np.random.default_rng(7).integers(0, 2**62, n)
    pq.write_table(pa.table({"v": values}), path, compression="none",
                   row_group_size=-(-n // row_groups))


def test_spread_counts_splits_that_hold_data(spark, tmp_path):
    """A split holds rows only if a row group's midpoint falls in it. One
    big single-row-group file plans a split per core with every row in one
    of them, so it must still be spread; a file with a row group per core
    is already parallel and must come back unchanged."""
    cores = spark.sparkContext.defaultParallelism
    _write_random_parquet(tmp_path / "one_rg.parquet", spark, 1)
    _write_random_parquet(tmp_path / "many_rg.parquet", spark, cores)

    one = load_table(spark, str(tmp_path), "one_rg")
    assert one.rdd.getNumPartitions() >= cores
    assert one.select(F.spark_partition_id()).distinct().count() == 1
    assert spread(one) is not one
    # untagged frames take the same decision without the memo
    raw = spark.read.parquet(str(tmp_path / "one_rg.parquet"))
    assert spread(raw).rdd.getNumPartitions() == cores

    many = load_table(spark, str(tmp_path), "many_rg")
    assert many.rdd.getNumPartitions() >= cores
    assert spread(many) is many


def test_single_file_layout_still_spreads(spark):
    # the degenerate case spread() exists for: single file, 1 row group
    df = load_table(spark, _SRC, "documents")
    if df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism:
        pytest.skip("testdata no longer single-split; spread obsolete here")
    assert spread(df) is not df


def test_spread_probe_memo(spark):
    """r11 optimization: spread()'s ~200 ms driver-side split-count probe
    is memoized per (session, sf_dir, table) for load_table-tagged frames,
    and narrow() propagates the tag across a pure projection. The memo
    stores plan metadata (a partition count), never results; the spread
    decision itself must be unchanged."""
    from datafusion_ray_spark.sources.tables import _SCAN_PARTS, narrow

    df = load_table(spark, _SRC, "lineitem")
    key = getattr(df, "_dfrs_probe_key", None)
    assert key == (id(spark), _SRC, "lineitem")
    _SCAN_PARTS.pop(key, None)
    n_direct = df.rdd.getNumPartitions()
    out1 = spread(df)
    hit = _SCAN_PARTS.get(key)
    assert hit is not None and hit[0]() is spark and hit[1] == n_direct
    # memo hit must reproduce the same decision (same partitioning)
    out2 = spread(load_table(spark, _SRC, "lineitem"))
    assert out1.rdd.getNumPartitions() == out2.rdd.getNumPartitions()
    # narrow() keeps the tag so the projected scan shares the memo
    proj = narrow(df, "l_orderkey")
    assert getattr(proj, "_dfrs_probe_key", None) == key
    assert proj.columns == ["l_orderkey"]


@pytest.mark.parametrize(
    "name", ["q1", "q6", "q9", "dedup_exact", "ev_session_window", "text_bm25"]
)
def test_oracle_green_on_multifile_layout(name, spark, mf_dir, mf_oracle):
    entry = build_registry()[name]
    spark_pdf = entry.run(spark, mf_dir).toPandas()
    oracle_pdf = mf_oracle.sql(entry.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name=f"{name}@multifile")
    spark.catalog.clearCache()
