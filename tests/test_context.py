"""DFRayContext facade tests (API parity with the reference's context —
``/root/reference/datafusion_ray/core.py:558-663``)."""

from __future__ import annotations

import pyarrow as pa

from datafusion_ray_spark import DFRayContext


def _ctx(spark, sf_dir):
    ctx = DFRayContext(batch_size=4096, spark=spark)
    for t in ("region", "nation", "customer", "orders", "lineitem", "supplier", "part"):
        ctx.register_parquet(t, f"{sf_dir}/{t}.parquet")
    return ctx


def test_register_and_sql_collect(spark, sf_dir):
    ctx = _ctx(spark, sf_dir)
    df = ctx.sql("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")
    batches = df.collect()
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    table = pa.Table.from_batches(batches)
    assert table.num_rows == 5
    assert table.column_names == ["r_regionkey", "r_name"]


def test_schema_is_lazy_arrow_schema(spark, sf_dir):
    ctx = _ctx(spark, sf_dir)
    df = ctx.sql("SELECT n_nationkey, n_name FROM nation")
    schema = df.schema()
    assert schema.names == ["n_nationkey", "n_name"]


def test_multi_statement_view_script(spark, sf_dir):
    """The reference's q15 shape: create view; query it; drop view
    (``/root/reference/tpch/tpcbench.py:110-121``)."""
    ctx = _ctx(spark, sf_dir)
    result = ctx.sql(
        """
        CREATE VIEW rev AS
            SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY l_suppkey;
        SELECT COUNT(*) AS n FROM rev;
        DROP VIEW rev
        """
    )
    # last statement is the DROP; the middle SELECT executed fine if no error.
    assert result is not None


def test_plan_introspection(spark, sf_dir):
    ctx = _ctx(spark, sf_dir)
    df = ctx.sql("SELECT COUNT(*) AS c FROM lineitem WHERE l_quantity > 10")
    assert "lineitem" in df.logical_plan() or "Relation" in df.logical_plan()
    assert "Aggregate" in df.optimized_logical_plan()
    physical = df.execution_plan()
    assert "HashAggregate" in physical or "Scan" in physical


def test_config_set_translation(spark, sf_dir):
    ctx = _ctx(spark, sf_dir)
    ctx.set("datafusion.execution.target_partitions", "16")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "16"
    ctx.set("datafusion.optimizer.enable_round_robin_repartition", "false")  # no-op
    ctx.set("spark.sql.shuffle.partitions", "32")
    assert spark.conf.get("spark.sql.shuffle.partitions") == "32"


def test_register_csv(spark, sf_dir, tmp_path):
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    ctx = DFRayContext(spark=spark)
    ctx.register_csv("csvt", str(csv))
    out = ctx.sql("SELECT a, b FROM csvt ORDER BY a").to_pandas()
    assert list(out["a"]) == [1, 2]
    assert list(out["b"]) == ["x", "y"]


def test_register_orc_roundtrip(spark, sf_dir, tmp_path):
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("region_src", f"{sf_dir}/region.parquet")
    orc_dir = str(tmp_path / "region_orc")
    ctx.sql("SELECT * FROM region_src").df.write.mode("overwrite").orc(orc_dir)
    ctx.register_orc("region_orc", orc_dir)
    assert ctx.sql("SELECT COUNT(*) AS c FROM region_orc").to_pandas()["c"][0] == 5
    ctx.register_listing_table("region_orc_lst", orc_dir, file_format="orc")
    assert ctx.sql("SELECT COUNT(*) AS c FROM region_orc_lst").to_pandas()["c"][0] == 5


def test_register_listing_table(spark, sf_dir):
    ctx = DFRayContext(spark=spark)
    ctx.register_listing_table("lst", sf_dir + "/lineitem.parquet")
    assert ctx.sql("SELECT COUNT(*) AS c FROM lst").to_pandas()["c"][0] > 0


def test_s3_path_normalization():
    from datafusion_ray_spark.context import DFRayContext

    assert DFRayContext._normalize_path("s3://bucket/key/part.parquet") == (
        "s3a://bucket/key/part.parquet"
    )
    assert DFRayContext._normalize_path("gs://bucket/x") == "gs://bucket/x"
    assert DFRayContext._normalize_path("/local/path") == "/local/path"


def test_collect_stream_yields_bounded_batches(spark, sf_dir):
    """collect_stream mirrors the reference's PyRecordBatchStream
    (``/root/reference/src/dataframe.rs:422-478``): an iterator of Arrow
    batches, each bounded by the batch-size knob, summing to the full
    result — without a driver-side toArrow materialization."""
    ctx = _ctx(spark, sf_dir)
    df = ctx.sql("SELECT l_orderkey, l_quantity FROM lineitem")
    total_rows = df.count()
    batches = list(df.collect_stream(max_records_per_batch=1000))
    assert len(batches) > 1  # larger-than-one-batch result streams in pieces
    assert all(isinstance(b, pa.RecordBatch) for b in batches)
    assert all(b.num_rows <= 1000 for b in batches)
    assert sum(b.num_rows for b in batches) == total_rows
    # values round-trip: sum over streamed batches == SQL sum
    streamed = sum(
        pa.Table.from_batches([b]).column("l_quantity").to_pylist()[i]
        for b in batches
        for i in range(b.num_rows)
    )
    expected = df.df.groupBy().sum("l_quantity").collect()[0][0]
    assert abs(streamed - expected) < 1e-6


def test_collect_stream_async_matches_sync(spark, sf_dir):
    import asyncio

    ctx = _ctx(spark, sf_dir)
    df = ctx.sql("SELECT n_nationkey FROM nation ORDER BY n_nationkey")

    async def drain():
        return [b async for b in df.collect_stream_async(max_records_per_batch=10)]

    batches = asyncio.run(drain())
    assert len(batches) >= 2
    got = [v for b in batches for v in b.column("n_nationkey").to_pylist()]
    assert got == sorted(got) and len(got) == 25


def test_s3_register_falls_through_to_boto3_tier(spark):
    """s3:// registration is two-tier (r8): the s3a connector is tried
    first (`_normalize_path` still rewrites the scheme — asserted
    directly), and in this jar-less sandbox the failure must come from
    TIER 2, the distributed boto3 source (credential/endpoint errors),
    proving the fallback engaged instead of dying on the missing
    connector. The tier-2 HAPPY path is e2e-certified against a live
    moto endpoint in tests/test_s3store.py."""
    import pytest

    assert DFRayContext._normalize_path("s3://b/k.parquet") == "s3a://b/k.parquet"
    ctx = DFRayContext(spark=spark)
    with pytest.raises(Exception) as excinfo:
        ctx.register_parquet("s3t", "s3://no-such-bucket/data.parquet")
    # The failure must be tier 2's (credentials/listing/endpoint), NOT the
    # tier-1 missing-connector error leaking through — that exact text
    # propagating would mean the fallback never engaged.
    msg = str(excinfo.value)
    assert "No FileSystem for scheme" not in msg
    assert __import__("re").search(
        "(?i)credential|unable to locate|endpoint|connect|forbidden|denied|"
        "no parquet objects", msg
    ), f"unexpected tier-2 failure text: {msg[:400]}"


def test_split_statements_ignores_comment_semicolons():
    from datafusion_ray_spark.sql import split_statements

    script = (
        "SELECT 1 AS a -- trailing; comment with ; semicolons\n;"
        "/* block; comment;\n spanning lines */ SELECT 2 AS b;"
        "SELECT '; not a split' AS c"
    )
    stmts = split_statements(script)
    assert len(stmts) == 3
    assert stmts[0].startswith("SELECT 1")
    assert stmts[1].endswith("SELECT 2 AS b")
    assert stmts[2] == "SELECT '; not a split' AS c"


def test_register_arrow_roundtrip(spark):
    import pyarrow as pa

    from datafusion_ray_spark import DFRayContext

    ctx = DFRayContext(spark=spark)
    t = pa.table({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    ctx.register_arrow("mem_t", t)
    batches = ctx.sql("SELECT k, v FROM mem_t WHERE k >= 2 ORDER BY k").collect()
    back = pa.Table.from_batches(batches)
    assert back.to_pylist() == [{"k": 2, "v": "b"}, {"k": 3, "v": "c"}]
    # batches input form too
    ctx.register_arrow("mem_b", t.to_batches())
    assert ctx.sql("SELECT COUNT(*) AS c FROM mem_b").to_pandas()["c"][0] == 3


def test_register_text_lines_and_wholetext(spark, tmp_path):
    from datafusion_ray_spark import DFRayContext

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("alpha line\nbeta line\n")
    (d / "b.txt").write_text("gamma line\n")
    ctx = DFRayContext(spark=spark)
    ctx.register_text("corpus_lines", str(d))
    n = ctx.sql("SELECT COUNT(*) AS n FROM corpus_lines WHERE value LIKE '%line'").to_pandas()
    assert int(n["n"][0]) == 3
    ctx.register_text("corpus_docs", str(d), wholetext=True)
    docs = ctx.sql("SELECT value FROM corpus_docs").to_pandas()
    assert len(docs) == 2 and any("alpha" in v and "beta" in v for v in docs["value"])


def test_execution_metrics_expose_runtime_counters(spark, sf_dir):
    """execution_metrics() reads the executed plan's SQLMetrics — the
    EXPLAIN ANALYZE surface: per-operator output rows, shuffle record
    counts, scan file stats. The partial/final aggregate split must be
    visible: the shuffle ships only the combined per-group rows."""
    ctx = _ctx(spark, sf_dir)
    df = ctx.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag"
    )
    df.collect()
    m = df.execution_metrics()
    assert m, "no metrics collected"
    scan = next(v for k, v in m.items() if k.startswith("Scan parquet"))
    assert scan["numFiles"] >= 1 and scan["filesSize"] > 0
    final_rows = next(
        v["numOutputRows"] for k, v in m.items() if k.startswith("HashAggregate")
    )
    assert final_rows == 3  # one row per returnflag
    shuffled = next(
        v["shuffleRecordsWritten"] for k, v in m.items() if k.startswith("Exchange")
    )
    # map-side combine: the exchange carries per-partition groups, not rows
    assert shuffled <= 3 * 32
    assert shuffled < df.df.sparkSession.table("lineitem").count()


def test_register_parquet_bad_filter_op_raises_value_error(spark, sf_dir):
    """A filter triple with an unknown op is rejected with the same
    ValueError on a local path as on the object-store tiers (one parser
    validates the declared filters for every tier)."""
    import os

    import pytest

    ctx = DFRayContext(spark=spark)
    with pytest.raises(ValueError, match="bad filter triple"):
        ctx.register_parquet(
            "bad_op", os.path.join(sf_dir, "nation.parquet"),
            filters=[["n_nationkey", "~", 1]],
        )
    assert "bad_op" not in ctx.tables()


def test_register_parquet_local_pushdown_options(spark, sf_dir):
    """columns/filters on a LOCAL path apply the same projection + exact
    where() as the object-store tiers, and Catalyst pushes both into the
    parquet scan (PushedFilters + a pruned ReadSchema)."""
    import os

    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "li_pushdown", os.path.join(sf_dir, "lineitem.parquet"),
        columns=["l_orderkey", "l_quantity"],
        filters=[["l_quantity", ">=", 30]],
    )
    df = ctx.sql("SELECT * FROM li_pushdown")
    assert [f.name for f in df.schema()] == ["l_orderkey", "l_quantity"]
    plan = df.execution_plan()
    assert (
        "PushedFilters: [IsNotNull(l_quantity), "
        "GreaterThanOrEqual(l_quantity" in plan
    ), "filter must reach the parquet scan"
    want = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .where("l_quantity >= 30").count()
    )
    got = sum(b.num_rows for b in df.collect())
    assert got == want > 0
