"""Distributed HTTP(S) parquet source: byte-range partitioning
end-to-end against a local Range-supporting HTTP server (the ``range_server``
fixture of ``conftest.py``), projection/stats-pruning byte accounting, the
executor-side read of servers without Range support, and DuckDB value
certification."""

from __future__ import annotations

import io
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

DATA = "/data.parquet"


@pytest.fixture()
def http_url(range_server, pushdown_parquet):
    range_server.payloads[DATA] = pushdown_parquet
    return range_server.url(DATA)


def _read(spark, url, **opts):
    from datafusion_ray_spark.sources.httpparquet import register_http_parquet

    register_http_parquet(spark)
    reader = spark.read.format("httpparquet").option("url", url)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def _pids(df) -> dict[int, int]:
    """Rows per Spark partition of ``df``'s scan."""
    return {
        r["pid"]: r["count"]
        for r in df.groupBy(F.spark_partition_id().alias("pid"))
        .count().collect()
    }


def test_http_parquet_row_group_fanout_and_values(spark, http_url,
                                                  pushdown_parquet):
    """16 byte ranges over 8 row groups: each row group's midpoint falls
    in exactly one range, so exactly 8 tasks read rows — 10k each."""
    size = len(pushdown_parquet)
    df = _read(spark, http_url, partition_bytes=-(-size // 16))
    assert df.rdd.getNumPartitions() == 16
    assert sorted(_pids(df).values()) == [10_000] * 8
    got = sorted(
        (r["k"], r["v"]) for r in df.select("k", "v").collect()
    )
    assert len(got) == 80_000
    assert got[0] == (0, 0.0) and got[-1][0] == 79_999


def test_http_parquet_projection_and_stats_pruning(spark, http_url,
                                                   range_server,
                                                   pushdown_parquet):
    log = range_server.log
    # baseline transfer for the full table
    log.clear()
    full = _read(spark, http_url)
    assert full.count() == 80_000
    full_bytes = log.bytes
    assert log.row_groups_read(DATA, pushdown_parquet) == set(range(8))

    # projection must skip the wide unique-string column's pages
    log.clear()
    proj = _read(spark, http_url, columns="k,v")
    assert proj.columns == ["k", "v"] and proj.count() == 80_000
    assert log.bytes < full_bytes * 0.8

    # a k>=60000 filter refutes 6 of 8 row groups from footer stats: the
    # task reads only row groups 6 and 7
    log.clear()
    filt = _read(
        spark, http_url,
        filters='[["k", ">=", 60000]]',
    )
    assert 20_000 <= filt.count() < 80_000
    assert log.row_groups_read(DATA, pushdown_parquet) == {6, 7}
    assert log.bytes < full_bytes / 2


def test_http_parquet_all_row_groups_pruned_returns_empty(
    spark, http_url, range_server, pushdown_parquet
):
    """A legitimate all-excluding filter (k >= max+1 refutes EVERY row
    group from footer stats) returns 0 rows with the schema intact: the
    task reads its footer, keeps no row group and yields nothing."""
    range_server.log.clear()
    df = _read(
        spark, http_url,
        filters='[["k", ">=", 80000]]',
    )
    assert df.count() == 0
    assert df.columns == ["k", "v", "s"]  # schema survives the empty scan
    assert range_server.log.row_groups_read(DATA, pushdown_parquet) == set()


def test_facade_http_parquet_exact_and_oracle(spark, http_url,
                                              pushdown_parquet):
    """register_parquet('http://...') serves SQL with EXACT filter
    semantics (where() above the pruned scan), certified against DuckDB
    computing the same aggregate from the same bytes."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_tbl", http_url,
        columns=["k", "v"], filters=[["k", ">=", 60000]],
    )
    got = ctx.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS mn, SUM(v) AS sv FROM http_tbl"
    ).collect()[0].to_pydict()
    con = duckdb.connect()
    con.register("local", pq.read_table(io.BytesIO(pushdown_parquet)))
    want = con.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS mn, SUM(v) AS sv FROM local "
        "WHERE k >= 60000"
    ).fetchone()
    assert (got["n"][0], got["mn"][0], round(got["sv"][0], 6)) == (
        want[0], want[1], round(want[2], 6)
    )


@pytest.mark.parametrize("form", ["url", "url_list", "manifest"])
def test_http_parquet_no_range_reads_on_executors(spark, multi,
                                                  pushdown_parquet, form):
    """A server without Range support answers every ranged GET with the
    whole object. Each declaration form still registers through the
    httpparquet scan — every task keeps the body it was sent — with the
    rows of a pyarrow read of the same bytes, and nothing is spooled into
    the temp dir."""
    import tempfile

    from datafusion_ray_spark.context import DFRayContext

    multi.payloads[DATA] = pushdown_parquet
    multi.ranges = False
    options = {}
    if form == "url":
        path, objects = multi.url(DATA), [DATA]
    elif form == "url_list":
        objects = ["/a.parquet", "/b.parquet"]
        path = [multi.url(p) for p in objects]
    else:
        objects = ["/a.parquet", "/b.parquet"]
        path, options = multi.url("/manifest.txt"), {"manifest": True}
    want = sorted(
        tuple(row.values())
        for p in objects
        for row in pq.read_table(io.BytesIO(multi.payloads[p])).to_pylist()
    )

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(f"http_no_range_{form}", path, **options)
    df = ctx.sql(f"SELECT * FROM http_no_range_{form}")
    assert sorted(map(tuple, df.df.collect())) == want
    plan = df.execution_plan()
    assert "BatchScan httpparquet" in plan and "FileScan parquet" not in plan
    spooled = [n for n in set(os.listdir(tmp)) - before
               if os.path.isfile(os.path.join(tmp, n))]
    assert spooled == []
    # the server never served a partial body
    assert all(r.span is None or r.nbytes == len(multi.payloads[r.ref])
               for r in multi.log.requests if r.method == "GET")


def test_http_parquet_automatic_pushdown_plain_where(spark, http_url,
                                                     range_server,
                                                     pushdown_parquet):
    """Round-10: Catalyst's own predicates reach the row-group pruner via
    the Spark 4.1 pushFilters API — a plain .where(), NO user-declared
    filters option, must read fewer row groups and transfer fewer bytes,
    with EXACT rows (Spark re-applies the filter above the scan). One
    range for the whole object (the default partition size) keeps the
    per-task footer tails out of the IN-list's byte bound."""
    log = range_server.log
    log.clear()
    full = _read(spark, http_url)
    assert full.count() == 80_000
    full_bytes = log.bytes

    filt = _read(spark, http_url).where("k >= 60000")
    # byte accounting over exactly ONE action, same as the baseline's one
    log.clear()
    got = sorted(r["k"] for r in filt.select("k").collect())
    assert got == list(range(60_000, 80_000))  # EXACT, not just pruned
    # the task read row groups 6 and 7 only (2 of 8)
    assert log.row_groups_read(DATA, pushdown_parquet) == {6, 7}
    assert log.bytes < full_bytes / 2

    # IN-list pushdown: one row group survives footer-stats refutation
    log.clear()
    inq = _read(spark, http_url).where(
        "k IN (15000, 15001)"
    )
    assert sorted(r["k"] for r in inq.collect()) == [15000, 15001]
    assert log.row_groups_read(DATA, pushdown_parquet) == {1}
    assert log.bytes < full_bytes / 4


def test_facade_http_parquet_corrupt_object_raises_not_spools(
    spark, http_url, range_server
):
    """Round-10 (advisor): a corrupt object (bad parquet magic) must
    raise at registration — nothing downloads it anywhere to retry."""
    from datafusion_ray_spark.context import DFRayContext

    range_server.payloads[DATA] = b"this is not a parquet file" * 1024
    ctx = DFRayContext(spark=spark)
    with pytest.raises(Exception, match="[Pp]arquet|magic|footer"):
        ctx.register_parquet("corrupt_http", http_url)
    assert "corrupt_http" not in ctx.tables()


def _two_file_payloads() -> dict[str, bytes]:
    out = {}
    for path, lo in (("/a.parquet", 0), ("/b.parquet", 40_000)):
        t = pa.table({
            "k": list(range(lo, lo + 40_000)),
            "v": [float(i % 997) for i in range(lo, lo + 40_000)],
        })
        buf = io.BytesIO()
        pq.write_table(t, buf, row_group_size=10_000)
        out[path] = buf.getvalue()
    out["/manifest.txt"] = (
        b"# parquet objects of this dataset, one per line\n"
        b"a.parquet\nb.parquet\n"
    )
    return out


TWO_FILES = _two_file_payloads()


@pytest.fixture()
def multi(range_server):
    """The range server with a two-object dataset and its manifest."""
    range_server.payloads.update(TWO_FILES)
    return range_server


def _local_oracle_rows():
    rows = []
    for path in ("/a.parquet", "/b.parquet"):
        rows.extend(
            map(tuple, pq.read_table(
                io.BytesIO(TWO_FILES[path])
            ).to_pandas().itertuples(index=False))
        )
    return sorted(rows)


def test_http_parquet_multi_url_registration(spark, multi):
    """Round-10: register_parquet accepts a LIST of http object URLs and
    plans byte ranges across ALL of them through the shared planning
    core — oracle-equal to the concatenated local read, with each file's
    4 row groups read by 4 different tasks."""
    from datafusion_ray_spark.context import DFRayContext

    a, b = TWO_FILES["/a.parquet"], TWO_FILES["/b.parquet"]
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_multi",
        [multi.url("/a.parquet"), multi.url("/b.parquet")],
        partition_bytes=min(len(a), len(b)) // 8,  # 8+ ranges per file
    )
    df = spark.table("http_multi")
    assert sorted(_pids(df).values()) == [10_000] * 8
    got = sorted(map(tuple, df.collect()))
    assert got == _local_oracle_rows()

    # cross-file pushdown: k >= 60000 lives entirely in b.parquet's last
    # two row groups — a plain .where() reads only those two
    filt = df.where("k >= 60000")
    multi.log.clear()
    assert filt.count() == 20_000
    assert multi.log.row_groups_read("/a.parquet", a) == set()
    assert multi.log.row_groups_read("/b.parquet", b) == {2, 3}


def test_http_parquet_manifest_registration(spark, multi):
    """manifest=True: path is a URL listing the dataset's objects (one
    per line, comments allowed, relative entries resolved against the
    manifest directory)."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_manifest", multi.url("/manifest.txt"), manifest=True,
    )
    df = spark.table("http_manifest")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    assert ctx.tables()["http_manifest"] == multi.url("/manifest.txt")


def test_http_parquet_multi_url_provenance_and_conflicts(spark, multi):
    """Round-10 review fixes: multi-URL provenance must not misreport the
    dataset as its first object, and list + manifest=True together is a
    declaration conflict."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    urls = [multi.url("/a.parquet"), multi.url("/b.parquet")]
    ctx.register_parquet("http_multi_prov", urls)
    prov = ctx.tables()["http_multi_prov"]
    assert prov == f"{urls[0]} (+1 more objects)"

    with pytest.raises(ValueError, match="EITHER a URL list OR manifest"):
        ctx.register_parquet("bad", urls, manifest=True)


def test_manifest_presigned_base_resolution_strips_query():
    """Relative manifest entries resolve against the manifest DIRECTORY
    with any query string/fragment stripped first — a presigned manifest
    URL (…/manifest.txt?X-Amz-Signature=…) must not leak its query into
    every resolved object URL (advisor round-10)."""
    from datafusion_ray_spark.sources.httpparquet import _parse_manifest

    murl = "https://h.example/d/manifest.txt?X-Amz-Signature=SECRET#frag"
    entries = _parse_manifest(
        "# comment\na.parquet\nsub/b.parquet 12345\n"
        "/rooted/c.parquet 7\n"
        "https://other.example/c.parquet\n",
        murl,
    )
    assert entries == [
        ("https://h.example/d/a.parquet", None),
        ("https://h.example/d/sub/b.parquet", 12345),
        ("https://h.example/rooted/c.parquet", 7),
        ("https://other.example/c.parquet", None),
    ]
    assert not any("SECRET" in u for u, _ in entries)


def _sized_manifest(multi) -> str:
    multi.payloads["/sized_manifest.txt"] = (
        f"a.parquet\t{len(TWO_FILES['/a.parquet'])}\n"
        f"b.parquet {len(TWO_FILES['/b.parquet'])}\n"
    ).encode()
    return multi.url("/sized_manifest.txt")


def test_sized_manifest_plans_with_zero_object_requests(multi):
    """Size-annotated manifest (``url<whitespace>bytes`` lines): planning
    an N-object dataset costs ONE manifest fetch — zero HEADs, zero
    object GETs (the http analogue of s3 sizes riding the listing). The
    request log is the witness."""
    from datafusion_ray_spark.sources.httpparquet import (
        _MANIFEST_CACHE,
        HTTPParquetDataSource,
    )

    murl = _sized_manifest(multi)
    _MANIFEST_CACHE.clear()
    multi.log.clear()
    reader = HTTPParquetDataSource({
        "manifest": murl,
        "partition_bytes": "40000",
    }).reader(None)
    parts = reader.partitions()
    assert len(parts) > 2
    got = [(r.method, r.ref, r.span) for r in multi.log.requests]
    assert got == [("GET", "/sized_manifest.txt", None)], (
        f"planning issued object requests: {got}"
    )


def test_sized_manifest_e2e_no_heads_oracle_equal(spark, multi):
    """Facade e2e over the sized manifest: the WHOLE lifecycle
    (registration + schema + planning + execution) issues zero HEAD
    requests — every object request is a ranged GET from a task (or the
    one schema footer) — and rows are oracle-equal."""
    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import _MANIFEST_CACHE

    murl = _sized_manifest(multi)
    _MANIFEST_CACHE.clear()
    multi.log.clear()
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_sized_manifest", murl, manifest=True, partition_bytes=40_000,
    )
    df = spark.table("http_sized_manifest")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    assert multi.log.count("HEAD") == 0, (
        f"sized-manifest path issued HEAD probes: {multi.log.requests}"
    )
    # object GETs are all ranged (schema footer + task reads); only the
    # manifest is fetched whole — and, cached, at most twice (planning
    # snapshot + post-TTL refetch is impossible inside one test run)
    unranged = [r for r in multi.log.requests
                if r.method == "GET" and r.span is None]
    assert {r.ref for r in unranged} <= {"/sized_manifest.txt"}
    assert len(unranged) <= 2


def test_sized_url_list_zero_probe_planning_and_facade(spark, multi):
    """[url, size] pairs in the list form plan with zero object requests
    (parity with the sized manifest), end-to-end through the facade with
    oracle-equal rows."""
    import json as _json

    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import HTTPParquetDataSource

    pairs = [
        [multi.url(p), len(b)]
        for p, b in sorted(TWO_FILES.items())
        if p.endswith(".parquet")
    ]
    multi.log.clear()
    reader = HTTPParquetDataSource({
        "urls": _json.dumps(pairs),
        "partition_bytes": "40000",
    }).reader(None)
    assert len(reader.partitions()) > 2
    assert multi.log.requests == [], (
        f"sized url-list planning issued requests: {multi.log.requests}"
    )

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("http_sized_urls", pairs, partition_bytes=40_000)
    df = spark.table("http_sized_urls")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    assert multi.log.count("HEAD") == 0


def test_http_parquet_range_split_protocol(spark, multi):
    """Hadoop split protocol over http: planning needs only HEAD probes;
    tasks claim row groups by byte midpoint — rows are exactly-once and
    equal to a local read of the same bytes."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_range_mode",
        [multi.url("/a.parquet"), multi.url("/b.parquet")],
        partition_bytes=40_000,
    )
    df = spark.table("http_range_mode")
    assert df.rdd.getNumPartitions() > 2  # multiple ranges per file
    got = sorted(map(tuple, df.collect()))
    assert got == _local_oracle_rows()
    # pushFilters still prunes task-side: exact rows, no loss
    assert df.where("k >= 60000").count() == 20_000


def test_unsized_url_list_above_probe_cap_plans_with_zero_requests(
    spark, multi
):
    """Plain (size-less) URL lists above ``size_probe_max_files`` stop
    paying the planner's per-URL HEAD tail (round-12): planning issues
    ZERO requests — the request log is the witness — each unsized entry
    becomes one whole-file partition, and the size probe moves into the
    task (exactly one probe per file, next to its reads). Rows stay
    oracle-equal and filters still prune task-side."""
    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import HTTPParquetDataSource

    urls = [multi.url("/a.parquet"), multi.url("/b.parquet")]
    multi.log.clear()
    reader = HTTPParquetDataSource({
        "urls": urls,
        "size_probe_max_files": "1",       # 2 unsized files > cap
        "partition_bytes": "40000",
    }).reader(None)
    parts = reader.partitions()
    assert len(parts) == 2  # one size-deferred partition per file
    assert all(p.value[1] is None and p.value[3] is None for p in parts)
    assert multi.log.requests == [], (
        f"unsized-list planning issued requests: {multi.log.requests}"
    )

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_unsized_deferred", urls,
        partition_bytes=40_000, size_probe_max_files=1,
    )
    df = spark.table("http_unsized_deferred")
    multi.log.clear()
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    # the only size probes are task-side: at most one per file per scan
    # (HEAD, or the 1-byte-Range fallback); planning added none.
    probes = [r.ref for r in multi.log.requests if r.method == "HEAD"]
    assert sorted(probes) == ["/a.parquet", "/b.parquet"]
    assert df.where("k >= 60000").count() == 20_000
