"""Distributed HTTP(S) parquet source: row-group-ranged partitioning
end-to-end against a local Range-supporting HTTP server, user-declared
projection/stats-pruning byte accounting, the no-Range driver-spool
degradation, and DuckDB value certification."""

from __future__ import annotations

import http.server
import io
import os
import threading

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def _parquet_payload() -> bytes:
    t = pa.table({
        "k": list(range(80_000)),  # ascending -> tight row-group stats
        "v": [float(i % 997) for i in range(80_000)],
        # unique per row so dictionary encoding can't collapse the column
        "s": [f"payload-{i:012d}-{(i * 2654435761) % 10**12:012d}"
              for i in range(80_000)],
    })
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=10_000)
    return buf.getvalue()


class _RangeHandler(http.server.BaseHTTPRequestHandler):
    payload = _parquet_payload()
    support_ranges = True
    bytes_served = 0

    def log_message(self, *a):  # quiet
        pass

    def do_HEAD(self):
        self.send_response(200)
        self.send_header("Content-Length", str(len(self.payload)))
        if self.support_ranges:
            self.send_header("Accept-Ranges", "bytes")
        self.end_headers()

    def do_GET(self):
        rng = self.headers.get("Range")
        if rng and self.support_ranges:
            spec = rng.split("=", 1)[1]
            s, e = spec.split("-", 1)
            start = int(s)
            if start >= len(self.payload):
                self.send_response(416)
                self.end_headers()
                return
            end = min(int(e) if e else len(self.payload) - 1,
                      len(self.payload) - 1)
            body = self.payload[start : end + 1]
            self.send_response(206)
            self.send_header(
                "Content-Range",
                f"bytes {start}-{end}/{len(self.payload)}",
            )
        else:
            body = self.payload
            self.send_response(200)
        type(self).bytes_served += len(body)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def http_url():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RangeHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    _RangeHandler.support_ranges = True
    _RangeHandler.bytes_served = 0
    yield f"http://127.0.0.1:{srv.server_address[1]}/data.parquet"
    srv.shutdown()


def _read(spark, url, **opts):
    from datafusion_ray_spark.sources.httpparquet import register_http_parquet

    register_http_parquet(spark)
    reader = spark.read.format("httpparquet").option("url", url)
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def test_http_parquet_row_group_fanout_and_values(spark, http_url):
    df = _read(spark, http_url, partition_bytes=1)
    assert df.rdd.getNumPartitions() == 8  # one per row group
    got = sorted(
        (r["k"], r["v"]) for r in df.select("k", "v").collect()
    )
    assert len(got) == 80_000
    assert got[0] == (0, 0.0) and got[-1][0] == 79_999


def test_http_parquet_projection_and_stats_pruning(spark, http_url):
    # baseline transfer for the full table
    _RangeHandler.bytes_served = 0
    full = _read(spark, http_url, partition_bytes=1)
    assert full.count() == 80_000
    full_bytes = _RangeHandler.bytes_served

    # projection must skip the wide unique-string column's pages
    _RangeHandler.bytes_served = 0
    proj = _read(spark, http_url, partition_bytes=1, columns="k,v")
    assert proj.columns == ["k", "v"] and proj.count() == 80_000
    assert _RangeHandler.bytes_served < full_bytes * 0.8

    # a k>=60000 filter refutes 6 of 8 row groups from footer stats
    _RangeHandler.bytes_served = 0
    filt = _read(
        spark, http_url, partition_bytes=1,
        filters='[["k", ">=", 60000]]',
    )
    assert filt.rdd.getNumPartitions() == 2
    assert 20_000 <= filt.count() < 80_000
    assert _RangeHandler.bytes_served < full_bytes / 2


def test_http_parquet_all_row_groups_pruned_returns_empty(spark, http_url):
    """A legitimate all-excluding filter (k >= max+1 refutes EVERY row
    group from footer stats) must return 0 rows, not crash: pyspark
    substitutes a single None partition when partitions() plans empty
    (advisor round-9 medium)."""
    df = _read(
        spark, http_url, partition_bytes=1,
        filters='[["k", ">=", 80000]]',
    )
    assert df.count() == 0
    assert df.columns == ["k", "v", "s"]  # schema survives the empty plan


def test_facade_http_parquet_exact_and_oracle(spark, http_url):
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
    import tempfile

    con = duckdb.connect()
    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as f:
        f.write(_RangeHandler.payload)
    want = con.sql(
        f"SELECT COUNT(*) AS n, MIN(k) AS mn, SUM(v) AS sv FROM '{f.name}' "
        "WHERE k >= 60000"
    ).fetchone()
    os.unlink(f.name)
    assert (got["n"][0], got["mn"][0], round(got["sv"][0], 6)) == (
        want[0], want[1], round(want[2], 6)
    )


def test_http_parquet_no_range_degrades_to_driver_spool(spark, http_url):
    """A server without Range support cannot serve partial columnar
    reads; the facade's driver-spool fallback still registers the table
    with identical rows."""
    from datafusion_ray_spark.context import DFRayContext

    _RangeHandler.support_ranges = False
    try:
        ctx = DFRayContext(spark=spark)
        ctx.register_parquet("http_spooled", http_url)
        row = ctx.sql(
            "SELECT COUNT(*) AS n, MAX(k) AS mx FROM http_spooled"
        ).collect()[0].to_pydict()
        assert row["n"] == [80_000] and row["mx"] == [79_999]
    finally:
        _RangeHandler.support_ranges = True


def test_http_parquet_automatic_pushdown_plain_where(spark, http_url):
    """Round-10: Catalyst's own predicates reach the row-group pruner via
    the Spark 4.1 pushFilters API — a plain .where(), NO user-declared
    filters option, must transfer fewer bytes and plan fewer partitions,
    with EXACT rows (Spark re-applies the filter above the scan)."""
    from pyspark.sql import functions as F

    _RangeHandler.bytes_served = 0
    full = _read(spark, http_url, partition_bytes=1)
    assert full.count() == 80_000
    full_bytes = _RangeHandler.bytes_served

    filt = _read(spark, http_url, partition_bytes=1).where("k >= 60000")
    # scan partitions = surviving row groups (2 of 8); spark_partition_id
    # observes the executed scan's fan-out under the real planned query
    nparts = (
        filt.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert nparts == 2, f"pushFilters pruning planned {nparts} partitions"
    # byte accounting over exactly ONE action, same as the baseline's one
    _RangeHandler.bytes_served = 0
    got = sorted(r["k"] for r in filt.select("k").collect())
    assert got == list(range(60_000, 80_000))  # EXACT, not just pruned
    assert _RangeHandler.bytes_served < full_bytes / 2

    # IN-list pushdown: one row group survives footer-stats refutation
    _RangeHandler.bytes_served = 0
    inq = _read(spark, http_url, partition_bytes=1).where(
        "k IN (15000, 15001)"
    )
    assert sorted(r["k"] for r in inq.collect()) == [15000, 15001]
    assert _RangeHandler.bytes_served < full_bytes / 4


def test_facade_http_parquet_corrupt_object_raises_not_spools(spark, http_url):
    """Round-10 (advisor): the driver-spool fallback is ONLY for servers
    that can't serve partial reads. A corrupt object (bad parquet magic)
    must raise — silently downloading a broken file to the driver would
    mask the real cause."""
    from datafusion_ray_spark.context import DFRayContext

    good = _RangeHandler.payload
    _RangeHandler.payload = b"this is not a parquet file" * 1024
    try:
        ctx = DFRayContext(spark=spark)
        with pytest.raises(Exception, match="[Pp]arquet|magic|footer"):
            ctx.register_parquet("corrupt_http", http_url)
        assert "corrupt_http" not in ctx.tables()
    finally:
        _RangeHandler.payload = good


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


class _MultiHandler(http.server.BaseHTTPRequestHandler):
    payloads = _two_file_payloads()
    #: request log: (method, path, ranged?) — the witness for the
    #: sized-manifest zero-probe-planning assertions
    requests: list[tuple[str, str, bool]] = []

    def log_message(self, *a):
        pass

    def _log_request(self, method):
        type(self).requests.append(
            (method, self.path, self.headers.get("Range") is not None)
        )

    def _body(self):
        return self.payloads.get(self.path)

    def do_HEAD(self):
        self._log_request("HEAD")
        body = self._body()
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.send_header("Accept-Ranges", "bytes")
        self.end_headers()

    def do_GET(self):
        self._log_request("GET")
        body = self._body()
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        rng = self.headers.get("Range")
        if rng:
            s, e = rng.split("=", 1)[1].split("-", 1)
            start = int(s)
            end = min(int(e) if e else len(body) - 1, len(body) - 1)
            part = body[start : end + 1]
            self.send_response(206)
            self.send_header(
                "Content-Range", f"bytes {start}-{end}/{len(body)}"
            )
            body = part
        else:
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def multi_base():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _MultiHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _local_oracle_rows():
    rows = []
    for path in ("/a.parquet", "/b.parquet"):
        rows.extend(
            map(tuple, pq.read_table(
                io.BytesIO(_MultiHandler.payloads[path])
            ).to_pandas().itertuples(index=False))
        )
    return sorted(rows)


def test_http_parquet_multi_url_registration(spark, multi_base):
    """Round-10: register_parquet accepts a LIST of http object URLs and
    plans row-group partitions across ALL of them through the shared
    planning core — oracle-equal to the concatenated local read, with
    >1 partition per file."""
    from pyspark.sql import functions as F

    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_multi",
        [f"{multi_base}/a.parquet", f"{multi_base}/b.parquet"],
        partition_bytes=1,
    )
    df = spark.table("http_multi")
    nparts = (
        df.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert nparts == 8, f"expected 4 row-group partitions per file, {nparts}"
    got = sorted(map(tuple, df.collect()))
    assert got == _local_oracle_rows()

    # cross-file pushdown: k >= 60000 lives entirely in b.parquet's last
    # two row groups — a plain .where() plans 2 of the 8 partitions
    filt = df.where("k >= 60000")
    nfilt = (
        filt.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert nfilt == 2, f"pushdown planned {nfilt} partitions"
    assert filt.count() == 20_000


def test_http_parquet_manifest_registration(spark, multi_base):
    """manifest=True: path is a URL listing the dataset's objects (one
    per line, comments allowed, relative entries resolved against the
    manifest directory)."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_manifest", f"{multi_base}/manifest.txt", manifest=True,
    )
    df = spark.table("http_manifest")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    assert ctx.tables()["http_manifest"] == f"{multi_base}/manifest.txt"


def test_http_parquet_multi_url_provenance_and_conflicts(spark, multi_base):
    """Round-10 review fixes: multi-URL provenance must not misreport the
    dataset as its first object, and list + manifest=True together is a
    declaration conflict."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    urls = [f"{multi_base}/a.parquet", f"{multi_base}/b.parquet"]
    ctx.register_parquet("http_multi_prov", urls, partition_bytes=1)
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


def test_sized_manifest_plans_with_zero_object_requests(multi_base):
    """Size-annotated manifest (``url<whitespace>bytes`` lines) + split
    mode: planning an N-object dataset costs ONE manifest fetch — zero
    HEADs, zero object GETs (the http analogue of s3 sizes riding the
    listing). The request log is the witness."""
    from datafusion_ray_spark.sources.httpparquet import (
        _MANIFEST_CACHE,
        HTTPParquetDataSource,
    )

    sizes = {p: len(b) for p, b in _MultiHandler.payloads.items()}
    _MultiHandler.payloads["/sized_manifest.txt"] = (
        f"a.parquet\t{sizes['/a.parquet']}\n"
        f"b.parquet {sizes['/b.parquet']}\n"
    ).encode()
    _MANIFEST_CACHE.clear()
    _MultiHandler.requests = []
    reader = HTTPParquetDataSource({
        "manifest": f"{multi_base}/sized_manifest.txt",
        "footer_planning_max_files": "1",   # force split mode at 2 files
        "partition_bytes": "40000",
    }).reader(None)
    parts = reader.partitions()
    assert len(parts) > 2
    assert _MultiHandler.requests == [
        ("GET", "/sized_manifest.txt", False)
    ], f"planning issued object requests: {_MultiHandler.requests}"


def test_sized_manifest_e2e_no_heads_oracle_equal(spark, multi_base):
    """Facade e2e over the sized manifest in split mode: the WHOLE
    lifecycle (registration + schema + planning + execution) issues zero
    HEAD requests — every object request is a ranged GET from a task (or
    the one schema footer) — and rows are oracle-equal."""
    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import _MANIFEST_CACHE

    sizes = {p: len(b) for p, b in _MultiHandler.payloads.items()}
    _MultiHandler.payloads["/sized_manifest.txt"] = (
        f"a.parquet\t{sizes['/a.parquet']}\n"
        f"b.parquet {sizes['/b.parquet']}\n"
    ).encode()
    _MANIFEST_CACHE.clear()
    _MultiHandler.requests = []
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_sized_manifest", f"{multi_base}/sized_manifest.txt",
        manifest=True, partition_bytes=40_000, footer_planning_max_files=1,
    )
    df = spark.table("http_sized_manifest")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    heads = [r for r in _MultiHandler.requests if r[0] == "HEAD"]
    assert heads == [], f"sized-manifest path issued HEAD probes: {heads}"
    # object GETs are all ranged (schema footer + task reads); only the
    # manifest is fetched whole — and, cached, at most twice (planning
    # snapshot + post-TTL refetch is impossible inside one test run)
    unranged = [r for r in _MultiHandler.requests
                if r[0] == "GET" and not r[2]]
    assert {p for _, p, _ in unranged} <= {"/sized_manifest.txt"}
    assert len(unranged) <= 2


def test_sized_url_list_zero_probe_planning_and_facade(spark, multi_base):
    """[url, size] pairs in the list form plan split mode with zero
    object requests (parity with the sized manifest), end-to-end through
    the facade with oracle-equal rows."""
    import json as _json

    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import HTTPParquetDataSource

    pairs = [
        [f"{multi_base}{p}", len(b)]
        for p, b in sorted(_MultiHandler.payloads.items())
        if p.endswith(".parquet")
    ]
    _MultiHandler.requests = []
    reader = HTTPParquetDataSource({
        "urls": _json.dumps(pairs),
        "footer_planning_max_files": "1",
        "partition_bytes": "40000",
    }).reader(None)
    assert len(reader.partitions()) > 2
    assert _MultiHandler.requests == [], (
        f"sized url-list planning issued requests: {_MultiHandler.requests}"
    )

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_sized_urls", pairs,
        partition_bytes=40_000, footer_planning_max_files=1,
    )
    df = spark.table("http_sized_urls")
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    heads = [r for r in _MultiHandler.requests if r[0] == "HEAD"]
    assert heads == []


def test_http_parquet_range_split_protocol(spark, multi_base):
    """Hadoop split protocol over http (forced via
    footer_planning_max_files=1 on the 2-object dataset): planning needs
    only HEAD probes; tasks claim row groups by byte midpoint — rows are
    exactly-once and equal to the footer-planned read."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_range_mode",
        [f"{multi_base}/a.parquet", f"{multi_base}/b.parquet"],
        partition_bytes=40_000, footer_planning_max_files=1,
    )
    df = spark.table("http_range_mode")
    assert df.rdd.getNumPartitions() > 2  # multiple ranges per file
    got = sorted(map(tuple, df.collect()))
    assert got == _local_oracle_rows()
    # pushFilters still prunes task-side: exact rows, no loss
    assert df.where("k >= 60000").count() == 20_000


def test_unsized_url_list_above_probe_cap_plans_with_zero_requests(
    spark, multi_base
):
    """Plain (size-less) URL lists above ``size_probe_max_files`` stop
    paying the planner's per-URL HEAD tail (round-12): planning issues
    ZERO requests — the request log is the witness — each unsized entry
    becomes one whole-file partition, and the size probe moves into the
    task (exactly one probe per file, next to its reads). Rows stay
    oracle-equal and filters still prune task-side."""
    from datafusion_ray_spark.context import DFRayContext
    from datafusion_ray_spark.sources.httpparquet import HTTPParquetDataSource

    urls = [f"{multi_base}/a.parquet", f"{multi_base}/b.parquet"]
    _MultiHandler.requests = []
    reader = HTTPParquetDataSource({
        "urls": urls,
        "footer_planning_max_files": "1",  # force split mode at 2 files
        "size_probe_max_files": "1",       # 2 unsized files > cap
        "partition_bytes": "40000",
    }).reader(None)
    parts = reader.partitions()
    assert len(parts) == 2  # one size-deferred partition per file
    assert all(p.value[1] is None and p.value[3] is None for p in parts)
    assert _MultiHandler.requests == [], (
        f"unsized-list planning issued requests: {_MultiHandler.requests}"
    )

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "http_unsized_deferred", urls,
        partition_bytes=40_000, footer_planning_max_files=1,
        size_probe_max_files=1,
    )
    df = spark.table("http_unsized_deferred")
    _MultiHandler.requests = []
    assert sorted(map(tuple, df.collect())) == _local_oracle_rows()
    # the only size probes are task-side: at most one per file per scan
    # (HEAD, or the 1-byte-Range fallback); planning added none.
    probes = [r for r in _MultiHandler.requests if r[0] == "HEAD"]
    assert sorted(p for _, p, _ in probes) == ["/a.parquet", "/b.parquet"]
    assert df.where("k >= 60000").count() == 20_000
