"""Distributed HTTP CSV source: byte-range partitioning end-to-end against
a local Range-supporting HTTP server (and the no-Range degradation)."""

from __future__ import annotations

import http.server
import threading

import pytest

CSV_HEADER = "id,name,score\n"


def _csv_payload(n: int = 500) -> bytes:
    rows = [CSV_HEADER] + [f"{i},name_{i},{i * 0.5}\n" for i in range(n)]
    return "".join(rows).encode()


class _RangeHandler(http.server.BaseHTTPRequestHandler):
    payload = _csv_payload()
    support_ranges = True

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
            end = min(int(e) if e else len(self.payload) - 1, len(self.payload) - 1)
            body = self.payload[start : end + 1]
            self.send_response(206)
        else:
            body = self.payload
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def http_url():
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), _RangeHandler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/data.csv"
    srv.shutdown()


def test_http_csv_range_partitioned(spark, http_url):
    from datafusion_ray_spark.sources.httpcsv import register_http_csv

    _RangeHandler.support_ranges = True
    register_http_csv(spark)
    df = (
        spark.read.format("http_csv")
        .option("url", http_url)
        .option("partition_bytes", 2048)  # force many range partitions
        .load()
    )
    assert df.rdd.getNumPartitions() > 1, "range split did not happen"
    assert [f.name for f in df.schema.fields] == ["id", "name", "score"]
    assert df.schema["id"].dataType.simpleString() == "bigint"
    assert df.schema["score"].dataType.simpleString() == "double"
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 500, "lines lost or duplicated at range boundaries"
    assert rows[0]["name"] == "name_0" and rows[499]["score"] == 499 * 0.5
    assert df.agg({"id": "sum"}).first()[0] == sum(range(500))


@pytest.mark.parametrize("partition_bytes", [None, 2048],
                         ids=["default", "2048"])
def test_http_csv_no_range_single_partition(spark, http_url, partition_bytes):
    """A server without Range support reads as ONE executor-side
    partition, also when the file is larger than one split (2048)."""
    from datafusion_ray_spark.sources.httpcsv import register_http_csv

    _RangeHandler.support_ranges = False
    try:
        register_http_csv(spark)
        reader = spark.read.format("http_csv").option("url", http_url)
        if partition_bytes is not None:
            assert len(_RangeHandler.payload) > partition_bytes
            reader = reader.option("partition_bytes", partition_bytes)
        df = reader.load()
        assert df.rdd.getNumPartitions() == 1
        assert df.count() == 500
    finally:
        _RangeHandler.support_ranges = True


def test_http_csv_long_line_across_partitions_is_whole(spark, http_url):
    """A line that starts in one partition and runs 1.6 MB past its end
    (64 KiB partitions) is read on to its newline: no field is cut and
    every line lands in exactly one partition."""
    from datafusion_ray_spark.sources.httpcsv import register_http_csv

    short = [",".join(f"r{i}_{j}" for j in range(16)) for i in range(20)]
    long_fields = [chr(ord("a") + j) * 100_000 for j in range(16)]
    lines = (
        [",".join(f"c{j}" for j in range(16))]
        + short[:10] + [",".join(long_fields)] + short[10:]
    )
    good = _RangeHandler.payload
    _RangeHandler.payload = ("\n".join(lines) + "\n").encode()
    try:
        register_http_csv(spark)
        df = (
            spark.read.format("http_csv")
            .option("url", http_url)
            .option("partition_bytes", 65536)
            .load()
        )
        assert df.rdd.getNumPartitions() > 20
        rows = [tuple(r) for r in df.collect()]
    finally:
        _RangeHandler.payload = good
    assert len(rows) == 21
    assert sorted(rows) == sorted(
        tuple(line.split(",")) for line in lines[1:]
    )
    got_long = [r for r in rows if r[0].startswith("a")]
    assert sum(len(f) for f in got_long[0]) == 1_600_000


def test_register_csv_http_uses_datasource(spark, http_url):
    from datafusion_ray_spark import DFRayContext

    _RangeHandler.support_ranges = True
    ctx = DFRayContext(spark=spark)
    ctx.register_csv("web_tbl", http_url, partition_bytes=2048)
    out = ctx.sql(
        "SELECT COUNT(*) AS n, SUM(id) AS s FROM web_tbl WHERE score >= 0"
    ).to_pandas()
    assert int(out["n"][0]) == 500 and int(out["s"][0]) == sum(range(500))
