"""Distributed HTTP CSV source: byte-range partitioning end-to-end against
a local Range-supporting HTTP server (the ``range_server`` fixture of
``conftest.py``), and the no-Range degradation."""

from __future__ import annotations

import pytest

CSV_HEADER = "id,name,score\n"
DATA = "/data.csv"


def _csv_payload(n: int = 500) -> bytes:
    rows = [CSV_HEADER] + [f"{i},name_{i},{i * 0.5}\n" for i in range(n)]
    return "".join(rows).encode()


@pytest.fixture()
def http_url(range_server):
    range_server.payloads[DATA] = _csv_payload()
    return range_server.url(DATA)


def test_http_csv_range_partitioned(spark, http_url):
    from datafusion_ray_spark.sources.httpcsv import register_http_csv

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
def test_http_csv_no_range_single_partition(spark, http_url, range_server,
                                            partition_bytes):
    """A server without Range support reads as ONE executor-side
    partition, also when the file is larger than one split (2048)."""
    from datafusion_ray_spark.sources.httpcsv import register_http_csv

    range_server.ranges = False
    register_http_csv(spark)
    reader = spark.read.format("http_csv").option("url", http_url)
    if partition_bytes is not None:
        assert len(range_server.payloads[DATA]) > partition_bytes
        reader = reader.option("partition_bytes", partition_bytes)
    df = reader.load()
    assert df.rdd.getNumPartitions() == 1
    assert df.count() == 500


def test_http_csv_long_line_across_partitions_is_whole(spark, http_url,
                                                       range_server):
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
    range_server.payloads[DATA] = ("\n".join(lines) + "\n").encode()
    register_http_csv(spark)
    df = (
        spark.read.format("http_csv")
        .option("url", http_url)
        .option("partition_bytes", 65536)
        .load()
    )
    assert df.rdd.getNumPartitions() > 20
    rows = [tuple(r) for r in df.collect()]
    assert len(rows) == 21
    assert sorted(rows) == sorted(
        tuple(line.split(",")) for line in lines[1:]
    )
    got_long = [r for r in rows if r[0].startswith("a")]
    assert sum(len(f) for f in got_long[0]) == 1_600_000


def test_register_csv_http_uses_datasource(spark, http_url):
    from datafusion_ray_spark import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_csv("web_tbl", http_url, partition_bytes=2048)
    out = ctx.sql(
        "SELECT COUNT(*) AS n, SUM(id) AS s FROM web_tbl WHERE score >= 0"
    ).to_pandas()
    assert int(out["n"][0]) == 500 and int(out["s"][0]) == sum(range(500))
