"""Avro source: pure-Python container reader/writer (public Avro spec) and
the ``register_avro`` fallback path (reference registers Avro natively —
``datafusion.proto:715``; here spark-avro when present, else this reader)."""

from __future__ import annotations

import pytest

from datafusion_ray_spark.sources.avro import (
    avro_to_spark_type,
    read_avro,
    write_avro,
)

SCHEMA = {
    "type": "record",
    "name": "doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "title", "type": "string"},
        {"name": "score", "type": "double"},
        {"name": "flag", "type": "boolean"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
    ],
}

ROWS = [
    {"id": 1, "title": "alpha", "score": 0.5, "flag": True, "note": "n1", "tags": ["a", "b"]},
    {"id": 2, "title": "beta", "score": -1.25, "flag": False, "note": None, "tags": []},
    {"id": 3, "title": "gamma éè", "score": 1e9, "flag": True, "note": None, "tags": ["c"]},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t_{codec}.avro")
    write_avro(p, SCHEMA, ROWS, codec=codec)
    schema, rows = read_avro(p)
    assert schema["name"] == "doc"
    assert rows == ROWS


def test_nested_and_negative_varints(tmp_path):
    # zigzag edge cases: negatives, zero, large magnitudes
    schema = {
        "type": "record",
        "name": "edge",
        "fields": [{"name": "v", "type": "long"}],
    }
    vals = [0, -1, 1, -64, 64, 2**40, -(2**40), 2**62, -(2**62)]
    p = str(tmp_path / "edge.avro")
    write_avro(p, schema, [{"v": v} for v in vals])
    _, rows = read_avro(p)
    assert [r["v"] for r in rows] == vals


def test_register_avro_fallback_sql(spark, tmp_path):
    from datafusion_ray_spark import DFRayContext

    p = str(tmp_path / "docs.avro")
    write_avro(p, SCHEMA, ROWS, codec="deflate")
    ctx = DFRayContext(spark=spark)
    ctx.register_avro("avro_docs", p)
    out = ctx.sql(
        "SELECT id, title, size(tags) AS n_tags FROM avro_docs "
        "WHERE flag ORDER BY id"
    ).to_pandas()
    assert list(out["id"]) == [1, 3]
    assert list(out["n_tags"]) == [2, 1]
    # null union decoded as SQL NULL
    n_null = ctx.sql(
        "SELECT COUNT(*) AS c FROM avro_docs WHERE note IS NULL"
    ).to_pandas()["c"][0]
    assert n_null == 2


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _ROW = st.fixed_dictionaries(
        {
            "id": st.integers(min_value=-(2**63), max_value=2**63 - 1),
            "name": st.text(max_size=40),
            "x": st.floats(allow_nan=False, allow_infinity=False, width=64),
            "ok": st.booleans(),
            "maybe": st.one_of(st.none(), st.text(max_size=10)),
        }
    )
    _PROP_SCHEMA = {
        "type": "record",
        "name": "prop",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "x", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "maybe", "type": ["null", "string"]},
        ],
    }

    @settings(max_examples=50, deadline=None)
    @given(rows=st.lists(_ROW, max_size=20), codec=st.sampled_from(["null", "deflate"]))
    def test_avro_roundtrip_property(tmp_path_factory, rows, codec):
        p = str(tmp_path_factory.mktemp("avro") / "prop.avro")
        write_avro(p, _PROP_SCHEMA, rows, codec=codec)
        _, back = read_avro(p)
        assert back == rows

except ImportError:  # pragma: no cover - hypothesis is baked in per env spec
    pass


def test_spark_type_mapping():
    t = avro_to_spark_type(SCHEMA)
    assert t["id"].dataType.typeName() == "long"
    assert t["note"].dataType.typeName() == "string"
    assert t["tags"].dataType.typeName() == "array"
    with pytest.raises(NotImplementedError):
        avro_to_spark_type(["null", "string", "long"])  # multi-branch union


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_pyavro_distributed_range_split(spark, tmp_path, codec):
    """The pyavro Data Source splits a multi-block container file into
    byte-range partitions with exact row accounting (every sync-delimited
    block decoded by exactly one partition)."""
    from datafusion_ray_spark.sources.avro import register_pyavro, write_avro

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "label", "type": "string"},
            {"name": "score", "type": "double"},
        ],
    }
    rows = [
        {"id": i, "label": f"label_{i % 7}", "score": i * 0.25} for i in range(2000)
    ]
    p = str(tmp_path / f"big_{codec}.avro")
    write_avro(p, schema, rows, codec=codec, block_rows=50)  # 40 blocks

    register_pyavro(spark)
    df = (
        spark.read.format("pyavro")
        .option("path", p)
        .option("partition_bytes", 4096)  # force many range partitions
        .load()
    )
    assert df.rdd.getNumPartitions() > 1, "file did not split"
    assert df.count() == 2000, "blocks lost or double-read at range boundaries"
    assert df.agg({"id": "sum"}).first()[0] == sum(range(2000))
    got = {r["id"]: (r["label"], r["score"]) for r in df.collect()}
    assert got[1234] == ("label_2", 308.5)


def test_register_avro_uses_distributed_reader(spark, tmp_path):
    from datafusion_ray_spark import DFRayContext
    from datafusion_ray_spark.sources.avro import write_avro

    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "id", "type": "long"}],
    }
    p = str(tmp_path / "t.avro")
    write_avro(p, schema, [{"id": i} for i in range(300)], block_rows=20)
    ctx = DFRayContext(spark=spark)
    ctx.register_avro("avro_dist", p)
    out = ctx.sql("SELECT COUNT(*) AS n, SUM(id) AS s FROM avro_dist").to_pandas()
    assert int(out["n"][0]) == 300 and int(out["s"][0]) == sum(range(300))


def test_register_listing_table_avro_dir(spark, tmp_path):
    from datafusion_ray_spark import DFRayContext
    from datafusion_ray_spark.sources.avro import write_avro

    schema = {"type": "record", "name": "row",
              "fields": [{"name": "id", "type": "long"}]}
    write_avro(str(tmp_path / "a.avro"), schema,
               [{"id": i} for i in range(100)], block_rows=10)
    write_avro(str(tmp_path / "b.avro"), schema,
               [{"id": i} for i in range(100, 250)], block_rows=10)
    ctx = DFRayContext(spark=spark)
    ctx.register_listing_table("avdir", str(tmp_path), file_format="avro")
    out = ctx.sql("SELECT COUNT(*) AS n, SUM(id) AS s FROM avdir").to_pandas()
    assert int(out["n"][0]) == 250 and int(out["s"][0]) == sum(range(250))


def test_register_avro_unsupported_codec_names_it(spark, tmp_path):
    """A codec the pure-Python reader rejects surfaces as that reader's
    error naming the codec — here for a directory holding one
    snappy-codec file, which no other tier could read either."""
    from datafusion_ray_spark import DFRayContext

    schema = {"type": "record", "name": "row",
              "fields": [{"name": "id", "type": "long"}]}
    p = tmp_path / "snappy.avro"
    write_avro(str(p), schema, [{"id": i} for i in range(10)])
    raw = p.read_bytes()
    # the header's codec entry: zigzag string lengths 4 ("null") -> 6
    assert raw.count(b"\x08null") == 1
    p.write_bytes(raw.replace(b"\x08null", b"\x0csnappy"))
    ctx = DFRayContext(spark=spark)
    with pytest.raises(Exception, match="snappy"):
        ctx.register_avro("avro_snappy", str(tmp_path))
    assert "avro_snappy" not in ctx.tables()
