"""End-to-end S3 object-store reads against a LIVE (moto) S3 endpoint.

Round-8: the environment probe found boto3 + moto present, which opens the
gate the roadmap carried since round 4 ("exercised s3/gs object stores").
These tests run a real ThreadedMotoServer, upload real parquet bytes, and
read them back through the distributed Python Data Source
(``sources/s3store.py``) and through the facade
(``DFRayContext.register_parquet("s3://...")`` — the reference's
scheme-based registration, ``/root/reference/src/util.rs:523-580``).

The s3a fallback chain is exercised implicitly: this sandbox has no
hadoop-aws jars, so the facade path proves tier-2 engages when tier-1
fails — exactly the degraded environment the source exists for.
"""

from __future__ import annotations

import os

import pytest

try:
    import boto3
    from moto.server import ThreadedMotoServer
except ImportError:  # pragma: no cover - capability gate
    boto3 = None

pytestmark = pytest.mark.skipif(
    boto3 is None, reason="boto3/moto not installed (capability gate)"
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def s3_endpoint():
    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    url = f"http://{host}:{port}"
    old = {
        k: os.environ.get(k)
        for k in ("AWS_ACCESS_KEY_ID", "AWS_SECRET_ACCESS_KEY",
                  "AWS_DEFAULT_REGION")
    }
    os.environ.update(
        AWS_ACCESS_KEY_ID="testing",
        AWS_SECRET_ACCESS_KEY="testing",
        AWS_DEFAULT_REGION="us-east-1",
    )
    yield url
    for k, v in old.items():
        if v is None:
            os.environ.pop(k, None)
        else:
            os.environ[k] = v
    server.stop()


@pytest.fixture(scope="module")
def bucket(s3_endpoint):
    client = boto3.client("s3", endpoint_url=s3_endpoint)
    client.create_bucket(Bucket="graft")
    # single object
    with open(os.path.join(SF_DIR, "nation.parquet"), "rb") as f:
        client.put_object(Bucket="graft", Key="tables/nation.parquet",
                          Body=f.read())
    # directory-of-files prefix: supplier split into two same-schema parts
    import io

    import pyarrow.parquet as pq

    sup = pq.read_table(os.path.join(SF_DIR, "supplier.parquet"))
    half = sup.num_rows // 2
    for i, part in enumerate((sup.slice(0, half), sup.slice(half))):
        buf = io.BytesIO()
        pq.write_table(part, buf)
        client.put_object(Bucket="graft", Key=f"dir/part-{i}.parquet",
                          Body=buf.getvalue())
    # a multi-row-group object, to prove row-group splitting
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(SF_DIR, "customer.parquet"))
    import io

    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=max(1, t.num_rows // 7))
    client.put_object(Bucket="graft", Key="multi/customer.parquet",
                      Body=buf.getvalue())
    # a LARGE multi-row-group object whose data pages live far outside
    # the 64 KB footer tail cache — the byte-accounting fixture for the
    # projection / stats-pruning tests (sf0.001 tables are smaller than
    # the tail probe, so every read would come from one cached GET).
    import pyarrow as pa

    big = pa.table({
        "k": list(range(200_000)),  # ascending -> tight row-group stats
        "v": [float(i % 997) for i in range(200_000)],
        # unique per row (dictionary encoding can't collapse it): the
        # column a projection of (k, v) must never transfer
        "s": [f"payload-{i:012d}-{(i * 2654435761) % 10**12:012d}"
              for i in range(200_000)],
    })
    buf = io.BytesIO()
    pq.write_table(big, buf, row_group_size=25_000)
    client.put_object(Bucket="graft", Key="big/pushdown.parquet",
                      Body=buf.getvalue())
    return "graft"


def _object(s3_endpoint, key: str) -> bytes:
    return boto3.client("s3", endpoint_url=s3_endpoint).get_object(
        Bucket="graft", Key=key,
    )["Body"].read()


def _read(spark, s3_endpoint, path, **opts):
    from datafusion_ray_spark.sources.s3store import register_s3_parquet

    register_s3_parquet(spark)
    # Credentials as explicit OPTIONS, not env: Spark's Python workers were
    # spawned before this module's fixtures ran, so env mutations here
    # never reach them. moto accepts any key pair.
    reader = (
        spark.read.format("s3parquet")
        .option("path", path)
        .option("endpoint_url", s3_endpoint)
        .option("access_key", "testing")
        .option("secret_key", "testing")
        .option("region", "us-east-1")
    )
    for k, v in opts.items():
        reader = reader.option(k, str(v))
    return reader.load()


def test_single_object_matches_local(spark, s3_endpoint, bucket):
    got = _read(spark, s3_endpoint, "s3://graft/tables/nation.parquet")
    want = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_prefix_listing_reads_all_files(spark, s3_endpoint, bucket):
    """A prefix of N same-schema objects reads as one table (the
    reference's ListingTable over an object store)."""
    got = _read(spark, s3_endpoint, "s3://graft/dir")
    want = spark.read.parquet(os.path.join(SF_DIR, "supplier.parquet"))
    assert got.schema == want.schema
    assert got.count() == want.count()
    assert sorted(r["s_suppkey"] for r in got.collect()) == sorted(
        r["s_suppkey"] for r in want.collect()
    )


def test_row_group_splitting_fans_out(spark, s3_endpoint, bucket):
    """32 byte ranges over the 8 row groups: each row group's midpoint
    falls in one range, so 8 different tasks read rows."""
    from pyspark.sql import functions as F

    size = len(_object(s3_endpoint, "multi/customer.parquet"))
    got = _read(
        spark, s3_endpoint, "s3://graft/multi/customer.parquet",
        partition_bytes=-(-size // 32),
    )
    nparts = (
        got.withColumn("pid", F.spark_partition_id())
        .select("pid").distinct().count()
    )
    assert nparts >= 7, f"expected >=7 tasks reading rows, got {nparts}"
    want = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    assert got.count() == want.count()
    # values survive the split exactly
    assert (
        sorted(map(tuple, got.select("c_custkey", "c_name").collect()))
        == sorted(map(tuple, want.select("c_custkey", "c_name").collect()))
    )


def test_facade_register_parquet_s3_fallback(spark, s3_endpoint, bucket):
    """DFRayContext.register_parquet('s3://...') must engage tier 2 (the
    boto3 source) in this jar-less sandbox and serve SQL over the table."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "nation_s3", "s3://graft/tables/nation.parquet",
        endpoint_url=s3_endpoint, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    batches = ctx.sql(
        "SELECT COUNT(*) AS n, MIN(n_nationkey) AS mn FROM nation_s3"
    ).collect()
    row = batches[0].to_pydict()
    assert row["n"] == [25] and row["mn"] == [0]


def test_facade_gs_interop_fallback(spark, s3_endpoint, bucket):
    """gs:// engages the same tier-2 distributed source through GCS's
    S3-interop endpoint when the GCS connector jar is absent. The
    explicit endpoint_url override (pointed at moto here) is the exact
    knob the real interop path turns — storage.googleapis.com is only
    the default the facade fills in."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "nation_gs", "gs://graft/tables/nation.parquet",
        endpoint_url=s3_endpoint, access_key="testing",
        secret_key="testing", region="us-east-1",
    )
    row = ctx.sql(
        "SELECT COUNT(*) AS n, MAX(n_nationkey) AS mx FROM nation_gs"
    ).collect()[0].to_pydict()
    assert row["n"] == [25] and row["mx"] == [24]


def _put_people_csv(s3_endpoint) -> None:
    """csv/people.csv: 5000 rows of id,name,score (about 90 KB)."""
    rows = "".join(f"{i},name_{i},{i * 0.5}\n" for i in range(5000))
    boto3.client("s3", endpoint_url=s3_endpoint).put_object(
        Bucket="graft", Key="csv/people.csv",
        Body=f"id,name,score\n{rows}".encode(),
    )


def test_facade_s3_csv_distributed(spark, s3_endpoint, bucket):
    """register_csv('s3://...') in a jar-less environment reads through
    the ranged CSV reader over the S3 store — S3 answers Range requests
    natively (moto does too), so the scan splits by byte range."""
    from datafusion_ray_spark.context import DFRayContext

    _put_people_csv(s3_endpoint)
    ctx = DFRayContext(spark=spark)
    ctx.register_csv(
        "people_s3", "s3://graft/csv/people.csv",
        endpoint_url=s3_endpoint, access_key="testing",
        secret_key="testing", region="us-east-1",
        partition_bytes=16_384,  # force >1 byte-range partition
    )
    df = spark.table("people_s3")
    assert df.rdd.getNumPartitions() > 1, "scan must split by byte range"
    row = ctx.sql(
        "SELECT COUNT(*) AS n, SUM(id) AS s, MAX(score) AS mx FROM people_s3"
    ).collect()[0].to_pydict()
    assert row["n"] == [5000]
    assert row["s"] == [sum(range(5000))]
    assert row["mx"] == [4999 * 0.5]


def test_s3_csv_reader_issues_only_head_and_get(s3_endpoint, bucket, s3_log):
    """The s3csv reader plans byte ranges from the object's size and reads
    each with ranged GETs: a recorded client sees only HeadObject and
    GetObject — no listing of a single key, no presigning."""
    from datafusion_ray_spark.sources.httpcsv import S3CsvDataSource

    _put_people_csv(s3_endpoint)
    source = S3CsvDataSource({
        "path": "s3://graft/csv/people.csv", "endpoint_url": s3_endpoint,
        "access_key": "testing", "secret_key": "testing",
        "region": "us-east-1", "partition_bytes": "16384",
    })
    reader = source.reader(source.schema())
    parts = reader.partitions()
    rows = [r for p in parts for r in reader.read(p)]
    assert len(parts) > 1
    assert len(rows) == 5000
    assert sum(r[0] for r in rows) == sum(range(5000))
    assert max(r[2] for r in rows) == 4999 * 0.5
    assert {r.method for r in s3_log.requests} == {"head_object", "get_object"}


def test_s3_csv_prefix_lists_csv_objects(s3_endpoint, bucket):
    """A prefix scan of s3csv lists the ``.csv`` objects (each with its
    own header) and skips others; an empty prefix names the format."""
    from datafusion_ray_spark.sources.httpcsv import S3CsvDataSource

    client = boto3.client("s3", endpoint_url=s3_endpoint)
    for i in range(2):
        rows = "".join(f"{k},{k % 3}\n" for k in range(i * 50, i * 50 + 50))
        client.put_object(Bucket="graft", Key=f"csvdir/part-{i}.csv",
                          Body=f"k,g\n{rows}".encode())
    client.put_object(Bucket="graft", Key="csvdir/_SUCCESS", Body=b"")
    opts = {"endpoint_url": s3_endpoint, "access_key": "testing",
            "secret_key": "testing", "region": "us-east-1"}
    source = S3CsvDataSource(dict(opts, path="s3://graft/csvdir"))
    reader = source.reader(source.schema())
    ks = sorted(r[0] for p in reader.partitions() for r in reader.read(p))
    assert ks == list(range(100))
    empty = S3CsvDataSource(dict(opts, path="s3://graft/nope"))
    with pytest.raises(FileNotFoundError, match="no csv objects"):
        empty.schema()


def test_missing_prefix_raises_cleanly(spark, s3_endpoint, bucket):
    with pytest.raises(Exception, match="no parquet objects|PATH_NOT_FOUND"):
        _read(spark, s3_endpoint, "s3://graft/nope").limit(1).collect()


BIG = "big/pushdown.parquet"


def test_projection_and_stats_pruning_reduce_transfer(s3_endpoint, bucket,
                                                      s3_log):
    """Round-9 user-declared pushdown: a column projection must transfer
    FEWER bytes (only the projected columns' pages), and a filter whose
    refutation is provable from footer min/max stats must read FEWER row
    groups and transfer fewer bytes — with identical surviving rows.
    Byte accounting is exact: every GET goes through the module's
    _client hook, recorded per Range against live moto."""
    from datafusion_ray_spark.sources import s3store

    blob = _object(s3_endpoint, BIG)
    base_opts = {
        "path": f"s3://graft/{BIG}",
        "endpoint_url": s3_endpoint,
        "access_key": "testing", "secret_key": "testing",
        "region": "us-east-1",
    }

    def run(**extra):
        s3_log.clear()
        reader = s3store.S3ParquetDataSource(
            dict(base_opts, **extra)
        ).reader(None)
        rows = cols = 0
        for p in reader.partitions():
            for batch in reader.read(p):
                rows += batch.num_rows
                cols = batch.num_columns
        return s3_log.bytes, s3_log.row_groups_read(BIG, blob), rows, cols

    full_bytes, rgs_full, rows_full, cols_full = run()
    assert rgs_full == set(range(8)) and rows_full == 200_000

    # projection: same rows, two columns, strictly fewer bytes (only the
    # projected columns' pages are ranged-GET; the wide string column
    # never transfers)
    proj_bytes, _, rows_proj, cols_proj = run(columns="k,v")
    assert rows_proj == rows_full and cols_proj == 2 < cols_full
    assert proj_bytes < full_bytes * 0.8, (
        f"projection transferred {proj_bytes} vs {full_bytes}"
    )

    # stats pruning: k is ascending, so row-group min/max are tight and a
    # 150k threshold refutes 6 of the 8 row groups task-side
    import json

    filt_bytes, rgs_filt, rows_filt, _ = run(
        filters=json.dumps([["k", ">=", 150_000]]),
    )
    assert rgs_filt == {6, 7}, f"stats pruning read row groups {rgs_filt}"
    assert filt_bytes < full_bytes / 2
    # lossless: every row >= cutoff survives (surviving row groups may
    # carry extras below the cutoff; exact filtering happens above)
    assert 50_000 <= rows_filt < rows_full


def test_all_row_groups_pruned_returns_empty(spark, s3_endpoint, bucket):
    """An all-excluding filter (k >= max+1: every row group's footer
    stats refute it) returns 0 rows with the schema intact: each task
    reads its footer, keeps no row group and yields nothing."""
    df = _read(
        spark, s3_endpoint, f"s3://graft/{BIG}",
        partition_bytes=800_000, filters='[["k", ">=", 200000]]',
    )
    assert df.count() == 0
    assert df.columns == ["k", "v", "s"]


def test_facade_projection_filters_identical_results(
    spark, s3_endpoint, bucket
):
    """The facade contract: register_parquet(columns=..., filters=...)
    over the boto3 tier returns EXACTLY the same rows as the equivalent
    select/where over the local parquet (the filters become exact — the
    where() above the stats-pruned scan drops row-group survivors)."""
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_parquet(
        "cust_s3_pushdown", "s3://graft/multi/customer.parquet",
        endpoint_url=s3_endpoint, access_key="testing",
        secret_key="testing", region="us-east-1",
        columns=["c_custkey", "c_acctbal", "c_mktsegment"],
        filters=[["c_mktsegment", "=", "BUILDING"], ["c_acctbal", ">", 0]],
    )
    got = sorted(
        map(tuple, spark.table("cust_s3_pushdown").collect())
    )
    want_df = (
        spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
        .select("c_custkey", "c_acctbal", "c_mktsegment")
        .where("c_mktsegment = 'BUILDING' AND c_acctbal > 0")
    )
    assert got == sorted(map(tuple, want_df.collect()))
    assert len(got) > 0


def _two_column_parquet() -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    sink = pa.BufferOutputStream()
    pq.write_table(
        pa.table({"a": list(range(200_000)), "b": ["x"] * 200_000}),
        sink,
        row_group_size=50_000,
    )
    return sink.getvalue().to_pybytes()


def test_ranged_file_tail_cache_one_get_per_footer():
    """Task cost contract: parsing one object's parquet FOOTER costs
    exactly ONE Range GET (the cached tail), not one per pyarrow read —
    the round trip every task pays for its object's footer. Data-page
    reads outside the tail still issue their own ranged GETs."""
    import pyarrow.parquet as pq

    from datafusion_ray_spark.sources.s3store import (
        _FOOTER_PROBE,
        _RangedFile,
    )

    blob = _two_column_parquet()
    assert len(blob) > _FOOTER_PROBE  # data pages live outside the tail
    calls: list[tuple[int, int]] = []

    def get(lo, hi):
        calls.append((lo, hi))
        return blob[lo : hi + 1]

    pf = pq.ParquetFile(_RangedFile(get, len(blob)))
    assert pf.metadata.num_row_groups == 4
    assert len(calls) == 1, f"footer parse issued {calls}"

    # reading a row group fetches data bytes with fresh GETs and matches
    # the original table's rows
    got = pf.read_row_group(0)
    assert got.num_rows == 50_000
    assert len(calls) > 1


def test_ranged_file_keeps_whole_body_of_rangeless_answer():
    """A store that answers a ranged GET with the whole object (an http
    server without Range support) raises RangeUnsupportedError carrying
    that body: the ranged file keeps it and serves every later read from
    it — one request per file, identical rows. An error without a body
    still raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datafusion_ray_spark.sources.s3store import (
        RangeUnsupportedError,
        _RangedFile,
    )

    blob = _two_column_parquet()
    calls: list[tuple[int, int]] = []

    def get(lo, hi):
        calls.append((lo, hi))
        raise RangeUnsupportedError("HTTP 200", blob)

    got = pq.ParquetFile(_RangedFile(get, len(blob))).read()
    assert len(calls) == 1
    assert got.equals(pq.read_table(pa.BufferReader(blob)))

    def refuse(lo, hi):
        raise RangeUnsupportedError("cannot determine object size")

    with pytest.raises(RangeUnsupportedError, match="object size"):
        pq.ParquetFile(_RangedFile(refuse, len(blob)))


def test_pushfilters_triples_conversion():
    """Catalyst Filter objects -> pruner triples: supported shapes map,
    unsupported shapes (nested columns, Not over inequality) are skipped
    — safe because every filter is returned to Spark unconsumed."""
    from pyspark.sql.datasource import (
        EqualNullSafe, EqualTo, GreaterThanOrEqual, In, IsNotNull, IsNull,
        LessThan, Not,
    )

    from datafusion_ray_spark.sources.s3store import _triples_from_pushed

    got = _triples_from_pushed([
        GreaterThanOrEqual(("k",), 10),
        EqualTo(("v",), 3.5),
        Not(EqualTo(("v",), 7.0)),
        In(("k",), (1, 2, 3)),
        IsNull(("s",)),
        IsNotNull(("k",)),
        EqualTo(("a", "b"), 1),          # nested: skipped
        Not(LessThan(("k",), 5)),        # Not over inequality: skipped
        # NOT(a <=> v) is TRUE for null rows; min/max stats cannot refute
        # it, so it must never become a pruning triple
        Not(EqualNullSafe(("v",), 7.0)),
    ])
    assert got == [
        ("k", ">=", 10),
        ("v", "=", 3.5),
        ("v", "!=", 7.0),
        ("k", "in", (1, 2, 3)),
        ("s", "isnull", None),
        ("k", "notnull", None),
    ]


def test_pushfilters_byte_reduction_no_declared_filters(s3_endpoint, bucket,
                                                       s3_log):
    """Round-10 automatic pushdown: the reader's pushFilters (fed exactly
    what Catalyst would push for `WHERE k >= 150000`) must prune 6 of 8
    row groups and halve transferred bytes — with NO user-declared
    filters option. Byte accounting via the module's _client hook against
    live moto, same harness as the round-9 user-declared test. Every
    filter must be returned unconsumed (by reference) so Spark keeps
    exact filtering above the scan."""
    from pyspark.sql.datasource import GreaterThanOrEqual, IsNotNull

    from datafusion_ray_spark.sources import s3store

    blob = _object(s3_endpoint, BIG)
    opts = {
        "path": f"s3://graft/{BIG}",
        "endpoint_url": s3_endpoint,
        "access_key": "testing", "secret_key": "testing",
        "region": "us-east-1",
    }

    def run(pushed):
        s3_log.clear()
        reader = s3store.S3ParquetDataSource(dict(opts)).reader(None)
        if pushed is not None:
            returned = reader.pushFilters(pushed)
            assert [f is g for f, g in zip(returned, pushed)] == (
                [True] * len(pushed)
            ), "filters must be returned unconsumed, by reference"
        rows = 0
        for p in reader.partitions():
            for batch in reader.read(p):
                rows += batch.num_rows
        return s3_log.bytes, s3_log.row_groups_read(BIG, blob), rows

    full_bytes, rgs_full, rows_full = run(None)
    assert rgs_full == set(range(8)) and rows_full == 200_000

    pushed = [IsNotNull(("k",)), GreaterThanOrEqual(("k",), 150_000)]
    filt_bytes, rgs_filt, rows_filt = run(pushed)
    assert rgs_filt == {6, 7}, f"pushFilters pruning read row groups {rgs_filt}"
    assert filt_bytes < full_bytes / 2
    assert 50_000 <= rows_filt < rows_full  # lossless, exact filter above


def test_pushfilters_e2e_plain_where(spark, s3_endpoint, bucket):
    """Full Spark path: .where() on the s3parquet table with NO filters
    option — the executed scan emits only the surviving row groups' rows
    (2 of 8 row groups of 25k) and the answer is exact."""
    from pyspark.sql import functions as F

    from datafusion_ray_spark.context import DFRayDataFrame

    df = _read(
        spark, s3_endpoint, f"s3://graft/{BIG}", partition_bytes=800_000,
    ).where("k >= 150000")
    agg = df.agg(
        F.count("*").alias("n"), F.min("k").alias("mn"),
        F.max("k").alias("mx"),
    )
    row = agg.collect()[0]
    assert (row["n"], row["mn"], row["mx"]) == (50_000, 150_000, 199_999)
    scanned = [
        vals["numOutputRows"]
        for node, vals in DFRayDataFrame(agg).execution_metrics().items()
        if node.startswith("BatchScan s3parquet")
    ]
    assert scanned == [50_000], f"scan read rows {scanned}"


def test_redact_url_strips_query_string():
    from datafusion_ray_spark.sources.s3store import redact_url

    signed = ("https://b.s3.amazonaws.com/k.csv?X-Amz-Signature=SECRET"
              "&X-Amz-Credential=AKIAXXX")
    assert redact_url(signed) == "https://b.s3.amazonaws.com/k.csv?<redacted>"
    assert "SECRET" not in redact_url(signed)
    assert redact_url("https://b/k.csv") == "https://b/k.csv"


@pytest.mark.parametrize("fmt", ["parquet", "csv"])
def test_s3_jarless_tiers_keep_credentials_out(spark, s3_endpoint, bucket,
                                               fmt):
    """Both jar-less s3:// tiers keep credentials out of user-visible
    surfaces: provenance (``tables()``) records the ``s3://`` path, and no
    plan string carries the access key, the secret or a signature."""
    from datafusion_ray_spark.context import DFRayContext

    key_id, secret = "AKIAHYGIENE7Q2X", "hygiene-Secret-9f3c7a1e"
    if fmt == "csv":
        rows = "".join(f"{i},{i * 2}\n" for i in range(100))
        boto3.client("s3", endpoint_url=s3_endpoint).put_object(
            Bucket="graft", Key="csv/hygiene.csv",
            Body=f"a,b\n{rows}".encode(),
        )
        path = "s3://graft/csv/hygiene.csv"
        query = "COUNT(*) AS n, SUM(b) AS s"
        want = {"n": [100], "s": [sum(2 * i for i in range(100))]}
    else:
        path = "s3://graft/tables/nation.parquet"
        query = "COUNT(*) AS n, SUM(n_nationkey) AS s"
        want = {"n": [25], "s": [sum(range(25))]}
    ctx = DFRayContext(spark=spark)
    register = ctx.register_csv if fmt == "csv" else ctx.register_parquet
    register(
        "hygiene_s3", path, endpoint_url=s3_endpoint, access_key=key_id,
        secret_key=secret, region="us-east-1",
    )
    assert ctx.tables()["hygiene_s3"] == path
    df = ctx.sql(f"SELECT {query} FROM hygiene_s3")
    for plan in (df.logical_plan(), df.optimized_logical_plan(),
                 df.execution_plan()):
        for leak in (key_id, secret, "X-Amz-Signature", "X-Amz-Credential"):
            assert leak not in str(plan)
    assert df.collect()[0].to_pydict() == want


def test_range_split_protocol_large_listing(s3_endpoint, bucket, s3_log):
    """Round-10 Hadoop split protocol, once only for large listings and
    now every scan's plan: the planner emits byte-range partitions from
    the object's size alone — zero driver GETs — and
    each task reads its own footer, claiming row groups by byte midpoint
    (exactly-once across tiling ranges) with the same lossless stats
    pruning applied task-side."""
    from datafusion_ray_spark.sources import s3store

    opts = {
        "path": f"s3://graft/{BIG}",
        "endpoint_url": s3_endpoint,
        "access_key": "testing", "secret_key": "testing",
        "region": "us-east-1",
        "partition_bytes": str(800_000),  # ~10 ranges
    }

    def run(pushed=None, opts=opts):
        s3_log.clear()
        reader = s3store.S3ParquetDataSource(dict(opts)).reader(None)
        if pushed is not None:
            reader.pushFilters(pushed)
        parts = reader.partitions()
        plan_gets = s3_log.count("get_object")  # GETs of PLANNING alone
        rows = 0
        for p in parts:
            assert len(p.value) == 4, "expected byte-range partitions"
            for batch in reader.read(p):
                rows += batch.num_rows
        return plan_gets, len(parts), rows, s3_log.bytes

    plan_gets, n_parts, rows, full_bytes = run()
    assert plan_gets == 0, f"planner issued {plan_gets} GETs"
    assert n_parts > 1, "expected multiple byte ranges"
    assert rows == 200_000, f"midpoint rule lost/duplicated rows: {rows}"

    # task-side stats pruning still cuts transferred data bytes
    from pyspark.sql.datasource import GreaterThanOrEqual

    _, _, rows_f, filt_bytes = run([GreaterThanOrEqual(("k",), 150_000)])
    assert 50_000 <= rows_f < 200_000
    assert filt_bytes < full_bytes / 2

    # one range for the whole object (default size) returns identical rows
    _, n_one, rows_one, _ = run(
        opts={k: v for k, v in opts.items() if k != "partition_bytes"}
    )
    assert n_one == 1 and rows_one == rows


def test_planning_reads_no_footer(s3_endpoint, bucket, s3_log):
    """Planning a multi-object prefix whose sizes ride the listing
    issues zero GETs: the driver reads no footer (the only footer it
    reads is schema()'s, one per scan) — every footer is read by the
    task that scans its object."""
    from datafusion_ray_spark.sources import s3store

    reader = s3store.S3ParquetDataSource({
        "path": "s3://graft/dir", "endpoint_url": s3_endpoint,
        "access_key": "testing", "secret_key": "testing",
        "region": "us-east-1",
    }).reader(None)
    parts = reader.partitions()
    assert len({p.value[0] for p in parts}) == 2  # both objects planned
    assert s3_log.count("get_object") == 0, (
        f"planning issued GETs: {s3_log.requests}"
    )
    assert s3_log.count("list_objects_v2") == 1


# ---------------------------------------------------------------------------
# Explicit-object scans: the `paths` option (round-11, the form
# sources/objectindex.py's manifest-committed reads resolve to)


def test_paths_option_reads_explicit_objects(spark, s3_endpoint, bucket):
    """A JSON object list replaces prefix listing entirely — the same
    rows as the prefix scan of the two supplier parts."""
    import json

    want = _read(spark, s3_endpoint, "s3://graft/dir")
    got = _read(
        spark, s3_endpoint, "s3://graft/dir",
        paths=json.dumps(
            ["s3://graft/dir/part-0.parquet", "s3://graft/dir/part-1.parquet"]
        ),
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_paths_sized_entries_skip_all_discovery(s3_endpoint, bucket, s3_log):
    """[url, size] pairs: planning issues ZERO ListObjects and HEADs only
    the entries whose size the declaration omitted."""
    import json

    from datafusion_ray_spark.sources import s3store

    client = boto3.client("s3", endpoint_url=s3_endpoint)
    size0 = client.head_object(Bucket="graft", Key="dir/part-0.parquet")[
        "ContentLength"
    ]

    def discovery():
        return {op: s3_log.count(op)
                for op in ("list_objects_v2", "head_object")}

    opts = {
        "endpoint_url": s3_endpoint, "access_key": "testing",
        "secret_key": "testing", "region": "us-east-1",
        "paths": json.dumps(
            [["s3://graft/dir/part-0.parquet", size0],
             "s3://graft/dir/part-1.parquet"]  # size omitted -> one HEAD
        ),
    }
    reader = s3store.S3ParquetDataSource(dict(opts)).reader(None)
    rows = sum(
        b.num_rows for p in reader.partitions() for b in reader.read(p)
    )
    assert rows > 0
    assert discovery() == {"list_objects_v2": 0, "head_object": 1}

    # fully sized: zero discovery of any kind
    s3_log.clear()
    size1 = client.head_object(Bucket="graft", Key="dir/part-1.parquet")[
        "ContentLength"
    ]
    opts["paths"] = json.dumps(
        [["s3://graft/dir/part-0.parquet", size0],
         ["s3://graft/dir/part-1.parquet", size1]]
    )
    reader = s3store.S3ParquetDataSource(dict(opts)).reader(None)
    rows2 = sum(
        b.num_rows for p in reader.partitions() for b in reader.read(p)
    )
    assert rows2 == rows
    assert discovery() == {"list_objects_v2": 0, "head_object": 0}


def test_paths_validation_errors():
    import pytest as _pytest

    from datafusion_ray_spark.sources.s3store import _S3Store

    with _pytest.raises(ValueError, match="empty list"):
        _S3Store({"paths": "[]"}).entries()
    with _pytest.raises(ValueError, match="span buckets"):
        _S3Store(
            {"paths": '[["s3://a/x.parquet", 1], ["s3://b/y.parquet", 1]]'},
        ).entries()


def test_schema_probes_only_the_first_unsized_path(s3_endpoint, bucket,
                                                   s3_log):
    """schema() reads ONE footer, so it probes only that object's size:
    three unsized `paths` entries cost one HeadObject, not three."""
    import json

    from datafusion_ray_spark.sources import s3store

    source = s3store.S3ParquetDataSource({
        "endpoint_url": s3_endpoint, "access_key": "testing",
        "secret_key": "testing", "region": "us-east-1",
        "paths": json.dumps([
            "s3://graft/dir/part-0.parquet",
            "s3://graft/dir/part-1.parquet",
            "s3://graft/multi/customer.parquet",
        ]),
    })
    schema = source.schema()
    assert "s_suppkey" in schema.fieldNames()
    heads = [r.ref for r in s3_log.requests if r.method == "head_object"]
    assert heads == ["dir/part-0.parquet"]


@pytest.mark.parametrize("partition_bytes", [None, "400000"],
                         ids=["one_range", "byte_range"])
def test_store_parity_s3_and_http(s3_endpoint, bucket, range_server, s3_log,
                                  pushdown_parquet, partition_bytes):
    """The s3 and http stores of the one ranged-parquet reader, over the
    SAME parquet bytes (8 row groups of 10k ascending k), plan the same
    partitions, return the same rows, and read the same row groups under
    the same pushed predicate — with one range per object and with
    several."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from datafusion_ray_spark.sources.httpparquet import HTTPParquetDataSource
    from datafusion_ray_spark.sources.s3store import S3ParquetDataSource

    payload = pushdown_parquet
    size = len(payload)
    key, path = "parity/data.parquet", "/data.parquet"
    boto3.client("s3", endpoint_url=s3_endpoint).put_object(
        Bucket="graft", Key=key, Body=payload,
    )
    range_server.payloads[path] = payload
    opts = {} if partition_bytes is None else {
        "partition_bytes": partition_bytes
    }
    sources = {
        "s3": S3ParquetDataSource(dict(
            opts, path=f"s3://graft/{key}",
            endpoint_url=s3_endpoint, access_key="testing",
            secret_key="testing", region="us-east-1",
        )),
        "http": HTTPParquetDataSource(dict(opts, url=range_server.url(path))),
    }

    def scan(source, pushed=None):
        reader = source.reader(source.schema())
        if pushed:
            reader.pushFilters(pushed)
        parts = reader.partitions()
        ks = sorted(
            k for p in parts for b in reader.read(p)
            for k in b.column("k").to_pylist()
        )
        # a partition's ref is the store's own (key vs url): compare the rest
        return [p.value[1:] for p in parts], ks

    full = {name: scan(src) for name, src in sources.items()}
    assert full["s3"] == full["http"]
    plan, ks = full["s3"]
    assert ks == list(range(80_000))
    if partition_bytes is None:
        assert plan == [(size, 0, size)]
    else:
        assert len(plan) > 2 and all(len(v) == 3 for v in plan)
        assert plan[-1][2] == size

    # k >= 60000 refutes row groups 0-5 from footer stats on both stores,
    # task-side: each store serves data pages of row groups 6 and 7 only
    s3_log.clear()
    range_server.log.clear()
    pushed = {
        name: scan(src, [GreaterThanOrEqual(("k",), 60_000)])
        for name, src in sources.items()
    }
    assert pushed["s3"] == pushed["http"]
    plan_f, ks_f = pushed["s3"]
    assert ks_f == list(range(60_000, 80_000))
    assert s3_log.row_groups_read(key, payload) == {6, 7}
    assert range_server.log.row_groups_read(path, payload) == {6, 7}
