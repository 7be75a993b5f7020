"""Manifest-committed object-store index (``sources/objectindex.py``).

Local-FS tests prove the protocol (pointer commit, snapshot isolation,
manifest-pruned scans, compaction-as-commit, retention GC); the moto
tests prove the same lifecycle against a LIVE S3 endpoint with
zero-listing scan planning — the object-store-safe answer to
``bucketing.compact_partitioned``'s documented local-FS rename caveat.
"""

from __future__ import annotations

import json
import os

import pytest

from datafusion_ray_spark.sources import objectindex as oi

try:
    import boto3
    from moto.server import ThreadedMotoServer
except ImportError:  # pragma: no cover - capability gate
    boto3 = None


def _toy(spark, lo: int, hi: int, n_cells: int = 5):
    return spark.range(lo, hi).selectExpr(
        "id",
        f"cast(id % {n_cells} as int) as cell",
        "cast(id * 1.5 as double) as val",
    )


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


# ---------------------------------------------------------------------------
# Local protocol


def test_local_roundtrip_layout_and_manifest(spark, tmp_path):
    root = str(tmp_path / "idx")
    manifest = oi.write_index(_toy(spark, 0, 200), root)
    assert manifest["version"] == 1 and manifest["op"] == "overwrite"
    assert manifest["rows"] == 200
    assert oi.current_version(root) == 1
    # every object is size-recorded and cell-addressed
    for obj in manifest["objects"]:
        assert obj["key"].startswith("data/cell=")
        assert obj["bytes"] == os.path.getsize(os.path.join(root, obj["key"]))
    assert {o["part"] for o in manifest["objects"]} == {str(c) for c in range(5)}
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 200))


def test_append_is_snapshot_isolated(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 100), root)
    v1 = oi.load_manifest(root)
    mtimes_v1 = {
        o["key"]: os.path.getmtime(os.path.join(root, o["key"]))
        for o in v1["objects"]
    }
    v2 = oi.write_index(_toy(spark, 100, 150), root, mode="append")
    assert v2["parent"] == 1 and v2["rows"] == 150
    # append = parent objects ∪ batch objects; parent's files byte-untouched
    v2_keys = {o["key"] for o in v2["objects"]}
    assert {o["key"] for o in v1["objects"]} < v2_keys
    for key, mtime in mtimes_v1.items():
        assert os.path.getmtime(os.path.join(root, key)) == mtime
    # a reader pinned at v1 sees exactly the v1 snapshot, post-commit
    assert _rows(oi.read_index(spark, root, version=1)) == _rows(
        _toy(spark, 0, 100)
    )
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 150))


def test_partition_pruning_scans_only_selected_objects(spark, tmp_path):
    root = str(tmp_path / "idx")
    manifest = oi.write_index(_toy(spark, 0, 200), root)
    pruned = oi.read_index(spark, root, partitions=[1, 3])
    assert _rows(pruned) == _rows(_toy(spark, 0, 200).where("cell in (1,3)"))
    wanted = {
        os.path.basename(o["key"])
        for o in manifest["objects"]
        if o["part"] in ("1", "3")
    }
    scanned = {os.path.basename(f) for f in pruned.inputFiles()}
    assert scanned == wanted, "scan must touch only the manifest-pruned objects"


def test_pruning_to_nothing_keeps_schema(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 50), root)
    empty = oi.read_index(spark, root, partitions=[99])
    assert empty.count() == 0
    assert empty.columns == ["id", "cell", "val"]


def test_compaction_commits_new_version_without_touching_old(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 100), root)
    for lo in (100, 140, 180):
        oi.write_index(_toy(spark, lo, lo + 40), root, mode="append")
    live = oi.load_manifest(root)
    assert len(live["objects"]) > 5  # fragmented: >1 object per cell
    compacted = oi.compact_index(spark, root)
    assert compacted["op"] == "compact" and compacted["parent"] == live["version"]
    assert len(compacted["objects"]) == 5  # one object per cell again
    assert compacted["rows"] == live["rows"] == 220
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 220))
    # the old version's objects are still on store: pinned readers live on
    for obj in live["objects"]:
        assert os.path.exists(os.path.join(root, obj["key"]))
    assert _rows(
        oi.read_index(spark, root, version=live["version"])
    ) == _rows(_toy(spark, 0, 220))


def test_compaction_mismatch_aborts_and_gc_sweeps_orphans(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 60), root)
    live = oi.load_manifest(root)
    meta_path = os.path.join(root, "meta", f"{live['name']}.json")
    with open(meta_path) as f:
        tampered = json.load(f)
    tampered["rows"] += 1  # simulate a lost-row compaction
    with open(meta_path, "w") as f:
        json.dump(tampered, f)
    with pytest.raises(RuntimeError, match="row-count mismatch"):
        oi.compact_index(spark, root)
    # pointer never moved; the aborted rewrite's objects are orphans...
    assert oi.current_version(root) == live["version"]
    live_keys = {o["key"] for o in live["objects"]}
    on_disk = {rel for rel, _s, _m in oi._store_for(root, None).list("data")}
    orphans = on_disk - live_keys
    assert orphans, "aborted compaction should have landed orphan objects"
    # ...and GC sweeps exactly them (live version fully retained)
    deleted = set(oi.gc_index(root, min_age_seconds=0))
    assert orphans <= deleted
    assert not (live_keys & deleted)
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 60))


def test_gc_retention_window_and_crash_state_refusal(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 50), root)  # v1
    oi.write_index(_toy(spark, 50, 80), root, mode="append")  # v2
    oi.compact_index(spark, root)  # v3
    assert oi.retained_versions(root, keep=2) == [3, 2]
    v1_meta = f"meta/{oi.load_manifest(root, 1)['name']}.json"
    v2_meta = f"meta/{oi.load_manifest(root, 2)['name']}.json"
    deleted = oi.gc_index(root, keep=2, min_age_seconds=0)
    # v3 references only compacted objects; v2 references v1's ∪ batch —
    # so every pre-compaction object is still referenced via v2: only
    # v1's manifest leaves, no data objects do.
    assert deleted == [v1_meta]
    assert _rows(oi.read_index(spark, root, version=2)) == _rows(
        _toy(spark, 0, 80)
    )
    # drop to keep=1: v2 leaves, and with it every non-compacted object
    deleted2 = oi.gc_index(root, keep=1, min_age_seconds=0)
    assert v2_meta in deleted2
    assert any(k.startswith("data/") for k in deleted2)
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 80))
    # crash state: pointer gone but data present -> refuse to sweep
    os.remove(os.path.join(root, "_CURRENT"))
    assert oi.gc_index(root) == []


def test_writer_input_validation(spark, tmp_path):
    root = str(tmp_path / "idx")
    with pytest.raises(Exception, match="cell"):
        oi.write_index(spark.range(5).selectExpr("id"), root)
    df = spark.range(5).selectExpr(
        "id", "cast(null as int) as cell"
    )
    with pytest.raises(Exception, match="non-null"):
        oi.write_index(df, root)
    with pytest.raises(ValueError, match="overwrite|append"):
        oi.write_index(_toy(spark, 0, 5), root, mode="upsert")


def test_append_partition_col_must_match(spark, tmp_path):
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 20), root, partition_col="cell")
    other = _toy(spark, 20, 30).withColumnRenamed("cell", "bucket")
    with pytest.raises(ValueError, match="keyed on"):
        oi.write_index(other, root, partition_col="bucket", mode="append")


# ---------------------------------------------------------------------------
# Live S3 (moto): same lifecycle, zero-listing scan planning

pytestmark_s3 = pytest.mark.skipif(
    boto3 is None, reason="boto3/moto not installed (capability gate)"
)


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
def s3_opts(s3_endpoint):
    boto3.client("s3", endpoint_url=s3_endpoint).create_bucket(Bucket="idx")
    return {
        "endpoint_url": s3_endpoint,
        "access_key": "testing",
        "secret_key": "testing",
        "region": "us-east-1",
    }


@pytestmark_s3
def test_s3_lifecycle_end_to_end(spark, s3_opts):
    root = "s3://idx/indexes/toy"
    oi.write_index(_toy(spark, 0, 120), root, opts=s3_opts)
    oi.write_index(_toy(spark, 120, 160), root, mode="append", opts=s3_opts)
    assert oi.current_version(root, s3_opts) == 2
    assert _rows(oi.read_index(spark, root, opts=s3_opts)) == _rows(
        _toy(spark, 0, 160)
    )
    # pinned snapshot across a later compaction
    v2 = oi.load_manifest(root, opts=s3_opts)
    compacted = oi.compact_index(spark, root, opts=s3_opts)
    assert len(compacted["objects"]) == 5 and compacted["rows"] == 160
    assert _rows(
        oi.read_index(spark, root, version=v2["version"], opts=s3_opts)
    ) == _rows(_toy(spark, 0, 160))
    # retention GC: keep live + parent, sweep v1's manifest only (its
    # objects are still referenced by v2), then keep=1 frees real data
    oi.gc_index(root, keep=2, opts=s3_opts, min_age_seconds=0)
    deleted = oi.gc_index(root, keep=1, opts=s3_opts, min_age_seconds=0)
    assert any(k.startswith("data/") for k in deleted)
    assert _rows(oi.read_index(spark, root, opts=s3_opts)) == _rows(
        _toy(spark, 0, 160)
    )


@pytestmark_s3
def test_s3_scan_plans_with_zero_listing_calls(spark, s3_opts, s3_log):
    from datafusion_ray_spark.sources import s3store

    root = "s3://idx/indexes/noprobe"
    oi.write_index(_toy(spark, 0, 100), root, opts=s3_opts)

    # e2e rows through the real Spark scan
    got = _rows(oi.read_index(spark, root, partitions=[0, 2], opts=s3_opts))
    assert got == _rows(_toy(spark, 0, 100).where("cell in (0,2)"))

    # zero-discovery planning, asserted on the reader itself (Spark runs
    # data-source planning in a separate Python worker, so the recorder
    # must run in-process — same harness as the pushFilters
    # byte-accounting test in test_s3store.py)
    manifest = oi.load_manifest(root, opts=s3_opts)
    selected = [o for o in manifest["objects"] if o["part"] in ("0", "2")]
    store = oi._store_for(root, s3_opts)
    reader_opts = dict(
        s3_opts,
        paths=json.dumps(
            [[store.url(o["key"]), o["bytes"]] for o in selected]
        ),
    )
    s3_log.clear()
    reader = s3store.S3ParquetDataSource(reader_opts).reader(None)
    parts = reader.partitions()
    rows = sum(
        batch.num_rows for p in parts for batch in reader.read(p)
    )
    assert rows == 40
    # the manifest carried keys AND sizes: planning issued no discovery
    assert s3_log.count("list_objects_v2") == s3_log.count("head_object") == 0


@pytestmark_s3
def test_s3_ivf_probed_search_matches_in_plan(spark, sf_dir, s3_opts):
    """The lifecycle this module exists for: the IVF cell index persisted
    to S3, searched probe-pruned, answering exactly like the in-plan
    search (index persistence must never change answers — the same bar
    operators/suite7.py holds its local persisted index to)."""
    from pyspark.sql import functions as F

    from datafusion_ray_spark.operators import similarity as sim

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    centroids = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in emb.where(
            F.col("vec_id").isin(list(sim.CENTROID_VEC_IDS))
        ).collect()
    )
    qv = [
        float(v)
        for v in emb.where("vec_id = 0").collect()[0]["embedding"]
    ]

    root = "s3://idx/indexes/ivf"
    oi.write_index(
        sim.ivf_assign(emb, centroids), root, partition_col="cell",
        opts=s3_opts,
    )
    probe = sim.ivf_probe_cells(qv, centroids, nprobe=sim.N_PROBE)
    index = oi.read_index(spark, root, partitions=probe, opts=s3_opts)
    got = (
        sim.with_cosine(index, qv)
        .where(F.col("vec_id") != 0)
        .select("vec_id", "cell", "cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(10)
    )
    want = sim.ivf_ann_topk(emb, qv, centroids, k=10, exclude_vec_id=0)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


# ---------------------------------------------------------------------------
# The facade surface


def test_facade_register_index_pins_a_snapshot(spark, tmp_path):
    from datafusion_ray_spark.context import DFRayContext

    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 100), root)
    ctx = DFRayContext(spark=spark)
    ctx.register_index("toy_idx", root, partitions=[1, 3])
    got = spark.sql(
        "SELECT cell, count(*) AS n FROM toy_idx GROUP BY cell ORDER BY cell"
    ).collect()
    assert [(r["cell"], r["n"]) for r in got] == [(1, 20), (3, 20)]
    # the registration is a SNAPSHOT: a later commit doesn't leak in
    oi.write_index(
        _toy(spark, 100, 200).where("cell in (1,3)"), root, mode="append"
    )
    still = spark.sql("SELECT count(*) AS n FROM toy_idx").collect()[0]["n"]
    assert still == 40
    # re-register to adopt the new pointer
    ctx.register_index("toy_idx", root, partitions=[1, 3])
    now = spark.sql("SELECT count(*) AS n FROM toy_idx").collect()[0]["n"]
    assert now == 80


# ---------------------------------------------------------------------------
# Optimistic concurrency: pointer CAS + nonce-named manifests


def test_local_pointer_cas_semantics(tmp_path):
    store = oi._store_for(str(tmp_path / "idx"), None)
    # create-if-absent: a stale "absent" token loses once someone commits
    store.put_text_if("_CURRENT", "a\n", None)
    with pytest.raises(oi.CommitConflictError):
        store.put_text_if("_CURRENT", "b\n", None)
    # swap conditioned on the resolve-time token
    text, token = store.get_text_versioned("_CURRENT")
    assert text == "a\n"
    store.put_text_if("_CURRENT", "b\n", token)
    with pytest.raises(oi.CommitConflictError):
        store.put_text_if("_CURRENT", "c\n", token)  # token now stale
    assert store.get_text("_CURRENT") == "b\n"


def test_concurrent_append_retries_and_loses_no_update(spark, tmp_path):
    """The lost-update scenario: a second writer commits INSIDE the first
    writer's resolve→commit window. The first writer's CAS fails, it
    re-resolves, and BOTH batches land exactly once."""
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 50), root)  # v1

    def racing_commit(head_manifest):
        assert head_manifest["version"] == 1
        oi.write_index(_toy(spark, 100, 130), root, mode="append")  # v2

    final = oi.write_index(
        _toy(spark, 50, 80), root, mode="append",
        pre_commit_hook=racing_commit,
    )
    # the outer append re-resolved onto the racer's commit as its parent
    assert final["version"] == 3 and final["parent"] == 2
    assert _rows(oi.read_index(spark, root)) == (
        _rows(_toy(spark, 0, 80)) | _rows(_toy(spark, 100, 130))
    )
    # the abandoned first-attempt manifest is unreferenced garbage for GC
    metas_on_disk = {
        rel for rel, _s, _m in oi._store_for(root, None).list("meta")
    }
    chain = {
        f"meta/{oi.load_manifest(root, v)['name']}.json" for v in (1, 2, 3)
    }
    assert chain < metas_on_disk  # the orphan attempt is the difference
    deleted = set(oi.gc_index(root, keep=3, min_age_seconds=0))
    assert metas_on_disk - chain <= deleted


def test_concurrent_compaction_conflict_surfaces(spark, tmp_path):
    """A commit racing a compaction must abort the compaction (its
    row-count verification no longer describes the head)."""
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 50), root)
    oi.write_index(_toy(spark, 50, 70), root, mode="append")

    # slip a commit between the compactor's resolve and its CAS
    real_commit = oi._commit
    def hijacked(store, **kw):
        oi._commit = real_commit  # restore before the inner write commits
        oi.write_index(_toy(spark, 100, 110), root, mode="append")
        return real_commit(store, **kw)

    oi._commit = hijacked
    try:
        with pytest.raises(oi.CommitConflictError):
            oi.compact_index(spark, root)
    finally:
        oi._commit = real_commit
    # the racer's append is live and nothing was lost
    assert _rows(oi.read_index(spark, root)) == (
        _rows(_toy(spark, 0, 70)) | _rows(_toy(spark, 100, 110))
    )


@pytestmark_s3
def test_s3_pointer_cas_semantics(s3_opts):
    store = oi._store_for("s3://idx/indexes/cas", s3_opts)
    store.put_text_if("_CURRENT", "a\n", None)
    with pytest.raises(oi.CommitConflictError):
        store.put_text_if("_CURRENT", "b\n", None)
    text, token = store.get_text_versioned("_CURRENT")
    assert text == "a\n" and token
    store.put_text_if("_CURRENT", "b\n", token)
    with pytest.raises(oi.CommitConflictError):
        store.put_text_if("_CURRENT", "c\n", token)
    assert store.get_text("_CURRENT") == "b\n"


def test_append_schema_drift_rejected_before_data_write(spark, tmp_path):
    """A drifted batch must fail BEFORE landing any objects: the reader
    plans one scan over old ∪ new with no schema merging, so a silent
    append would corrupt every read."""
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 30), root)
    store = oi._store_for(root, None)
    n_before = len(store.list("data"))
    drifted = _toy(spark, 30, 40).selectExpr("*", "1 as extra")
    with pytest.raises(ValueError, match="schema mismatch"):
        oi.write_index(drifted, root, mode="append")
    # column-order drift is drift too
    reordered = _toy(spark, 30, 40).select("val", "cell", "id")
    with pytest.raises(ValueError, match="schema mismatch"):
        oi.write_index(reordered, root, mode="append")
    assert len(store.list("data")) == n_before, "no objects may land"
    assert oi.current_version(root) == 1


# ---------------------------------------------------------------------------
# Stats clustering (sort_by) + pruning granularity (row_group_rows)


def test_sort_by_clusters_objects_and_is_inherited(spark, tmp_path):
    import pyarrow.parquet as pq

    root = str(tmp_path / "idx")
    m1 = oi.write_index(
        _toy(spark, 0, 300), root, sort_by=["id"], row_group_rows=20
    )
    assert m1["sort_by"] == ["id"]
    for obj in m1["objects"]:
        t = pq.read_table(os.path.join(root, obj["key"]))
        ids = t.column("id").to_pylist()
        assert ids == sorted(ids), "object must be sorted on the sort key"
        assert pq.ParquetFile(
            os.path.join(root, obj["key"])
        ).metadata.num_row_groups >= 2
    # appends inherit the clustering spec; compaction preserves it
    m2 = oi.write_index(_toy(spark, 300, 400), root, mode="append")
    assert m2["sort_by"] == ["id"]
    m3 = oi.compact_index(spark, root)
    assert m3["sort_by"] == ["id"]
    for obj in m3["objects"]:
        ids = pq.read_table(
            os.path.join(root, obj["key"])
        ).column("id").to_pylist()
        assert ids == sorted(ids)
    assert _rows(oi.read_index(spark, root)) == _rows(_toy(spark, 0, 400))


@pytestmark_s3
def test_s3_sorted_index_prunes_row_groups_via_pushdown(spark, s3_opts):
    """The point of sort_by: tight per-row-group min/max on the sort key
    lets the inherited pushFilters path refute most row groups of a
    range predicate — asserted at the reader level as rows read (every
    row group holds 2,500 rows), same harness as the s3store pushdown
    tests."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from datafusion_ray_spark.sources import s3store

    root = "s3://idx/indexes/sorted"
    m = oi.write_index(
        _toy(spark, 0, 40_000, n_cells=2), root, opts=s3_opts,
        sort_by=["id"], row_group_rows=2_500,
    )
    store = oi._store_for(root, s3_opts)
    reader_opts = dict(
        s3_opts,
        paths=json.dumps(
            [[store.url(o["key"]), o["bytes"]] for o in m["objects"]]
        ),
    )

    def scan(pushed):
        reader = s3store.S3ParquetDataSource(dict(reader_opts)).reader(None)
        if pushed:
            reader.pushFilters(pushed)
        return sum(
            b.num_rows for p in reader.partitions() for b in reader.read(p)
        )

    rows_full = scan(None)
    assert rows_full == 40_000  # 2 objects x 8 row groups read
    rows_pruned = scan([GreaterThanOrEqual(("id",), 35_000)])
    # 2 of 16 row groups read: the last one of each object
    assert rows_pruned == 5_000
    assert rows_pruned <= rows_full / 4, (
        f"sorted row groups should mostly refute id>=35000: "
        f"{rows_pruned}/{rows_full} rows read"
    )


def test_gc_default_grace_shields_inflight_and_refuses_corruption(spark, tmp_path):
    """By default GC must NOT sweep young unreferenced keys — a writer
    mid-commit has a staged manifest nothing references yet, and
    deleting it would let its pointer CAS succeed onto a missing
    manifest. And a pointer already naming a missing manifest is
    corruption: refuse, never sweep."""
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 30), root)
    oi.write_index(_toy(spark, 30, 50), root, mode="append")
    oi.compact_index(spark, root)
    # everything expired-but-young is shielded by the default grace
    assert oi.gc_index(root, keep=1) == []
    assert oi.gc_index(root, keep=1, min_age_seconds=0) != []
    # corrupt pointer: live manifest file missing -> refusal, no sweep
    live = oi.load_manifest(root)
    os.remove(os.path.join(root, "meta", f"{live['name']}.json"))
    assert oi.gc_index(root, min_age_seconds=0) == []


def test_replace_is_dynamic_partition_overwrite(spark, tmp_path):
    """mode='replace': partitions present in the batch are swapped
    wholesale in one atomic commit; every other partition's objects ride
    through byte-identical, and pinned readers keep the old snapshot."""
    root = str(tmp_path / "idx")
    v1 = oi.write_index(_toy(spark, 0, 100), root, sort_by=["id"])
    # re-derive cells 1 and 3 with different contents (shifted ids)
    fresh = _toy(spark, 200, 240).where("cell in (1, 3)")
    v2 = oi.write_index(fresh, root, mode="replace")
    assert v2["op"] == "replace" and v2["parent"] == 1
    assert v2["sort_by"] == ["id"]  # spec inherited like an append
    untouched_v1 = {o["key"] for o in v1["objects"] if o["part"] not in ("1", "3")}
    v2_keys = {o["key"] for o in v2["objects"]}
    assert untouched_v1 < v2_keys, "untouched partitions must ride through"
    assert not any(
        o["key"] in v2_keys for o in v1["objects"] if o["part"] in ("1", "3")
    ), "replaced partitions' old objects must drop out of the manifest"
    want = _rows(_toy(spark, 0, 100).where("cell not in (1, 3)")) | _rows(fresh)
    assert _rows(oi.read_index(spark, root)) == want
    # the pre-replace snapshot is still fully readable
    assert _rows(oi.read_index(spark, root, version=1)) == _rows(
        _toy(spark, 0, 100)
    )
    # a replace on a fresh root behaves like overwrite
    root2 = str(tmp_path / "idx2")
    m = oi.write_index(_toy(spark, 0, 20), root2, mode="replace")
    assert m["version"] == 1 and m["rows"] == 20


@pytestmark_s3
def test_s3_concurrent_appenders_lose_no_updates(spark, s3_opts):
    """The CAS claim under REAL contention: four writers race appends
    against live moto with no coordination. Every batch must land
    exactly once — version chain linear, rows the exact union, every
    commit's parent the previous commit."""
    import threading

    root = "s3://idx/indexes/race"
    oi.write_index(_toy(spark, 0, 20), root, opts=s3_opts)

    batches = [(100 + 20 * i, 120 + 20 * i) for i in range(4)]
    errors = []

    def appender(lo: int, hi: int) -> None:
        try:
            oi.write_index(
                _toy(spark, lo, hi), root, mode="append", opts=s3_opts
            )
        except Exception as exc:  # noqa: BLE001 - surface in main thread
            errors.append(exc)

    threads = [
        threading.Thread(target=appender, args=b) for b in batches
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors

    live = oi.load_manifest(root, opts=s3_opts)
    assert live["version"] == 5  # linear history: 1 base + 4 appends
    want = _rows(_toy(spark, 0, 20))
    for lo, hi in batches:
        want |= _rows(_toy(spark, lo, hi))
    assert _rows(oi.read_index(spark, root, opts=s3_opts)) == want
    # the chain is a single line through every commit
    versions = []
    m = live
    while m is not None:
        versions.append(m["version"])
        m = (
            oi.load_manifest(root, m["parent"], opts=s3_opts)
            if m.get("parent")
            else None
        )
    assert versions == [5, 4, 3, 2, 1]


def test_string_partition_values_sanitize_and_prune(spark, tmp_path):
    """Partition values with path-hostile characters: keys are
    percent-escaped, but manifest pruning and the data column keep the
    ORIGINAL values."""
    root = str(tmp_path / "idx")
    df = spark.createDataFrame(
        [(1, "en US"), (2, "fr/FR"), (3, "zh=CN"), (4, "en US")],
        "id int, lang string",
    )
    m = oi.write_index(df, root, partition_col="lang")
    assert {o["part"] for o in m["objects"]} == {"en US", "fr/FR", "zh=CN"}
    for o in m["objects"]:
        key_dir = o["key"].split("/")[1]
        assert "/" not in key_dir.replace("lang=", "") and " " not in key_dir
        assert os.path.exists(os.path.join(root, o["key"]))
    got = oi.read_index(spark, root, partitions=["fr/FR"])
    assert _rows(got) == {(2, "fr/FR")}
    assert _rows(oi.read_index(spark, root)) == _rows(df)


@pytestmark_s3
def test_gs_scheme_rides_s3_interop(spark, s3_opts):
    """gs:// roots ride the same wire protocol through the store's
    S3-interop mapping (the facade's GCS story) — whole lifecycle on a
    gs:// URL against the live endpoint."""
    root = "gs://idx/indexes/gcs_toy"
    oi.write_index(_toy(spark, 0, 50), root, opts=s3_opts)
    oi.write_index(_toy(spark, 50, 70), root, mode="append", opts=s3_opts)
    assert _rows(oi.read_index(spark, root, opts=s3_opts)) == _rows(
        _toy(spark, 0, 70)
    )
    assert oi.current_version(root, s3_opts) == 2


def test_version_addressing_contract(spark, tmp_path):
    """Time travel addresses only committed ancestors of the head; an
    off-chain or future version is a clear FileNotFoundError, not a
    silent empty read."""
    root = str(tmp_path / "idx")
    oi.write_index(_toy(spark, 0, 20), root)
    oi.write_index(_toy(spark, 20, 30), root, mode="append")
    with pytest.raises(FileNotFoundError, match="not on the committed chain"):
        oi.load_manifest(root, 7)
    with pytest.raises(FileNotFoundError, match="no _CURRENT"):
        oi.load_manifest(str(tmp_path / "nowhere"))
    # facade time travel pins the named version
    from datafusion_ray_spark.context import DFRayContext

    ctx = DFRayContext(spark=spark)
    ctx.register_index("idx_v1", root, version=1)
    ctx.register_index("idx_live", root)
    assert spark.sql("SELECT count(*) n FROM idx_v1").collect()[0]["n"] == 20
    assert spark.sql("SELECT count(*) n FROM idx_live").collect()[0]["n"] == 30
