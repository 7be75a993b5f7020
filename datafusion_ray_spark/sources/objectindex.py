"""Object-store-safe persisted index: manifest-committed, pointer-swapped.

``sources/bucketing.py``'s path-addressed compaction swap is two directory
RENAMES — correct on a local filesystem, impossible on an object store
(S3 has no atomic rename; "renaming" a 100 TB index would copy it). Its
docstring says so and points here: this module is the object-store shape
of the same lifecycle, the way table formats in the Iceberg/Delta family
solve it (log-structured metadata over immutable data files):

- **Data objects are immutable.** Every write lands NEW objects under
  ``data/<col>=<value>/part-<uuid>.parquet``; nothing is ever renamed,
  overwritten, or touched in place. Old snapshots keep reading their own
  objects through any number of later commits.
- **A version manifest names the snapshot.** ``meta/v<N>-<nonce>.json``
  (nonce-named: racing writers can never overwrite each other's
  metadata) lists every (key, bytes, rows, partition-value) the version
  contains, plus its parent's name — the committed history is a chain
  walked from the pointer, never a listing. Reads
  plan from the manifest — explicit keys WITH sizes — so a scan does
  ZERO ListObjects/HeadObject calls and can never observe a concurrent
  writer's half-landed objects (the listing-vs-commit race a
  prefix-listing reader has by construction).
- **The commit is ONE pointer compare-and-swap.** ``_CURRENT`` holds
  the live manifest name; publishing is a single conditional small-object
  PUT (readers see the old pointer or the new one, never a torn state,
  and a racing commit FAILS instead of being overwritten). A failure
  anywhere before the pointer write leaves the old version live and at
  worst orphans metadata/data objects for GC.
- **Append and compaction are just commits.** Append = new objects +
  a manifest referencing parent objects ∪ batch objects. Compaction =
  rewrite to one-object-per-partition + a manifest referencing only the
  new objects — the old generation's objects stay byte-untouched until
  :func:`gc_index` sweeps versions that fell out of the retention set.

Many-writer, many-reader — no coordination service. Commits are
OPTIMISTICALLY CONCURRENT: manifests carry a nonce in their name (two
racing writers can never overwrite each other's metadata), and the
pointer write is a COMPARE-AND-SWAP — S3's conditional writes
(``If-Match`` on the ETag read at resolve time, ``If-None-Match: *``
for the first commit; GA on real S3 since late 2024 and supported by
this environment's moto), with an ``O_EXCL``-locked check-and-replace
as the local twin. A writer that loses the race gets
:class:`CommitConflictError`; appends transparently RE-RESOLVE and
retry the commit (their data objects are already landed and stay
valid — only the cheap metadata step repeats), so two concurrent
appends both land with neither update lost. Compactions do NOT retry
(their row-count verification is against the version they read) — the
conflict surfaces and the caller re-runs against the new head. Stores
without conditional-write support degrade to last-writer-wins with a
logged warning. Readers need no coordination at all: :func:`read_index`
resolves the pointer once and builds the scan from that manifest's
explicit object list, so an open DataFrame is pinned to its snapshot
for its whole lifetime.

Spark-side mechanics: the writer is ``repartition(partition_col)`` →
``mapInArrow`` — each task buffers its partition values' Arrow batches
and PUTs parquet objects of ~``target_object_bytes`` (boto3; this
environment has no hadoop-aws jars, and the reference's object-store
path is likewise its own client, `/root/reference/src/util.rs:523-580`).
Reads ride ``sources/s3store.py``'s ``paths`` form (row-group splitting,
footer-stats pruning, automatic ``pushFilters`` — all inherited), or a
pinned file list via the native parquet reader for local roots.

At 100 TB: partition pruning is a manifest filter (no listing of a
million-object prefix), appends cost O(batch), compaction streams
through executors without ever holding two copies of a partition, and
the snapshot pointer means a week-long training job reads one consistent
index version while ingest keeps committing behind it.

Exercised end-to-end (local + live moto S3) in tests/test_objectindex.py,
including the IVF cell-index lifecycle that motivated it
(tests mirror operators/suite7.py's persisted-IVF semantics).
"""

from __future__ import annotations

import io
import json
import os
import time
import uuid
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession

from .s3store import _client, _split_url

#: roll a new data object once this many buffered Arrow bytes accumulate
#: for one partition value (uncompressed estimate; parquet lands smaller).
DEFAULT_TARGET_OBJECT_BYTES = 128 << 20

#: append-commit retries on pointer CAS conflict before giving up (each
#: retry repeats only the metadata step, never the data write).
_COMMIT_RETRIES = 5

#: gc_index's default shield for concurrent writers' not-yet-committed
#: objects (data and staged manifests) — see its docstring.
DEFAULT_GC_GRACE_SECONDS = 900.0

_POINTER = "_CURRENT"
_META_DIR = "meta"
_DATA_DIR = "data"


class CommitConflictError(RuntimeError):
    """Another writer committed between this writer's resolve and its
    pointer compare-and-swap. Appends handle this internally (re-resolve
    and retry the metadata step); compactions surface it — re-run against
    the new head."""


def _vname(version: int) -> str:
    return f"v{version:08d}"


# ---------------------------------------------------------------------------
# Store: the ~5 object operations the protocol needs, over s3:// or a
# local directory. Small on purpose — everything protocol-shaped lives in
# the functions below, so the two backends cannot drift.


class _LocalStore:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)

    def url(self, rel: str) -> str:
        return os.path.join(self.root, *rel.split("/"))

    def get_text(self, rel: str) -> str | None:
        try:
            with open(self.url(rel), "r", encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:
            return None

    def put_bytes(self, rel: str, data: bytes) -> None:
        path = self.url(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)  # atomic publish, the local twin of S3 PUT

    def put_text(self, rel: str, text: str) -> None:
        self.put_bytes(rel, text.encode("utf-8"))

    def get_text_versioned(self, rel: str) -> tuple[str | None, object]:
        """(content, CAS token). Locally the content IS the token: the
        check-and-replace in :meth:`put_text_if` compares bytes."""
        text = self.get_text(rel)
        return text, text

    def put_text_if(self, rel: str, text: str, token: object) -> None:
        """Check-and-replace under an ``O_EXCL`` lock file — the local
        twin of S3's conditional PUT. ``token`` is the content observed
        at resolve time (``None`` = "must not exist yet")."""
        path = self.url(rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        lock = path + ".lock"
        deadline = time.monotonic() + 10.0
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                break
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise RuntimeError(
                        f"pointer lock {lock} held for >10s — crashed "
                        "writer? remove the lock file to recover"
                    ) from None
                time.sleep(0.01)
        try:
            if self.get_text(rel) != token:
                raise CommitConflictError(
                    f"{rel} changed since resolve (another writer "
                    "committed); re-resolve and retry"
                )
            self.put_bytes(rel, text.encode("utf-8"))
        finally:
            os.unlink(lock)

    def list(self, rel_prefix: str) -> list[tuple[str, int, float]]:
        """[(rel_key, size_bytes, mtime_epoch)] under the prefix."""
        base = self.url(rel_prefix)
        out = []
        for dirpath, _dirs, files in os.walk(base):
            for name in files:
                p = os.path.join(dirpath, name)
                st = os.stat(p)
                rel = os.path.relpath(p, self.root).replace(os.sep, "/")
                out.append((rel, st.st_size, st.st_mtime))
        return sorted(out)

    def delete(self, rel: str) -> None:
        try:
            os.remove(self.url(rel))
        except FileNotFoundError:
            pass
        # prune now-empty partition directories so local layouts don't
        # accumulate husks (object stores have no directories to prune)
        d = os.path.dirname(self.url(rel))
        while d.startswith(self.root) and d != self.root:
            try:
                os.rmdir(d)
            except OSError:
                break
            d = os.path.dirname(d)


class _S3Store:
    def __init__(self, root_url: str, opts: dict):
        self.bucket, prefix = _split_url(root_url)
        self.prefix = prefix.rstrip("/")
        self.opts = dict(opts)
        self._client = None  # lazy: constructed task-side after pickling

    def _c(self):
        if self._client is None:
            self._client = _client(self.opts)
        return self._client

    def __getstate__(self):
        return {k: v for k, v in self.__dict__.items() if k != "_client"}

    def __setstate__(self, state):
        self.__dict__.update(state, _client=None)

    def _key(self, rel: str) -> str:
        return f"{self.prefix}/{rel}" if self.prefix else rel

    def url(self, rel: str) -> str:
        return f"s3://{self.bucket}/{self._key(rel)}"

    def get_text(self, rel: str) -> str | None:
        try:
            obj = self._c().get_object(Bucket=self.bucket, Key=self._key(rel))
            return obj["Body"].read().decode("utf-8")
        except Exception as exc:
            code = str(
                getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            )
            if code in ("404", "NoSuchKey", "NotFound"):
                return None
            raise

    def put_bytes(self, rel: str, data: bytes) -> None:
        # One PUT is atomic on S3: the object appears complete or not at
        # all — exactly the property the pointer/manifest writes rely on.
        self._c().put_object(Bucket=self.bucket, Key=self._key(rel), Body=data)

    def put_text(self, rel: str, text: str) -> None:
        self.put_bytes(rel, text.encode("utf-8"))

    def get_text_versioned(self, rel: str) -> tuple[str | None, object]:
        """(content, CAS token) — the token is the object's ETag, the
        value S3's ``If-Match`` precondition checks."""
        try:
            obj = self._c().get_object(Bucket=self.bucket, Key=self._key(rel))
            return obj["Body"].read().decode("utf-8"), obj.get("ETag")
        except Exception as exc:
            code = str(
                getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            )
            if code in ("404", "NoSuchKey", "NotFound"):
                return None, None
            raise

    def put_text_if(self, rel: str, text: str, token: object) -> None:
        """Conditional PUT: ``If-Match`` on the resolve-time ETag, or
        ``If-None-Match: *`` for a first commit. A 412 means another
        writer won the race -> :class:`CommitConflictError`. Stores that
        reject the precondition ARGUMENT (no conditional-write support)
        degrade to an unconditional PUT with a logged warning —
        last-writer-wins, the pre-2024 S3 reality."""
        kwargs = {"Bucket": self.bucket, "Key": self._key(rel),
                  "Body": text.encode("utf-8")}
        if token is None:
            kwargs["IfNoneMatch"] = "*"
        else:
            kwargs["IfMatch"] = token
        try:
            self._c().put_object(**kwargs)
        except Exception as exc:
            code = str(
                getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            )
            if code in ("PreconditionFailed", "412",
                        "ConditionalRequestConflict"):
                raise CommitConflictError(
                    f"{rel} changed since resolve (another writer "
                    "committed); re-resolve and retry"
                ) from exc
            if code == "NotImplemented":
                # ONLY the explicit capability signal degrades — generic
                # InvalidArgument/InvalidRequest cover too many unrelated
                # malformed-request conditions, and misreading one as
                # "no CAS support" would silently reopen the lost-update
                # window the conditional write exists to close.
                import logging

                logging.getLogger(__name__).warning(
                    "store does not support conditional writes; pointer "
                    "commit degrades to last-writer-wins"
                )
                self.put_bytes(rel, text.encode("utf-8"))
                return
            raise

    def list(self, rel_prefix: str) -> list[tuple[str, int, float]]:
        prefix = self._key(rel_prefix).rstrip("/") + "/"
        strip = len(self._key("")) if self.prefix else 0
        out, token = [], None
        while True:
            kwargs = {"Bucket": self.bucket, "Prefix": prefix}
            if token:
                kwargs["ContinuationToken"] = token
            page = self._c().list_objects_v2(**kwargs)
            for obj in page.get("Contents", []):
                rel = obj["Key"][strip:]
                out.append(
                    (rel, obj["Size"], obj["LastModified"].timestamp())
                )
            if not page.get("IsTruncated"):
                break
            token = page["NextContinuationToken"]
        return sorted(out)

    def delete(self, rel: str) -> None:
        self._c().delete_object(Bucket=self.bucket, Key=self._key(rel))


def _store_for(root: str, opts: dict | None):
    if root.startswith(("s3://", "s3a://", "gs://")):
        return _S3Store(root, opts or {})
    return _LocalStore(root)


# ---------------------------------------------------------------------------
# Manifest protocol


def _manifest_name(manifest: dict) -> str:
    """A manifest's file name stem (``v<N>-<nonce>``); legacy manifests
    written before nonce-naming resolve to the bare ``v<N>``."""
    return manifest.get("name") or _vname(manifest["version"])


def _load_by_name(store, name: str) -> dict:
    body = store.get_text(f"{_META_DIR}/{name}.json")
    if body is None:
        raise FileNotFoundError(f"index manifest {name} missing")
    return json.loads(body)


def _resolve_head(store, root: str) -> tuple[dict | None, object]:
    """(live manifest or None, pointer CAS token) in ONE pointer read —
    the atom every commit's optimistic-concurrency check is built on."""
    text, token = store.get_text_versioned(_POINTER)
    if text is None:
        return None, None
    return _load_by_name(store, text.strip()), token


def current_version(root: str, opts: dict | None = None) -> int | None:
    """The live committed version number, or ``None`` for a fresh root."""
    text = _store_for(root, opts).get_text(_POINTER)
    if text is None:
        return None
    return int(text.strip().split("-")[0].lstrip("v"))


def load_manifest(root: str, version: int | None = None,
                  opts: dict | None = None) -> dict:
    """The manifest of ``version`` (default: the live one). Older
    versions are reached by walking the live manifest's parent chain —
    the only versions addressable are the committed ancestors of the
    head, which is exactly the time-travel contract."""
    store = _store_for(root, opts)
    head, _token = _resolve_head(store, root)
    if head is None:
        raise FileNotFoundError(
            f"{root} has no {_POINTER} pointer — not an index root, or "
            "no version was ever committed"
        )
    m = head
    while version is not None and m["version"] != version:
        if m["version"] < version or m.get("parent") is None:
            raise FileNotFoundError(
                f"version {version} is not on the committed chain of "
                f"{root} (head is {head['version']})"
            )
        parent_name = m.get("parent_name") or _vname(m["parent"])
        m = _load_by_name(store, parent_name)
    return m


def _commit(store, *, op: str, parent_manifest: dict | None,
            partition_col: str, objects: list[dict],
            token: object = None, schema_json: str | None = None,
            sort_by: list[str] | None = None,
            row_group_rows: int | None = None) -> dict:
    parent_version = parent_manifest["version"] if parent_manifest else None
    version = (parent_version or 0) + 1
    # The nonce makes every commit ATTEMPT's metadata file unique: two
    # racing writers may both stage a v<N> manifest, but neither can
    # overwrite the other's — only the pointer CAS decides which one
    # becomes v<N>, and the loser's file is unreferenced garbage for GC.
    name = f"{_vname(version)}-{uuid.uuid4().hex[:8]}"
    manifest = dict(
        version=version,
        name=name,
        parent=parent_version,
        parent_name=_manifest_name(parent_manifest) if parent_manifest else None,
        op=op,
        partition_col=partition_col,
        schema=schema_json,
        sort_by=sort_by,
        row_group_rows=row_group_rows,
        rows=sum(o["rows"] for o in objects),
        objects=sorted(objects, key=lambda o: o["key"]),
    )
    # Order is the protocol: manifest first (unreferenced until the
    # pointer moves), pointer CAS last (THE commit — conditioned on the
    # resolve-time token, so a racing commit raises instead of being
    # silently overwritten). A crash between the two leaves the parent
    # live and the manifest as sweepable garbage.
    store.put_text(
        f"{_META_DIR}/{name}.json",
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    store.put_text_if(_POINTER, name + "\n", token)
    return manifest


def _strip_nullability(node):
    """Schema-JSON tree with ``nullable``/``metadata`` dropped at every
    level: appends must match on names and types — nullability drifts on
    every parquet round trip and changes nothing for the no-merge
    reader."""
    if isinstance(node, dict):
        return {
            k: _strip_nullability(v)
            for k, v in node.items()
            if k not in ("nullable", "metadata")
        }
    if isinstance(node, list):
        return [_strip_nullability(x) for x in node]
    return node


def _check_append_compat(head: dict, partition_col: str,
                         schema_json: str) -> None:
    """Fail an incompatible append BEFORE paying its data write: the
    batch must be keyed on the live partition column and carry the EXACT
    live schema (the reader plans one scan over old ∪ new objects with
    no schema merging — a drifted batch would corrupt every read, not
    just its own rows)."""
    if head["partition_col"] != partition_col:
        raise ValueError(
            f"append partitions by {partition_col!r} but the live "
            f"version is keyed on {head['partition_col']!r}"
        )
    want = head.get("schema")
    if want is not None and (
        _strip_nullability(json.loads(schema_json))
        != _strip_nullability(json.loads(want))
    ):
        def fields(sj: str) -> list[str]:
            return [
                f"{f['name']}:{json.dumps(_strip_nullability(f['type']))}"
                for f in json.loads(sj).get("fields", [])
            ]

        raise ValueError(
            "append schema mismatch: the index has fields "
            f"{fields(want)} but the batch has {fields(schema_json)}; "
            "indexes require matching column names, order, and types — "
            "align the batch, or rebuild with mode='overwrite'"
        )


def _sanitize_part(value) -> str:
    """Partition value as a key-path segment (hive-ish, strictly safe)."""
    s = str(value)
    return "".join(
        c if c.isalnum() or c in "-_." else f"%{ord(c):02X}" for c in s
    ) or "_empty_"


# ---------------------------------------------------------------------------
# Distributed writer


def _write_data_objects(
    df: DataFrame,
    store,
    partition_col: str,
    target_object_bytes: int,
    sort_by: list[str] | None = None,
    row_group_rows: int | None = None,
) -> list[dict]:
    """Land ``df`` as immutable parquet objects under ``data/``, one-ish
    object per partition value (``repartition(partition_col)`` →
    ``mapInArrow``; a task holding several values flushes each value's
    buffer separately, and a value bigger than ``target_object_bytes``
    rolls extra objects — nothing ever buffers more than the target).
    Each task PUTs via its own boto3 client (no hadoop-aws needed) and
    returns one manifest row per object written; the driver only ever
    sees (key, bytes, rows, part) triples, never data."""
    import pyarrow as pa

    out_schema = "key string, bytes long, rows long, part string"

    def task(batches: Iterable["pa.RecordBatch"]):
        import pyarrow as pa
        import pyarrow.parquet as pq

        results: list[tuple[str, int, int, str]] = []
        buf: dict[str, list] = {}
        buf_bytes: dict[str, int] = {}

        def flush(part: str) -> None:
            chunks = buf.pop(part, [])
            buf_bytes.pop(part, None)
            if not chunks:
                return
            table = pa.Table.from_batches(chunks)
            if sort_by:
                # stats clustering: a sorted object gives every row group
                # tight min/max footer stats on the sort columns, so the
                # inherited pushFilters pruning (s3store) drops row
                # groups a range predicate refutes — zone maps for free.
                table = table.sort_by([(c, "ascending") for c in sort_by])
            sink = io.BytesIO()
            # row_group_rows bounds pruning granularity: smaller groups =
            # finer footer-stats pruning, more footer overhead.
            pq.write_table(
                table, sink,
                **({"row_group_size": row_group_rows} if row_group_rows
                   else {}),
            )
            key = (
                f"{_DATA_DIR}/{partition_col}={_sanitize_part(part)}/"
                f"part-{uuid.uuid4().hex}.parquet"
            )
            data = sink.getvalue()
            store.put_bytes(key, data)
            results.append((key, len(data), table.num_rows, part))

        for batch in batches:
            idx = batch.schema.get_field_index(partition_col)
            if idx < 0:
                raise KeyError(
                    f"partition column {partition_col!r} not in schema "
                    f"{batch.schema.names}"
                )
            col = batch.column(idx)
            if col.null_count:
                raise ValueError(
                    f"null {partition_col!r} value: index partition keys "
                    "must be non-null (assign a sentinel cell upstream)"
                )
            import pyarrow.compute as pc

            for part_scalar in pc.unique(col):
                part = str(part_scalar.as_py())
                sub = batch.filter(pc.equal(col, part_scalar))
                buf.setdefault(part, []).append(sub)
                buf_bytes[part] = buf_bytes.get(part, 0) + sub.nbytes
                if buf_bytes[part] >= target_object_bytes:
                    flush(part)
        for part in list(buf):
            flush(part)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([r[0] for r in results], pa.string()),
                pa.array([r[1] for r in results], pa.int64()),
                pa.array([r[2] for r in results], pa.int64()),
                pa.array([r[3] for r in results], pa.string()),
            ],
            schema=pa.schema(
                [("key", pa.string()), ("bytes", pa.int64()),
                 ("rows", pa.int64()), ("part", pa.string())]
            ),
        )

    rows = (
        df.repartition(partition_col)
        .mapInArrow(task, out_schema)
        .collect()
    )
    return [
        {"key": r["key"], "bytes": r["bytes"], "rows": r["rows"],
         "part": r["part"]}
        for r in rows
    ]


def write_index(
    df: DataFrame,
    root: str,
    partition_col: str = "cell",
    mode: str = "overwrite",
    opts: dict | None = None,
    target_object_bytes: int = DEFAULT_TARGET_OBJECT_BYTES,
    pre_commit_hook=None,
    sort_by: list[str] | None = None,
    row_group_rows: int | None = None,
) -> dict:
    """Commit ``df`` to the index at ``root`` and return the manifest.

    ``sort_by`` sorts each landed object on those columns (stats
    clustering): every row group then carries tight footer min/max on
    the sort keys, so a range predicate over the index scan prunes row
    groups through the inherited ``pushFilters`` path — zone maps
    without any extra structure. The live sort spec is recorded in the
    manifest; appends default to it and compaction preserves it.

    ``mode="overwrite"`` publishes a version containing only this write's
    objects (the parent's objects stay on store for pinned readers until
    GC). ``mode="append"`` publishes parent ∪ batch — O(batch) work at
    any corpus size, existing objects byte-untouched, and unlike the
    local ``partitionBy`` append a reader can NEVER observe half a batch:
    the new objects are invisible until the pointer moves.
    ``mode="replace"`` is dynamic partition overwrite: the partition
    values PRESENT IN THE BATCH are replaced wholesale (their old
    objects drop out of the manifest — still on store for pinned
    readers until GC), every other partition rides through untouched —
    how a pipeline re-embeds a subset of cells, applies a per-partition
    TTL, or backfills one day without rewriting the corpus. All three
    modes are one atomic commit.

    Concurrency: the commit is a pointer compare-and-swap against the
    head resolved here. If another writer commits in between, the data
    objects (already landed, still valid) are kept and only the cheap
    metadata step re-resolves and retries — so concurrent appends all
    land with no lost updates. ``pre_commit_hook(head_manifest)`` is a
    test seam invoked once after the data objects land, before the first
    commit attempt — the window a racing commit would occupy."""
    if mode not in ("overwrite", "append", "replace"):
        raise ValueError(
            f"mode must be overwrite|append|replace, got {mode!r}"
        )
    store = _store_for(root, opts)
    head, token = _resolve_head(store, root)
    schema_json = df.schema.json()
    if mode in ("append", "replace") and head is not None:
        _check_append_compat(head, partition_col, schema_json)
        if sort_by is None:  # appends inherit the live clustering spec
            sort_by = head.get("sort_by")
        if row_group_rows is None:
            row_group_rows = head.get("row_group_rows")
    new_objects = _write_data_objects(
        df, store, partition_col, target_object_bytes, sort_by,
        row_group_rows,
    )
    if pre_commit_hook is not None:
        pre_commit_hook(head)
    for _attempt in range(_COMMIT_RETRIES):
        objects = new_objects
        # The manifest records the index's clustering SPEC (what appends
        # and compactions apply), re-derived from the head on every
        # attempt: a fresh-root append that loses its CAS race to a
        # sort_by-bearing first commit must not erase that spec. This
        # batch's objects were sorted per the ORIGINAL resolve — pruning
        # stays correct either way (stats are per-row-group regardless);
        # the next compaction restores full clustering.
        manifest_sort = sort_by
        manifest_rgr = row_group_rows
        if mode in ("append", "replace") and head is not None:
            _check_append_compat(head, partition_col, schema_json)
            if manifest_sort is None:
                manifest_sort = head.get("sort_by")
            if manifest_rgr is None:
                manifest_rgr = head.get("row_group_rows")
            kept = head["objects"]
            if mode == "replace":
                batch_parts = {o["part"] for o in new_objects}
                kept = [o for o in kept if o["part"] not in batch_parts]
            objects = kept + new_objects
        try:
            return _commit(
                store, op=mode, parent_manifest=head,
                partition_col=partition_col, objects=objects,
                token=token, schema_json=schema_json,
                sort_by=manifest_sort, row_group_rows=manifest_rgr,
            )
        except CommitConflictError:
            head, token = _resolve_head(store, root)
    raise CommitConflictError(
        f"gave up committing to {root} after {_COMMIT_RETRIES} conflicts "
        "— a writer is committing faster than this one can re-resolve"
    )


# ---------------------------------------------------------------------------
# Reader


def read_index(
    spark: SparkSession,
    root: str,
    partitions: Iterable | None = None,
    version: int | None = None,
    opts: dict | None = None,
    scan_options: dict | None = None,
) -> DataFrame:
    """Scan the index — a SNAPSHOT pinned at resolve time.

    ``partitions`` prunes to those partition values (the manifest filter
    that replaces directory pruning: at nprobe=4 over a million-cell
    index this is 4 dict lookups, not a prefix listing). The scan is the
    manifest's explicit ``[url, size]`` list, so planning does zero
    ListObjects/HeadObject calls and later commits/GC of OTHER versions
    cannot disturb it. ``version`` time-travels to an older snapshot."""
    manifest = load_manifest(root, version, opts)
    store = _store_for(root, opts)
    objects = manifest["objects"]
    if not objects:
        raise ValueError(
            f"index version {manifest['version']} at {root} is empty"
        )
    selected = objects
    if partitions is not None:
        wanted = {str(p) for p in partitions}
        selected = [o for o in objects if o["part"] in wanted]
    # An empty pruned selection still needs the index schema: scan one
    # object under an always-false predicate (footer-only cost).
    schema_only = not selected
    if schema_only:
        selected = objects[:1]

    if isinstance(store, _S3Store):
        from .s3store import register_s3_parquet

        register_s3_parquet(spark)
        reader = spark.read.format("s3parquet").option(
            "paths",
            json.dumps([[store.url(o["key"]), o["bytes"]] for o in selected]),
        )
        for k in ("endpoint_url", "region", "access_key", "secret_key",
                  "anon"):
            if opts and opts.get(k) is not None:
                reader = reader.option(k, str(opts[k]))
        for k, v in (scan_options or {}).items():
            reader = reader.option(k, str(v))
        out = reader.load()
    else:
        if scan_options:
            raise ValueError(
                "scan_options ride the s3parquet source and apply only "
                "to object-store roots; this root is a local directory "
                "read by the native parquet reader — drop the options "
                f"({sorted(scan_options)}) or move the index to s3://"
            )
        out = spark.read.parquet(*[store.url(o["key"]) for o in selected])
    if schema_only:
        from pyspark.sql import functions as F

        out = out.where(F.lit(False))
    return out


# ---------------------------------------------------------------------------
# Maintenance: compaction and GC — both just commits over immutable data


def compact_index(
    spark: SparkSession,
    root: str,
    opts: dict | None = None,
    target_object_bytes: int = DEFAULT_TARGET_OBJECT_BYTES,
) -> dict:
    """Rewrite the live version to ~one object per partition value and
    commit the result as a NEW version — the object-store twin of
    ``bucketing.compact_partitioned``, with the rename pair replaced by
    the pointer write. The old version's objects are not touched (pinned
    readers finish undisturbed); they leave the store only when
    :func:`gc_index` drops the old version from the retention set.
    Row-count-verified against the live manifest BEFORE the pointer
    moves; a mismatch abandons the new objects to GC and leaves the old
    version live. A pointer CAS conflict (a writer committed mid-rewrite)
    also aborts — the verification was against a head that is no longer
    live — surfacing :class:`CommitConflictError`; re-run against the
    new head (the staged objects are GC-sweepable orphans)."""
    store = _store_for(root, opts)
    live, token = _resolve_head(store, root)
    if live is None:
        raise FileNotFoundError(f"{root} has no committed version")
    snapshot = read_index(spark, root, version=live["version"], opts=opts)
    objects = _write_data_objects(
        snapshot, store, live["partition_col"], target_object_bytes,
        live.get("sort_by"), live.get("row_group_rows"),
    )
    rows_new = sum(o["rows"] for o in objects)
    if rows_new != live["rows"]:
        raise RuntimeError(
            f"compaction row-count mismatch for {root}: "
            f"{live['rows']} -> {rows_new}; keeping {_vname(live['version'])}"
            " live (new objects left for gc_index)"
        )
    return _commit(
        store, op="compact", parent_manifest=live,
        partition_col=live["partition_col"], objects=objects, token=token,
        schema_json=live.get("schema") or snapshot.schema.json(),
        sort_by=live.get("sort_by"),
        row_group_rows=live.get("row_group_rows"),
    )


def _retained_manifests(store, root: str, keep: int) -> list[dict]:
    """The live manifest and up to ``keep - 1`` ancestors (chain ends
    early if an ancestor's manifest was already GC'd)."""
    out: list[dict] = []
    m, _token = _resolve_head(store, root)
    while m is not None and len(out) < keep:
        out.append(m)
        if m.get("parent") is None:
            break
        try:
            m = _load_by_name(
                store, m.get("parent_name") or _vname(m["parent"])
            )
        except FileNotFoundError:
            break
    return out


def retained_versions(root: str, keep: int = 2,
                      opts: dict | None = None) -> list[int]:
    """The live version and up to ``keep - 1`` ancestors — the snapshots
    :func:`gc_index` preserves (grace for pinned readers, one compaction
    cycle per retained ancestor, same story as ``gc_generations``)."""
    store = _store_for(root, opts)
    return [m["version"] for m in _retained_manifests(store, root, keep)]


def gc_index(
    root: str,
    keep: int = 2,
    opts: dict | None = None,
    min_age_seconds: float = DEFAULT_GC_GRACE_SECONDS,
) -> list[str]:
    """Sweep everything the retained versions don't reference: data
    objects from expired versions, manifests outside the retention set,
    and orphans from crashed writers (objects landed but never
    committed). Returns the deleted keys.

    Refuses (returns ``[]``) when the pointer is missing but data exists —
    that is a CRASH STATE, not garbage, exactly like ``gc_generations``'s
    live-directory rule: sweeping here could delete every copy. The same
    refusal applies when the pointer names a missing manifest.

    ``min_age_seconds`` is the CONCURRENT-WRITER shield and it defaults
    ON (15 min): a writer mid-commit has landed objects — data AND its
    staged manifest — that nothing references yet; a zero-grace sweep
    could delete that manifest in the window before its pointer CAS
    lands, and the CAS would then SUCCEED (the pointer token never
    changed) leaving ``_CURRENT`` naming a deleted manifest. Keep the
    default unless provably no writer is in flight (tests, offline
    maintenance) — then 0 gives an eager sweep."""
    store = _store_for(root, opts)
    if current_version(root, opts) is None:
        return []
    try:
        retained = _retained_manifests(store, root, keep)
    except FileNotFoundError:
        return []  # pointer names a missing manifest: corrupt, refuse
    referenced: set[str] = set()
    for m in retained:
        referenced.update(o["key"] for o in m["objects"])
    retained_meta = {
        f"{_META_DIR}/{_manifest_name(m)}.json" for m in retained
    }
    now = time.time()
    deleted = []
    for rel, _size, mtime in store.list(_DATA_DIR):
        if rel in referenced or now - mtime < min_age_seconds:
            continue
        store.delete(rel)
        deleted.append(rel)
    for rel, _size, mtime in store.list(_META_DIR):
        if rel in retained_meta or now - mtime < min_age_seconds:
            continue
        store.delete(rel)
        deleted.append(rel)
    return deleted
