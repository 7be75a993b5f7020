"""Distributed ranged-parquet reader: ONE Spark 4 Python Data Source core
for parquet on any store that serves ranged GETs, plus its S3 store.

The reference reads parquet and CSV from s3, gs and http through one
DataFusion scan per format; only the object store differs, picked from
the URL scheme (the reference's ``src/util.rs:523-580``). Same split
here: this module holds the parquet scan (seekable ranged file,
DataSource/reader pair, planner, stats pruner) and the S3 store;
``sources/httpparquet.py`` holds only the http store, and
``sources/httpcsv.py`` the CSV scan over the same two stores. A store
supplies what differs: ``entries()`` — the scan's objects as
``[(ref, size | None)]``, listing a prefix by the format's filename
suffixes; ``get(ref, start, end)`` — one ranged GET, ``end`` inclusive
(the http store also takes ``end=None``, the whole object; a server
that answers a ranged GET with the whole object raises
:class:`RangeUnsupportedError` carrying that body); ``probe_size(ref)``;
and ``head(ref)`` — ``(size | None, serves Range)``.

The production path for S3 remains Hadoop's ``s3a`` connector (jars +
IAM); ``DFRayContext.register_parquet("s3://...")`` tries that first and
falls back here, so a bare-Python environment (boto3 only, no hadoop-aws)
can still read S3 tables DISTRIBUTED rather than not at all.

How it distributes (the split Spark's own parquet source and the
reference's file-range groups make):

- The PLANNER (driver) resolves the entries and cuts every object into
  byte-range partitions ``(ref, size, start, end)`` of
  ``partition_bytes`` (default 128 MB) from sizes ALONE — it reads no
  footer. Sizes ride the S3 listing or a sized declaration; unsized
  entries are probed 16-way on the driver — or, above
  ``size_probe_max_files`` of them, each becomes one whole-file
  partition whose task probes its own size.
- EVERY TASK reads its object's footer (one cached 64 KiB tail GET),
  claims the row groups whose byte midpoint falls in its range
  (contiguous ranges tile the file, so exactly-once), drops those the
  footer stats refute, and reads the rest through its own ranged reader
  (pyarrow fetches only the byte ranges those row groups cover), yielding
  ARROW BATCHES — the Python Data Source Arrow fast path. A range whose
  row groups are all refuted costs its task one tail GET.
- A server that ignores Range answers a task's first GET with the whole
  object; the task keeps that body and serves the rest of its reads
  from it, so Range-less http objects are still read on the executors.

Schema comes from the first object's footer (parquet is self-describing,
matching ``spark.read.parquet``); only that object's size is probed, and
it is the one footer the driver reads per scan.
Predicate pushdown is AUTOMATIC: Spark 4.1's ``pushFilters`` API hands
the reader the conjunctive predicates Catalyst collected above the scan
(``spark.sql.python.filterPushdown.enabled`` — set by the engine's
session builder and by the ``register_*`` helpers), and each task feeds
them into the same footer-stats row-group pruner the user-declared
``filters`` option uses. Every pushed filter is returned to Spark
unconsumed (pruning drops provably-empty row groups, it does not evaluate
predicates), so exact filtering always stays in the plan above the scan.
The USER-declared options remain for sessions without the pushdown conf
(the analogue of the reference's forced parquet pushdown,
``/root/reference/src/util.rs:284-295``):

- ``columns`` option (comma-separated): schema() narrows to exactly these
  columns and executors read ONLY their byte ranges (parquet is
  columnar, so unread columns' pages are never transferred);
- ``filters`` option (JSON list of ``[col, op, value]`` triples, AND-ed;
  ops ``= == != < <= > >=``): each task drops row groups whose footer
  min/max statistics prove no row can match. Pruning is LOSSLESS and
  conservative (a row group is kept on any doubt); surviving row groups
  may still hold non-matching rows, so ``DFRayContext.register_parquet``
  applies the same triples as a ``where()`` on the registered table.

S3 credentials: the boto3 default chain (env/instance profile),
overridable per-read with ``option("access_key"/"secret_key"/"region"/
"endpoint_url")`` — the endpoint override is what the moto-backed e2e
tests (tests/test_s3store.py) exercise.
"""

from __future__ import annotations

import io
import os
import threading
from functools import partial

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: target bytes per input partition (byte range of an object). 128 MB
#: matches spark.sql.files.maxPartitionBytes' default, the size the rest
#: of the engine's memory budgeting assumes.
DEFAULT_PARTITION_BYTES = 128 << 20

_FOOTER_PROBE = 64 << 10  # tail bytes fetched to parse most footers in one GET

#: scans with more size-less entries than this stop paying a
#: planner size probe per object: beyond the threshold each unsized entry
#: becomes ONE whole-file partition whose TASK probes the size itself
#: (one probe per file, cluster-parallel, overlapped with the read)
#: instead of the driver draining an O(files) probe tail through a
#: 16-way pool before a single task can launch. The cost is intra-file
#: byte-range splitting for those entries — irrelevant above the
#: threshold, where per-file parallelism already exceeds any executor
#: count; a publisher with few huge objects should annotate sizes
#: (``[url, bytes]`` pairs or a sized manifest), which keeps exact range
#: splits with ZERO probes. Override with ``size_probe_max_files``.
DEFAULT_SIZE_PROBE_MAX_FILES = 256


def _client(opts: dict):
    import boto3
    from botocore.config import Config

    kwargs: dict = {}
    if opts.get("endpoint_url"):
        kwargs["endpoint_url"] = opts["endpoint_url"]
    elif os.environ.get("AWS_ENDPOINT_URL"):
        kwargs["endpoint_url"] = os.environ["AWS_ENDPOINT_URL"]
    if opts.get("region"):
        kwargs["region_name"] = opts["region"]
    if opts.get("access_key"):
        kwargs["aws_access_key_id"] = opts["access_key"]
        kwargs["aws_secret_access_key"] = opts.get("secret_key", "")
    if str(opts.get("anon", "")).lower() in ("1", "true"):
        from botocore import UNSIGNED

        kwargs["config"] = Config(signature_version=UNSIGNED)
    return boto3.client("s3", **kwargs)


def redact_url(url: str) -> str:
    """URL safe for error messages / logs: presigned URLs carry the
    signature and access-key id in the query string (a bearer
    credential), so everything after ``?`` is dropped."""
    base, sep, _query = url.partition("?")
    return base + ("?<redacted>" if sep else "")


def _split_url(url: str) -> tuple[str, str]:
    # gs:// rides the same S3 wire protocol through GCS's XML-interop
    # endpoint (the facade sets endpoint_url=storage.googleapis.com);
    # bucket/key semantics are identical.
    for scheme in ("s3a://", "gs://"):
        if url.startswith(scheme):
            url = "s3://" + url[len(scheme):]
    if not url.startswith("s3://"):
        raise ValueError(f"not an s3/gs url: {url}")
    bucket, _, key = url[len("s3://"):].partition("/")
    return bucket, key


class RangeUnsupportedError(OSError):
    """A store cannot serve a byte range: an http server without Range
    support, or one that hides the object's size. ``body`` is the whole
    object when the server answered the ranged GET with it (HTTP 200),
    else ``None``."""

    def __init__(self, detail: str, body: bytes | None = None):
        super().__init__(detail)
        self.body = body


class _RangedFile(io.RawIOBase):
    """Minimal seekable read-only file over one object of size ``size``;
    ``get(start, end)`` fetches the inclusive byte range ``[start, end]``
    (one ranged GET against the object's store).

    pyarrow calls read() for exactly the byte ranges the requested row
    groups/footer cover, so the transfer volume is what the scan needs —
    the object is never downloaded whole, unless its server ignores
    Range: then the first GET's whole-object answer is kept and serves
    every later read.
    """

    def __init__(self, get, size: int):
        self._get, self._size = get, size
        self._pos = 0
        # Footer parsing clusters its reads (magic+length probe, then the
        # footer itself) in the object's tail; one cached tail GET serves
        # them all, so a footer costs one round trip instead of 2-3 tiny
        # GETs.
        self._tail_start = max(0, size - _FOOTER_PROBE)
        self._tail: bytes | None = None
        self._whole: bytes | None = None

    def seekable(self) -> bool:
        return True

    def readable(self) -> bool:
        return True

    def seek(self, pos: int, whence: int = 0) -> int:
        self._pos = (
            pos if whence == 0
            else self._pos + pos if whence == 1
            else self._size + pos
        )
        return self._pos

    def tell(self) -> int:
        return self._pos

    def _fetch(self, start: int, end: int) -> bytes:
        if self._whole is None:
            try:
                return self._get(start, end)
            except RangeUnsupportedError as exc:
                if exc.body is None:
                    raise
                self._whole = exc.body
        return self._whole[start : end + 1]

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            end = self._size - 1
        else:
            end = min(self._pos + n, self._size) - 1
        if end < self._pos:
            return b""
        if self._pos >= self._tail_start and self._size > 0:
            if self._tail is None:
                self._tail = self._fetch(self._tail_start, self._size - 1)
            off = self._pos - self._tail_start
            data = self._tail[off : end - self._tail_start + 1]
        else:
            data = self._fetch(self._pos, end)
        self._pos += len(data)
        return data


def _open(store, ref, size: int):
    """pyarrow ParquetFile over one of ``store``'s objects."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(_RangedFile(partial(store.get, ref), size))


def _pool_map(fn, items) -> list:
    """``map`` over a 16-way thread pool (store clients are thread-safe):
    planning a many-object scan costs ~one round-trip latency, not one
    serial request per object on the driver."""
    from concurrent.futures import ThreadPoolExecutor

    if len(items) <= 1:
        return [fn(i) for i in items]
    with ThreadPoolExecutor(max_workers=min(16, len(items))) as pool:
        return list(pool.map(fn, items))


def _parse_columns(opts: dict) -> list[str] | None:
    raw = opts.get("columns")
    if not raw:
        return None
    if isinstance(raw, str):
        raw = raw.split(",")
    cols = [str(c).strip() for c in raw if str(c).strip()]
    return cols or None


def _parse_filters(opts: dict) -> list[tuple[str, str, object]]:
    import json

    raw = opts.get("filters")
    if not raw:
        return []
    triples = json.loads(raw) if isinstance(raw, str) else raw
    out = []
    for t in triples:
        if len(t) != 3 or t[1] not in ("=", "==", "!=", "<", "<=", ">", ">="):
            raise ValueError(
                f"bad filter triple {t!r}: expected [column, op, value] "
                "with op one of = == != < <= > >="
            )
        out.append((str(t[0]), str(t[1]), t[2]))
    return out


def _triples_from_pushed(filters) -> list[tuple[str, str, object]]:
    """Catalyst-pushed :class:`pyspark.sql.datasource.Filter` objects →
    the same ``(column, op, value)`` triples the user-declared ``filters``
    option uses, so one pruner serves both paths. Unsupported shapes
    (nested columns, Not over non-equality, string matches) are simply
    skipped — they were returned to Spark unconsumed, so skipping is
    always safe."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
    )

    out: list[tuple[str, str, object]] = []
    for f in filters:
        neg = isinstance(f, Not)
        g = f.child if neg else f
        attr = getattr(g, "attribute", None)
        if not attr or len(attr) != 1:
            continue  # nested column paths: no top-level stats to prune on
        col = str(attr[0])
        if neg and isinstance(g, EqualNullSafe):
            # NOT(a <=> v) is TRUE for null rows, which min/max stats say
            # nothing about — a pinned-value row group may still hold
            # matching nulls. Never prune on it.
            continue
        if isinstance(g, (EqualTo, EqualNullSafe)):
            out.append((col, "!=" if neg else "=", g.value))
        elif neg:
            continue
        elif isinstance(g, GreaterThan):
            out.append((col, ">", g.value))
        elif isinstance(g, GreaterThanOrEqual):
            out.append((col, ">=", g.value))
        elif isinstance(g, LessThan):
            out.append((col, "<", g.value))
        elif isinstance(g, LessThanOrEqual):
            out.append((col, "<=", g.value))
        elif isinstance(g, In):
            out.append((col, "in", tuple(g.value)))
        elif isinstance(g, IsNull):
            out.append((col, "isnull", None))
        elif isinstance(g, IsNotNull):
            out.append((col, "notnull", None))
    return out


def _rg_may_match(meta, rg: int, col_idx: dict[str, int],
                  filters) -> bool:
    """True unless the row group's footer min/max (or null-count) stats
    PROVE no row can satisfy the AND of ``filters``. Conservative by
    construction: any missing statistic, unknown column, or type mismatch
    keeps the row group (pruning must be lossless — exact filtering
    happens above)."""
    rg_meta = meta.row_group(rg)
    for col, op, val in filters:
        i = col_idx.get(col)
        if i is None:
            continue
        try:
            stats = rg_meta.column(i).statistics
            if stats is None:
                continue
            # Null-count ops need no min/max: IS NULL prunes null-free
            # row groups, IS NOT NULL prunes all-null ones.
            if op == "isnull":
                if stats.null_count == 0:
                    return False
                continue
            if op == "notnull":
                if stats.null_count == rg_meta.num_rows:
                    return False
                continue
            if not stats.has_min_max:
                continue
            mn, mx = stats.min, stats.max
            if isinstance(mn, bytes):
                mn = mn.decode("utf-8", "surrogateescape")
            if isinstance(mx, bytes):
                mx = mx.decode("utf-8", "surrogateescape")
            if (
                isinstance(mn, (int, float))
                and isinstance(val, str)  # user-declared triples arrive as text
            ):
                val = float(val)
            if op in ("=", "==") and (val < mn or val > mx):
                return False
            if op in (">", ">=") and (mx < val or (op == ">" and mx <= val)):
                return False
            if op in ("<", "<=") and (mn > val or (op == "<" and mn >= val)):
                return False
            # != prunes only single-value row groups pinned to val
            if op == "!=" and mn == mx == val:
                return False
            # IN prunes when every candidate is outside [min, max]
            if op == "in" and not any(mn <= v <= mx for v in val):
                return False
        except Exception:  # noqa: BLE001 - keep the row group on any doubt
            continue
    return True


def _col_index(meta, filters) -> dict[str, int]:
    """Column name -> index in the footer, for ``_rg_may_match``."""
    if not filters or not meta.num_row_groups:
        return {}
    rg0 = meta.row_group(0)
    return {rg0.column(i).path_in_schema: i for i in range(rg0.num_columns)}


def _rg_span(rg_meta) -> tuple[int, int]:
    """(first byte offset, total compressed bytes) of a row group — the
    coordinates the Hadoop split-midpoint rule needs."""
    starts = []
    compressed = 0
    for j in range(rg_meta.num_columns):
        cc = rg_meta.column(j)
        off = cc.dictionary_page_offset
        starts.append(off if off is not None else cc.data_page_offset)
        compressed += cc.total_compressed_size
    return min(starts), compressed


def _select_row_groups_for_range(meta, start: int, end: int,
                                 filters) -> list[int]:
    """TASK-side split resolution (Hadoop protocol): the row groups whose
    byte MIDPOINT falls in [start, end) — contiguous ranges tile the
    file, so every row group lands in exactly one partition — minus the
    groups the footer stats refute for ``filters`` (lossless, see
    ``_rg_may_match``)."""
    col_idx = _col_index(meta, filters)
    out = []
    for rg in range(meta.num_row_groups):
        rg_start, rg_bytes = _rg_span(meta.row_group(rg))
        mid = rg_start + rg_bytes // 2
        if not (start <= mid < end):
            continue
        if filters and not _rg_may_match(meta, rg, col_idx, filters):
            continue
        out.append(rg)
    return out


def _range_plan(objects, part_bytes: int):
    """[(ref, size, start, end), ...] — byte-range partitions from the
    objects' sizes ALONE (no footer reads on the driver)."""
    parts = []
    for key, size in objects:
        start = 0
        while start < size:
            end = min(start + part_bytes, size)
            parts.append((key, size, start, end))
            start = end
    return parts


def _declared_entries(opts: dict, key: str) -> list[tuple[str, int | None]] | None:
    """Explicit-object declaration for a scan: option ``key`` is a JSON
    list of object URLs, each optionally a ``[url, size_bytes]`` pair.
    Sized entries plan with zero size probes — how a manifest-committed
    table (sources/objectindex) turns its manifest into a scan: re-listing
    the store would only re-discover what the commit recorded, and could
    observe uncommitted writers. Returns ``None`` when the option is
    absent."""
    import json

    raw = opts.get(key)
    if not raw:
        return None
    urls = json.loads(raw) if isinstance(raw, str) else list(raw)
    if not urls:
        raise ValueError(f"{key!r} option is an empty list")
    return [
        (str(u[0]), int(u[1])) if isinstance(u, (list, tuple)) and len(u) == 2
        else (str(u), None)
        for u in urls
    ]


class _RangedParquetSource(DataSource):
    """The one parquet scan over a ranged-GET store; a subclass names its
    format and sets ``store`` to the store class (see the module
    docstring for the store interface)."""

    store: type
    suffixes = (".parquet", ".pq")

    def schema(self):
        import pyarrow as pa
        from pyspark.sql.pandas.types import from_arrow_schema

        opts = dict(self.options)
        store = self.store(opts, self.suffixes)
        # parquet is self-describing: the first object's footer, probing
        # that object's size alone (a declared size skips even that).
        ref, size = store.entries()[0]
        pf = _open(store, ref, store.probe_size(ref) if size is None else size)
        arrow_schema = pf.schema_arrow
        cols = _parse_columns(opts)
        if cols:
            arrow_schema = pa.schema([arrow_schema.field(c) for c in cols])
        _parse_filters(opts)  # validate triples at planning time
        return from_arrow_schema(arrow_schema)

    def reader(self, schema):
        opts = dict(self.options)
        return _ParquetReader(schema, opts, self.store(opts, self.suffixes))


class _ParquetReader(DataSourceReader):
    def __init__(self, schema, options: dict, store):
        self.schema = schema
        self.options = options
        self.store = store
        self.part_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )
        self._parts: list | None = None
        self._pushed: list[tuple[str, str, object]] = []

    def pushFilters(self, filters):
        """Catalyst's conjunctive predicates over this scan (Spark 4.1
        Python Data Source pushdown; requires
        ``spark.sql.python.filterPushdown.enabled``). Each task feeds them
        into the footer-stats row-group pruner — provably-empty row
        groups never transfer. EVERY filter is returned unconsumed: stats
        pruning cannot evaluate predicates, so Spark must keep exact
        filtering above the scan (correctness does not depend on the
        pruning at all)."""
        self._pushed = _triples_from_pushed(filters)
        return filters

    def _filters(self) -> list[tuple[str, str, object]]:
        return _parse_filters(self.options) + self._pushed

    def partitions(self):
        # Cache the plan on the reader: repeated planner calls within one
        # scan's lifetime must not re-pay the listing or the size probes.
        if self._parts is None:
            self._parts = [InputPartition(p) for p in self._plan()]
        return self._parts

    def _plan(self) -> list:
        """Byte ranges from sizes alone (the Hadoop split protocol): zero
        footer reads on the driver; tasks read their own footers, claim
        row groups by midpoint and prune."""
        store = self.store
        entries = store.entries()
        unsized = [ref for ref, size in entries if size is None]
        probe_max = int(self.options.get(
            "size_probe_max_files", DEFAULT_SIZE_PROBE_MAX_FILES,
        ))
        if len(unsized) > probe_max:
            # size-deferred partitions: zero planning requests; each task
            # probes its own file (size=None sentinel) and claims every
            # surviving row group.
            sized = [e for e in entries if e[1] is not None]
            return (_range_plan(sized, self.part_bytes)
                    + [(ref, None, 0, None) for ref in unsized])
        probed = dict(zip(unsized, _pool_map(store.probe_size, unsized)))
        return _range_plan(
            [(ref, probed[ref] if size is None else size)
             for ref, size in entries],
            self.part_bytes,
        )

    def read(self, partition):
        # An EMPTY plan (only zero-byte objects) comes back here as a
        # single None partition: pyspark's plan_data_source_read
        # substitutes [None] when partitions() returns [].
        if partition is None:
            return
        store = self.store
        ref, size, start, end = partition.value
        if size is None:  # size-deferred whole-file partition
            size = end = store.probe_size(ref)
        pf = _open(store, ref, size)
        row_groups = _select_row_groups_for_range(
            pf.metadata, start, end, self._filters(),
        )
        if not row_groups:
            return
        cols = _parse_columns(self.options)
        # Arrow fast path: yield RecordBatches, never per-row Python.
        # With a projection, pyarrow reads ONLY the requested columns'
        # pages (columnar byte ranges); select() pins the declared
        # column order.
        for batch in pf.iter_batches(row_groups=row_groups, columns=cols):
            yield batch.select(cols) if cols else batch


# -- the S3 store ------------------------------------------------------------

def _list_objects(client, bucket: str, key: str,
                  suffixes: tuple[str, ...]) -> list[tuple[str, int]]:
    """(key, size) for `key` itself or every object under the prefix whose
    name ends in one of ``suffixes``."""
    out: list[tuple[str, int]] = []
    if key and not key.endswith("/"):
        try:
            head = client.head_object(Bucket=bucket, Key=key)
            return [(key, head["ContentLength"])]
        except Exception as exc:
            # Only "no such object" means "treat it as a prefix". An auth
            # or network failure must surface, not be masked as an empty
            # directory (the eventual FileNotFoundError would point at a
            # path that exists).
            code = str(
                getattr(exc, "response", {}).get("Error", {}).get("Code", "")
            )
            if code not in ("404", "NoSuchKey", "NotFound"):
                raise
            key = key + "/"
    token = None
    while True:
        kwargs = {"Bucket": bucket, "Prefix": key}
        if token:
            kwargs["ContinuationToken"] = token
        page = client.list_objects_v2(**kwargs)
        for obj in page.get("Contents", []):
            k = obj["Key"]
            if k.endswith(suffixes):
                out.append((k, obj["Size"]))
        if not page.get("IsTruncated"):
            break
        token = page["NextContinuationToken"]
    if not out:
        raise FileNotFoundError(
            f"no {suffixes[0][1:]} objects under s3://{bucket}/{key}"
        )
    return sorted(out)


_CLIENT_LOCK = threading.Lock()


class _S3Store:
    """The objects of one s3:// (or gs://, through GCS's S3-interop
    endpoint) scan, declared by a ``path`` prefix or a ``paths`` list.
    Refs are object keys; all objects live in ONE bucket — a partition
    records only its key, and the read path binds one bucket per scan. A
    prefix lists the objects whose names end in ``suffixes`` (the
    format's, from the source class)."""

    def __init__(self, opts: dict,
                 suffixes: tuple[str, ...] = (".parquet", ".pq")):
        self.opts, self.suffixes = opts, suffixes
        # Resolved ONCE and pickled to executors: with an explicit-list
        # scan the `paths` option IS the manifest, and re-deriving the
        # bucket per read() call would re-parse that JSON per partition.
        paths = _declared_entries(opts, "paths")
        self.bucket = _split_url(opts["path"] if paths is None
                                 else paths[0][0])[0]
        self._c = None

    def __getstate__(self):
        return dict(self.__dict__, _c=None)  # clients don't pickle

    @property
    def client(self):
        with _CLIENT_LOCK:  # the planner's size-probe pool shares one client
            if self._c is None:
                self._c = _client(self.opts)
        return self._c

    def entries(self) -> list[tuple[str, int | None]]:
        """``(key, size)`` from the prefix listing (sizes ride the
        listing), or from ``paths``: zero ListObjects, sizes only where
        the declaration carries them."""
        paths = _declared_entries(self.opts, "paths")
        if paths is None:
            key = _split_url(self.opts["path"])[1]
            return _list_objects(self.client, self.bucket, key, self.suffixes)
        out = []
        for url, size in paths:
            b, k = _split_url(url)
            if b != self.bucket:
                raise ValueError(
                    "'paths' entries span buckets "
                    f"({self.bucket!r} vs {b!r}); one scan binds one "
                    "bucket — register one table per bucket"
                )
            out.append((k, size))
        return sorted(out, key=lambda e: e[0])

    def probe_size(self, key: str) -> int:
        return self.client.head_object(
            Bucket=self.bucket, Key=key
        )["ContentLength"]

    def head(self, key: str) -> tuple[int, bool]:
        return self.probe_size(key), True  # S3 serves every Range

    def get(self, key: str, start: int, end: int) -> bytes:
        return self.client.get_object(
            Bucket=self.bucket, Key=key, Range=f"bytes={start}-{end}",
        )["Body"].read()


class S3ParquetDataSource(_RangedParquetSource):
    """``spark.read.format("s3parquet").option("path", "s3://b/prefix")``,
    or ``.option("paths", json_list)`` — an explicit object list whose
    elements may be ``[url, size_bytes]`` pairs for zero-probe planning
    (the scan form a manifest-committed table resolves to)."""

    store = _S3Store

    @classmethod
    def name(cls) -> str:
        return "s3parquet"


def _enable_python_filter_pushdown(spark) -> None:
    """Spark REFUSES to plan a Python data source that implements
    ``pushFilters`` while ``spark.sql.python.filterPushdown.enabled`` is
    false (explicit error, not a silent skip), so registration turns the
    conf on. Runtime-settable SQLConf; best-effort for locked-down
    sessions — planning will then surface Spark's own error naming the
    conf."""
    key = "spark.sql.python.filterPushdown.enabled"
    try:
        if spark.conf.get(key, "false") == "true":
            return  # already on (by us or the user) — nothing to re-assert
        # An explicit user opt-out must STICK: once this facade has set the
        # conf, a later `spark.conf.set(key, "false")` is the user's call
        # and no subsequent register_* re-overrides it — scans of these
        # formats then fail with Spark's error naming this conf.
        flag = f"_dfrs_set_{key.replace('.', '_')}"
        if getattr(spark, flag, False):
            return
        # Visible, not silent: this is a session-wide toggle and also
        # affects the user's OWN Python data sources.
        import logging

        logging.getLogger(__name__).info(
            "enabling %s (required by the s3parquet/httpparquet "
            "pushFilters implementation)", key,
        )
        spark.conf.set(key, "true")
        try:
            setattr(spark, flag, True)
        except Exception:  # noqa: BLE001 - frozen session object: worst
            pass           # case the next register re-checks the conf
    except Exception:  # noqa: BLE001 - conf locked; Spark's error names it
        pass


def register_s3_parquet(spark) -> None:
    """Idempotently register the ``s3parquet`` format on a session."""
    _enable_python_filter_pushdown(spark)
    spark.dataSource.register(S3ParquetDataSource)
