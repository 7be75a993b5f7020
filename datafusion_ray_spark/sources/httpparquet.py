"""The http(s) store of the ranged readers — extends the reference's
http object-store capability (its ``src/util.rs:523-580`` registers an
http store from the URL scheme; its DataFusion scans then ranged-read
parquet and CSV over it) to this engine's
``register_parquet("https://...")`` and ``register_csv("https://...")``.

The scans themselves are the ranged-parquet reader in
``sources/s3store.py`` and the ranged CSV reader in ``sources/httpcsv.py``;
this module supplies only what http does differently: resolving the
scan's objects from ``url``, ``urls`` or ``manifest``, one HEAD for size
and ``Accept-Ranges``, a size probe (HEAD, or a 1-byte Range GET when the
server hides Content-Length), and the urllib Range GET.

A server without Range support answers a ranged GET with the whole
object; the store raises :class:`RangeUnsupportedError` carrying that
body, and the parquet reader's ranged file keeps it and serves the task's
remaining reads from memory — still on the executor, never a driver
spool. CSV plans such a server's object as one whole-object partition,
read by an executor with an open-ended GET.
"""

from __future__ import annotations

import urllib.request

from .s3store import (
    RangeUnsupportedError,
    _RangedParquetSource,
    _declared_entries,
    _enable_python_filter_pushdown,
    redact_url,
)

#: one manifest fetch serves a whole scan: ``schema()`` and the reader's
#: ``partitions()`` both resolve the URL list, and fetching twice is a
#: TOCTOU if the manifest changes between the calls — plan against ONE
#: snapshot. Keyed by manifest URL; short TTL so repeated scans of a
#: growing dataset still see appends. Driver-side only (executors never
#: resolve manifests; partitions carry concrete URLs).
_MANIFEST_TTL_S = 60.0
_MANIFEST_CACHE: dict[str, tuple[float, list[tuple[str, int | None]]]] = {}


def _parse_manifest(body: str, murl: str) -> list[tuple[str, int | None]]:
    """Manifest body -> [(url, size_bytes | None)]. One entry per line,
    ``#`` comments allowed; an entry is ``url`` or ``url<whitespace>bytes``
    (the size-annotated form: with sizes the split planner needs ZERO
    per-URL HEAD probes — one manifest fetch plans an 800k-object
    dataset, matching the s3 path where sizes ride the listing).
    Entries resolve with URL-join semantics against the manifest's URL:
    relative (``a.parquet``), root-relative (``/data/a.parquet``), and
    absolute forms all work, and the manifest's own query string /
    fragment never leaks into resolved object URLs — a presigned manifest
    (``.../manifest.txt?X-Amz-Signature=...``) yields clean object
    paths."""
    from urllib.parse import urljoin

    entries: list[tuple[str, int | None]] = []
    for line in body.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        url, size = line, None
        parts = line.rsplit(None, 1)
        if len(parts) == 2 and parts[1].isdigit():
            url, size = parts[0], int(parts[1])
        entries.append((urljoin(murl, url), size))
    if not entries:
        raise FileNotFoundError(
            f"manifest {redact_url(murl)} lists no object URLs"
        )
    return entries


def _manifest_entries(murl: str) -> list[tuple[str, int | None]]:
    import time

    hit = _MANIFEST_CACHE.get(murl)
    now = time.monotonic()
    if hit is not None and now - hit[0] < _MANIFEST_TTL_S:
        return hit[1]
    with urllib.request.urlopen(murl, timeout=60.0) as resp:  # noqa: S310 - user-supplied source
        body = resp.read().decode("utf-8", "replace")
    entries = _parse_manifest(body, murl)
    if len(_MANIFEST_CACHE) >= 8:  # bounded; oldest snapshot out
        _MANIFEST_CACHE.pop(min(_MANIFEST_CACHE, key=lambda k: _MANIFEST_CACHE[k][0]))
    _MANIFEST_CACHE[murl] = (now, entries)
    return entries


class _HTTPStore:
    """The objects of one http(s) scan. Three declaration forms:

    - ``url``: one object;
    - ``urls``: a JSON list of object URLs — the multi-object analogue of
      the reference's listing behavior over an http store, which has no
      generic listing protocol to discover objects with; an element may
      also be a ``[url, size_bytes]`` pair, giving the list form the same
      zero-probe split planning as a size-annotated manifest;
    - ``manifest``: a URL whose body LISTS object URLs (one per line,
      ``#`` comments allowed, optional ``url<whitespace>bytes`` size
      annotation) — how a 100 TB publisher actually exposes a many-file
      dataset over plain http.

    Refs are object URLs. ``suffixes`` is unused: http objects are
    declared, never listed."""

    timeout = 60.0

    def __init__(self, opts: dict, suffixes: tuple[str, ...] = ()):
        self.opts = opts

    def entries(self) -> list[tuple[str, int | None]]:
        if self.opts.get("manifest"):
            return _manifest_entries(self.opts["manifest"])
        return (_declared_entries(self.opts, "urls")
                or [(self.opts["url"], None)])

    def head(self, url: str) -> tuple[int | None, bool]:
        """``(Content-Length, serves Range)`` from one HEAD request;
        ``(None, False)`` when the HEAD itself fails."""
        req = urllib.request.Request(url, method="HEAD")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:  # noqa: S310 - user-supplied source
                length = resp.headers.get("Content-Length")
                ranges = resp.headers.get("Accept-Ranges", "").lower()
                return (int(length) if length else None), ranges == "bytes"
        except Exception:  # noqa: BLE001 - callers fall back
            return None, False

    def probe_size(self, url: str) -> int:
        """Object size via HEAD; falls back to a 1-byte Range GET's
        Content-Range header (servers that hide Content-Length on
        HEAD)."""
        size, _ranged = self.head(url)
        if size is not None:
            return size
        req = urllib.request.Request(url, headers={"Range": "bytes=0-0"})
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:  # noqa: S310
            rng = resp.headers.get("Content-Range", "")
            if "/" in rng:
                return int(rng.rsplit("/", 1)[1])
            # Range-less server answering 200: its Content-Length IS the
            # object size (the body is discarded; the reader's first GET
            # fetches the whole object again and keeps it).
            length = resp.headers.get("Content-Length")
            if resp.status == 200 and length:
                return int(length)
        raise RangeUnsupportedError(
            f"cannot determine object size for {redact_url(url)}"
        )

    def get(self, url: str, start: int, end: int | None) -> bytes:
        """Bytes ``[start, end]``; ``end=None`` reads to the end of the
        object, and a 200 carrying the whole object then answers an
        open range from 0. A 200 to any other range raises
        :class:`RangeUnsupportedError` with the whole object as its
        ``body`` (a server without Range support)."""
        rng = f"bytes={start}-{'' if end is None else end}"
        req = urllib.request.Request(url, headers={"Range": rng})
        with urllib.request.urlopen(req, timeout=self.timeout) as resp:  # noqa: S310
            body = resp.read()
        if resp.status == 206 or (resp.status == 200 and start == 0
                                  and end is None):
            return body
        raise RangeUnsupportedError(
            f"server ignored Range request for {redact_url(url)} "
            f"(HTTP {resp.status})",
            body if resp.status == 200 else None,
        )


class HTTPParquetDataSource(_RangedParquetSource):
    """``spark.read.format("httpparquet").option("url", "https://...")``
    (single object), ``.option("urls", json_list)`` (explicit multi-
    object), or ``.option("manifest", "https://.../manifest.txt")``."""

    store = _HTTPStore

    @classmethod
    def name(cls) -> str:
        return "httpparquet"


def register_http_parquet(spark) -> None:
    """Idempotently register the ``httpparquet`` format on a session."""
    _enable_python_filter_pushdown(spark)
    spark.dataSource.register(HTTPParquetDataSource)
