from __future__ import annotations

import http.server
import io
import os
import threading
from typing import NamedTuple

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from datafusion_ray_spark.session import build_session
from datafusion_ray_spark.sources.tables import duckdb_register

# Tests iterate at the smallest scale factor; the driver's correctness gate
# reruns the same comparison at sf0.01 (TESTDATA.md).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="datafusion_ray_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    duckdb_register(con, SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# -- ranged-store harness ----------------------------------------------------
# One request log for both stores of the ranged readers: the local http
# Range server below, and the S3 client recorder. Both count what the
# ranged readers asked for in THIS process — reader-level calls and the
# http server's view of every Spark task; an S3 recorder does not reach
# Spark's Python workers.


class Request(NamedTuple):
    method: str  # "GET"/"HEAD" on http; the boto3 operation on S3
    ref: str | None  # http path or S3 key
    span: tuple[int, int | None] | None  # requested byte range, if any
    nbytes: int  # body bytes served


class RequestLog:
    def __init__(self) -> None:
        self.requests: list[Request] = []
        self._lock = threading.Lock()

    def add(self, *fields) -> None:
        with self._lock:
            self.requests.append(Request(*fields))

    def clear(self) -> None:
        with self._lock:
            self.requests = []

    @property
    def bytes(self) -> int:
        return sum(r.nbytes for r in self.requests)

    def count(self, method: str) -> int:
        return sum(r.method == method for r in self.requests)

    def row_groups_read(self, ref: str, payload: bytes) -> set[int]:
        """Row groups of ``payload`` (served as ``ref``) whose column
        chunks some ranged request reached, footer-tail probes excluded:
        the row groups the scan's tasks actually read."""
        from datafusion_ray_spark.sources.s3store import _FOOTER_PROBE, _rg_span

        size = len(payload)
        tail = (max(0, size - _FOOTER_PROBE), size - 1)
        spans = [r.span for r in self.requests
                 if r.ref == ref and r.span is not None and r.span != tail]
        meta = pq.ParquetFile(io.BytesIO(payload)).metadata
        out = set()
        for rg in range(meta.num_row_groups):
            lo, n = _rg_span(meta.row_group(rg))
            if any(s <= lo + n - 1 and (e is None or e >= lo)
                   for s, e in spans):
                out.add(rg)
        return out


class _RangeHandler(http.server.BaseHTTPRequestHandler):
    server_state: "RangeServer"

    def log_message(self, *a):  # quiet
        pass

    def do_HEAD(self):
        state = self.server_state
        body = state.payloads.get(self.path)
        state.log.add("HEAD", self.path, None, 0)
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        if state.ranges:
            self.send_header("Accept-Ranges", "bytes")
        self.end_headers()

    def do_GET(self):
        state = self.server_state
        body = state.payloads.get(self.path)
        rng = self.headers.get("Range")
        span = None
        if rng:
            s, e = rng.split("=", 1)[1].split("-", 1)
            span = (int(s), int(e) if e else None)
        status, content_range = 200, None
        if body is None:
            status, body = 404, b""
        elif span and state.ranges:
            start, total = span[0], len(body)
            if start >= total:
                status, body = 416, b""
            else:
                end = min(total - 1 if span[1] is None else span[1], total - 1)
                status, body = 206, body[start:end + 1]
                content_range = f"bytes {start}-{end}/{total}"
        state.log.add("GET", self.path, span, len(body))
        self.send_response(status)
        if content_range:
            self.send_header("Content-Range", content_range)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class RangeServer:
    """A local http server over ``payloads`` (path -> bytes). ``ranges``
    switches Range support: off, HEAD omits ``Accept-Ranges`` and every
    GET answers 200 with the whole object. ``log`` records each request."""

    def __init__(self) -> None:
        self.payloads: dict[str, bytes] = {}
        self.ranges = True
        self.log = RequestLog()
        handler = type("Handler", (_RangeHandler,), {"server_state": self})
        self._srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
        threading.Thread(target=self._srv.serve_forever, daemon=True).start()
        self.base = f"http://127.0.0.1:{self._srv.server_address[1]}"

    def url(self, path: str) -> str:
        return self.base + path

    def close(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()


@pytest.fixture()
def range_server():
    srv = RangeServer()
    yield srv
    srv.close()


class _RecordingS3Client:
    """Wraps a boto3 S3 client; every operation lands in ``log``, a
    ranged ``get_object`` with its span and body size."""

    def __init__(self, inner, log: RequestLog) -> None:
        self._inner, self._log = inner, log

    def __getattr__(self, op):
        fn = getattr(self._inner, op)

        def call(**kw):
            resp = fn(**kw)
            span, nbytes = None, 0
            if op == "get_object":
                body = resp["Body"].read()
                resp["Body"] = io.BytesIO(body)
                nbytes = len(body)
                if "Range" in kw:
                    lo, hi = kw["Range"][len("bytes="):].split("-")
                    span = (int(lo), int(hi))
            self._log.add(op, kw.get("Key", kw.get("Prefix")), span, nbytes)
            return resp

        return call


@pytest.fixture()
def s3_log(monkeypatch) -> RequestLog:
    """Records every S3 call the ranged stores make in this process
    (``s3store._client`` is the one place they make a client)."""
    from datafusion_ray_spark.sources import s3store

    log = RequestLog()
    real = s3store._client
    monkeypatch.setattr(
        s3store, "_client", lambda opts: _RecordingS3Client(real(opts), log)
    )
    return log


@pytest.fixture(scope="session")
def pushdown_parquet() -> bytes:
    """80k rows in 8 row groups of 10k: ascending ``k`` (tight row-group
    stats), ``v``, and ``s``, unique per row so dictionary encoding
    cannot collapse it (about 2 MB)."""
    n = 80_000
    t = pa.table({
        "k": list(range(n)),
        "v": [float(i % 997) for i in range(n)],
        "s": [f"payload-{i:012d}-{(i * 2654435761) % 10**12:012d}"
              for i in range(n)],
    })
    buf = io.BytesIO()
    pq.write_table(t, buf, row_group_size=10_000)
    return buf.getvalue()
