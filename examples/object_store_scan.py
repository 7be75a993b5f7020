"""Object-store scans without connector jars — the reference's scheme-based
registration (``/root/reference/src/util.rs:523-580``: s3/gs/http stores
from the URL scheme) on a bare-Python Spark.

Demonstrates, against a LIVE local S3 endpoint (moto) and a local HTTP
Range server:

- ``register_parquet("s3://...")`` falling back to the DISTRIBUTED boto3
  source (byte-range partitions, executor-side Range GETs);
- AUTOMATIC predicate pushdown (round-10): a plain SQL ``WHERE`` prunes
  row groups from footer min/max stats via Spark 4.1 ``pushFilters`` —
  observe the rows the scan reads drop, no options declared;
- multi-object http parquet via a URL list, planned across all objects;
- s3:// CSV through the same ranged CSV reader over the S3 store, split
  by byte range; provenance shows the ``s3://`` path.

Run: python examples/object_store_scan.py [sf_dir]
(requires boto3 + moto; prints a skip note and exits cleanly without)
"""

from __future__ import annotations

import io
import os
import sys

try:
    import boto3
    from moto.server import ThreadedMotoServer
except ImportError:  # capability gate, same as the test suite's
    boto3 = None

import http.server
import threading

import pyarrow as pa
import pyarrow.parquet as pq

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def main() -> None:
    if boto3 is None:
        print("object_store_scan: boto3/moto not installed; skipping demo")
        return

    from datafusion_ray_spark.context import DFRayContext

    # --- a live S3 endpoint with one multi-row-group parquet object ----
    server = ThreadedMotoServer(port=0)
    server.start()
    host, port = server.get_host_and_port()
    endpoint = f"http://{host}:{port}"
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "demo")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "demo")
    client = boto3.client("s3", endpoint_url=endpoint,
                          region_name="us-east-1")
    client.create_bucket(Bucket="demo")
    table = pa.table({
        "k": list(range(80_000)),
        "v": [float(i % 97) for i in range(80_000)],
    })
    buf = io.BytesIO()
    pq.write_table(table, buf, row_group_size=10_000)
    client.put_object(Bucket="demo", Key="t/events.parquet",
                      Body=buf.getvalue())
    rows = "".join(f"{i},{i % 7}\n" for i in range(1000))
    client.put_object(Bucket="demo", Key="t/dim.csv",
                      Body=f"id,grp\n{rows}".encode())

    ctx = DFRayContext()
    creds = dict(endpoint_url=endpoint, access_key="demo",
                 secret_key="demo", region="us-east-1")

    # --- distributed jar-less s3:// scan + AUTOMATIC pushdown ----------
    ctx.register_parquet("events_s3", "s3://demo/t/events.parquet",
                         partition_bytes=200_000, **creds)
    parts = ctx.spark.table("events_s3").rdd.getNumPartitions()
    filt = ctx.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS mn FROM events_s3 "
        "WHERE k >= 60000"
    )
    got = filt.collect()[0].to_pydict()
    scanned = sum(
        vals["numOutputRows"]
        for node, vals in filt.execution_metrics().items()
        if node.startswith("BatchScan")
    )
    print(f"s3 scan: {parts} byte-range partitions; a plain WHERE read "
          f"{scanned // 10_000} of 8 row groups (pushFilters pruning)")
    print(f"s3 exact answer: n={got['n'][0]} min_k={got['mn'][0]}")

    # --- s3:// CSV: byte-range partitions over the S3 store ------------
    ctx.register_csv("dim_s3", "s3://demo/t/dim.csv", partition_bytes=2048,
                     **creds)
    assert ctx.tables()["dim_s3"] == "s3://demo/t/dim.csv"
    parts = ctx.spark.table("dim_s3").rdd.getNumPartitions()
    n = ctx.sql("SELECT COUNT(*) AS n FROM dim_s3").collect()[0]["n"][0]
    print(f"s3 CSV rows: {n} in {parts} byte-range partitions; "
          f"provenance: {ctx.tables()['dim_s3']}")

    # --- multi-object http parquet via a URL list ----------------------
    payloads = {}
    for name, lo in (("/a.parquet", 0), ("/b.parquet", 5000)):
        t = pa.table({"k": list(range(lo, lo + 5000))})
        b = io.BytesIO()
        pq.write_table(t, b, row_group_size=2500)
        payloads[name] = b.getvalue()

    class H(http.server.BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_HEAD(self):
            body = payloads.get(self.path)
            self.send_response(200 if body else 404)
            if body:
                self.send_header("Content-Length", str(len(body)))
                self.send_header("Accept-Ranges", "bytes")
            self.end_headers()

        def do_GET(self):
            body = payloads.get(self.path)
            if body is None:
                self.send_response(404)
                self.end_headers()
                return
            rng = self.headers.get("Range")
            if rng:
                s, e = rng.split("=", 1)[1].split("-", 1)
                start = int(s)
                end = min(int(e) if e else len(body) - 1, len(body) - 1)
                part = body[start:end + 1]
                self.send_response(206)
                self.send_header(
                    "Content-Range", f"bytes {start}-{end}/{len(body)}")
                body = part
            else:
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    ctx.register_parquet(
        "http_multi", [f"{base}/a.parquet", f"{base}/b.parquet"],
        partition_bytes=8192,
    )
    agg = ctx.sql(
        "SELECT COUNT(*) AS n, MAX(k) AS mx FROM http_multi"
    ).collect()[0].to_pydict()
    print(f"multi-object http parquet: n={agg['n'][0]} max_k={agg['mx'][0]}")

    # --- size-annotated manifest: zero per-URL probes at planning ------
    # `url<whitespace>bytes` lines are how a 100 TB publisher should ship
    # a many-file dataset: with sizes in the manifest, planning issues NO
    # HEAD/GET per object — one manifest fetch plans everything.
    payloads["/manifest.txt"] = "".join(
        f"{p.lstrip('/')}\t{len(b)}\n" for p, b in sorted(payloads.items())
        if p.endswith(".parquet")
    ).encode()
    ctx.register_parquet(
        "http_manifest", f"{base}/manifest.txt", manifest=True,
        partition_bytes=4096,
    )
    agg = ctx.sql(
        "SELECT COUNT(*) AS n, MIN(k) AS mn FROM http_manifest"
    ).collect()[0].to_pydict()
    print(f"sized-manifest http parquet: n={agg['n'][0]} min_k={agg['mn'][0]}")

    srv.shutdown()
    server.stop()
    ctx.spark.stop()


if __name__ == "__main__":
    main()
