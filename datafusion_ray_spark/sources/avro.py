"""Minimal pure-Python Avro Object Container File reader/writer.

Implements the public Avro 1.x specification
(https://avro.apache.org/docs/current/specification/): zigzag-varint
primitives, records/enums/arrays/maps/unions/fixed, and the ``null`` /
``deflate`` codecs — all stdlib, no third-party avro package.

Purpose: the reference registers Avro sources natively
(``datafusion.proto:715``); Spark needs the separate ``spark-avro``
connector jar, which a bare Spark install lacks.
``DFRayContext.register_avro`` uses the connector when present and falls
back to this module's distributed ``pyavro`` Data Source otherwise.
``read_avro`` decodes one file on the driver: the reference decoder the
tests compare against.

The writer covers flat records of primitives (round-trip tests and
interchange); the reader covers the full standard type system.
"""

from __future__ import annotations

import io
import json
import struct
import zlib

MAGIC = b"Obj\x01"


# ---------------------------------------------------------------------------
# binary decoding (spec: "Binary Encoding")


class _Decoder:
    def __init__(self, buf: bytes):
        self._b = buf
        self._pos = 0

    def read(self, n: int) -> bytes:
        out = self._b[self._pos : self._pos + n]
        if len(out) != n:
            raise EOFError("truncated avro data")
        self._pos += n
        return out

    def read_long(self) -> int:
        shift = 0
        accum = 0
        while True:
            byte = self._b[self._pos]
            self._pos += 1
            accum |= (byte & 0x7F) << shift
            if not byte & 0x80:
                break
            shift += 7
        return (accum >> 1) ^ -(accum & 1)  # zigzag

    def read_null(self):
        return None

    def read_boolean(self) -> bool:
        return self.read(1) != b"\x00"

    def read_float(self) -> float:
        return struct.unpack("<f", self.read(4))[0]

    def read_double(self) -> float:
        return struct.unpack("<d", self.read(8))[0]

    def read_bytes(self) -> bytes:
        return self.read(self.read_long())

    def read_string(self) -> str:
        return self.read_bytes().decode("utf-8")


def _read_datum(dec: _Decoder, schema):
    if isinstance(schema, str):
        t = schema
        if t == "null":
            return None
        if t == "boolean":
            return dec.read_boolean()
        if t in ("int", "long"):
            return dec.read_long()
        if t == "float":
            return dec.read_float()
        if t == "double":
            return dec.read_double()
        if t == "bytes":
            return dec.read_bytes()
        if t == "string":
            return dec.read_string()
        raise ValueError(f"unknown avro type: {t}")
    if isinstance(schema, list):  # union: long index + value
        return _read_datum(dec, schema[dec.read_long()])
    t = schema["type"]
    if t == "record":
        return {f["name"]: _read_datum(dec, f["type"]) for f in schema["fields"]}
    if t == "enum":
        return schema["symbols"][dec.read_long()]
    if t == "fixed":
        return dec.read(schema["size"])
    if t == "array":
        out = []
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:  # block with byte-size prefix
                n = -n
                dec.read_long()
            for _ in range(n):
                out.append(_read_datum(dec, schema["items"]))
        return out
    if t == "map":
        out = {}
        while True:
            n = dec.read_long()
            if n == 0:
                break
            if n < 0:
                n = -n
                dec.read_long()
            for _ in range(n):
                out[dec.read_string()] = _read_datum(dec, schema["values"])
        return out
    # logical types / aliases ride on an underlying primitive "type"
    return _read_datum(dec, t)


def read_avro(path: str):
    """Read an Avro container file -> (schema dict, list of row dicts)."""
    with open(path, "rb") as f:
        data = f.read()
    dec = _Decoder(data)
    if dec.read(4) != MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    meta = {}
    while True:
        n = dec.read_long()
        if n == 0:
            break
        if n < 0:
            n = -n
            dec.read_long()
        for _ in range(n):
            k = dec.read_string()
            meta[k] = dec.read_bytes()
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r} not supported (null/deflate only)")
    sync = dec.read(16)
    rows = []
    while dec._pos < len(data):
        count = dec.read_long()
        size = dec.read_long()
        block = dec.read(size)
        if codec == "deflate":
            block = zlib.decompress(block, -15)
        bdec = _Decoder(block)
        for _ in range(count):
            rows.append(_read_datum(bdec, schema))
        if dec.read(16) != sync:
            raise ValueError(f"{path}: sync marker mismatch (corrupt file)")
    return schema, rows


# ---------------------------------------------------------------------------
# binary encoding (writer: flat records of primitives, for round trips)


class _Encoder:
    def __init__(self):
        self._out = io.BytesIO()

    def write(self, b: bytes):
        self._out.write(b)

    def write_long(self, v: int):
        v = (v << 1) ^ (v >> 63)  # zigzag
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                self.write(bytes([b | 0x80]))
            else:
                self.write(bytes([b]))
                break

    def write_boolean(self, v: bool):
        self.write(b"\x01" if v else b"\x00")

    def write_float(self, v: float):
        self.write(struct.pack("<f", v))

    def write_double(self, v: float):
        self.write(struct.pack("<d", v))

    def write_bytes(self, v: bytes):
        self.write_long(len(v))
        self.write(v)

    def write_string(self, v: str):
        self.write_bytes(v.encode("utf-8"))

    def value(self) -> bytes:
        return self._out.getvalue()


def _write_datum(enc: _Encoder, schema, v):
    if isinstance(schema, list):  # union — pick the branch by value
        if v is None and "null" in schema:
            idx = schema.index("null")
        else:
            idx = next(i for i, s in enumerate(schema) if s != "null")
        enc.write_long(idx)
        return _write_datum(enc, schema[idx], v)
    if isinstance(schema, dict):
        if schema["type"] == "record":
            for f in schema["fields"]:
                _write_datum(enc, f["type"], v[f["name"]])
            return
        if schema["type"] == "array":
            if v:
                enc.write_long(len(v))
                for item in v:
                    _write_datum(enc, schema["items"], item)
            enc.write_long(0)
            return
        raise NotImplementedError(f"writer: unsupported complex type {schema['type']}")
    t = schema
    if t == "null":
        return
    if t == "boolean":
        return enc.write_boolean(v)
    if t in ("int", "long"):
        return enc.write_long(v)
    if t == "float":
        return enc.write_float(v)
    if t == "double":
        return enc.write_double(v)
    if t == "bytes":
        return enc.write_bytes(v)
    if t == "string":
        return enc.write_string(v)
    raise NotImplementedError(f"writer: unsupported type {t}")


def write_avro(path: str, schema: dict, rows: list[dict], codec: str = "null",
               block_rows: int | None = None) -> None:
    """Write rows (list of dicts) as an Avro container file; ``block_rows``
    splits the data into multiple sync-delimited blocks (the unit the
    distributed reader parallelizes over)."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError("null/deflate codecs only")
    sync = b"\x00" * 8 + b"sparkavro"[:8]
    enc = _Encoder()
    enc.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
    enc.write_long(len(meta))
    for k, v in meta.items():
        enc.write_string(k)
        enc.write_bytes(v)
    enc.write_long(0)
    enc.write(sync)
    step = block_rows or max(1, len(rows))
    for off in range(0, len(rows), step):
        chunk = rows[off : off + step]
        body = _Encoder()
        for row in chunk:
            _write_datum(body, schema, row)
        payload = body.value()
        if codec == "deflate":
            payload = zlib.compress(payload)[2:-4]  # raw deflate (no zlib header)
        enc.write_long(len(chunk))
        enc.write_long(len(payload))
        enc.write(payload)
        enc.write(sync)
    with open(path, "wb") as f:
        f.write(enc.value())


# ---------------------------------------------------------------------------
# avro schema -> Spark schema


def avro_to_spark_type(schema):
    from pyspark.sql import types as T

    if isinstance(schema, list):  # union: nullable non-null branch
        non_null = [s for s in schema if s != "null"]
        if len(non_null) != 1:
            raise NotImplementedError("only [null, X] unions map to Spark types")
        return avro_to_spark_type(non_null[0])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return T.StructType(
                [
                    T.StructField(f["name"], avro_to_spark_type(f["type"]), True)
                    for f in schema["fields"]
                ]
            )
        if t == "array":
            return T.ArrayType(avro_to_spark_type(schema["items"]))
        if t == "map":
            return T.MapType(T.StringType(), avro_to_spark_type(schema["values"]))
        if t == "enum":
            return T.StringType()
        if t == "fixed":
            return T.BinaryType()
        return avro_to_spark_type(t)
    return {
        "null": T.NullType(),
        "boolean": T.BooleanType(),
        "int": T.IntegerType(),
        "long": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "bytes": T.BinaryType(),
        "string": T.StringType(),
    }[schema]


# ---------------------------------------------------------------------------
# distributed reader: Spark 4 Python Data Source over container blocks


def _parse_header(path: str):
    """(record schema, codec, sync, header_end) from a container file,
    reading only as many bytes as the header needs."""
    with open(path, "rb") as f:
        buf = f.read(1 << 16)
        while True:
            try:
                dec = _Decoder(buf)
                if dec.read(4) != MAGIC:
                    raise ValueError(f"{path}: not an Avro container file")
                meta = {}
                while True:
                    n = dec.read_long()
                    if n == 0:
                        break
                    if n < 0:
                        n = -n
                        dec.read_long()
                    for _ in range(n):
                        k = dec.read_string()
                        meta[k] = dec.read_bytes()
                sync = dec.read(16)
                break
            except (EOFError, IndexError):
                more = f.read(1 << 16)
                if not more:
                    raise
                buf += more
    schema = json.loads(meta["avro.schema"])
    codec = meta.get("avro.codec", b"null").decode()
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro codec {codec!r} (null/deflate only)")
    return schema, codec, sync, dec._pos


def _file_varint(f) -> int:
    shift = accum = 0
    while True:
        b = f.read(1)
        if not b:
            raise EOFError("truncated avro block header")
        byte = b[0]
        accum |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return (accum >> 1) ^ -(accum & 1)
        shift += 7


def _avro_files(path: str) -> list[str]:
    import glob as _glob
    import os as _os

    if _os.path.isfile(path):
        return [path]
    return sorted(
        _glob.glob(_os.path.join(path, "**", "*.avro"), recursive=True)
    ) or sorted(_glob.glob(_os.path.join(path, "*")))


def _build_datasource_classes():
    """Distributed pure-Python Avro scan (``format("pyavro")``): container
    files are splittable at their 16-byte sync markers, so partitions are
    plain byte ranges — each executor seeks into its range, synchronizes on
    the next marker, and decodes only the blocks that START inside its
    range (ownership: ``start < block_pos <= end``, so every block lands in
    exactly one partition, including marker-on-boundary cases). This is the
    same split discipline Hadoop's Avro input format uses: scan
    parallelism = file bytes / partition_bytes, independent of file count.
    (Classes built lazily to keep the pyspark.datasource import optional.)
    """
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class _AvroDataSource(DataSource):
        @classmethod
        def name(cls):
            return "pyavro"

        def schema(self):
            files = _avro_files(self.options["path"])
            if not files:
                raise FileNotFoundError(self.options["path"])
            schema, _, _, _ = _parse_header(files[0])
            return avro_to_spark_type(schema)

        def reader(self, schema):
            return _AvroReader(self.options)

    class _AvroReader(DataSourceReader):
        def __init__(self, options):
            self.path = options["path"]
            self.part_bytes = int(options.get("partition_bytes", 4 << 20))

        def partitions(self):
            import os as _os

            parts = []
            for fp in _avro_files(self.path):
                size = _os.path.getsize(fp)
                if size <= self.part_bytes:
                    parts.append(InputPartition((fp, 0, size)))
                    continue
                for s in range(0, size, self.part_bytes):
                    parts.append(
                        InputPartition((fp, s, min(s + self.part_bytes, size)))
                    )
            return parts

        def read(self, partition):
            import os as _os

            path, start, end = partition.value
            schema, codec, sync, hend = _parse_header(path)
            fields = [f["name"] for f in schema["fields"]]
            size = _os.path.getsize(path)
            with open(path, "rb") as f:
                if start < hend:
                    p = hend  # partition containing the header owns block 1
                    if p > end:
                        return
                else:
                    # synchronize: first sync whose block start lands in
                    # (start, end]; scan from start-15 so a marker that
                    # straddles the boundary is still seen
                    scan_from = max(hend, start - 15)
                    f.seek(scan_from)
                    window = f.read(end - scan_from + 16)
                    p = None
                    q = window.find(sync)
                    while q != -1:
                        cand = scan_from + q + 16
                        if start < cand <= end:
                            p = cand
                            break
                        if cand > end:
                            break
                        q = window.find(sync, q + 1)
                    if p is None:
                        return
                while p <= end and p < size:
                    f.seek(p)
                    count = _file_varint(f)
                    bsize = _file_varint(f)
                    block = f.read(bsize)
                    if len(block) != bsize:
                        raise EOFError(f"{path}: truncated block at {p}")
                    if codec == "deflate":
                        block = zlib.decompress(block, -15)
                    bdec = _Decoder(block)
                    for _ in range(count):
                        d = _read_datum(bdec, schema)
                        yield tuple(d[name] for name in fields)
                    if f.read(16) != sync:
                        raise ValueError(f"{path}: sync mismatch after {p}")
                    p = f.tell()

    return _AvroDataSource


def register_pyavro(spark) -> None:
    """Idempotently register the distributed ``pyavro`` format."""
    spark.dataSource.register(_build_datasource_classes())
