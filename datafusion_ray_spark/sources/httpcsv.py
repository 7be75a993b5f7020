"""Distributed ranged CSV reader: ONE Spark 4 Python Data Source core for
CSV over the stores of the ranged-parquet reader (``sources/s3store.py``)
— ``http_csv`` reads through the http store, ``s3csv`` through the S3
store. The reference does the same: its http example streams CSV over
DataFusion's http object store (``examples/http_csv.py:27-35``), and the
store comes from the URL scheme (``src/util.rs:523-580``).

How it distributes: the planner takes each object's size (from the S3
listing, or from one HEAD that also reports ``Accept-Ranges`` on http)
and splits it into byte-range partitions ``(ref, size, start, end)``;
EVERY EXECUTOR fetches its own range with a ranged GET — the same
split-at-newline technique Spark's file sources use for text: each
partition skips its first (possibly partial) line and reads on past its
end until a newline or the end of the object, so every line, however
long, lands in exactly one partition. A server without Range support, or
an object of unknown size, reads as one whole-object partition — still
executor-side, never a driver spool.

Schema: header + sampled type inference (long/double/string) from the
first object's first 64 KiB, so the SQL surface matches a
``spark.read.csv`` with ``inferSchema`` for the common types.
"""

from __future__ import annotations

import csv
import io

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from .httpparquet import _HTTPStore
from .s3store import RangeUnsupportedError, _range_plan, _S3Store

#: target bytes per partition (small default so tests exercise >1 split;
#: production sets option("partition_bytes", 128<<20) or similar).
DEFAULT_PARTITION_BYTES = 4 << 20
#: bytes of the schema sample, and of the first GET past a partition's end
_SAMPLE_BYTES = 64 << 10


def _infer_field(values: list[str]) -> T.DataType:
    non_empty = [v for v in values if v != ""]
    if not non_empty:
        return T.StringType()
    try:
        for v in non_empty:
            int(v)
        return T.LongType()
    except ValueError:
        pass
    try:
        for v in non_empty:
            float(v)
        return T.DoubleType()
    except ValueError:
        return T.StringType()


class _RangedCsvSource(DataSource):
    """The one CSV scan over a ranged-GET store; a subclass names its
    format and sets ``store`` to the store class."""

    store: type
    suffixes = (".csv",)

    def schema(self):
        store = self.store(dict(self.options), self.suffixes)
        ref, _size = store.entries()[0]
        try:
            sample = store.get(ref, 0, _SAMPLE_BYTES - 1)
        except RangeUnsupportedError as exc:  # the whole object came back
            if exc.body is None:
                raise
            sample = exc.body[:_SAMPLE_BYTES]
        # drop the trailing (possibly truncated) line of the sample
        text = sample.decode("utf-8", errors="replace")
        lines = text.split("\n")
        if len(lines) > 1:
            lines = lines[:-1]
        rows = list(csv.reader(io.StringIO("\n".join(lines))))
        header, data = rows[0], rows[1:]
        return T.StructType(
            [
                T.StructField(
                    name.strip() or f"_c{i}",
                    _infer_field([r[i] for r in data if i < len(r)]),
                )
                for i, name in enumerate(header)
            ]
        )

    def reader(self, schema):
        opts = dict(self.options)
        return _CsvReader(schema, opts, self.store(opts, self.suffixes))


class _CsvReader(DataSourceReader):
    def __init__(self, schema, options, store):
        self.schema = schema
        self.store = store
        self.part_bytes = int(
            options.get("partition_bytes", DEFAULT_PARTITION_BYTES)
        )

    def partitions(self):
        parts = []
        for ref, size in self.store.entries():
            ranged = True
            if size is None:
                size, ranged = self.store.head(ref)
            if ranged and size is not None:
                parts += _range_plan([(ref, size)], self.part_bytes)
            else:  # one whole-object partition, read with an open range
                parts.append((ref, None, 0, None))
        return [InputPartition(p) for p in parts]

    def _line_end(self, ref, pos: int, size: int) -> bytes:
        """Bytes from ``pos`` up to the next newline or the end of the
        object; each GET doubles the last, so a long line costs a few
        round trips and no GET asks past the object's end."""
        out, step = [], _SAMPLE_BYTES
        while pos < size:
            chunk = self.store.get(ref, pos, min(pos + step, size) - 1)
            if not chunk:
                raise EOFError(f"object ended before byte {pos} of {size}")
            nl = chunk.find(b"\n")
            if nl >= 0:
                out.append(chunk[:nl])
                break
            out.append(chunk)
            pos += len(chunk)
            step *= 2
        return b"".join(out)

    def read(self, partition):
        ref, size, start, end = partition.value
        if size is None:  # whole-object partition
            chunk = self.store.get(ref, 0, None)
        else:
            # Read on past the range end to finish the final line; skip
            # the first (possibly partial) line unless we own byte 0. Each
            # line is then emitted by exactly one partition — including the
            # exact-boundary case, where the previous partition's over-read
            # completes the line starting at our first byte.
            chunk = (self.store.get(ref, start, end - 1)
                     + self._line_end(ref, end, size))
        text = chunk.decode("utf-8", errors="replace")
        lines = text.split("\n")
        # start>0: drop the partial first line (owned by the previous
        # partition); start==0: drop the header row.
        lines = lines[1:]
        if lines and lines[-1] == "":
            lines = lines[:-1]
        casts = []
        for f in self.schema.fields:
            if isinstance(f.dataType, T.LongType):
                casts.append(lambda v: int(v) if v != "" else None)
            elif isinstance(f.dataType, T.DoubleType):
                casts.append(lambda v: float(v) if v != "" else None)
            else:
                casts.append(lambda v: v if v != "" else None)
        for row in csv.reader(lines):
            if not row:
                continue
            yield tuple(
                c(row[i]) if i < len(row) else None for i, c in enumerate(casts)
            )


class HttpCsvDataSource(_RangedCsvSource):
    """``spark.read.format("http_csv").option("url", ...).load()``."""

    store = _HTTPStore

    @classmethod
    def name(cls) -> str:
        return "http_csv"


class S3CsvDataSource(_RangedCsvSource):
    """``spark.read.format("s3csv").option("path", "s3://b/key.csv")`` —
    one object, or every ``*.csv`` under a prefix; credentials as for
    ``s3parquet``."""

    store = _S3Store

    @classmethod
    def name(cls) -> str:
        return "s3csv"


def register_http_csv(spark) -> None:
    """Idempotently register the ``http_csv`` format on a session."""
    spark.dataSource.register(HttpCsvDataSource)
