"""Canonical test-table registration (Spark + DuckDB oracle).

Mirrors the reference's per-table parquet registration
(``/root/reference/tpch/tpcbench.py:46-83`` — one ``register_parquet`` per
TPC-H table) against the driver's testdata layout
(``/root/testdata/sf*/<name>.parquet``, see FIXTURES.md).

One normalization lives here: ``events.ts`` arrives in whatever physical
shape the testdata generator last chose — parquet TIMESTAMP(NANOS) (Spark
refuses natively; read as raw int64 via ``spark.sql.legacy.parquet
.nanosAsLong``), plain ``timestamp[us]`` without timezone (Spark 4 reads as
TIMESTAMP_NTZ under the default ``inferTimestampNTZ``), or tz-tagged micros
(plain TIMESTAMP).  ``ts_to_utc`` maps ALL of them to one canonical
TIMESTAMP whose instant is the stored wall-clock interpreted as UTC, using
session-timezone-INDEPENDENT expressions (``timestampdiff`` on NTZ is pure
wall-clock arithmetic), so results don't shift under a caller session with
a non-UTC zone.  The DuckDB oracle applies the matching
``CAST(ts AS TIMESTAMP)`` so both engines agree.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
)
EXT_TABLES = ("events", "documents", "embeddings")
ALL_TABLES = TPCH_TABLES + EXT_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Epoch micros of a TIMESTAMP_NTZ column as pure wall-clock arithmetic:
# timestampdiff on NTZ operands never consults the session timezone, unlike
# CAST(ntz AS TIMESTAMP) / to_utc_timestamp, both of which are silently
# session-tz-dependent (verified: under America/New_York they shift by 5 h).
_NTZ_EPOCH_US = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {col})"
)


def epoch_us(df: DataFrame, col: str = "ts") -> F.Column:
    """Epoch-microseconds Column for ``df[col]``, whatever physical shape the
    timestamp arrived in (TIMESTAMP, TIMESTAMP_NTZ, or raw int64 nanos from
    a nanosAsLong read).  NTZ wall-clock is interpreted as UTC, matching
    DuckDB's ``epoch_us(CAST(ts AS TIMESTAMP))``, via expressions that do
    not depend on the session timezone."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":  # raw nanos; integer DIV matches DuckDB truncation
        return F.expr(f"{col} DIV 1000")
    if dtype == "timestamp_ntz":
        return F.expr(_NTZ_EPOCH_US.format(col=col))
    return F.unix_micros(F.col(col))


def ts_to_utc(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize a timestamp column to the engine-canonical TIMESTAMP type
    (instant = stored wall-clock interpreted as UTC).  No-op when already
    TIMESTAMP; otherwise a pure projection."""
    dtype = dict(df.dtypes).get(col)
    if dtype in ("bigint", "timestamp_ntz"):
        return df.withColumn(col, F.timestamp_micros(epoch_us(df, col)))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table with engine-canonical column types."""
    # Defensive conf for caller-supplied sessions (the driver contract runs
    # these loaders under a session we did not build): the engine's declared
    # timestamp semantics are UTC (date_trunc/to_date consult the session
    # zone), and if events.ts is parquet TIMESTAMP(NANOS) Spark rejects the
    # read outright unless nanosAsLong is on.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        # Whatever the generator produced (int64 nanos, NTZ micros, or tz'd
        # micros) -> one canonical TIMESTAMP; see module docstring.
        df = ts_to_utc(df, "ts")
    # Tag the frame so spread() can memoize its partition-count probe per
    # (session, sf_dir, table) — see _SCAN_PARTS.
    df._dfrs_probe_key = (id(spark), sf_dir, name)
    return df


def narrow(df: DataFrame, *cols: str) -> DataFrame:
    """Pure projection that PRESERVES the spread() probe tag: split packing
    depends only on the underlying file sizes, never on the projected
    columns, so a ``select`` of plain columns has the same scan partition
    count as its base table and may share its memoized probe."""
    out = df.select(*cols)
    key = getattr(df, "_dfrs_probe_key", None)
    if key is not None:
        out._dfrs_probe_key = key
    return out


def spread(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition that restores parallelism for per-row
    EXPENSIVE pipelines (md5 shingling, regex scoring, vector math, Pandas
    UDF decode) when the source is under-split — the driver testdata is
    single-row-group parquet, which Spark cannot split, so every map-side
    operator would otherwise run on one core.

    No-op when the input already has enough splits (a real cluster scan of
    many files/row-groups), so the extra shuffle exists only in exactly the
    degenerate case it fixes. Do NOT use ahead of cheap scan->aggregate
    plans: the vectorized reader beats the shuffle cost there (benched
    0.63s -> 1.41s on a 600k-row aggregate).

    Only splits that hold rows count. A parquet split reads the row groups
    whose midpoint falls inside it, so the count that decides is
    min(scan splits, row groups in the local parquet footers of
    ``df.inputFiles()``); inputs that are not local parquet files count
    their splits alone. Splits alone mislead under the engine's 1 MiB open
    cost: a 10.8 MB single-row-group file plans 4 splits at ``local[4]``
    with every row in one of them. ``df`` is meant to be a scan (plus
    projections), as every caller passes it.

    The split-count probe (``df.rdd.getNumPartitions()``) converts the
    plan to an RDD on the driver — measured ~200 ms per call, and the
    bench suite pays it in ~200 query runs. For frames tagged by
    ``load_table``/``narrow`` (a static parquet path, so the counts
    cannot change within a session) the probe result is memoized per
    (session, sf_dir, table) in ``_SCAN_PARTS``; untagged frames keep
    the direct probe. Plan METADATA only — never query results.
    """
    target = partitions or df.sparkSession.sparkContext.defaultParallelism
    key = getattr(df, "_dfrs_probe_key", None)
    hit = _SCAN_PARTS.get(key) if key is not None else None
    # weakref guard, same rationale as _REGISTERED: a recycled id() from a
    # stopped session must not serve a stale count.
    if hit is not None and hit[0]() is df.sparkSession:
        n = hit[2]
    else:
        splits = df.rdd.getNumPartitions()
        row_groups = _local_row_groups(df)
        n = splits if row_groups is None else min(splits, row_groups)
        if key is not None:
            import weakref

            try:
                _SCAN_PARTS[key] = (weakref.ref(df.sparkSession), splits, n)
            except TypeError:  # pragma: no cover - sessions are weakref-able
                pass
    if n >= target:
        return df
    return df.repartition(target)


def _local_row_groups(df: DataFrame) -> int | None:
    """Total row groups of ``df``'s input files from their parquet footers,
    or None when there are none or any is not a local parquet file."""
    from urllib.parse import unquote, urlparse

    import pyarrow.parquet as pq

    total = 0
    for uri in df.inputFiles():
        url = urlparse(uri)
        if url.scheme not in ("", "file"):
            return None
        try:
            total += pq.ParquetFile(unquote(url.path)).metadata.num_row_groups
        except (OSError, ValueError):  # unreadable, or not parquet
            return None
    return total or None


#: (session id, sf_dir, table) -> (weakref(session), scan splits, splits
#: that can hold data). Memo for spread()'s probe; see spread's docstring.
_SCAN_PARTS: dict[tuple, tuple] = {}

#: session -> registered sf_dir. Registration re-reads parquet footers, so
#: suite runs cache it per session/scale. Keyed on the session object via
#: WeakValueDictionary-style identity check (NOT bare ``id()``: a stopped
#: session's id can be reused by a new SparkSession, which would silently
#: skip registration and surface as TABLE_OR_VIEW_NOT_FOUND).
_REGISTERED: dict[int, tuple] = {}


def register_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = ALL_TABLES
) -> None:
    """Register each table as a temp view (cached per session + sf_dir)."""
    import weakref

    key = id(spark)
    hit = _REGISTERED.get(key)
    if (
        hit is not None
        and hit[0] == sf_dir
        and hit[1]() is spark  # weakref still alive AND same object
        and tables == ALL_TABLES
    ):
        return
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    if tables == ALL_TABLES:
        try:
            _REGISTERED[key] = (sf_dir, weakref.ref(spark))
        except TypeError:  # pragma: no cover - SparkSession is weakref-able
            pass


def duckdb_register(con, sf_dir: str, tables: tuple[str, ...] = ALL_TABLES) -> None:
    """Create matching views on a DuckDB connection (the local oracle,
    mirroring the reference's LocalValidator —
    ``/root/reference/src/util.rs:414-484``)."""
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            # multi-file layout (<table>.parquet/part-*.parquet): DuckDB
            # reads directories via glob, Spark natively.
            path = os.path.join(path, "*.parquet")
        if name == "events":
            con.execute(
                f"CREATE OR REPLACE VIEW events AS "
                f"SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, "
                f"event_type, value, props FROM read_parquet('{path}')"
            )
        else:
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
