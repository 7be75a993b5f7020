"""SparkSession construction tuned for the engine.

The reference wires its own distribution layer (Ray actors + Arrow Flight
exchange, ``/root/reference/datafusion_ray/core.py:104-463``); on Spark the
equivalent machinery is the DAGScheduler + shuffle exchange, so the only work
here is picking configuration that (a) mirrors the reference's tuning surface
(``DFRayContext(batch_size=..., partitions_per_processor=...)``,
``/root/reference/datafusion_ray/core.py:558-577``) and (b) scales: AQE for
runtime re-planning and skew handling, partition counts sized to cores, Arrow
transfers for any Python-side exchange.

Sizing: ``local[N]`` uses the cores this process may run on and the driver
heap a quarter of physical RAM; ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them. Two defaults cut the fixed cost
of each query on small inputs (measured on a 4-core host):

- ``spark.sql.codegen.cache.maxEntries`` = 1024. Spark's 100-entry LRU of
  Janino-compiled classes evicts its own pass: one 22-query TPC-H pass at
  sf0.05 needs ~301 classes and recompiled 294-312 of them on every later
  pass (about 3 s of compiling, then cold JIT); one ``llm_dedup`` pass of
  the benchmark needs ~191 and recompiled 188. At 512 a repeated pass of
  either compiles nothing (at 256, 112-128 and 0-4); 1024 also holds both
  working sets in one session (~490 classes) with room to spare. An entry
  exists only once compiled, so the cap costs nothing until it is used.
- ``spark.sql.files.openCostInBytes`` = 1 MiB. It is the least a split
  costs when Spark packs files into splits; at Spark's 4 MiB the 5.6 MB,
  8-row-group TPC-H sf0.05 ``lineitem`` is read as 2 splits of 225k and
  75k rows, at 1 MiB as one split per core. Large tables are unaffected:
  their bytes per core are far above the floor. A big single-row-group
  file now plans splits that hold no rows (sf0.1 ``lineitem``, 10.8 MB:
  4 splits at ``local[4]``, every row in one), which is why
  ``sources.tables.spread()`` also counts row groups.

Scale note (100 TB): these defaults are for local[N] testing. On a real
cluster the same builder is used but ``spark.sql.shuffle.partitions`` should
be ~2-3x total executor cores (or left to AQE coalescing from a high initial
value), and ``spark.sql.files.maxPartitionBytes`` kept at 128-256 MB so scan
tasks stay memory-bounded regardless of total data size.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """A quarter of physical RAM (``/proc/meminfo``), at least 1 GiB: in
    ``local[N]`` the driver JVM is the whole engine, but the host is shared
    with the driver's Python process and its workers."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, total_kb // 4 // 1024)}m"


#: Cores of ``local[N]``: the cores this process may run on, unless
#: ``SPARK_GRAFT_CPUS`` says otherwise.
DEFAULT_CPUS = int(
    os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
)

#: Defaults applied to every session the engine builds. Each key is plain
#: public Spark configuration; values chosen for local[N] correctness runs.
ENGINE_DEFAULTS: dict[str, str] = {
    # One shuffle partition per core locally; AQE coalesces below this when
    # partial results are small. At cluster scale this is raised, not lowered.
    "spark.sql.shuffle.partitions": str(DEFAULT_CPUS),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow everywhere Python touches data: mirrors the reference's
    # Arrow-native data plane (RecordBatch end-to-end).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Counterpart of the reference's MaxRowsExec batch bound
    # (/root/reference/src/max_rows.rs:11-14): caps Arrow batch size on the
    # driver/Python boundary.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.session.timeZone": "UTC",
    # Python Data Source predicate pushdown (Spark 4.1): lets the
    # s3parquet/httpparquet readers' pushFilters receive Catalyst's
    # predicates for footer-stats row-group pruning. Spark ERRORS (rather
    # than silently skipping) on a pushFilters-implementing source when
    # this is off, so the engine turns it on everywhere.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Hold every generated class of a repeated workload, so a steady pass
    # compiles nothing (module docstring: measured class counts).
    "spark.sql.codegen.cache.maxEntries": "1024",
    # One split per core for a file with several row groups (module
    # docstring: the lineitem example).
    "spark.sql.files.openCostInBytes": str(1 << 20),
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Deterministic timestamp behavior for the oracle comparison.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # Spark rejects parquet TIMESTAMP(NANOS) outright; read as raw int64
    # nanos and convert to micros timestamps in the table-registration layer
    # (sources/tables.py) so `events.ts` is a usable timestamp column.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # local[N] runs the driver AND all N executor threads in ONE JVM; the
    # 1g default heap is sized for a cluster driver, not for 32 executor
    # threads plus broadcast/codegen caches — a long suite run can kill the
    # JVM mid-query (observed: Py4J ConnectionRefused after ~140 queries).
    # Only applied when this process launches the JVM; on a cluster the
    # submit-time --driver-memory/--executor-memory govern instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    or _host_driver_memory(),
}


def build_session(
    app_name: str = "datafusion_ray_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with the engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{DEFAULT_CPUS}]")
    for key, value in ENGINE_DEFAULTS.items():
        builder = builder.config(key, value)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
