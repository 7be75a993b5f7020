"""Unified query registry: name -> (spark callable, oracle SQL).

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract), ``bench.py``, and the test suite — the analogue of the
reference's query corpus + validation loop
(``/root/reference/tpch/tpcbench.py:104-139``).

SQL-defined suites (tpch, coverage) become callables that register the
testdata views and run ``spark.sql``; DataFrame-API operators (extensions)
register callables directly.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import register_tables
from .coverage import COVERAGE_QUERIES
from .coverage2 import COVERAGE2_QUERIES
from .coverage3 import COVERAGE3_QUERIES
from .coverage4 import COVERAGE4_QUERIES
from .pipeline import PIPELINE_QUERIES
from .tpch import TPCH_QUERIES, QueryDef


@dataclass(frozen=True)
class SuiteEntry:
    name: str
    run: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None -> rows-only check (non-SQL-expressible op)
    description: str


def _sql_entry(qdef: QueryDef) -> SuiteEntry:
    def run(spark: SparkSession, sf_dir: str, _sql: str = qdef.sql) -> DataFrame:
        register_tables(spark, sf_dir)
        return spark.sql(_sql)

    return SuiteEntry(
        name=qdef.name, run=run, oracle=qdef.oracle_sql, description=qdef.description
    )


def build_registry() -> dict[str, SuiteEntry]:
    """All entries in insertion order: TPC-H q1–q22 first."""
    entries: dict[str, SuiteEntry] = {}
    for qdef in {**TPCH_QUERIES, **COVERAGE_QUERIES, **COVERAGE2_QUERIES,
                 **COVERAGE3_QUERIES, **COVERAGE4_QUERIES,
                 **PIPELINE_QUERIES}.values():
        entries[qdef.name] = _sql_entry(qdef)
    # Extension operators (DataFrame/Pandas-UDF implementations).
    from ..operators.sinks import extension_entries_sinks
    from ..operators.suite import extension_entries
    from ..operators.suite2 import extension_entries2
    from ..operators.suite3 import extension_entries3
    from ..operators.suite4 import extension_entries4
    from ..operators.suite5 import extension_entries5
    from ..operators.suite6 import extension_entries6
    from ..operators.suite7 import extension_entries7
    from ..operators.suite8 import extension_entries8

    for entry in (
        extension_entries()
        + extension_entries2()
        + extension_entries3()
        + extension_entries4()
        + extension_entries5()
        + extension_entries6()
        + extension_entries7()
        + extension_entries8()
        + extension_entries_sinks()
    ):
        entries[entry.name] = entry
    return entries
