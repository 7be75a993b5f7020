"""Generated-code cache gate: a repeated TPC-H pass compiles nothing new.

Every whole-stage-codegen plan needs a Janino-compiled class per stage;
Spark caches them by generated source in ``CodeGenerator``'s LRU cache.
At Spark's default 100 entries one pass of the 22 queries (about 300
classes) evicts itself, so every pass compiled everything again. The
engine's ``spark.sql.codegen.cache.maxEntries`` (``session.py``) must hold
a whole pass. The two passes run back to back, so LRU order makes the
result independent of which tests ran before.

AQE re-plans from the order in which query stages finish, so a query can
end in a different final plan on its second run (q2 at sf0.001 does about
one run in three), and a plan it has not run before may need new classes.
Only queries whose final plan repeats are held to zero compiles.
"""

from __future__ import annotations

import re

from datafusion_ray_spark.queries.registry import build_registry

_TPCH = [f"q{i}" for i in range(1, 23)]


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _final_plan(df) -> str:
    """The executed plan without expression and plan-node ids, which change
    on every run; codegen stage ids stay, as they name the generated class."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"#\d+|plan_id=\d+", "", plan)


def test_second_tpch_pass_compiles_nothing(spark, sf_dir):
    registry = build_registry()

    def run_pass() -> dict[str, tuple[int, str]]:
        out = {}
        for name in _TPCH:
            before = _compilations(spark)
            df = registry[name].run(spark, sf_dir)
            df.collect()
            out[name] = (_compilations(spark) - before, _final_plan(df))
        spark.catalog.clearCache()
        return out

    first = run_pass()
    second = run_pass()
    repeated = [q for q in _TPCH if second[q][1] == first[q][1]]
    compiled = {q: second[q][0] for q in repeated if second[q][0]}
    assert len(repeated) >= len(_TPCH) // 2, "too few plans repeated to judge"
    assert not compiled, (
        f"second TPC-H pass compiled classes for unchanged plans: {compiled} "
        f"(first pass: {sum(c for c, _ in first.values())}); the codegen "
        "cache no longer holds one pass"
    )
