"""Physical-plan analysis — programmatic access to the plan properties the
engine's scale contract depends on.

The reference exposes plan introspection as strings
(``df.execution_plan()`` / ``display_execution_plan`` —
``/root/reference/datafusion_ray/core.py:483-504``, pretty printer
``src/util.rs:383-411``). This module goes further: structured predicates
over Spark's formatted plan so tests (tests/test_plans.py) and users can
ASSERT the plan shape — pushdown reached the scan, the dimension broadcast,
the pipeline stayed JVM-side — instead of eyeballing explain output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (same text as ``df.explain("formatted")``)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_tree(df: DataFrame) -> str:
    """Just the operator tree (first block of the formatted plan)."""
    return formatted_plan(df).split("\n\n")[0]


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan tree (broadcast exchanges
    excluded — they move only the small side)."""
    tree = plan_tree(df)
    return sum(
        1
        for line in tree.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """The filter expressions pushed into file scans."""
    out: list[str] = []
    for chunk in formatted_plan(df).split("PushedFilters: [")[1:]:
        body = chunk.split("]")[0].strip()
        if body:
            out.extend(f.strip() for f in body.split(","))
    return out


def scan_columns(df: DataFrame) -> list[str]:
    """Columns actually read from file scans (ReadSchema) — the column-pruning
    ground truth."""
    cols: list[str] = []
    for chunk in formatted_plan(df).split("ReadSchema:")[1:]:
        schema = chunk.splitlines()[0]
        inner = schema.split("<", 1)[-1].rsplit(">", 1)[0]
        for field in inner.split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def join_strategies(df: DataFrame) -> list[str]:
    """Join operator names in plan order (BroadcastHashJoin, SortMergeJoin, ...)."""
    out = []
    for line in plan_tree(df).splitlines():
        token = line.strip().lstrip("+-*: ").split(" ")[0]
        if "Join" in token:
            out.append(token)
    return out


def uses_python_workers(df: DataFrame) -> bool:
    """True when the plan evaluates any Python/Pandas UDF stage — the slow
    path the 100 TB design rules reserve for genuinely non-relational work."""
    plan = formatted_plan(df)
    return any(
        marker in plan
        for marker in (
            "BatchEvalPython", "ArrowEvalPython", "MapInPandas",
            "FlatMapGroupsInPandas",
            # round-10: the PQ/IVF kernels moved to mapInArrow — still a
            # Python-worker stage, just without the pandas conversion
            "MapInArrow", "PythonMapInArrow",
        )
    )


def executed_nodes(df: DataFrame) -> list:
    """Every node of the EXECUTED plan (JVM ``SparkPlan`` objects), each
    once. AQE / query-stage wrappers (AdaptiveSparkPlanExec,
    Shuffle/BroadcastQueryStageExec) expose the materialized subtree
    behind accessor methods rather than ``children()``, so the walk
    descends through those too and reports the FINAL runtime plan; a node
    reachable through two accessors is listed once. Order: a wrapper's
    subtree, then the node, then its children."""
    out: list = []
    seen: set[int] = set()

    def walk(node) -> None:
        ident = node.id()
        if ident in seen:
            return
        seen.add(ident)
        for accessor in ("executedPlan", "plan"):
            try:
                walk(getattr(node, accessor)())
            except Exception:  # noqa: BLE001 - absent on plain nodes
                pass
        out.append(node)
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(df._jdf.queryExecution().executedPlan())
    return out


def node_metrics(node) -> dict[str, int]:
    """A plan node's SQLMetrics as ``{name: value}`` (empty when it has
    none)."""
    vals: dict[str, int] = {}
    try:
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = int(kv._2().value())
    except Exception:  # noqa: BLE001 - metric-less node
        pass
    return vals


def runtime_shuffle_metrics(df: DataFrame) -> dict[str, int]:
    """Aggregate runtime shuffle/plan-shape metrics from the EXECUTED plan.

    Call AFTER an action (collect/count): SQLMetrics hold real values only
    post-execution. Returns the scale-contract vitals —
    ``shuffle_bytes``/``shuffle_rows`` (sum of shuffle bytes/records
    written across all exchanges: the volume that becomes the network
    bottleneck at 100 TB), ``n_exchange``/``n_broadcast`` (shuffle vs
    broadcast exchange node counts in the final AQE plan), and
    ``n_expand`` (Expand nodes — the multi-distinct row-multiplication
    anti-pattern the profile_table fix removed). Used by bench.py to emit
    a per-query shuffle-volume baseline next to the time baseline, so a
    plan regression (new Expand, lost broadcast, extra exchange) fails as
    loudly as a wrong answer.
    """
    agg = {"shuffle_bytes": 0, "shuffle_rows": 0, "n_exchange": 0,
           "n_broadcast": 0, "n_expand": 0, "n_reused_exchange": 0}
    for node in executed_nodes(df):
        name = node.nodeName()
        if "ReusedExchange" in name:
            # A reused exchange shares the original's SQLMetrics object:
            # counting it as a fresh shuffle would double its bytes/rows and
            # let an exchange-becomes-reused plan change trip the shuffle
            # drift gate spuriously. Count it separately; no metric sum.
            agg["n_reused_exchange"] += 1
        elif "Exchange" in name:
            if "Broadcast" in name:
                agg["n_broadcast"] += 1
            else:
                agg["n_exchange"] += 1
                vals = node_metrics(node)
                agg["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
                agg["shuffle_rows"] += vals.get("shuffleRecordsWritten", 0)
        elif name.startswith("Expand"):
            agg["n_expand"] += 1
    return agg
