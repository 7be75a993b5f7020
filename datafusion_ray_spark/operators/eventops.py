"""Event-stream derivation operators: SCD-2 snapshots, bounded-window EWMA
features, percentile winsorization, funnel analysis, and time-windowed
aggregation.

These extend the engine past the reference's surface (datafusion-ray has no
temporal feature operators at all — SURVEY.md §2.2) with the event-table
derivations a training-data / analytics pipeline actually runs: change-data
capture into validity intervals, smoothed per-entity features, robust
outlier clipping, ordered-step conversion funnels, and tumbling / sliding /
session windows over ``events``.

Scale notes:
- every operator shuffles at most ONCE on its natural key (`user_id` /
  `event_type`, or (window, key) for the windowed aggregates) plus
  reuse-able same-key window passes — no pair blow-ups, no driver collects;
- EWMA is integer-exact fixed-point (micro-units × power-of-3/4 weights)
  so results are bit-stable under any partitioning / merge order;
- winsorize computes per-group percentiles in one aggregate and broadcasts
  the tiny per-type bounds table back — the 100 TB shape for "clip by
  group quantile";
- window assignment (``F.window`` / ``F.session_window``) is a projection
  followed by a map-side-combinable groupBy, so the windowed plans scale
  like a plain groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sources.tables import ts_to_utc

#: EWMA decay per step: 3/4 (alpha = 0.25). Frame = last 8 events, so the
#: integer weights 3^age * 4^(7-age) stay exact in int64 even against
#: micro-unit values (max term ~9e12, sum of 8 terms ~7e13 << 2^63).
EWMA_FRAME = 8
EWMA_WEIGHTS = [3**age * 4 ** (EWMA_FRAME - 1 - age) for age in range(EWMA_FRAME)]


def scd2_snapshot(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    attr: F.Column | None = None,
    attr_name: str = "tier",
    order_tiebreak: str = "event_id",
) -> DataFrame:
    """Slowly-Changing-Dimension type-2 build: compress a change stream to
    validity intervals per key (the CDC → dimension-snapshot operator).

    Consecutive rows with the SAME attribute value collapse into one
    interval; each output row carries ``valid_from`` (first ts at that
    value), ``valid_to`` (next change's ts, NULL while current),
    ``is_current`` and a per-key ``version`` ordinal.

    Plan: one shuffle on ``key``; the change-flag window, running-sum
    version window, group-by, and the valid_to lead window all reuse that
    partitioning (AQE: single exchange). Linear in |events|.
    """
    # floor-then-mod (NOT a bare int cast: Spark truncates, DuckDB rounds)
    attr = attr if attr is not None else (F.floor(F.col("value")).cast("long") % 5)
    w = Window.partitionBy(key).orderBy(ts_col, order_tiebreak)
    changed = (
        events.withColumn(attr_name, attr)
        .withColumn("_prev", F.lag(attr_name).over(w))
        .withColumn(
            "_chg",
            F.when(
                F.col("_prev").isNull()
                | (F.col(attr_name) != F.col("_prev")),
                1,
            ).otherwise(0),
        )
        .withColumn("version", F.sum("_chg").over(w))
    )
    spans = changed.groupBy(key, "version", attr_name).agg(
        F.min(ts_col).alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy(key).orderBy("version")
    return spans.select(
        key,
        F.col("version").cast("long").alias("version"),
        attr_name,
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        F.lead("valid_from").over(wv).isNull().alias("is_current"),
        F.col("n_events").cast("long").alias("n_events"),
    )


def ewma_feature(
    events: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    order_tiebreak: str = "event_id",
    out_col: str = "ewma",
) -> DataFrame:
    """Per-key exponentially-weighted moving average of ``value_col`` over
    the last :data:`EWMA_FRAME` events (decay 3/4 per step, pandas
    ``ewm(alpha=0.25, adjust=True)`` over a bounded history).

    Integer-exact fixed-point: values become floor(v·1e6) micro-units and
    the weights are the integers 3^age·4^(7−age), so numerator and
    denominator are exact int64 sums — the one double op is the final
    division, identical on any engine. The frame bound is what makes this
    safe: unbounded EWM needs either recursion (not relational) or
    weights 4^n that overflow; the last-8 window keeps every term exact
    and is the standard approximation (weight beyond 8 steps < 1.7 %).

    Plan: one shuffle on ``key``, one window sort, a collect_list over an
    8-row frame, then JVM higher-order functions — no Python, no
    per-row UDF.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, order_tiebreak)
        .rowsBetween(-(EWMA_FRAME - 1), Window.currentRow)
    )
    weights = ", ".join(str(x) for x in EWMA_WEIGHTS)
    df = events.withColumn(
        "_xus", F.expr(f"CAST(floor({value_col} * 1000000) AS BIGINT)")
    ).withColumn("_arr", F.collect_list("_xus").over(w))
    # element i of the frame (0-based, oldest first) has age n-1-i; weight
    # lookup is element_at(WEIGHTS, age+1) = element_at(WEIGHTS, n-i) with
    # the 1-based i of transform's index argument shifted accordingly.
    num = F.expr(
        f"aggregate(zip_with(_arr, transform(_arr, (x, i) -> "
        f"element_at(array({weights}), size(_arr) - i)), "
        f"(x, w) -> x * CAST(w AS BIGINT)), 0L, (a, b) -> a + b)"
    )
    den = F.expr(
        f"aggregate(transform(_arr, (x, i) -> "
        f"CAST(element_at(array({weights}), size(_arr) - i) AS BIGINT)), "
        f"0L, (a, b) -> a + b)"
    )
    return df.select(
        key,
        order_tiebreak,
        ts_col,
        F.col(value_col),
        F.round(num / den / F.lit(1_000_000.0), 6).alias(out_col),
    )


def winsorize_stats(
    events: DataFrame,
    group: str = "event_type",
    value_col: str = "value",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Per-group percentile winsorization report: clip ``value_col`` to the
    group's [lo, hi] interpolated percentiles and report how much moved.

    Plan: one aggregate computes the per-group bounds (exact
    ``percentile`` — linear-interpolated, the same definition as DuckDB's
    ``quantile_cont``), the tiny bounds table broadcast-joins back onto
    the events, and a second aggregate emits the clipped stats. Two
    shuffles of which the second is on the same tiny key set; the bounds
    join is a broadcast by construction (|groups| rows).
    """
    bounds = events.groupBy(group).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("_plo"),
        F.expr(f"percentile({value_col}, {hi})").alias("_phi"),
    )
    clipped = events.join(F.broadcast(bounds), group).withColumn(
        "_clip",
        F.least(F.greatest(F.col(value_col), F.col("_plo")), F.col("_phi")),
    )
    return clipped.groupBy(group).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.min("_plo"), 6).alias("p_lo"),
        F.round(F.min("_phi"), 6).alias("p_hi"),
        F.sum((F.col(value_col) < F.col("_plo")).cast("long")).alias("n_clipped_lo"),
        F.sum((F.col(value_col) > F.col("_phi")).cast("long")).alias("n_clipped_hi"),
        # integer micro-unit sum -> order-independent exact mean (a plain
        # double avg differs across engines in the last ulp at round-6
        # boundaries; observed on the purchase group at sf0.001)
        F.round(
            F.sum(F.expr("CAST(floor(_clip * 1000000) AS BIGINT)"))
            / F.count(F.lit(1))
            / F.lit(1_000_000.0),
            6,
        ).alias("mean_winsorized"),
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    key: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-step conversion funnel: for each key, step k counts only if
    it happens STRICTLY AFTER the key's matched step k-1 — the classic
    product-analytics funnel (first view, then first click after that
    view, then first purchase after that click).

    Plan: one conditional-aggregation pass per step, each a group-by on
    ``key`` — the exchanges share the same hash partitioning so Spark
    reuses the shuffle; step k's per-key timestamps join step k-1's
    (same key, co-partitioned). Output is one row per funnel step with
    the surviving-user count — driver-sized by definition.
    """
    first = (
        events.where(F.col(type_col) == steps[0])
        .groupBy(key)
        .agg(F.min(ts_col).alias("_t0"))
    )
    reached = [first]
    for i, step in enumerate(steps[1:], start=1):
        prev = reached[-1]
        nxt = (
            events.where(F.col(type_col) == step)
            .join(prev, key)
            .where(F.col(ts_col) > F.col(f"_t{i-1}"))
            .groupBy(key)
            .agg(F.min(ts_col).alias(f"_t{i}"))
        )
        reached.append(nxt)
    counts = [
        df.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
            F.lit(i + 1).cast("int").alias("step_no"),
            F.lit(step).alias("step"),
            "n_users",
        )
        for i, (step, df) in enumerate(zip(steps, reached))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


# --------------------------------------------------------------------------
# Time-windowed aggregation. The reference has no streaming semantics
# (SURVEY.md §2.5 — its "streaming" is pipelined batch execution), so these
# are batch operators: the windowed shapes an event pipeline needs, on
# Spark's native window machinery. Window starts/ends are projected as epoch
# seconds/micros (BIGINT) so the oracle comparison is timezone-metadata-free.
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _dsum(col: str, alias: str) -> F.Column:
    return F.sum(F.col(col).cast("decimal(25,6)")).cast("double").alias(alias)


def tumbling_agg(df: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + sums per event_type."""
    df = ts_to_utc(df, "ts")
    return (
        df.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").cast("long").alias("n"), _dsum("value", "sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_agg(df: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding-window (hopping) counts: each event lands in width/slide
    overlapping windows."""
    df = ts_to_utc(df, "ts")
    return (
        df.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count("*").cast("long").alias("n"), _dsum("value", "sum_value"))
        .select(F.unix_timestamp(F.col("w.start")).alias("bucket_start"), "n", "sum_value")
    )


def session_agg(df: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: events merge while consecutive gaps are
    below ``gap``; session end = last event + gap (Spark semantics).

    Input ts is normalized first (round-2 regression: ``unix_micros`` on the
    NTZ ``w.start`` Spark derives from an NTZ input column is a type error).
    """
    df = ts_to_utc(df, "ts")
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"), _dsum("value", "sum_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "sum_value",
        )
    )


def daily_type_pivot(df: DataFrame) -> DataFrame:
    """Daily event-type count matrix (groupBy().pivot() — Spark plans the
    same partial/final agg as a manual CASE fan-out)."""
    df = ts_to_utc(df, "ts")
    return (
        df.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


TUMBLING_ORACLE = """
SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS bucket_start,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY bucket_start, event_type
"""

SLIDING_ORACLE = """
WITH off AS (SELECT unnest([0, 15, 30, 45]) AS m),
assigned AS (
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP) - to_minutes(m)) + to_minutes(m) AS w,
           value
    FROM events CROSS JOIN off
)
SELECT CAST(epoch(w) AS BIGINT) AS bucket_start,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY 1
ORDER BY bucket_start
"""

SESSION_ORACLE = """
WITH o AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value,
           CASE WHEN LAG(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                  OR CAST(ts AS TIMESTAMP) >= LAG(CAST(ts AS TIMESTAMP)) OVER w + INTERVAL '30' MINUTE
                THEN 1 ELSE 0 END AS brk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
),
s AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
    FROM o
)
SELECT user_id,
       CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us,
       CAST(epoch_us(MAX(ts) + INTERVAL '30' MINUTE) AS BIGINT) AS session_end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, sid
ORDER BY user_id, session_start_us
"""

PIVOT_ORACLE = """
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
ORDER BY day
"""


def resample_fill(df: DataFrame, width_seconds: int = 3600) -> DataFrame:
    """Gap-filled resampling: per-event_type counts on a fixed grid with
    ZERO rows for empty buckets — the time-series `resample().fillna(0)`
    shape dashboards and feature pipelines need (a plain groupBy silently
    drops empty buckets).

    Spark-first: the dense time spine is `sequence(min, max, step)` exploded
    from a one-row global bounds aggregate crossed with the distinct type
    list, then a left join against the bucketed counts. Scale: the spine is
    O(time-range / width) rows regardless of event volume, the counts side
    is already aggregated (bounded by the same grid), so the final join is
    grid-sized — event rows are touched exactly once, in the first
    map-side-combinable groupBy.
    """
    df = ts_to_utc(df, "ts")
    bucket = (F.floor(F.unix_timestamp("ts") / width_seconds) * width_seconds).cast(
        "long"
    )
    counts = (
        df.groupBy(bucket.alias("bucket_start"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        # Pinned (r11, guide §5 — the graph_triangles precedent): the
        # grid-sized counts table feeds THREE plan legs (bounds, the
        # distinct type list, the fill join) whose differing projections
        # defeat exchange reuse, so each leg re-planned the corpus scan +
        # groupBy. Bounded by construction (time-range/width x types);
        # lazy, so plan-only tooling never runs the scan.
        .localCheckpoint(eager=False)
    )
    bounds = counts.agg(
        F.min("bucket_start").alias("lo"), F.max("bucket_start").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.lit(int(width_seconds)).cast("long"))
        ).alias("bucket_start")
    )
    # Distinct types off the aggregated counts, not the raw events (r11,
    # guide §2.3): same value set by construction (every type in events
    # appears in its bucket counts), but grid-sized input instead of a
    # second corpus scan + corpus-wide distinct shuffle.
    types = counts.select("event_type").distinct()
    grid = spine.crossJoin(types)
    return (
        grid.join(counts, ["bucket_start", "event_type"], "left")
        .na.fill({"n": 0})
        .select("bucket_start", "event_type", "n")
    )


RESAMPLE_ORACLE = """
WITH c AS (
    -- epoch_us // 1e6 floors like Spark's unix_timestamp; CAST(epoch(..))
    -- would ROUND and shift sub-second events across hour boundaries
    SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 // 3600) * 3600 AS bucket_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
bounds AS (SELECT MIN(bucket_start) AS lo, MAX(bucket_start) AS hi FROM c),
spine AS (SELECT unnest(range(lo, hi + 3600, 3600)) AS bucket_start FROM bounds),
types AS (SELECT DISTINCT event_type FROM events)
SELECT s.bucket_start, t.event_type, COALESCE(c.n, 0) AS n
FROM spine s CROSS JOIN types t
LEFT JOIN c ON c.bucket_start = s.bucket_start AND c.event_type = t.event_type
ORDER BY s.bucket_start, t.event_type
"""
