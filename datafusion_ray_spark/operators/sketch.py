"""Count-Min sketch — sublinear frequency estimation (the "novel sketch"
operator class; the reference ships no sketches beyond what DataFusion's
approx_* functions provide).

Spark-first: the sketch IS a DataFrame of (row, bucket, count) — D·W rows
regardless of input size — built with one narrow projection + one
map-side-combinable groupBy per hash row. Estimation is a broadcast join of
the tiny key list against the tiny sketch. At 100 TB the build is a single
pass producing D·W counters; merging shards is elementwise addition, so
sketches compose across partitions/days for free (the CMS property).

Hashing is md5-hex -> int (first 4 hex chars), identical in DuckDB SQL, so
the sketch and its estimates are oracle-checkable bit-for-bit.

Design: Cormode & Muthukrishnan, "An improved data stream summary: the
count-min sketch and its applications", J. Algorithms 2005.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Depth (independent hash rows, reusing the dedup digest prefixes) and
#: width (counter buckets per row). Error: est <= true + eps*N with
#: eps = e/W at confidence 1 - e^-D.
CMS_PREFIXES = ("", "a:", "b:")
CMS_WIDTH = 64


def _hex4_to_int(digest: Column) -> Column:
    """First 4 hex chars of an md5 digest as an integer (0..65535)."""
    return F.conv(F.substring(digest, 1, 4), 16, 10).cast("long")


def cms_bucket(key: Column, prefix: str, width: int = CMS_WIDTH) -> Column:
    digest = F.md5(F.concat(F.lit(prefix), key)) if prefix else F.md5(key)
    return (_hex4_to_int(digest) % width).cast("int")


def count_min_build(df: DataFrame, key_col: str,
                    width: int = CMS_WIDTH) -> DataFrame:
    """Build the sketch: (row, bucket, cnt), D·W rows max.

    One scan: the D bucket ids per input row are ``posexplode``-d from a
    plain int array (a union of D selects would re-scan the input D times —
    benched 2.5x slower; a struct-array explode benched ~40% slower than the
    int-array form, struct allocation per element dominates)."""
    key = F.col(key_col).cast("string")
    arr = F.array(*[cms_bucket(key, p, width) for p in CMS_PREFIXES])
    return (
        df.select(F.posexplode(arr).alias("row", "bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("long").alias("cnt"))
    )


def count_min_estimate(sketch: DataFrame, keys: list) -> DataFrame:
    """Point-query the sketch: (key, est) with est = min over rows of the
    key's bucket counter (the CMS upper-bound estimate).

    The SKETCH side is broadcast (guide §3): it is bounded at D·W counters
    by construction — the textbook broadcastable side. r12 normalized the
    join to probes-left LEFT outer (the ``heavy_hitters`` form): the old
    sketch-left RIGHT-outer carried a ``broadcast(probes)`` hint Spark
    REJECTS (build-right is unsupported for right outer joins —
    HintErrorLogger warned every run), though the planner then broadcast
    the sketch side on size anyway, so the executed plan is unchanged
    (BroadcastHashJoin BuildLeft/RightOuter -> BuildRight/LeftOuter,
    ``git show 07602fa:plans/r12/sketch_count_min_{before,after}.txt``);
    the flip makes the broadcast intended rather than incidental and
    silences the warning.
    Left join keeps probes whose bucket has count 0; values are identical
    (same keys, same ``na.fill``, same min-over-rows aggregate)."""
    spark = sketch.sparkSession
    probes = spark.createDataFrame([(str(k),) for k in keys], ["key"])
    arr = F.array(*[cms_bucket(F.col("key"), p) for p in CMS_PREFIXES])
    unioned = probes.select("key", F.posexplode(arr).alias("row", "bucket"))
    return (
        unioned.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .na.fill({"cnt": 0})
        .groupBy("key")
        .agg(F.min("cnt").cast("long").alias("est"))
    )


#: Heavy-hitter configuration: wider sketch (eps = e/W small enough that
#: collisions don't promote light keys) — still only D·W counters.
HH_WIDTH = 4096


def heavy_hitters(df: DataFrame, key_col: str, threshold_frac: float,
                  k: int = 10, width: int = HH_WIDTH,
                  n: int | None = None) -> DataFrame:
    """Top-k heavy hitters: CMS candidate generation + exact verification.

    Classic two-pass batch form of the streaming heavy-hitters problem
    (Cormode & Muthukrishnan 2005 §4): pass 1 builds the bounded sketch and
    probes it with every distinct key (est >= true always, so NO true heavy
    hitter is missed); pass 2 exactly counts ONLY the candidate keys via a
    broadcast semi-join. At 100 TB: the sketch is D·W counters regardless of
    input (broadcast-able by construction), candidates are ~1/threshold_frac
    keys, and the exact pass never materializes the full key frequency
    table — that is the point of the sketch.

    Output is deterministic (md5 buckets + exact ordering) and includes the
    CMS no-underestimate invariant as a checkable column.
    """
    if n is None:
        # driver-side scalar: one number, not data. Callers that hold the
        # un-repartitioned scan pass ``n`` (r11, tfidf_topk convention):
        # counting the raw parquet scan is a footer-metadata job, while
        # counting a spread() frame pays its round-robin exchange.
        n = df.count()
    threshold = threshold_frac * n
    sketch = count_min_build(df, key_col, width=width)
    keys = df.select(F.col(key_col).cast("string").alias("key")).distinct()
    arr = F.array(*[cms_bucket(F.col("key"), p, width) for p in CMS_PREFIXES])
    probes = keys.select("key", F.posexplode(arr).alias("row", "bucket"))
    est = (
        probes.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .na.fill({"cnt": 0})
        .groupBy("key")
        .agg(F.min("cnt").cast("long").alias("est"))
    )
    candidates = est.where(F.col("est") >= threshold)
    exact = (
        df.select(F.col(key_col).cast("string").alias("key"))
        .join(F.broadcast(candidates.select("key")), "key", "left_semi")
        .groupBy("key")
        .agg(F.count("*").cast("long").alias("exact"))
    )
    return (
        exact.join(F.broadcast(candidates), "key")
        .select(
            F.col("key").cast("long").alias("key"),
            "est",
            "exact",
            (F.col("est") >= F.col("exact")).alias("no_underestimate"),
        )
        .orderBy(F.desc("exact"), F.asc("key"))
        .limit(k)
    )


# --- Bloom filter ---------------------------------------------------------

#: Bloom filter size in bits (2^15 <= the 16-bit hex4 range, so bit indexes
#: stay uniform) and K = len(CMS_PREFIXES) hash functions.
BLOOM_BITS = 32768


def bloom_build(df: DataFrame, key_col: str, bits: int = BLOOM_BITS) -> DataFrame:
    """Build a Bloom filter (Bloom, CACM 1970) as its SET-BIT table:
    <= ``bits`` rows regardless of input size.

    One narrow projection + distinct; filters merge by union+distinct (the
    Bloom OR). The md5-derived bit indexes are replicable in DuckDB, so
    membership answers are oracle-checkable bit-for-bit.
    """
    key = F.col(key_col).cast("string")
    arr = F.array(
        *[(_hex4_to_int(F.md5(F.concat(F.lit(p), key)) if p else F.md5(key))
           % bits).cast("int")
          for p in CMS_PREFIXES]
    )
    return df.select(F.explode(arr).alias("bit")).distinct()


def bloom_probe(bloom: DataFrame, keys: list, bits: int = BLOOM_BITS) -> DataFrame:
    """Probe the filter: key claimed present iff ALL K bits are set.

    The bloom set-bit table is bounded (<= ``bits`` rows) so it broadcasts
    by construction — the probe never shuffles the probed data. Guarantee:
    no false negatives (a key that was inserted always reports true).
    """
    spark = bloom.sparkSession
    probe_df = spark.createDataFrame([(str(k),) for k in keys], ["key"])
    key = F.col("key")
    arr = F.array(
        *[(_hex4_to_int(F.md5(F.concat(F.lit(p), key)) if p else F.md5(key))
           % bits).cast("int")
          for p in CMS_PREFIXES]
    )
    k_hashes = len(CMS_PREFIXES)
    marked = F.broadcast(bloom.withColumn("_set", F.lit(1)))
    return (
        probe_df.select("key", F.explode(arr).alias("bit"))
        .join(marked, "bit", "left")
        .groupBy("key")
        .agg((F.sum(F.coalesce(F.col("_set"), F.lit(0))) == k_hashes).alias("claimed"))
    )


# --- HyperLogLog ----------------------------------------------------------
#
# Flajolet et al., "HyperLogLog: the analysis of a near-optimal cardinality
# estimation algorithm", AofA 2007. m = 64 registers (b = 6 bits); alpha_64
# = 0.709. Deterministic: register index and rank come from md5 hex (no
# engine-native hash), and the register sum sum(2^-M_j) is computed as an
# EXACT fixed-point integer sum(2^(K - M_j)) / 2^K, so the estimate is one
# float division of two exact integers — bit-identical across engines and
# therefore hash-certifiable (unlike approx_count_distinct's opaque HLL++).

HLL_M = 64  #: registers (b = 6 index bits)
HLL_K = 50  #: fixed-point scale; ranks > K contribute 0 (P < 2^-50)
HLL_ALPHA = 0.709  #: bias constant for m = 64


def hll_registers(df: DataFrame, key_col: str,
                  with_count: bool = False) -> DataFrame:
    """Build the register table (register, max_rho) — ≤ m rows.

    rho = 1 + leading-zero count of a 60-bit md5 suffix, computed with pure
    integer arithmetic: LENGTH(BIN(v)) = floor(log2 v) + 1 (no float-on-
    the-boundary hazard). Mergeable: registers from shards/days combine
    with groupBy(register).max(max_rho) — the HLL property.

    ``with_count`` additionally emits ``nk`` = rows per register (merges by
    SUM); over a distinct key stream, SUM(nk) is the exact distinct count,
    which lets a certification query fold the exact count into the same
    pass as the sketch (run_hll, r11).
    """
    h = F.md5(F.col(key_col).cast("string"))
    reg = (F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % HLL_M).cast("int")
    v = F.conv(F.substring(h, 3, 15), 16, 10).cast("long")  # 60 bits
    rho = F.when(v == 0, F.lit(61)).otherwise(F.lit(61) - F.length(F.bin(v)))
    aggs = [F.max("rho").alias("max_rho")]
    if with_count:
        aggs.append(F.count("*").cast("long").alias("nk"))
    return (
        df.select(reg.alias("register"), rho.cast("int").alias("rho"))
        .groupBy("register")
        .agg(*aggs)
    )


def hll_term() -> "F.Column":
    """The fixed-point register term of the raw HLL estimate — an exact
    BIGINT per register (2^(K - M_j), 0 past the K cutoff); unseen
    registers (max_rho NULL after the range-m left join) count as M_j = 0.
    Shared by hll_estimate and the one-pass certification in run_hll."""
    return F.expr(
        f"CASE WHEN coalesce(max_rho, 0) <= {HLL_K} "
        f"THEN shiftleft(CAST(1 AS BIGINT), {HLL_K} - coalesce(max_rho, 0)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


#: numerator of the raw HLL estimate: alpha * m^2 * 2^K (the fixed-point
#: scale), divided by the register sum for the final float estimate.
HLL_SCALE = float(HLL_ALPHA * HLL_M * HLL_M * (1 << HLL_K))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One-row estimate from a register table (raw HLL formula).

    Unseen registers count as M_j = 0. The fixed-point register sum is an
    exact BIGINT (64 terms ≤ 2^50), so the only float op is the final
    division.
    """
    spark = registers.sparkSession
    full = spark.range(HLL_M).select(F.col("id").cast("int").alias("register"))
    return (
        full.join(registers, "register", "left")
        .agg(F.sum(hll_term()).alias("reg_sum"))
        .select(F.round(F.lit(HLL_SCALE) / F.col("reg_sum"), 4).alias("hll_est"))
    )
