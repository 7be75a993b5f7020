"""Round-3 late-batch extension entries: rolling-median window features,
character-entropy quality signal, corpus bigram LM, Z-order layout keys,
one-pass table profiling, and MAD outlier detection.

Same contract as ``suite.py``/``suite2.py``: every entry pairs a Spark
callable with an independently-written DuckDB oracle recomputing identical
semantics; value paths are integer-exact (fixed-point micro-units, Morton
codes, floor-division ppm) or rounded at 6 dp so the driver's value-hash
comparison certifies them.

Scale notes are on each operator; none of them collects rows to the
driver, none is quadratic, and each names its shuffle structure.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Deliberately NOT spread(): this module's document consumers (mm
    # payload kernels, char entropy, bigram LM) feed an immediate shuffle
    # or cheap Arrow batch, and the r7 isolated re-measurement showed the
    # extra repartition costs 0.2-0.7 s per query at sf0.1 with no gain
    # (spread() no-ops on real multi-file inputs, so there is no scale
    # upside either). The shingle-pipeline modules (suite4/suite5) DO
    # spread — their kernels are the measured serial bottleneck.
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Rolling median (exact, trailing-N frame) — time-series feature engineering.
#
# Spark has no native median window function; percentile_approx over a frame
# is approximate. This computes the EXACT trailing-10-rows median per user as
# sorted-frame arithmetic: collect_list over the frame (bounded: <= N values
# per row), array_sort, pick the middle element(s). To stay hash-certifiable
# the value is kept integer: micro-units, and the median is emitted as the
# SUM of the two middle elements (x2), avoiding the /2 float.
#
# Scale: one hash shuffle on user_id (window partition); frame state is
# O(N)=10 values per row regardless of data volume — linear and skew-safe
# (user event counts are bounded per partition by the window spec, and AQE
# handles partition skew like any other sort-based window).

FRAME_N = 10


def rolling_median_x2(
    df: DataFrame,
    part_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
    value_col: str = "value",
    frame_rows: int = FRAME_N,
) -> DataFrame:
    """All input columns plus ``med_x2_us``: twice the exact median (in
    micro-units) of the trailing ``frame_rows`` values per partition."""
    vus = F.floor(F.col(value_col) * 1_000_000).cast("long")
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(-(frame_rows - 1), 0)
    )
    sorted_frame = F.array_sort(F.collect_list(vus).over(w))
    n = F.size(sorted_frame)
    lo = ((n + 1) / 2).cast("int")  # 1-based: middle (odd) / lower-mid (even)
    hi = (n / 2).cast("int") + 1  # middle (odd) / upper-mid (even)
    return df.withColumn(
        "med_x2_us",
        F.element_at(sorted_frame, lo) + F.element_at(sorted_frame, hi),
    )


def run_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No cosmetic global ORDER BY on the corpus-sized output: range
    # partitioning's sampling pass re-executes the child — here the
    # per-row collect_list+array_sort window, the most expensive window
    # kernel in the registry (53.5 s at 100x before) — and the
    # correctness gates sort canonically anyway (SCALE.md round-6 rule).
    ev = _events(spark, sf_dir)
    return rolling_median_x2(ev).select("event_id", "user_id", "med_x2_us")


ROLLING_MEDIAN_ORACLE = f"""
WITH b AS (
    SELECT event_id, user_id,
           list_sort(list(CAST(floor(value * 1000000) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {FRAME_N - 1} PRECEDING AND CURRENT ROW)) AS s
    FROM events
)
SELECT event_id, user_id,
       s[CAST((len(s) + 1) // 2 AS INT)]
           + s[CAST(len(s) // 2 + 1 AS INT)] AS med_x2_us
FROM b
ORDER BY event_id
"""


# ---------------------------------------------------------------------------
# Character-entropy quality signal — gibberish / binary-spill detector used
# alongside the Gopher rules: natural language sits in a band of character
# entropy; base64 blobs and repeated-char spam fall outside it.
#
# Integer-exact form: each per-character term round(c * log2(n/c) * 1e6) is
# a BIGINT, summed exactly; entropy_bits = entropy_numer_us / (n * 1e6).
# (Same fixed-point trick as the unigram-LM scorer, text.py:341.)
#
# Scale: explode(one row per character) -> two map-side-combinable groupBys
# (doc_id,ch) then (doc_id). Shuffle volume is bounded by distinct
# (doc, char) pairs — ~alphabet-size per doc, far below the exploded size.


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    # split(text, '') yields the char array in ONE linear pass; the
    # per-position substring(text, i, 1) form is O(i) per access on
    # UTF8String (byte-scan to position i), i.e. O(n^2) per document —
    # benched 1.9 s vs 0.26 s at sf0.1, bit-identical output.
    chars = df.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) = 0 THEN array() "
                f"ELSE split({text_col}, '') END"
            )
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    terms = counts.withColumn("n", n).withColumn(
        "term_us",
        F.round(F.col("c") * F.log2(F.col("n") / F.col("c")) * 1_000_000)
        .cast("long"),
    )
    return terms.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_chars_total"),
        F.count("*").cast("long").alias("n_unique_chars"),
        F.sum("term_us").cast("long").alias("entropy_numer_us"),
    )


def run_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return char_entropy(_docs(spark, sf_dir)).orderBy("doc_id")


CHAR_ENTROPY_ORACLE = """
WITH chars AS (
    -- scalar range() list (lateral range table functions can't take
    -- column arguments in this DuckDB build)
    SELECT doc_id,
           unnest(list_transform(range(1, length(text) + 1),
               i -> substring(text, CAST(i AS INT), 1))) AS ch
    FROM documents
),
counts AS (
    SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
),
terms AS (
    SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n
    FROM counts
)
SELECT doc_id,
       CAST(MAX(n) AS BIGINT) AS n_chars_total,
       CAST(COUNT(*) AS BIGINT) AS n_unique_chars,
       CAST(SUM(CAST(ROUND(c * log2(CAST(n AS DOUBLE) / c) * 1000000)
           AS BIGINT)) AS BIGINT) AS entropy_numer_us
FROM terms
GROUP BY doc_id
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Corpus bigram language model — the count-based n-gram LM build (the
# MapReduce-era classic; still how web-scale LM count tables are made).
# Emits the top-20 bigrams with raw count and integer-ppm conditional
# probability P(w2|w1) = c(w1 w2) * 1e6 // c(w1 *).
#
# Scale: tokenize (projection) -> explode bigrams -> one groupBy(w1,w2)
# with map-side combine; the per-w1 denominator is a window sum over the
# ALREADY-aggregated bigram table (distinct-bigram-sized, not corpus-sized).

TOP_BIGRAMS = 20


def bigram_lm(df: DataFrame, text_col: str = "text") -> DataFrame:
    # Tokenize in a SEPARATE projection: inlining split() into the
    # transform lambda re-evaluates the regex split on every array access
    # (no common-subexpression elimination across lambda scopes) — benched
    # 6.3 s vs 0.8 s at sf0.1 for the whole query, an 8x difference from
    # this line alone.
    t = df.select(F.split(F.trim(text_col), r"\s+").alias("t"))
    pairs = t.select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) < 2 THEN array() "
                "ELSE transform(sequence(0, size(t) - 2), "
                "i -> struct(t[i] AS w1, t[i + 1] AS w2)) END"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    counts = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    cw1 = F.sum("c").over(Window.partitionBy("w1"))
    return (
        counts.withColumn("cw1", cw1.cast("long"))
        # integer-exact floor division (a double quotient could round across
        # an integer boundary and break the hash certification)
        .withColumn("p_ppm", F.expr("(c * 1000000L) div cw1").cast("long"))
        .select(
            "w1", "w2", F.col("c").cast("long").alias("c"), "p_ppm"
        )
        .orderBy(F.desc("c"), "w1", "w2")
        .limit(TOP_BIGRAMS)
    )


def run_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm(_docs(spark, sf_dir))


BIGRAM_LM_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
    FROM documents
),
pairs AS (
    SELECT unnest(list_transform(range(1, len(t)),
               i -> struct_pack(w1 := t[CAST(i AS INT)],
                                w2 := t[CAST(i AS INT) + 1]))) AS bg
    FROM toks
),
flat AS (SELECT bg.w1 AS w1, bg.w2 AS w2 FROM pairs),
counts AS (
    SELECT w1, w2, COUNT(*) AS c FROM flat GROUP BY w1, w2
)
SELECT w1, w2, CAST(c AS BIGINT) AS c,
       CAST(c * 1000000 // SUM(c) OVER (PARTITION BY w1) AS BIGINT) AS p_ppm
FROM counts
ORDER BY c DESC, w1, w2
LIMIT {TOP_BIGRAMS}
"""


# ---------------------------------------------------------------------------
# Z-order (Morton) layout clustering — the data-layout optimizer behind
# Delta OPTIMIZE ZORDER / Iceberg sort orders: interleave the bits of two
# filter columns so files become hyper-rectangles in (x, y) space and
# min/max file statistics prune scans on EITHER column at 100 TB.
#
# This computes the 32-bit Morton code with the standard magic-number bit
# spreading (pure integer shifts/masks — whole-stage-codegen'd, no UDF) and
# assigns each row to the quadtree cell given by the code's top CELL_BITS
# bits — a PURE PROJECTION, no global sort anywhere — then reports each
# cell's (x, y) bounding box: the proof the layout prunes is that every
# cell is a small axis-aligned tile, so file min/max statistics cut scans
# on EITHER column. (A production writer would follow with
# ``repartitionByRange("z")`` — Spark's sampled range sort, scalable but
# boundary-nondeterministic, so the certified output is the deterministic
# cell stats instead.)
#
# Scale: projection + one map-side-combinable groupBy on cell id. Nothing
# here depends on total row count.

CELL_BITS = 5  # 2^5 = 32 quadtree cells from the top Morton bits
_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread16(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` to even bit positions (Morton)."""
    v = col.bitwiseAND(F.lit(0xFFFF).cast("long"))
    for sh, mask in _MASKS:
        v = (v.bitwiseOR(F.shiftleft(v, sh))).bitwiseAND(
            F.lit(mask).cast("long")
        )
    return v


def morton_code(x: Column, y: Column) -> Column:
    """32-bit Morton interleave of two 16-bit-masked BIGINT columns."""
    return _spread16(x).bitwiseOR(F.shiftleft(_spread16(y), 1))


def _duck_spread(expr: str) -> str:
    v = f"({expr} & 65535)"
    for sh, mask in _MASKS:
        v = f"(({v} | ({v} << {sh})) & {mask})"
    return v


def zorder_cell_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    cell_bits: int = CELL_BITS,
) -> DataFrame:
    """Per-quadtree-cell bounding boxes of the Z-order layout of
    (``x_col``, ``y_col``).

    Keys are first normalized to the full 16-bit grid against the global
    min/max (a 1-row aggregate, broadcast; integer floor arithmetic so the
    mapping is deterministic), so the top Morton bits are meaningful
    whatever the key magnitudes.
    """
    bounds = df.agg(
        F.min(x_col).cast("long").alias("_xlo"),
        F.max(x_col).cast("long").alias("_xhi"),
        F.min(y_col).cast("long").alias("_ylo"),
        F.max(y_col).cast("long").alias("_yhi"),
    )
    g = df.select(
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).crossJoin(F.broadcast(bounds))
    xn = F.expr("((x - _xlo) * 65535L) div greatest(_xhi - _xlo, 1L)")
    yn = F.expr("((y - _ylo) * 65535L) div greatest(_yhi - _ylo, 1L)")
    z = morton_code(xn, yn)
    cells = g.withColumn(
        "cell_id", F.shiftrightunsigned(z, 32 - cell_bits).cast("long")
    )
    return (
        cells.groupBy("cell_id")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("x").cast("long").alias("min_x"),
            F.max("x").cast("long").alias("max_x"),
            F.min("y").cast("long").alias("min_y"),
            F.max("y").cast("long").alias("max_y"),
        )
        .orderBy("cell_id")
    )


def run_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return zorder_cell_stats(li, "l_partkey", "l_suppkey")


ZORDER_ORACLE = f"""
WITH b AS (
    SELECT MIN(l_partkey) AS xlo, MAX(l_partkey) AS xhi,
           MIN(l_suppkey) AS ylo, MAX(l_suppkey) AS yhi
    FROM lineitem
),
norm AS (
    SELECT l_partkey AS x, l_suppkey AS y,
           ((l_partkey - xlo) * 65535) // GREATEST(xhi - xlo, 1) AS xn,
           ((l_suppkey - ylo) * 65535) // GREATEST(yhi - ylo, 1) AS yn
    FROM lineitem, b
),
coded AS (
    SELECT x, y,
           (({_duck_spread('xn')} | ({_duck_spread('yn')} << 1))
               >> (32 - {CELL_BITS})) AS cell_id
    FROM norm
)
SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
FROM coded
GROUP BY cell_id
ORDER BY cell_id
"""


# ---------------------------------------------------------------------------
# One-pass table profiler — the data-quality summary every ingest pipeline
# runs first (null rates, cardinalities, ranges per column).
#
# Two modes, both Expand-free:
#   - DEFAULT (approx): all 11 lineitem columns in ONE scan — null counts,
#     min/max, and approx_count_distinct (HLL, mergeable, no Expand). This
#     is the 100 TB plan. A multi-column exact countDistinct aggregate
#     would lower to an Expand that multiplies the shuffle input ×11
#     (~1.1 PB at 100 TB) — the plan snapshot test pins its absence.
#   - EXACT (oracle mode): adds one column-pruned per-column pass per
#     exact distinct count (each a two-phase partial-distinct aggregate,
#     map-side combinable, shuffling distinct values only — never ×11
#     rows). The certified query runs this mode so values hash-match the
#     DuckDB oracle AND certifies the approx path via oracle-enforced
#     error-bound booleans (the agg_approx_distinct pattern).

_NUM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)
_STR_COLS = ("l_returnflag", "l_linestatus")
_PROFILE_COLS = _NUM_COLS + _STR_COLS + ("l_shipdate",)
#: approx estimate must land within this relative error of exact (rsd 0.05
#: ⇒ 2σ bound 10%, same budget agg_approx_distinct certifies).
_APPROX_RSD = 0.05
_APPROX_REL_BOUND = 0.10


def profile_table(df: DataFrame, exact: bool = False) -> DataFrame:
    aggs = []
    for c in _PROFILE_COLS:
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nn"))
        aggs.append(
            F.approx_count_distinct(c, _APPROX_RSD).alias(f"{c}__nda")
        )
        if c in _NUM_COLS:
            mn = F.round(F.min(c).cast("double"), 6)
            mx = F.round(F.max(c).cast("double"), 6)
        elif c == "l_shipdate":
            mn = F.datediff(F.min(c).cast("date"), F.lit("1970-01-01")).cast(
                "double"
            )
            mx = F.datediff(F.max(c).cast("date"), F.lit("1970-01-01")).cast(
                "double"
            )
        else:
            mn = F.lit(None).cast("double")
            mx = F.lit(None).cast("double")
        aggs.append(mn.alias(f"{c}__mn"))
        aggs.append(mx.alias(f"{c}__mx"))
    wide = df.agg(*aggs)  # ONE scan, no Expand
    if exact:
        # One pruned single-column pass per exact distinct; each is its own
        # 1-row aggregate subtree so Catalyst never merges them back into a
        # multi-distinct Expand. Cross-joining 1-row frames is free.
        for c in _PROFILE_COLS:
            wide = wide.crossJoin(
                df.select(c).agg(F.countDistinct(c).alias(f"{c}__nd"))
            )
        nd_cols = ", ".join(
            f"'{c}', {c}__nn, {c}__nd, "
            f"CAST(ABS(CAST({c}__nda AS DOUBLE) - {c}__nd) "
            f"<= {_APPROX_REL_BOUND} * {c}__nd AS BOOLEAN), "
            f"{c}__mn, {c}__mx"
            for c in _PROFILE_COLS
        )
        fields = "col_name, n_null, n_distinct, nd_approx_ok, min_d, max_d"
        out_cols = [
            "col_name",
            F.col("n_null").cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "nd_approx_ok",
            "min_d",
            "max_d",
        ]
    else:
        nd_cols = ", ".join(
            f"'{c}', {c}__nn, {c}__nda, {c}__mn, {c}__mx"
            for c in _PROFILE_COLS
        )
        fields = "col_name, n_null, n_distinct, min_d, max_d"
        out_cols = [
            "col_name",
            F.col("n_null").cast("long").alias("n_null"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_d",
            "max_d",
        ]
    return (
        wide.select(
            F.expr(
                f"stack({len(_PROFILE_COLS)}, {nd_cols}) AS ({fields})"
            )
        )
        .select(*out_cols)
        .orderBy("col_name")
    )


def run_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return profile_table(load_table(spark, sf_dir, "lineitem"), exact=True)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_COLS:
        if c in _NUM_COLS:
            mn = f"ROUND(CAST(MIN({c}) AS DOUBLE), 6)"
            mx = f"ROUND(CAST(MAX({c}) AS DOUBLE), 6)"
        elif c == "l_shipdate":
            mn = (
                "CAST(date_diff('day', DATE '1970-01-01', "
                f"CAST(MIN({c}) AS DATE)) AS DOUBLE)"
            )
            mx = (
                "CAST(date_diff('day', DATE '1970-01-01', "
                f"CAST(MAX({c}) AS DATE)) AS DOUBLE)"
            )
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS col_name, "
            f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null, "
            f"CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            # TRUE literal makes the hash gate enforce the HLL error bound
            # computed Spark-side (agg_approx_distinct pattern).
            f"TRUE AS nd_approx_ok, "
            f"{mn} AS min_d, {mx} AS max_d FROM lineitem"
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


PROFILE_ORACLE = _profile_oracle()


# ---------------------------------------------------------------------------
# MAD outlier report — robust (median/MAD) anomaly detection per event
# type: the z-score's breakdown-resistant cousin, standard for metric
# streams where the mean itself is polluted by the outliers.
#
# Two grouped exact-percentile passes (median, then MAD of deviations) plus
# broadcast joins of the per-type bounds back onto events — the small side
# is |event_type| rows, so both joins broadcast; events are scanned twice
# (the second pass needs the medians), each scan a map-side-combinable agg.

MAD_K = 3.0


def mad_outliers(df: DataFrame, by: str = "event_type", value_col: str = "value") -> DataFrame:
    med = df.groupBy(by).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("_med"),
        F.count("*").cast("long").alias("n"),
    )
    devs = df.join(F.broadcast(med), by).withColumn(
        "_dev", F.abs(F.col(value_col) - F.col("_med"))
    )
    mad = devs.groupBy(by, "_med", "n").agg(
        F.expr("percentile(_dev, 0.5)").alias("_mad")
    )
    out = devs.drop("_mad", "n", "_med").join(
        F.broadcast(mad), by
    )
    return (
        out.groupBy(by, "_med", "_mad", "n")
        .agg(
            F.count(F.when(F.col("_dev") > MAD_K * F.col("_mad"), 1))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            by,
            F.col("n"),
            F.round("_med", 6).alias("median_v"),
            F.round("_mad", 6).alias("mad_v"),
            "n_outliers",
        )
        .orderBy(by)
    )


def run_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mad_outliers(_events(spark, sf_dir))


MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS m,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
),
devs AS (
    SELECT e.event_type, ABS(e.value - med.m) AS dev, med.m, med.n
    FROM events e JOIN med USING (event_type)
),
mad AS (
    SELECT event_type, m, n, quantile_cont(dev, 0.5) AS md
    FROM devs GROUP BY event_type, m, n
)
SELECT d.event_type, mad.n,
       ROUND(mad.m, 6) AS median_v,
       ROUND(mad.md, 6) AS mad_v,
       CAST(SUM(CASE WHEN d.dev > {MAD_K} * mad.md THEN 1 ELSE 0 END)
           AS BIGINT) AS n_outliers
FROM devs d JOIN mad USING (event_type)
GROUP BY d.event_type, mad.n, mad.m, mad.md
ORDER BY d.event_type
"""


# ---------------------------------------------------------------------------
# Multimodal perceptual-hash near-dup — image-style dedup over the binary
# payload column: aHash (64-bit average hash over the codec's 8x8 resize)
# + banded candidate join + exact hamming verify. The multimodal twin of
# dedup_simhash: candidates only, never all-pairs; the oracle IS all-pairs,
# which is exactly what certifies the banding lossless at max_hamming <=
# PHASH_BANDS - 1.


#: Certification threshold for the registry entry only. The operator's
#: lossless pigeonhole default stays max_hamming=7 (PHASH_BANDS-1), but the
#: synthetic corpus's closest payload pairs sit at hamming 17-20 — at 7 the
#: query returns 0 rows on every test SF and the oracle match is vacuous.
#: 20 yields real rows to hash-match; above PHASH_BANDS-1 the output is
#: "pairs within hamming 20 sharing a non-hub band" (banding-dependent but
#: exactly deterministic), and the oracle replicates the banding bit-for-bit.
PHASH_CERT_HAMMING = 20


def run_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    payload = mm.with_binary_payload(_docs(spark, sf_dir))
    return mm.phash_near_dup_pairs(
        payload, max_hamming=PHASH_CERT_HAMMING
    ).orderBy("doc_a", "doc_b")


def phash_oracle(max_hamming: int = 7) -> str:
    from .multimodal import (
        PHASH_BAND_BITS,
        PHASH_BANDS,
        PHASH_HUB_CAP,
        PHASH_SAMPLES,
    )

    ns, nb, w, cap = PHASH_SAMPLES, PHASH_BANDS, PHASH_BAND_BITS, PHASH_HUB_CAP
    # byte i (0-based) of encode(text) = hex chars 2i+1, 2i+2 (1-based)
    byte_at = (
        f"(strpos('0123456789ABCDEF', substring(hx, 2*CAST((j*n)//{ns} AS INT)+1, 1))-1)*16"
        f" + strpos('0123456789ABCDEF', substring(hx, 2*CAST((j*n)//{ns} AS INT)+2, 1))-1"
    )
    return f"""
WITH b AS (
    SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS hx
    FROM documents
),
samp AS (
    SELECT doc_id,
           list_transform(range(0, {ns}),
               j -> CASE WHEN n = 0 THEN 0 ELSE {byte_at} END) AS s
    FROM b
),
tot AS (SELECT doc_id, s, list_sum(s) AS t FROM samp),
bands AS (
    SELECT doc_id,
           list_transform(range(0, {nb}), k ->
               list_sum(list_transform(range(0, {w}), m ->
                   CASE WHEN s[CAST(k*{w} + m AS INT) + 1] * {ns} > t
                        THEN 1 << ({w - 1} - CAST(m AS INT)) ELSE 0 END))) AS bv
    FROM tot
),
bexp AS (
    SELECT doc_id, CAST(t.k AS INT) AS k, bv[CAST(t.k AS INT) + 1] AS v
    FROM bands, range(0, {nb}) t(k)
),
nonhub AS (
    SELECT k, v FROM bexp GROUP BY k, v HAVING COUNT(*) <= {cap}
),
fb AS (SELECT bexp.* FROM bexp JOIN nonhub USING (k, v)),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
    FROM fb a JOIN fb c ON a.k = c.k AND a.v = c.v AND a.doc_id < c.doc_id
),
pairs AS (
    SELECT doc_a, doc_b,
           list_sum(list_transform(range(0, {nb}),
               k -> bit_count(xor(a.bv[CAST(k AS INT) + 1],
                                  c.bv[CAST(k AS INT) + 1])))) AS hamming
    FROM cand
    JOIN bands a ON a.doc_id = cand.doc_a
    JOIN bands c ON c.doc_id = cand.doc_b
)
SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
FROM pairs
WHERE hamming <= {max_hamming}
ORDER BY doc_a, doc_b
"""


# ---------------------------------------------------------------------------
# Quality-aware dedup apply — same pairs -> transitive groups pipeline as
# dedup_apply, but each duplicate cluster keeps its HIGHEST-QUALITY member
# (longest text, doc_id tiebreak) instead of the min-label one: what a
# production corpus dedup actually ships (drop the truncated mirror, keep
# the full article). Representative choice is one window rank over the
# group-label table (group-sized, not corpus-sized).


def run_dedup_apply_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dedup

    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs).where("is_near_dup")
    groups = dedup.duplicate_groups(pairs)
    ranked = groups.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("group_id").orderBy(F.desc("n_chars"), "doc_id")
    dropped = (
        ranked.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .select(
            "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
        )
        .orderBy("doc_id")
    )


def dedup_apply_quality_oracle() -> str:
    from .oracles import minhash_pairs_oracle

    return f"""
WITH RECURSIVE mp AS (
{minhash_pairs_oracle()}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM mp WHERE is_near_dup
    UNION ALL
    SELECT doc_b, doc_a FROM mp WHERE is_near_dup
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
),
labels AS (SELECT id AS doc_id, MIN(r) AS group_id FROM reach GROUP BY id),
ranked AS (
    SELECT l.doc_id,
           ROW_NUMBER() OVER (PARTITION BY l.group_id
                              ORDER BY d.n_chars DESC, l.doc_id) AS rn
    FROM labels l JOIN documents d USING (doc_id)
),
dropped AS (SELECT doc_id FROM ranked WHERE rn > 1)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# Per-source document cap — the URL/domain-level volume cap every
# web-corpus pipeline applies (no domain may dominate the mix): keep the
# top CAP_K docs per source by (n_chars DESC, doc_id). One window rank per
# source partition — a single hash shuffle on source; skewed domains are
# exactly the rows the cap discards, so the post-filter partitions are
# bounded by CAP_K x |sources|.

CAP_K = 10


def run_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        docs.withColumn("rank_in_source", F.row_number().over(w))
        .where(F.col("rank_in_source") <= CAP_K)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.col("rank_in_source").cast("int").alias("rank_in_source"),
        )
        .orderBy("doc_id")
    )


SOURCE_CAP_ORACLE = f"""
WITH ranked AS (
    SELECT doc_id, source, n_chars,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM documents
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(rn AS INT) AS rank_in_source
FROM ranked
WHERE rn <= {CAP_K}
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Value-band join — the scalar epsilon-join (|l.value - r.value| <= eps):
# the third member of the banded-join family (as-of = time order, range =
# time window, band = numeric proximity). Same Spark-first bucketization
# as rangejoin.py: a raw |Δ| predicate plans as a nested-loop join; bucket
# width eps turns it into a hash equi-join (right side exploded into its
# 3 adjacent buckets), with the exact band predicate as a residual filter.
# EPS is a power-of-two fraction so value/EPS is exact double scaling and
# the bucket id is engine-deterministic.

BAND_EPS = 0.5


def run_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band COUNT via the distributed-CDF form (rangejoin.band_count):
    the old bucketized pair join was the right plan for emitting pairs
    but quadratic busywork for a count — the 100x scale gate measured
    1300+ s on it; the CDF form is two linear shuffles at any density.
    The oracle uses the same ``v ± eps`` boundary arithmetic (NOT
    ``ABS(a-b) <= eps``: IEEE sub and add round differently at exact
    band edges, and both engines must compare the same doubles)."""
    from .rangejoin import band_count

    ev = _events(spark, sf_dir)
    err = ev.where(F.col("event_type") == "error").select("event_id", "value")
    clk = ev.where(F.col("event_type") == "click").select("value")
    return band_count(
        err, clk, probe_val="value", target_val="value",
        eps=BAND_EPS, id_col="event_id",
    ).orderBy("event_id")


VALUE_BAND_ORACLE = f"""
SELECT e.event_id, CAST(COUNT(c.value) AS BIGINT) AS n_close
FROM events e
LEFT JOIN events c
    ON c.event_type = 'click'
   AND c.value >= e.value - {BAND_EPS}
   AND c.value <= e.value + {BAND_EPS}
WHERE e.event_type = 'error'
GROUP BY e.event_id
ORDER BY e.event_id
"""


# ---------------------------------------------------------------------------
# Exact triangle census — the third classic graph kernel (after the
# connected components inside dedup_groups and PageRank): triangle and
# wedge counts give the global clustering coefficient, the standard
# structure metric for entity/link graphs.
#
# Spark-first: node-ordered orientation (every undirected edge stored once
# as a<b), wedges enumerated by joining the ordered edge list with itself
# on the apex, triangles closed with a third join — the MapReduce
# triangle-counting shape (Suri & Vassilvitskii 2011). At scale the
# orientation would be by (degree, id) so high-degree hubs never fan out
# quadratically; on the 25-node trade graph plain name order suffices and
# keeps the oracle simple. The expensive part (edge extraction from the
# fact tables) is the same broadcast-dim aggregation PageRank uses.


def run_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import trade_edges

    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "supplier", "nation")}
    de = trade_edges(t["lineitem"], t["orders"], t["customer"],
                     t["supplier"], t["nation"])
    und = (
        de.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        # Pin: `und` (<= |V|^2 nation-pair rows) feeds FIVE consumers
        # (degree union x2, both wedge legs, the triangle-closing join,
        # the edge count). AQE's runtime exchange reuse does dedupe the
        # repeated trade_edges subtrees (old executed plan: 10
        # ReusedExchange), but every consumer still carries the full
        # fact-join subtree through planning and the stage graph; the pin
        # collapses the executed plan (23 -> 15 Exchange nodes, reuse
        # machinery gone) and benched faster interleaved at sf0.1
        # (min-of-4: 1.84 -> 1.52 s). Lazy: materializes inside the
        # first consuming job.
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    counts = deg.agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.expr("CAST(sum((d * (d - 1)) div 2) AS BIGINT)").alias("n_wedges"),
    )
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y1"))
    e2 = und.select(F.col("a").alias("x"), F.col("b").alias("y2"))
    wedges = e1.join(e2, "x").where(F.col("y1") < F.col("y2"))
    tri = wedges.join(
        und, (F.col("y1") == F.col("a")) & (F.col("y2") == F.col("b"))
    ).agg(F.count("*").cast("long").alias("n_triangles"))
    edges_n = und.agg(F.count("*").cast("long").alias("n_edges"))
    return counts.crossJoin(edges_n).crossJoin(tri).select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles"
    )


TRIANGLES_ORACLE = """
WITH e0 AS (
    SELECT n1.n_name AS src, n2.n_name AS dst
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON c_nationkey = n1.n_nationkey
    JOIN nation n2 ON s_nationkey = n2.n_nationkey
    GROUP BY n1.n_name, n2.n_name
),
und AS (
    SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
    FROM e0 WHERE src <> dst
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT a AS node FROM und UNION ALL SELECT b FROM und
    ) GROUP BY node
),
tri AS (
    SELECT COUNT(*) AS n FROM und e1
    JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM und) AS BIGINT) AS n_edges,
       CAST((SELECT SUM((d * (d - 1)) // 2) FROM deg) AS BIGINT) AS n_wedges,
       CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles
"""


# ---------------------------------------------------------------------------
# Retention cohort matrix — the product-analytics staple: users grouped by
# first-seen week, activity counted per week offset. One distinct
# (user, week) projection, a per-user min (map-side combinable), and one
# final grid-sized aggregate — three linear shuffles, no windows over the
# raw event stream.


def run_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wk = F.date_trunc("week", F.col("ts")).cast("date")
    user_weeks = ev.select("user_id", wk.alias("wk")).distinct()
    # Cohort week via a window min instead of groupBy+join-back (r11,
    # guide §2.4 — the dedup_groups/dedup_ensemble pattern): Catalyst
    # planned the join-back form as TWO full scans of events (the
    # cohort side collapsed distinct+min into its own corpus aggregate)
    # plus a broadcast build that is user-scale — fine at sf0.1,
    # corpus-scale at 100 TB. min(wk) OVER (PARTITION BY user_id) reads
    # the one distinct pass and shuffles only its (user, week) output.
    cohort_week = F.min("wk").over(Window.partitionBy("user_id"))
    return (
        user_weeks.select(
            cohort_week.alias("cohort_week"),
            (F.datediff(F.col("wk"), cohort_week) / 7)
            .cast("int").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_ORACLE = """
WITH uw AS (
    SELECT DISTINCT user_id,
           CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
    FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, uw.wk) // 7 AS INT) AS week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM uw JOIN cohort c USING (user_id)
GROUP BY c.cohort_week, week_offset
ORDER BY c.cohort_week, week_offset
"""


# ---------------------------------------------------------------------------
# Upsert merge (the MERGE INTO kernel) — the lakehouse CDC apply: a change
# batch merged onto a snapshot with update/insert/delete semantics. Spark
# has no writable-table MERGE without a lakehouse format, but the MERGE
# *kernel* is exactly one latest-row window per side plus one full outer
# join on the key — which is what Delta/Iceberg execute underneath.
#
# Here the events table is split at its integer-micros time midpoint:
# rows <= cut form the base snapshot (latest row per user), rows > cut the
# change batch; a change whose latest event_type is 'error' deletes the
# user. Scale: two window passes (one shuffle each, map-side combinable
# after AQE) + one key-partitioned outer join — all linear.


def run_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import epoch_us

    ev = _events(spark, sf_dir)
    ev = ev.withColumn("_eus", epoch_us(ev, "ts"))
    bounds = ev.agg(
        F.min("_eus").alias("_lo"), F.max("_eus").alias("_hi")
    )
    # Single-pass MERGE kernel (r11, guide §1.2 "don't compute things
    # twice" + §2.4): the old base/chg split ran TWO window pipelines
    # over complementary slices of the same scan — the physical plan
    # paid 4 parquet scans of events (each side re-planned the bounds
    # subtree), two corpus-sized window exchanges, and a full-outer SMJ.
    # Tagging each row with its side and windowing over
    # (user_id, _is_chg) keeps the identical per-side latest row in ONE
    # scan + ONE window exchange; the full-outer join collapses to a
    # two-rows-per-user groupBy pivot (max(when(side, col)) reproduces
    # the join's columns exactly, nulls included, because rn=1 leaves at
    # most one row per side). Null-key note: the outer join kept null
    # user_ids apart where groupBy would merge them — events.user_id is
    # non-null at every SF (generator invariant, and the window/oracle
    # pair already assumed it); the explicit _eus filter reproduces the
    # old cross-join condition's null rejection.
    ev = (
        ev.where(F.col("_eus").isNotNull())
        .crossJoin(F.broadcast(bounds))
        .withColumn("_is_chg", F.expr("_eus > (_lo + _hi) div 2"))
    )
    w = Window.partitionBy("user_id", "_is_chg").orderBy(
        F.desc("_eus"), F.desc("event_id")
    )
    latest = (
        ev.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "_is_chg", "value", "event_type")
    )
    merged = latest.groupBy("user_id").agg(
        F.max(F.when(~F.col("_is_chg"), F.col("value"))).alias("base_value"),
        F.max(F.when(F.col("_is_chg"), F.col("value"))).alias("chg_value"),
        F.max(F.when(F.col("_is_chg"), F.col("event_type"))).alias("chg_type"),
    )
    return (
        merged.where(
            F.col("chg_type").isNull() | (F.col("chg_type") != "error")
        )
        .select(
            "user_id",
            F.round(F.coalesce("chg_value", "base_value"), 6).alias("value"),
            F.when(F.col("chg_type").isNull(), "kept")
            .when(F.col("base_value").isNull(), "inserted")
            .otherwise("updated")
            .alias("op"),
        )
        .orderBy("user_id")
    )


UPSERT_MERGE_ORACLE = """
WITH e AS (
    SELECT user_id, event_id, event_type, value,
           epoch_us(CAST(ts AS TIMESTAMP)) AS eus
    FROM events
),
b AS (SELECT (MIN(eus) + MAX(eus)) // 2 AS cut FROM e),
base AS (
    SELECT user_id, value AS base_value, event_type AS base_type
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY eus DESC, event_id DESC) AS rn
        FROM e WHERE eus <= (SELECT cut FROM b)
    ) WHERE rn = 1
),
chg AS (
    SELECT user_id, value AS chg_value, event_type AS chg_type
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY eus DESC, event_id DESC) AS rn
        FROM e WHERE eus > (SELECT cut FROM b)
    ) WHERE rn = 1
)
SELECT COALESCE(base.user_id, chg.user_id) AS user_id,
       ROUND(COALESCE(chg_value, base_value), 6) AS value,
       CASE WHEN chg_type IS NULL THEN 'kept'
            WHEN base_value IS NULL THEN 'inserted'
            ELSE 'updated' END AS op
FROM base FULL OUTER JOIN chg USING (user_id)
WHERE chg_type IS NULL OR chg_type <> 'error'
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Referential-integrity profile — the data-quality check every warehouse
# load runs: orphan counts per declared foreign key. Each FK is one
# aggregate + one left-anti join (broadcast when the parent key set is
# dim-sized, shuffle otherwise — Catalyst chooses); results union into a
# single profile table.

_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def run_fk_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for fk_name, child, ck, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(ck).alias("_ck"))
        # distinct parent keys, then ONE pass over the child: left join +
        # conditional count gives rows and orphans together (an anti-join
        # variant would scan the child twice)
        p = load_table(spark, sf_dir, parent).select(
            F.col(pk).alias("_pk")
        ).distinct()
        row = (
            c.join(p, F.col("_ck") == F.col("_pk"), "left")
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.count(F.when(F.col("_pk").isNull(), 1))
                .cast("long")
                .alias("n_orphans"),
            )
            .select(F.lit(fk_name).alias("fk"), "n_rows", "n_orphans")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("fk")


FK_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{fk}' AS fk,
       CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM {child} c
             WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                               WHERE p.{pk} = c.{ck})) AS BIGINT) AS n_orphans"""
    for fk, child, ck, parent, pk in _FK_EDGES
) + " ORDER BY fk"


# ---------------------------------------------------------------------------


def extension_entries3() -> list:
    """Entries appended after :func:`suite2.extension_entries2`."""
    from ..queries.registry import SuiteEntry

    return [
        SuiteEntry("win_rolling_median", run_rolling_median,
                   ROLLING_MEDIAN_ORACLE,
                   "exact trailing-10 rolling median per user "
                   "(sorted-frame arithmetic, integer micro-units)"),
        SuiteEntry("text_entropy", run_char_entropy, CHAR_ENTROPY_ORACLE,
                   "character-entropy quality signal (integer fixed-point "
                   "terms, gibberish/base64 detector)"),
        SuiteEntry("text_bigram_lm", run_bigram_lm, BIGRAM_LM_ORACLE,
                   "corpus bigram LM counts + integer-ppm conditional "
                   "probabilities (top-20)"),
        SuiteEntry("layout_zorder", run_zorder_layout, ZORDER_ORACLE,
                   "Z-order (Morton) layout clustering with per-file "
                   "bounding-box stats (Delta OPTIMIZE ZORDER shape)"),
        SuiteEntry("profile_table", run_profile_table, PROFILE_ORACLE,
                   "one-pass per-column table profile: null count, "
                   "distinct count, min/max"),
        SuiteEntry("ev_mad_outliers", run_mad_outliers, MAD_ORACLE,
                   "median/MAD robust outlier report per event type "
                   "(broadcast bounds joins)"),
        SuiteEntry("mm_phash_dedup", run_phash_dedup,
                   phash_oracle(PHASH_CERT_HAMMING),
                   "multimodal perceptual-hash (aHash) near-dup pairs: "
                   "banded candidates + exact inline hamming verify; the "
                   "oracle replicates the banding bit-for-bit (cert "
                   "threshold 20 so the match is non-vacuous — see "
                   "PHASH_CERT_HAMMING)"),
        SuiteEntry("dedup_apply_quality", run_dedup_apply_quality,
                   dedup_apply_quality_oracle(),
                   "dedup apply keeping each cluster's highest-quality "
                   "member (longest text), recursive-CTE certified"),
        SuiteEntry("source_cap", run_source_cap, SOURCE_CAP_ORACLE,
                   "per-source volume cap (top-K docs per domain by "
                   "length) — web-corpus domain balancing"),
        SuiteEntry("join_value_band", run_value_band_join,
                   VALUE_BAND_ORACLE,
                   "numeric epsilon band join via bucketized equi-join "
                   "(|dv|<=eps residual), linear shuffle"),
        SuiteEntry("graph_triangles", run_triangles, TRIANGLES_ORACLE,
                   "exact triangle/wedge census over the trade graph "
                   "(node-ordered orientation, MR triangle-count shape)"),
        SuiteEntry("ev_retention_cohorts", run_retention_cohorts,
                   RETENTION_ORACLE,
                   "weekly retention cohort matrix (first-seen week x "
                   "offset), three linear shuffles"),
        SuiteEntry("ev_upsert_merge", run_upsert_merge, UPSERT_MERGE_ORACLE,
                   "MERGE INTO kernel: latest-row snapshots + full outer "
                   "join with update/insert/delete semantics (CDC apply)"),
        SuiteEntry("profile_fk", run_fk_profile, FK_PROFILE_ORACLE,
                   "referential-integrity profile: orphan counts per "
                   "declared FK (anti-join per edge)"),
    ]
