"""Round-5 continuation operators: binary-quantization ANN, corpus-mix
KL divergence, and coordinated (hash-consistent) sampling.

Three more first-class LLM-pipeline primitives the reference lacks (its
surface is TPC-H SQL; these extend the north-star family):

- :func:`bq_rerank_topk` — 1-bit binary quantization ANN. Every vector
  compresses to DIM bits (two packed BIGINT words here), candidates are
  pre-screened by Hamming distance (`bit_count(xor(...))` — pure JVM
  integer ops) and only the survivors pay exact cosine math. This is the
  modern memory-bound ANN shape (binary/RaBitQ-style codes in RAM, raw
  vectors on cold storage): 32× smaller than float32, and the scan stage
  is two XOR+popcount per row.
- :func:`run_text_kl` — per-source unigram KL divergence against the
  whole-corpus distribution over the top-V vocabulary. The standard
  data-mix diagnostic when balancing training sources: high KL = the
  source's token distribution diverges from the mix you are training on.
- :func:`run_sample_coordinated` — coordinated sampling: the SAME
  md5-bucket predicate on the join key samples two tables independently,
  yet the samples stay join-consistent (every sampled order's customer is
  in the customer sample by construction). No shared state, no sample
  registry — the property that makes pipeline-wide subsetting possible at
  100 TB where "sample then join" would otherwise need a broadcast of the
  sampled-id set.

Scale notes:
- BQ: the stats pass is one posexplode aggregate whose result is DIM
  integers on the driver (same legitimately-driver-sized codebook as
  SQ8/IVF). Encoding is a JVM expression; the Hamming scan is
  TakeOrderedAndProject over two BIGINT columns (cacheable, bucketable);
  exact math touches only ``n_candidates`` rows via a broadcast id join.
- KL: two narrow keyed shuffles (term counts, per-source counts); the
  vocabulary is capped at KL_VOCAB rows and broadcast; the source×vocab
  grid is |sources|×V — bounded by construction.
- Coordinated sample: a pure filter on each side — no shuffle at all
  until the user's downstream aggregate; the samples co-partition on the
  key like the full tables would.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .similarity import with_cosine
from .text import tokens

# ---------------------------------------------------------------------------
# Binary-quantization ANN (Hamming pre-screen + exact rerank)

#: candidates surviving the Hamming pre-screen into the exact rerank.
BQ_CANDIDATES = 50
_MICRO = "CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"


def bq_stats(df: DataFrame, emb_col: str = "embedding") -> tuple[list[int], int]:
    """Per-dimension micro-unit SUM plus the corpus count — the BQ
    "codebook" (bit_j is set iff x_j lies above the dimension-j mean).
    One posexplode aggregate; the driver receives DIM integers, the same
    legitimately-driver-sized result as :func:`similarity.sq8_stats`.

    The mean itself is never materialized: the bit test is the exact
    integer comparison ``v * n > sum`` (no division, so no cross-engine
    floor/truncate ambiguity). ``v`` is ~|5e6| micro-units, so the product
    stays int64-safe past 10^12 rows."""
    rows = (
        df.select(F.posexplode(emb_col).alias("pos", "x"))
        .select("pos", F.expr(_MICRO).alias("v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    if not rows:
        raise ValueError("bq_stats: embeddings input is empty")
    srt = sorted((r["pos"], r["s"], r["n"]) for r in rows)
    counts = {n for _, _, n in srt}
    if len(counts) != 1:
        raise ValueError(
            "bq_stats: ragged embedding vectors (per-dimension counts "
            f"{sorted(counts)}) — thresholds would silently skew"
        )
    return [s for _, s, _ in srt], int(srt[0][2])


def bq_bits_expr(sums: list[int], n: int, emb_col: str = "embedding") -> Column:
    """JVM-side bit vector: bit_j = 1 iff x_j·n > Σx_j (micro-units)."""
    lits = ", ".join(f"{int(s)}L" for s in sums)
    return F.expr(
        f"zip_with(transform({emb_col}, x -> {_MICRO}), array({lits}),"
        f" (x, s) -> CASE WHEN x * {int(n)}L > s THEN 1L ELSE 0L END)"
    )


def bq_pack_exprs(half: int, bits_col: str = "_bits") -> tuple[Column, Column]:
    """Pack a materialized bit array into two BIGINT words (hi = dims
    1..half, lo = the rest), each a left-to-right ``acc*2 + bit`` fold so
    the word is Σ bit_j · 2^(half-j). Halves stay ≤ 32 bits — no int64
    overflow even with ANSI mode on. The bit array is computed ONCE into
    a column first (materialize-before-reuse rule, SCALE.md): inlining it
    into both folds would re-evaluate the zip_with per word."""
    hi = F.expr(
        f"aggregate(slice({bits_col}, 1, {half}), 0L, (a, b) -> a * 2L + b)"
    )
    lo = F.expr(
        f"aggregate(slice({bits_col}, {half + 1}, {half}), 0L,"
        f" (a, b) -> a * 2L + b)"
    )
    return hi, lo


def bq_encode_query(
    vec: list[float], sums: list[int], n: int
) -> tuple[int, int]:
    """Driver-side twin of :func:`bq_encode_exprs` in exact Python ints."""
    bits = [
        1 if math.floor(float(x) * 1_000_000) * n > s else 0
        for x, s in zip(vec, sums)
    ]
    half = len(bits) // 2
    hi = lo = 0
    for b in bits[:half]:
        hi = hi * 2 + b
    for b in bits[half:]:
        lo = lo * 2 + b
    return hi, lo


def bq_rerank_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_candidates: int = BQ_CANDIDATES,
    exclude_vec_id: int | None = None,
    emb_col: str = "embedding",
) -> DataFrame:
    """Two-stage binary-quantization ANN: Hamming pre-screen over packed
    sign bits, exact cosine rerank of the survivors.

    At 100 TB the two code words are the only hot columns (16 bytes/row vs
    512 for the raw vector); the pre-screen is a TakeOrderedAndProject
    whose per-row cost is two XOR+popcount instructions, and the raw
    vectors are re-read for just ``n_candidates`` rows via a broadcast id
    join — exact math on a constant-size set, the FAISS-refine shape
    :func:`similarity.sq8_rerank_topk` also uses, at 4× less memory."""
    sums, n = bq_stats(df, emb_col)
    qhi, qlo = bq_encode_query(query_vec, sums, n)
    hi, lo = bq_pack_exprs(len(sums) // 2)
    enc = (
        df.withColumn("_bits", bq_bits_expr(sums, n, emb_col))
        .withColumn("_hi", hi)
        .withColumn("_lo", lo)
    )
    if exclude_vec_id is not None:
        enc = enc.where(F.col("vec_id") != exclude_vec_id)
    hamming = (
        F.bit_count(F.expr(f"_hi ^ {qhi}L")) + F.bit_count(F.expr(f"_lo ^ {qlo}L"))
    ).cast("int")
    cand = (
        enc.select("vec_id", hamming.alias("hamming"))
        .orderBy(F.asc("hamming"), "vec_id")
        .limit(n_candidates)
    )
    reranked = with_cosine(df.join(F.broadcast(cand), "vec_id"), query_vec, emb_col)
    return (
        reranked.select("vec_id", "hamming", "cosine")
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(k)
    )


def run_ann_bq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .shared import _query_vec

    emb = load_table(spark, sf_dir, "embeddings")
    return bq_rerank_topk(
        emb, _query_vec(spark, sf_dir), k=10, exclude_vec_id=0
    )


def bq_oracle(k: int = 10) -> str:
    from .similarity import DIM
    from .shared import _DOT_DEC, _NORM_X

    half = DIM // 2
    return f"""
WITH x AS (
    SELECT vec_id,
           list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xus
    FROM embeddings
),
u AS (
    SELECT vec_id, CAST(t.i AS INT) AS pos, xus[CAST(t.i AS INT)] AS v
    FROM x, range(1, {DIM + 1}) t(i)
),
st AS (SELECT pos, SUM(v) AS s, COUNT(*) AS n FROM u GROUP BY pos),
bits AS (
    SELECT u.vec_id, u.pos,
           CASE WHEN u.v * st.n > st.s THEN 1 ELSE 0 END AS b
    FROM u JOIN st USING (pos)
),
codes AS (
    SELECT vec_id,
           SUM(CASE WHEN pos <= {half}
                    THEN CAST(b AS BIGINT) << ({half} - pos) ELSE 0 END) AS hi,
           SUM(CASE WHEN pos > {half}
                    THEN CAST(b AS BIGINT) << ({DIM} - pos) ELSE 0 END) AS lo
    FROM bits GROUP BY vec_id
),
qq AS (SELECT hi AS qhi, lo AS qlo FROM codes WHERE vec_id = 0),
cand AS (
    SELECT c.vec_id,
           CAST(bit_count(xor(c.hi, (SELECT qhi FROM qq)))
              + bit_count(xor(c.lo, (SELECT qlo FROM qq))) AS INT) AS hamming
    FROM codes c WHERE c.vec_id != 0
    ORDER BY hamming ASC, vec_id LIMIT {BQ_CANDIDATES}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
prod AS (
    SELECT e.vec_id,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
    FROM embeddings e JOIN cand USING (vec_id)
),
agg AS (
    SELECT vec_id, {_DOT_DEC} AS dot, {_NORM_X} AS norm2
    FROM prod GROUP BY vec_id
),
qn AS (
    SELECT SQRT(CAST(SUM(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE)
        AS DECIMAL(28,14))) AS DOUBLE)) AS qnorm
    FROM (SELECT unnest(qe) AS u FROM q) t
)
SELECT agg.vec_id, cand.hamming,
       ROUND(dot / (SQRT(norm2) * (SELECT qnorm FROM qn)), 6) AS cosine
FROM agg JOIN cand ON agg.vec_id = cand.vec_id
ORDER BY cosine DESC, agg.vec_id
LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Per-source KL divergence vs the corpus token distribution

#: corpus-wide top-V vocabulary the distributions are computed over.
KL_VOCAB = 200


def run_text_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over the top-V unigram vocabulary, add-1
    smoothed: p_sw = (c_sw+1)/(N_s+V), q_w = (c_w+1)/(N+V), contributions
    summed over the FULL vocabulary (missing terms contribute their
    smoothed mass — that is where divergence shows up).

    Plan: ONE corpus tokenize+explode into a map-side-combinable
    (source, term) count shuffle (r11, the lm_score single-corpus-pass
    precedent); corpus term counts, the bounded top-V vocabulary and the
    per-source slices are all vocabulary-scale aggregates of that table.
    r12 (VERDICT r11 #4): the persist() pin and the driver vocab/totals
    action are GONE — the totals ride as a 1-row broadcast (the repo's
    scalar-crossJoin idiom) so the whole query is ONE plan whose five
    (source, term) consumers resolve to ReusedExchange instead of cache
    reads. The explicit not-null guard on the group keys exists to keep
    every leg's exchange subtree CANONICALLY IDENTICAL: the inner
    vocab-join infers IsNotNull(term) and the left join IsNotNull on
    both keys into their legs, and a constraint present in one leg but
    not another defeats exchange reuse (the sketch_hll r11 lesson).
    explode(split()) never emits null terms, so the term guard changes
    nothing; the source guard DROPS documents whose ``source`` is NULL —
    they form no source slice and get no output row (before the guard a
    NULL source still emitted a KL row built from zero counts).
    Measured at sf0.1: runtime shuffle
    117 KB / 1802 rows / 5 exchanges, 0 reused → 19.5 KB / 691 rows /
    4 + 5 reused; cache write and the extra driver job gone. The grid
    is a |sources|×V broadcast join — bounded by construction."""
    # not spread(): the explode feeds a (source, term) shuffle directly —
    # the extra repartition measured +0.7 s at sf0.1 for no gain (r7)
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens("text")).alias("term"))
    st = (
        tok.where(F.col("term").isNotNull() & F.col("source").isNotNull())
        .groupBy("source", "term")
        .agg(F.count("*").alias("c_sw"))
    )
    vocab = (
        st.groupBy("term")
        .agg(F.sum("c_sw").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(KL_VOCAB)
    )
    # Vocabulary size + vocab-restricted corpus mass: one 1-row aggregate
    # broadcast into the grid (no driver action — the values stay JVM-side).
    nv = vocab.agg(
        F.sum("c").cast("long").alias("n_all"), F.count("*").alias("v")
    )
    per_src = st.join(F.broadcast(vocab.select("term")), "term").select(
        "source", "term", "c_sw"
    )
    ns = per_src.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    grid = ns.crossJoin(F.broadcast(vocab)).crossJoin(F.broadcast(nv))
    joined = grid.join(per_src, ["source", "term"], "left").withColumn(
        "c_sw", F.coalesce(F.col("c_sw"), F.lit(0))
    )
    # Arithmetic is shape-identical to the literal form it replaces:
    # n_s + v is the same long addition, and (n_all + v) cast to double
    # equals the old Python-side float(n_all + v_sz) exactly (both are
    # int-to-double conversions of the same value, exact below 2^53).
    p = (F.col("c_sw") + 1.0).cast("double") / (F.col("n_s") + F.col("v"))
    q = (F.col("c") + 1.0).cast("double") / (
        (F.col("n_all") + F.col("v")).cast("double")
    )
    contrib = p * F.log(p / q)
    return (
        joined.groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.round(F.sum(contrib), 6).alias("kl_divergence"),
        )
        .orderBy("source")
    )


def text_kl_oracle() -> str:
    from .shared import _WORDS

    return f"""
WITH tok AS (
    SELECT source, unnest({_WORDS}) AS term FROM documents
),
overall AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
vocab AS (SELECT term, c FROM overall ORDER BY c DESC, term LIMIT {KL_VOCAB}),
nv AS (SELECT SUM(c) AS n_all, COUNT(*) AS v FROM vocab),
per_src AS (
    SELECT source, term, COUNT(*) AS c_sw
    FROM tok JOIN vocab USING (term) GROUP BY source, term
),
ns AS (SELECT source, SUM(c_sw) AS n_s FROM per_src GROUP BY source),
grid AS (SELECT ns.source, ns.n_s, v.term, v.c FROM ns CROSS JOIN vocab v),
j AS (
    SELECT g.source, g.n_s, g.c, COALESCE(p.c_sw, 0) AS c_sw
    FROM grid g
    LEFT JOIN per_src p ON p.source = g.source AND p.term = g.term
),
contrib AS (
    SELECT source, n_s,
           CAST((CAST(c_sw + 1 AS DOUBLE) / (n_s + (SELECT v FROM nv)))
             * ln((CAST(c_sw + 1 AS DOUBLE) / (n_s + (SELECT v FROM nv)))
                / (CAST(c + 1 AS DOUBLE)
                   / ((SELECT n_all FROM nv) + (SELECT v FROM nv))))
             AS DECIMAL(28,14)) AS t
    FROM j
)
SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(t) AS DOUBLE), 6) AS kl_divergence
FROM contrib GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# Coordinated (hash-consistent) sampling

#: 1-in-SAMPLE_MOD md5 buckets are kept (bucket 0) — a ~10% sample.
SAMPLE_MOD = 10


def _md5_bucket(key: Column) -> Column:
    """First 4 md5 hex chars as an int, mod SAMPLE_MOD — the same
    engine-portable digest idiom as :mod:`sketch` (replicable in DuckDB
    with pure string arithmetic)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long")
        % SAMPLE_MOD
    )


def run_sample_coordinated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coordinated sample: customers AND orders are filtered independently
    by the same md5-bucket predicate on the customer key, then joined.

    The left join proves the coordination property in the output itself:
    every sampled order finds its customer (no orphans — impossible by
    construction since both filters are the same function of the key), and
    sampled customers with no orders surface with n_orders = 0, showing
    the sample covers the full sampled-key space, not just the join hits.
    At 100 TB each side is a pure pushed-down filter — no broadcast of a
    sampled-id set, no shared sampling state across pipeline stages."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cs = cust.where(_md5_bucket(F.col("c_custkey")) == 0).select(
        "c_custkey", "c_mktsegment"
    )
    os_ = orders.where(_md5_bucket(F.col("o_custkey")) == 0)
    per = (
        cs.join(os_, cs.c_custkey == os_.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").cast("long").alias("n_orders"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("c_custkey")
    )
    return per


def sample_coordinated_oracle() -> str:
    hexmap = "0123456789abcdef"

    def hex4(expr: str) -> str:
        return " + ".join(
            f"(strpos('{hexmap}', substring({expr}, {p + 1}, 1)) - 1)"
            f" * {16 ** (3 - p)}"
            for p in range(4)
        )

    def keep(key: str) -> str:
        return f"({hex4(f'md5(CAST({key} AS VARCHAR))')}) % {SAMPLE_MOD} = 0"

    return f"""
WITH cs AS (
    SELECT c_custkey, c_mktsegment FROM customer WHERE {keep('c_custkey')}
),
os AS (SELECT * FROM orders WHERE {keep('o_custkey')})
SELECT cs.c_custkey, cs.c_mktsegment,
       CAST(COUNT(os.o_orderkey) AS BIGINT) AS n_orders,
       MIN(os.o_orderdate) AS first_order,
       MAX(os.o_orderdate) AS last_order
FROM cs LEFT JOIN os ON cs.c_custkey = os.o_custkey
GROUP BY cs.c_custkey, cs.c_mktsegment
ORDER BY cs.c_custkey
"""


# ---------------------------------------------------------------------------
# Seasonal (hour-of-day) anomaly detection on the event stream

#: |z| at or above this flags an anomalous (type, day, hour) cell.
ANOMALY_Z = 2.0


def anomaly_zscore(c: Column, n: Column, s: Column, q: Column) -> Column:
    """Exact-integer seasonal z-score: with n samples, S = Σc, Q = Σc²,
    z = (c·n − S) / sqrt(n·Q − S²) — one sqrt and one division in double,
    rounded to 6dp; 0.0 for a constant series. Integer inputs keep the
    score bit-identical to the DuckDB oracle's."""
    num = n * q - s * s
    return F.when(num == 0, F.lit(0.0)).otherwise(
        F.round((c * n - s).cast("double") / F.sqrt(num.cast("double")), 6)
    )


def anomaly_cells(ev: DataFrame) -> DataFrame:
    """Dense (event_type, day, hour) count cells with per-(type, hour)
    baseline stats (n, s, q) and z_score attached — the core of
    :func:`run_ev_anomaly`."""
    spark = ev.sparkSession
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    days = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day")
    )
    hours = spark.range(24).select(F.col("id").cast("int").alias("hour"))
    types = ev.select("event_type").distinct()
    grid = days.crossJoin(hours).crossJoin(types)
    counts = (
        ev.groupBy(
            F.col("event_type"),
            F.to_date("ts").alias("day"),
            F.hour("ts").alias("hour"),
        )
        .agg(F.count("*").alias("c"))
    )
    cells = grid.join(counts, ["event_type", "day", "hour"], "left").withColumn(
        "c", F.coalesce(F.col("c"), F.lit(0))
    )
    base = cells.groupBy("event_type", "hour").agg(
        F.count("*").alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    joined = cells.join(F.broadcast(base), ["event_type", "hour"])
    return joined.withColumn(
        "z_score",
        anomaly_zscore(F.col("c"), F.col("n"), F.col("s"), F.col("q")),
    )


def run_ev_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal anomaly screen: for every (event_type, day,
    hour) cell, a z-score against that (event_type, hour-of-day)'s
    distribution of daily counts — the standard observability "is this
    hour unusual for 3pm?" baseline.

    Counts come from a DENSE day×hour×type grid (the resample-fill spine
    idiom: bounds are a 1-row aggregate, the grid is days·24·|types| rows
    — bounded by the time range, not event volume), so silent hours count
    as zeros instead of vanishing from the baseline. The z-score core is
    exact-integer (:func:`anomaly_zscore`), bit-agreeing across engines.

    Plan: one map-side-combinable (type, day, hour) count shuffle, one
    (type, hour) baseline aggregate over ~24·|types| groups, a broadcast
    join of the tiny baseline back onto the grid."""
    ev = load_table(spark, sf_dir, "events")
    return (
        anomaly_cells(ev)
        .select(
            "event_type",
            "day",
            "hour",
            F.col("c").cast("long").alias("n_events"),
            "z_score",
        )
        .where(F.abs(F.col("z_score")) >= ANOMALY_Z)
        .orderBy("event_type", "day", "hour")
    )


def ev_anomaly_oracle() -> str:
    return f"""
WITH b AS (
    SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
    FROM events
),
days AS (
    SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
    FROM b
),
hours AS (SELECT CAST(unnest(generate_series(0, 23)) AS INT) AS hour),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT t.event_type, d.day, h.hour FROM days d, hours h, types t),
counts AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(EXTRACT(hour FROM ts) AS INT) AS hour, COUNT(*) AS c
    FROM events GROUP BY 1, 2, 3
),
cells AS (
    SELECT g.event_type, g.day, g.hour, COALESCE(c.c, 0) AS c
    FROM grid g LEFT JOIN counts c
      ON c.event_type = g.event_type AND c.day = g.day AND c.hour = g.hour
),
base AS (
    SELECT event_type, hour, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS q
    FROM cells GROUP BY event_type, hour
),
scored AS (
    SELECT cells.event_type, cells.day, cells.hour,
           CAST(cells.c AS BIGINT) AS n_events,
           CASE WHEN base.n * base.q - base.s * base.s = 0 THEN 0.0
                ELSE ROUND(
                    CAST(cells.c * base.n - base.s AS DOUBLE)
                    / SQRT(CAST(base.n * base.q - base.s * base.s AS DOUBLE)),
                    6)
           END AS z_score
    FROM cells
    JOIN base ON base.event_type = cells.event_type
             AND base.hour = cells.hour
)
SELECT * FROM scored WHERE ABS(z_score) >= {ANOMALY_Z}
ORDER BY event_type, day, hour
"""


# ---------------------------------------------------------------------------
# Weighted median (grouped, exact)


def run_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of extended price per return flag:
    the smallest price whose running weight reaches half the group total
    (lower weighted median, ``2·cumw ≥ W`` — all-integer, no midpoint
    interpolation, engine-exact in cents).

    Plan: one map-side-combinable (flag, price) pre-aggregate collapses
    duplicate prices BEFORE the window, then a per-group running-sum
    window over the collapsed (flag, distinct-price) rows and a min-agg
    of the qualifying prices. At 100 TB the window input is bounded by
    distinct prices per group, not rows; for a true corpus-cardinality
    value column swap the exact window for approxQuantile thresholds —
    the documented trade the perplexity-strata path also makes."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        # repo-wide cents idiom: floor on BOTH engines (a bare cast
        # truncates in Spark but ROUNDS in DuckDB — 297/6000 fixture rows
        # diverge by one cent under the cast form; advisor round-5 item)
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    pre = rows.groupBy("l_returnflag", "price_cents").agg(
        F.sum("w").alias("w")
    )
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = pre.withColumn("cumw", F.sum("w").over(win)).withColumn(
        "totw", F.sum("w").over(tot)
    )
    return (
        cum.where(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(
            F.max("totw").cast("long").alias("w_total"),
            F.min("price_cents").alias("weighted_median_cents"),
        )
        .orderBy("l_returnflag")
    )


WEIGHTED_MEDIAN_ORACLE = """
WITH rows_ AS (
    SELECT l_returnflag,
           CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_cents,
           CAST(l_quantity AS BIGINT) AS w
    FROM lineitem
),
pre AS (
    SELECT l_returnflag, price_cents, SUM(w) AS w
    FROM rows_ GROUP BY l_returnflag, price_cents
),
cum AS (
    SELECT l_returnflag, price_cents,
           SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price_cents
                        ROWS UNBOUNDED PRECEDING) AS cumw,
           SUM(w) OVER (PARTITION BY l_returnflag) AS totw
    FROM pre
)
SELECT l_returnflag, CAST(MAX(totw) AS BIGINT) AS w_total,
       MIN(price_cents) AS weighted_median_cents
FROM cum WHERE 2 * cumw >= totw
GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ---------------------------------------------------------------------------
# PMI collocations (corpus-linguistics bigram association)

#: bigrams below this count are too rare for a stable PMI estimate.
PMI_MIN_COUNT = 5
PMI_TOP_K = 20


def run_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information:
    pmi = ln(c_xy · N² / (N_b · c_x · c_y)) with c_xy ≥ PMI_MIN_COUNT —
    the classic corpus-linguistics detector for multi-word units
    ("new york"-style pairs whose co-occurrence beats chance).

    Plan: ONE corpus tokenize feeds both count tables (r11, the lm_score
    single-corpus-pass precedent): unigrams and bigrams share a keyed
    count — whitespace tokenization means token keys can never contain
    the space a bigram key always does, so one explode of
    ``concat(w, bigrams(w))`` and one map-side-combinable groupBy count
    both vocabularies. The counts table is vocabulary-sized and feeds
    FOUR legs (the totals action, the bigram scorer, both unigram
    lookups) whose alias-divergent projections defeat exchange reuse, so
    it is persist()-ed (the semdedup lesson, guide §5) — without the pin
    the driver totals action and the final plan each re-ran the corpus
    tokenize (4 corpus explodes; now 1). Corpus totals are driver
    scalars (two ints); the two unigram lookups join on term — narrow
    keyed joins that scale with vocabulary, never corpus². The PMI
    argument is an exact integer ratio; one ln + round(6) certifies
    cross-engine."""
    # not spread(): same rationale as run_kl_divergence above
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens("text").alias("w"))
    counts = (
        toks.select(
            F.explode(
                F.expr(
                    "concat(w, zip_with(slice(w, 1, size(w) - 1),"
                    " slice(w, 2, size(w) - 1),"
                    " (x, y) -> concat(x, ' ', y)))"
                )
            ).alias("k")
        )
        .groupBy("k")
        .agg(F.count("*").alias("c"))
        # Pinned rows are the POST-FILTER vocabulary: every unigram (the
        # totals and lookup legs need all of them) but only bigrams that
        # clear PMI_MIN_COUNT — rare bigrams (the long tail) never enter
        # the cache.
        .where(
            ~F.col("k").contains(" ") | (F.col("c") >= PMI_MIN_COUNT)
        )
        .persist()
    )
    uni = counts.where(~F.col("k").contains(" ")).select(
        F.col("k").alias("term"), "c"
    )
    bi = counts.where(F.col("k").contains(" ")).select(
        F.col("k").alias("bigram"), F.col("c").alias("c_xy")
    )
    totals = uni.agg(
        F.sum("c").alias("n_tok"),
    ).crossJoin(bi.agg(F.sum("c_xy").alias("n_bi"))).first()
    n_tok, n_bi = int(totals["n_tok"]), int(totals["n_bi"])
    split = bi.withColumn("x", F.split_part("bigram", F.lit(" "), F.lit(1))) \
              .withColumn("y", F.split_part("bigram", F.lit(" "), F.lit(2)))
    cx = uni.select(F.col("term").alias("x"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("term").alias("y"), F.col("c").alias("c_y"))
    scored = (
        split.join(cx, "x").join(cy, "y")
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_xy") * F.lit(float(n_tok)) * F.lit(float(n_tok)))
                    / (F.lit(float(n_bi)) * F.col("c_x") * F.col("c_y"))
                ),
                6,
            ),
        )
    )
    return (
        scored.select(
            "bigram",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            "pmi",
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(PMI_TOP_K)
    )


def text_collocations_oracle() -> str:
    from .shared import _WORDS

    return f"""
WITH d AS (SELECT {_WORDS} AS w FROM documents),
uni AS (
    SELECT unnest(w) AS term FROM d
),
uc AS (SELECT term, COUNT(*) AS c FROM uni GROUP BY term),
bi AS (
    SELECT unnest(list_transform(range(1, len(w)),
                  i -> concat_ws(' ', w[i], w[i + 1]))) AS bigram
    FROM d
),
bc AS (
    SELECT bigram, COUNT(*) AS c_xy FROM bi GROUP BY bigram
    HAVING COUNT(*) >= {PMI_MIN_COUNT}
),
tot AS (
    SELECT (SELECT SUM(c) FROM uc) AS n_tok, (SELECT SUM(c_xy) FROM bc) AS n_bi
),
scored AS (
    SELECT bc.bigram, bc.c_xy, cx.c AS c_x, cy.c AS c_y,
           ROUND(ln((bc.c_xy * CAST((SELECT n_tok FROM tot) AS DOUBLE)
                     * (SELECT n_tok FROM tot))
                    / (CAST((SELECT n_bi FROM tot) AS DOUBLE)
                       * cx.c * cy.c)), 6) AS pmi
    FROM bc
    JOIN uc cx ON cx.term = split_part(bc.bigram, ' ', 1)
    JOIN uc cy ON cy.term = split_part(bc.bigram, ' ', 2)
)
SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy, CAST(c_x AS BIGINT) AS c_x,
       CAST(c_y AS BIGINT) AS c_y, pmi
FROM scored ORDER BY pmi DESC, bigram LIMIT {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# Join-key skew profile — the operational diagnostic behind every salted
# join / AQE skew-split decision at 100 TB: BEFORE running the big join,
# one map-side-combinable pass per key column reports how hot the hottest
# key is relative to the mean and what salt factor would flatten it.

#: (label, table, key column) edges profiled — the engine's own join keys.
_SKEW_EDGES = [
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
]

#: target for the salt suggestion: split the hottest key into chunks of at
#: most SKEW_SALT_TARGET x the mean key size.
SKEW_SALT_TARGET = 4


def run_profile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per join-key skew report: rows, distinct keys, hottest-key rows,
    the hot key itself (min key among ties — deterministic), skew ratio
    (hottest/mean, integer permille) and the salt factor that would cap
    the hottest key's partitions at SKEW_SALT_TARGET x the mean.

    All-integer arithmetic end to end so the row is engine-exact; one
    groupBy per edge (map-side combinable count), then a single-row
    aggregate — the whole report shuffles (key, count) pairs only, never
    data rows. The hot-key argmax is ``max(struct(cnt, -key))`` (one
    aggregate, no second pass); ``join_salted`` is the consuming
    operator and ``tests/test_skew.py`` certifies the engine under the
    zipfian distribution this report would flag."""
    out = None
    for label, table, col in _SKEW_EDGES:
        counts = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).cast("long").alias("k"))
            .agg(F.count("*").cast("long").alias("cnt"))
        )
        row = (
            counts.agg(
                F.sum("cnt").cast("long").alias("n_rows"),
                F.count("*").cast("long").alias("n_keys"),
                F.max(F.struct(F.col("cnt"), (-F.col("k")).alias("nk"))).alias("m"),
            )
            # skew_permille divides by the UNFLOORED mean: the full
            # m.cnt * 1000 * n_keys product in DECIMAL(38,0) (int64 wraps at
            # reachable 100 TB cardinalities — a 1e10-row hot key x 1e6 keys
            # x 1000 > 2^63, and wraps DIFFERENTLY from DuckDB, which raises;
            # ADVICE r6), floor-divided by n_rows. The r7 int64-safe
            # reassociation (m.cnt*1000 DIV (n_rows DIV n_keys)) floored the
            # mean FIRST, biasing the statistic up to ~2x upward when the
            # mean is small (ADVICE r7, low). DECIMAL(38,0) DIV is exact and
            # engine-identical (DuckDB evaluates the same product in
            # HUGEINT); verified 3*1000*10 DIV 19 = 1578 on both.
            # suggested_salt keeps the floored mean: it is a partition-count
            # heuristic where the +-1 bias is immaterial and all-int64 math
            # is cheaper than decimal at profile volume.
            .withColumn("mean_rows", F.expr("n_rows DIV n_keys"))
            .select(
                F.lit(label).alias("key"),
                "n_rows",
                "n_keys",
                F.col("m.cnt").alias("max_key_rows"),
                (-F.col("m.nk")).cast("long").alias("hot_key"),
                # hottest/mean in permille, unfloored mean
                F.expr(
                    "CAST(CAST(m.cnt AS DECIMAL(38,0)) * 1000 * n_keys"
                    " DIV n_rows AS BIGINT)"
                ).alias("skew_permille"),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.expr(
                        f"(m.cnt + {SKEW_SALT_TARGET}L * mean_rows - 1L)"
                        f" DIV ({SKEW_SALT_TARGET}L * mean_rows)"
                    ),
                ).alias("suggested_salt"),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("key")


def profile_skew_oracle() -> str:
    parts = []
    for label, table, col in _SKEW_EDGES:
        counts = (
            f"(SELECT CAST({col} AS BIGINT) AS k, COUNT(*) AS cnt"
            f" FROM {table} GROUP BY 1)"
        )
        parts.append(f"""
SELECT '{label}' AS key, s.n_rows, s.n_keys, s.max_key_rows, h.hot_key,
       CAST(CAST(s.max_key_rows AS HUGEINT) * 1000 * s.n_keys // s.n_rows
            AS BIGINT)
           AS skew_permille,
       CAST(GREATEST(1, (s.max_key_rows
                         + {SKEW_SALT_TARGET} * (s.n_rows // s.n_keys) - 1)
                        // ({SKEW_SALT_TARGET} * (s.n_rows // s.n_keys)))
            AS BIGINT)
           AS suggested_salt
FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(cnt) AS BIGINT) AS max_key_rows
      FROM {counts} c) s,
     (SELECT CAST(MIN(k) AS BIGINT) AS hot_key
      FROM {counts} c
      WHERE cnt = (SELECT MAX(cnt) FROM {counts} m)) h""")
    return " UNION ALL ".join(parts) + " ORDER BY key"


def extension_entries6() -> list:
    from ..queries.registry import SuiteEntry

    return [
        SuiteEntry(
            "sim_ann_bq",
            run_ann_bq,
            bq_oracle(),
            "binary-quantization ANN: 1-bit sign codes packed into two "
            "BIGINT words, Hamming (XOR+popcount) pre-screen, exact "
            "cosine rerank — 32x compression",
        ),
        SuiteEntry(
            "text_kl_divergence",
            run_text_kl,
            text_kl_oracle(),
            "per-source KL divergence vs the corpus unigram distribution "
            "over the top-V vocabulary (add-1 smoothed) — the data-mix "
            "balance diagnostic",
        ),
        SuiteEntry(
            "sample_coordinated",
            run_sample_coordinated,
            sample_coordinated_oracle(),
            "coordinated sampling: the same md5-bucket predicate samples "
            "customer AND orders join-consistently with no shared state",
        ),
        SuiteEntry(
            "ev_anomaly_seasonal",
            run_ev_anomaly,
            ev_anomaly_oracle(),
            "hour-of-day seasonal anomaly screen: z-score per (type, day, "
            "hour) cell vs that hour-of-day's daily-count distribution, "
            "dense-grid baseline, exact-integer core",
        ),
        SuiteEntry(
            "agg_weighted_median",
            run_weighted_median,
            WEIGHTED_MEDIAN_ORACLE,
            "exact grouped weighted median (quantity-weighted price in "
            "cents): pre-collapsed per-price weights, running-sum window, "
            "2*cumw >= W lower-median rule",
        ),
        SuiteEntry(
            "text_collocations",
            run_text_collocations,
            text_collocations_oracle(),
            "top-k bigram collocations by PMI over the corpus (min-count "
            "pruned, exact integer ratio, one ln)",
        ),
        SuiteEntry(
            "profile_skew",
            run_profile_skew,
            profile_skew_oracle(),
            "join-key skew profile: hottest key, skew permille vs mean, "
            "and the salt factor that flattens it — one (key,count) "
            "aggregate per edge, all-integer",
        ),
    ]
