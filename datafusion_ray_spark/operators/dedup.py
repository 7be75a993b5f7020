"""Deduplication operators over the ``documents`` table.

North-star extensions (BASELINE.json): the dedup family a training-data
pipeline needs, each expressed Spark-first:

- **exact**: hash-groupBy on the text digest — one shuffle on the digest,
  map-side combinable, scales to any corpus size.
- **MinHash + LSH**: shingle -> per-seed min-hash signature -> banded bucket
  join. Signatures are computed with JVM array functions (``transform`` /
  ``array_min``) — zero Python, zero explode, one narrow projection per
  document; only the tiny (band, bucket) keys are shuffled for the
  candidate join. This is the textbook near-dup design that holds at 100 TB:
  candidate generation is O(docs × bands) shuffle rows, never O(docs²).
- **n-gram Jaccard verify**: exact set overlap computed only for LSH
  candidate pairs (array_intersect/array_union on the shingle sets).
- **SimHash**: 16-bit fingerprint from per-token hashes; near-dup pairs by
  Hamming distance within a blocking key.

Hashing is md5-based end-to-end (identical in Spark and DuckDB), so every
operator here is oracle-checkable; lexicographic MIN over md5 hex digests is
a valid min-hash because the digests are uniformly distributed.

Published designs implemented here (public literature): MinHash resemblance
estimation (Broder, "On the resemblance and containment of documents",
1997); banded LSH candidate generation (Leskovec/Rajaraman/Ullman, Mining of
Massive Datasets ch. 3); prefix-filter all-pairs similarity (Chaudhuri et
al. 2006; Bayardo/Ma/Srikant, "Scaling up all pairs similarity search",
WWW 2007); SimHash (Charikar 2002; Manku et al., "Detecting near-duplicates
for web crawling", WWW 2007).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import materialize_and_probe

#: MinHash configuration: 12 hashes in 4 bands of 3 rows. With Jaccard
#: similarity s the candidate probability is 1-(1-s^3)^4 — steep around
#: s≈0.6, the usual near-dup knee. The 12 hash functions are derived from
#: only THREE md5 digests per shingle (four 32-bit hex slices each): md5
#: dominates signature cost, and slices of a cryptographic digest are
#: independent uniform hashes, so this is 3x cheaper at equal quality.
N_HASHES = 12
N_BANDS = 4
ROWS_PER_BAND = 3
#: Digest prefixes; hash i = substring(md5(PREFIXES[i // 4] || shingle),
#: 8*(i % 4) + 1, 8). Identical construction in the DuckDB oracle.
HASH_PREFIXES = ("", "a:", "b:")
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.6


def _tokens(text_col: str) -> Column:
    return F.split(F.trim(F.col(text_col)), r"\s+")


def shingles(text_col: str = "text", k: int = SHINGLE_K) -> Column:
    """Distinct word 3-shingles as an array column (empty if < 3 tokens).

    Built from three O(n) zips (words x shift-1 x shift-2) instead of a
    per-position ``slice`` — the naive form does O(n) array copies per
    shingle, which dominated the whole minhash pipeline in profiling.
    """
    assert k == 3, "shingle construction is specialized for k=3"
    # Single-element-array let-binding (`transform(array(split(...)), w ->
    # ...)` binds the regex split ONCE): the flat form re-evaluated the
    # split for each of the 4+ references (size/slices/zip) — no CSE
    # across HOF argument positions — and benched 2x slower (0.9 s vs
    # 0.47 s for the sf0.1 shingle scan, identical output). This kernel
    # sits under every minhash/jaccard/containment pipeline.
    return F.expr(
        f"transform(array(split(trim({text_col}), '\\\\s+')), w -> "
        " CASE WHEN size(w) >= 3 THEN array_distinct(filter(zip_with("
        "   zip_with(w, slice(w, 2, greatest(size(w)-1, 0)),"
        "     (a, b) -> CASE WHEN b IS NOT NULL"
        "               THEN concat(a, ' ', b) END),"
        "   slice(w, 3, greatest(size(w)-2, 0)),"
        "     (p, c) -> CASE WHEN p IS NOT NULL AND c IS NOT NULL"
        "               THEN concat(p, ' ', c) END),"
        "   x -> x IS NOT NULL)) ELSE array() END)[0]"
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup groups: md5(text) -> (keep_id = min doc_id, dup_count).

    Scale: single hash-shuffle on the 32-char digest with partial
    aggregation; no row data moves, only (digest, id).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count("*").cast("long").alias("dup_count"),
        )
    )


def minhash_signature(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document MinHash signature: hash i is the lexicographic MIN over
    shingles of the i-th 32-bit hex slice of md5(prefix || shingle). Adds
    ``sig_0 .. sig_{N-1}`` string columns.

    Two-step formulation chosen from profiling: (1) ONE 96-hex-char digest
    string per shingle (all three md5 calls, concatenated), (2) N_HASHES
    ``array_min`` traversals that each slice out one 8-char window. The
    per-shingle work is 3 md5 + 1 concat; the min-reductions touch only
    cheap substrings. (The alternative single-pass zip_with fold over
    per-shingle 12-string arrays benched ~35% slower — array allocation per
    shingle dominates, not md5.) Catalyst keeps ``_digests`` un-inlined
    because it feeds 12 non-cheap consumers (CollapseProject bails), so the
    md5s really do run once per shingle.

    r11 (guide §1.2/§7.3 — driver latency is part of every bench wall):
    the expression trees are built as SQL strings (one py4j round trip
    per ``selectExpr``) instead of nested Python HOF calls. The Python
    form cost ~1,400 py4j round trips (~0.5 ms each) PER PIPELINE
    CONSTRUCTION — cProfile showed 85% of a warm ``minhash_candidates``
    build inside ``socket.recv_into`` — and this pipeline is rebuilt by
    every composite (and twice per bench run). Identical logical plan,
    oracle-verified identical output.
    """
    out = df.withColumn("_shingles", shingles(text_col)).where(F.size("_shingles") > 0)
    md5s = ", ".join(
        f"md5(concat('{p}', s))" if p else "md5(s)" for p in HASH_PREFIXES
    )
    sig_exprs = [
        f"array_min(transform(_digests, d -> substring(d, {i * 8 + 1}, 8)))"
        f" AS sig_{i}"
        for i in range(N_HASHES)
    ]
    return (
        out.selectExpr("*", f"transform(_shingles, s -> concat({md5s})) AS _digests")
        .selectExpr("*", *sig_exprs)
        .drop("_digests")
    )


def lsh_buckets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bucket) rows: bucket = md5 of the band's signature
    slice. Only these narrow rows are shuffled for candidate generation."""
    sig = minhash_signature(df, text_col)
    bands = ", ".join(
        "named_struct('band', {b}, 'bucket', md5(concat_ws('|', {sigs})))".format(
            b=b,
            sigs=", ".join(
                f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    return sig.selectExpr(
        "doc_id", "_shingles", f"explode(array({bands})) AS bb"
    ).selectExpr("doc_id", "_shingles", "bb.band AS band", "bb.bucket AS bucket")


def minhash_candidates(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b sharing ≥1 LSH bucket).

    Implemented as groupBy(bucket) + collect_list + STREAMING pair
    expansion instead of a self-join: a self-join would recompute the whole
    signature pipeline for both sides (Spark does not share scans between
    the two legs of a self-join), and at 100 TB it would also shuffle the
    bucket table twice. Here signatures are computed once, one narrow
    (band, bucket, doc_id) shuffle groups the buckets, and pairs stream
    out of two chained Generate nodes JVM-side.

    The two-step expansion (posexplode each bucket's id list, then explode
    each member's ascending suffix) is the hot-bucket OOM fix, structurally:
    each Generate is pipelined, so live memory per task is O(bucket), never
    the O(bucket²) struct array the previous single-``flatten`` form
    materialized (the r5 100x sweep measured SparkOutOfMemory exactly
    there). That also retires the r5/r6 remedies this family carried —
    the spillable self-join leg and the max-bucket-size probe action —
    whose extra jobs and checkpoint were the measured ~2x fixed overhead
    on the sf0.1 bench (r7 per-job profile) without ever firing. The
    function is fully lazy again: building the plan runs no Spark job.
    """
    b = lsh_buckets(df, text_col).select("band", "bucket", "doc_id")
    grouped = (
        b.groupBy("band", "bucket")
        .agg(F.expr("array_sort(collect_list(doc_id)) AS ids"))
        .where("size(ids) > 1")
    )
    return (
        grouped.selectExpr("posexplode(ids) AS (i, doc_a)", "ids")
        # ids[i+1:] — every later member pairs with doc_a once;
        # slice is 1-based, posexplode 0-based, hence i + 2.
        .selectExpr(
            "doc_a",
            "explode(slice(ids, i + 2, size(ids) - i - 1)) AS doc_b",
        )
        .distinct()  # a pair may collide in several bands; emit once
    )


def _verify_jaccard(df: DataFrame, cand: DataFrame, text_col: str):
    """Join a (small, materialized) candidate-pair set back to exact shingle
    sets and return (joined, inter, union) columns.

    Shingles are recomputed ONLY for candidate documents: the id list
    joins into the scan, so at 100 TB this re-reads a sub-1%
    column-pruned slice twice instead of re-deriving the whole corpus's
    shingles per join leg. The id join carries NO broadcast hint (the
    round-3 verdict's carried watch item): candidates are sub-percent for
    true near-dup thresholds but corpus-scale if thresholds loosen, so
    AQE decides — it still broadcasts whenever the list genuinely fits.
    """
    ids = cand.selectExpr("explode(array(doc_a, doc_b)) AS doc_id").distinct()
    sh = df.join(ids, "doc_id").select(
        "doc_id", shingles(text_col).alias("sh")
    # Materialized once (candidate docs only, so bounded by the candidate
    # set): both join legs below consume it, and without pinning each leg
    # re-runs the scan + shingle projection (different join keys, so no
    # exchange reuse). localCheckpoint blocks are dropped by the
    # ContextCleaner when unreachable. eager=False: materialization happens
    # at the first ACTION, not at DataFrame construction, so plan-only
    # tooling (uses_python_workers) can build this plan
    # without running the candidate scan. Lineage is still truncated —
    # executor loss after materialization fails the job rather than
    # recomputing; acceptable for a bounded candidate-doc slice.
    ).localCheckpoint(eager=False)
    joined = (
        cand.join(sh.selectExpr("doc_id AS doc_a", "sh AS sh_a"), "doc_a")
        .join(sh.selectExpr("doc_id AS doc_b", "sh AS sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return joined, inter, union


def minhash_dedup_pairs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """LSH candidates verified with exact n-gram Jaccard similarity.

    Jaccard is computed from integer set sizes (bit-deterministic); pairs
    with jaccard >= JACCARD_THRESHOLD are flagged near-dups.

    The candidate pair set is pinned with a lazy ``persist`` for the
    verify stage: candidates are a sub-percent fraction of the corpus, and
    with them pinned, verification re-reads shingles ONLY for candidate
    documents (tiny id list broadcast into the scan) instead of re-deriving
    the whole corpus's shingle sets once per join leg — at 100 TB that is
    the difference between two extra full-corpus passes and two sub-1%
    column-pruned scans. persist (CacheManager) rather than localCheckpoint
    deliberately: the cache is shared by every later plan in the session
    that rebuilds this same candidate subtree (the eval/apply composites
    build it 2-3x per query), which per-instance checkpoint blocks cannot
    do — measured +1.2 s on this query alone when checkpointed. The
    CacheManager's canonicalized-plan substitution is safe here since the
    star-CC rewrite removed the self-union shapes whose constraint
    rewriting it used to trip (SCALE.md round-5 notes).

    The persist is LAZY (no count() action): all three consumers (the id
    list and both verify legs) sit inside the caller's one final plan, so
    the first executed stage fills the single InMemoryRelation and the
    rest reuse it — an eager count only added one more job chain + AQE
    re-optimization pass (r7 per-job profile: ~5 jobs, ~0.4 s at sf0.1).
    """
    cand = minhash_candidates(df, text_col).persist()
    joined, inter, union = _verify_jaccard(df, cand, text_col)
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter / union, 6).alias("jaccard"),
        (inter / union >= JACCARD_THRESHOLD).alias("is_near_dup"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    block_col: str = "source",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within a blocking key.

    The exact counterpart to MinHash: recall 1.0 at the threshold. A naive
    blocked self-join is O(block²) pairs with an array intersection each —
    20+ s at sf0.1 and hopeless at 100 TB. This uses the AllPairs/PPJoin
    **prefix filter**, all of it lossless for the ``jaccard >= threshold``
    output:

    - J(A,B) >= t requires |A∩B| >= t·|A| (given the size-ratio condition
      below), so A and B must share at least one shingle among the FIRST
      ``|A| - ceil(t·|A|) + 1`` shingles in any fixed global order.
      The order is **ascending document frequency** (PPJoin proper, the
      same ordering ``containment_pairs`` uses): prefixes hold each doc's
      RAREST shingles, so posting lists the join touches stay short. Any
      fixed total order is lossless; lexicographic (the previous choice)
      made prefixes as common as the corpus's hottest phrases.
    - **size-ratio pruning**: J(A,B) <= min/max of the sizes, applied as
      two integer comparisons during pair expansion.
    - Jaccard is verified INLINE in the candidate join: each inverted-
      index row carries its doc's full xxhash64'd shingle set, so
      intersection sizes come from one ``array_intersect`` on the joined
      row and only the output-sized survivor set is deduplicated. The
      two-phase shape this replaces (materialize distinct candidates,
      then re-attach both shingle arrays via two joins) reshuffled the
      (pair + array) stream between the re-attach joins — ~100 GB at the
      100x scale fixture; it filled the work disk and killed the sweep.
      Hashed-set intersections equal raw-set intersections absent an
      intra-pair xxhash64 collision (P < 1e-15 per pair; the oracle
      certifies the result set, not the machinery).

    Returns (doc_a, doc_b, jaccard) for pairs meeting the threshold.
    """
    from pyspark.sql import Window

    sh = (
        df.select(
            F.col(block_col).alias("blk"),
            "doc_id",
            shingles(text_col).alias("sh"),
        )
        .where(F.size("sh") > 0)
    )
    tok = sh.select(
        "blk", "doc_id", F.size("sh").alias("sz"), F.explode("sh").alias("tok")
    )
    # Global document frequency via one window pass (same idiom + rationale
    # as containment_pairs), then each doc's shingles re-assembled
    # rarest-first and hashed to int64. Checkpoint: the window+regroup
    # pipeline is the expensive stage and BOTH join legs read it.
    ordered = (
        tok.withColumn(
            "tdf", F.count("*").over(Window.partitionBy("tok")).cast("long")
        )
        .groupBy("blk", "doc_id", "sz")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tdf", "tok"))),
                lambda s: F.xxhash64(s["tok"]),
            ).alias("hs")
        )
        .localCheckpoint(eager=False)
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")).cast("int") + 1
    inv = ordered.select(
        "blk", "doc_id", "sz", "hs",
        F.explode(F.slice("hs", 1, prefix_len)).alias("tokh"),
    )
    ia = inv.select(
        "blk", "tokh", F.col("doc_id").alias("doc_a"),
        F.col("sz").alias("sz_a"), F.col("hs").alias("hs_a"),
    )
    ib = inv.select(
        "blk", "tokh", F.col("doc_id").alias("doc_b"),
        F.col("sz").alias("sz_b"), F.col("hs").alias("hs_b"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        ia.join(ib, ["blk", "tokh"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .where(
            F.least("sz_a", "sz_b")
            >= F.lit(threshold) * F.greatest("sz_a", "sz_b")
        )
        .select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
        .distinct()  # a pair may share several prefix tokens; emit once
    )


def simhash16(df: DataFrame, text_col: str = "text") -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Per-token 16-bit hash = first 4 hex digits of md5(token); each bit
    contributes +1/-1 weighted by token multiplicity; fingerprint bit j is 1
    when the signed sum is positive. Implemented as explode -> 16
    conditional sums (map-side combinable single shuffle on doc_id).
    """
    hexmap = "0123456789abcdef"
    tok = df.select("doc_id", F.explode(_tokens(text_col)).alias("tok"))
    h = F.md5(F.col("tok"))
    val = sum(
        (F.instr(F.lit(hexmap), F.substring(h, p + 1, 1)) - 1) * (16 ** (3 - p))
        for p in range(4)
    )
    tok = tok.select("doc_id", val.alias("h16"))
    bit_sums = [
        F.sum(
            F.when(F.floor(F.col("h16") / (2**j)) % 2 == 1, 1).otherwise(-1)
        ).alias(f"bs_{j}")
        for j in range(16)
    ]
    agg = tok.groupBy("doc_id").agg(*bit_sums)
    fp = sum(
        F.when(F.col(f"bs_{j}") > 0, F.lit(2**j)).otherwise(F.lit(0)) for j in range(16)
    )
    return agg.select("doc_id", fp.cast("int").alias("simhash"))


def simhash_pairs(
    df: DataFrame, text_col: str = "text", max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, banded-LSH blocked.

    Blocking key = (band index, band value) of the fingerprint itself: a
    pair within Hamming distance ``max_hamming`` differs in at most
    ``max_hamming`` bit positions, so with ``n_bands > max_hamming`` bands
    the pigeonhole principle guarantees at least one band matches exactly —
    the blocking is LOSSLESS for the ``hamming <= max_hamming`` output and
    data-independent (no reliance on a metadata column whose block sizes
    could be skewed or unbounded). This is the Manku et al. (WWW 2007)
    near-duplicate detection design; at 100 TB the candidate join shuffles
    only (band, value, doc_id, fp) rows grouped by 4-bit band values.
    """
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands ({n_bands}) must exceed max_hamming ({max_hamming}) "
            "for lossless band blocking"
        )
    band_bits = 16 // n_bands
    fp = simhash16(df, text_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                (F.floor(F.col("simhash") / (2 ** (b * band_bits)))
                 % (2**band_bits)).cast("int").alias("bval"),
            )
            for b in range(n_bands)
        ]
    )
    bd = fp.select("doc_id", "simhash", F.explode(bands).alias("bb")).select(
        "doc_id", "simhash", F.col("bb.band").alias("band"), F.col("bb.bval").alias("bval")
    )
    a = bd.select(
        "band", "bval", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a")
    )
    b = bd.select(
        "band", "bval", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b")
    )
    hamming = sum(
        F.abs(
            F.floor(F.col("fp_a") / (2**j)) % 2 - F.floor(F.col("fp_b") / (2**j)) % 2
        )
        for j in range(16)
    )
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()  # a pair may collide in several bands; emit it once
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def _both_directions(e: DataFrame) -> DataFrame:
    """(s,t) -> rows (u=s,v=t) and (u=t,v=s) via a single explode — one
    pass over the edges, and deliberately NOT a self-union: Spark 4's
    Union constraint rewriting (UnionBase.rewriteConstraints) throws
    ``key not found: <attr>`` on self-unions of projections of the same
    plan under some lineages (hit by the star loop's checkpointed edge
    sets); a Generate node has no such path."""
    return e.selectExpr(
        "explode(array(named_struct('u', s, 'v', t),"
        " named_struct('u', t, 'v', s))) AS d"
    ).selectExpr("d.u AS u", "d.v AS v")


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al. 2014): every node connects its
    LARGER neighbors to its minimum neighborhood member. Input/output:
    canonical undirected edges (s < t).

    r11 (guide §2.4 — a window keyed like the preceding aggregation needs
    no second shuffle): ``m_u`` is attached with ``min() OVER (PARTITION
    BY u)`` instead of the old groupBy(u) + self-join-on-u, which planned
    the adjacency subtree TWICE (build + probe legs) and paid an SMJ with
    two sorts. The window shuffles the adjacency once and sorts it once —
    measured per round at sf0.1: 8 Exchange -> 4, 3 SMJ -> 0, ~2x wall
    (0.76 -> 0.36 s warm), identical edge set (A/B verified). A hub node's
    rows land in one window task, which ``WindowExec`` buffers in a
    spillable array: a hub costs one long task, not an OOM."""
    adj = _both_directions(e)
    # for v in N(u), v > u: (m_u, v); m_u <= u < v keeps canonical order
    return (
        adj.selectExpr("least(u, min(v) OVER (PARTITION BY u)) AS m", "u", "v")
        .where("v > u")
        .selectExpr("m AS s", "v AS t")
        .where("s != t")
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star operation: every node connects its SMALLER neighbors (and
    itself) to the minimum of them. Canonical (s < t) in and out; the
    two emissions per edge go through one explode (see
    ``_both_directions`` for why not a self-union). Same window-over-
    groupBy+join rewrite as :func:`_large_star` (r11)."""
    return (
        e.selectExpr("s", "t", "min(s) OVER (PARTITION BY t) AS m")
        .selectExpr(
            "explode(array(named_struct('s2', m, 't2', s),"
            " named_struct('s2', m, 't2', t))) AS d"
        )
        .selectExpr("d.s2 AS s", "d.t2 AS t")
        .where("s != t")
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """EXACT terminal test, one cheap job: a canonical (s < t) edge set is
    a star forest iff (a) no node appears both as a parent (s) and as a
    child (t), AND (b) every child has exactly one distinct parent.
    Condition (b) is NOT implied by (a): edges {(1,4),(3,4)} are
    parent/child-disjoint, yet node 4 belongs to two "stars" — exiting
    there would emit doc 4 into BOTH group 1 and group 3 (duplicate
    doc_id rows; the advisor's {1..9} counterexample terminates exactly
    this way after one round). Checking both directly — instead of
    fingerprinting the edge set and running one more contraction round to
    see it unchanged — still saves an entire confirming round, which for
    the common clique-shaped inputs is HALF the rounds. One explode +
    groupBy, no join, no self-union, and NO count_distinct (which would
    plan an Expand per round): the loop's edge sets are distinct rows, so
    a child's distinct-parent count IS its child-role row count —
    sum(c) > 1 detects multi-parent children exactly."""
    roles = e.selectExpr(
        "explode(array(named_struct('id', s, 'p', 1, 'c', 0),"
        " named_struct('id', t, 'p', 0, 'c', 1))) AS r"
    ).select("r.*")
    bad = (
        roles.groupBy("id")
        .agg(
            F.max("p").alias("p"),
            F.max("c").alias("c"),
            F.sum("c").alias("nchild"),
        )
        .where("(p = 1 AND c = 1) OR nchild > 1")
        .limit(1)
        .count()
    )
    return bad == 0


def duplicate_groups(pairs: DataFrame, max_iterations: int = 60) -> DataFrame:
    """Transitive duplicate groups from near-dup pairs: connected components
    by alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014) -> (doc_id, group_id =
    smallest doc_id in the component).

    Pair detectors (minhash/ngram/simhash) emit EDGES; an actual keep-list
    needs COMPONENTS (a~b, b~c => {a,b,c} one group). Each round runs
    large-star (larger neighbors re-attach to the neighborhood min) then
    small-star (smaller neighbors collapse onto their min); the edge set
    converges to per-component stars rooted at the component minimum in
    O(log^2 n) rounds of edge-sized shuffles. This replaced round-4's
    min-label propagation, whose binding bound is O(component diameter):
    the 10x scale gate produced a 19.8k-node diameter-24 component
    (chained cosine edges) that needed ~20 label rounds / ~38 s — star CC
    does it in 6 rounds / ~6 s, and a 300-node path (diameter 299, the
    adversarial case for label propagation) in 10 rounds. Both certified
    exact against a union-find reference; clique-shaped components (the
    common near-dup case) finish in ONE round (the terminal star-forest
    test is exact and checked before/after each round, so no confirming
    pass runs — see ``_is_star_forest``). Every round's edge set is
    ``localCheckpoint``-ed so the per-round plan stays O(1) deep, and the
    driver holds only the boolean terminal test.
    """
    import warnings

    # ONE materialization of the (possibly expensive) pair pipeline: keep
    # self-pairs here so the final node roster derives from this
    # checkpoint, never from `pairs` again (re-deriving pairs for the
    # singleton roster re-ran the whole minhash pipeline — 62 s vs 6 s on
    # the 10x fixture). The checkpoint is lazy: round 1's job fills it.
    e0 = pairs.selectExpr(
        "CAST(least(doc_a, doc_b) AS BIGINT) AS s",
        "CAST(greatest(doc_a, doc_b) AS BIGINT) AS t",
    ).distinct().localCheckpoint(eager=False)
    e = e0.where("s != t")
    # no pre-check: pair detectors essentially never emit a ready star
    # forest, and a contraction round on one is a no-op, so checking only
    # AFTER each round saves a job on every call
    converged = False
    for _ in range(max_iterations):
        # One action per round, not two: the round's checkpoint blocks
        # materialize INSIDE the star-forest test's job — measured ~1 job
        # + scheduler gap saved per round at sf0.1 with identical work;
        # later rounds/labels read the pinned blocks.
        e, converged = materialize_and_probe(
            _small_star(_large_star(e)), _is_star_forest
        )
        if converged:
            break
    if not converged:
        warnings.warn(
            f"duplicate_groups did not converge after {max_iterations} "
            "star rounds; group ids may span partial components (raise "
            "max_iterations for adversarial duplicate graphs)",
            stacklevel=2,
        )
    # Terminal stars: (root, child) edges. label(child)=root,
    # label(root)=root; nodes appearing only in degenerate self-pairs of
    # the input are their own singleton groups (parity with the label-
    # propagation implementation).
    labels = (
        e.selectExpr(
            "explode(array(named_struct('d', t, 'g', s),"
            " named_struct('d', s, 'g', s))) AS x"
        )
        .selectExpr("x.d AS doc_id", "x.g AS group_id")
        .distinct()
    )
    nodes = e0.selectExpr("explode(array(s, t)) AS doc_id").distinct()
    singletons = nodes.join(labels, "doc_id", "left_anti").selectExpr(
        "doc_id", "doc_id AS group_id"
    )
    return labels.unionByName(singletons)


#: Paragraph-granularity exact dedup: chunk size in words. Real corpora
#: split on blank lines; the synthetic testdata has no paragraph marks, so
#: chunking is deterministic fixed-width word windows — the Spark-side
#: machinery (corpus-wide chunk-hash shuffle, first-occurrence winner,
#: in-order reconstruction) is identical either way.
CHUNK_WORDS = 20


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    chunk_words: int = CHUNK_WORDS) -> DataFrame:
    """Corpus-wide exact paragraph dedup with document reconstruction
    (the paragraph/line-level pass of Lee et al., "Deduplicating Training
    Data Makes Language Models Better", ACL 2022 — there exact substring
    dedup; here the distributed paragraph-hash form).

    Every document is split into fixed-width word chunks; a chunk survives
    only in its FIRST corpus occurrence (min (doc_id, idx) over all chunks
    with the same md5 — deterministic), and each document is reconstructed
    from its surviving chunks in order.

    Scale shape: one shuffle keyed by chunk hash (uniform md5 keys — no
    skew), one shuffle keyed by doc_id for reconstruction. State per group
    is one row; nothing is ever collected. At 100 TB this is exactly the
    published pipeline design: dedup keys are hashes, winners are
    order-statistics per key, reconstruction is a grouped sort.
    """
    from pyspark.sql.window import Window

    w = F.split(F.trim(F.col(text_col)), r"\s+")
    chunks = F.expr(
        f"transform(sequence(0, int(ceil(size(_w) / {chunk_words}.0)) - 1), "
        f"j -> array_join(slice(_w, j * {chunk_words} + 1, {chunk_words}), ' '))"
    )
    exploded = (
        df.select("doc_id", w.alias("_w"))
        .select("doc_id", F.posexplode(chunks).alias("idx", "chunk"))
        .withColumn("h", F.md5("chunk"))
    )
    win = Window.partitionBy("h").orderBy("doc_id", "idx")
    ranked = exploded.withColumn("kept", F.row_number().over(win) == 1)
    kept_sorted = F.array_sort(
        F.collect_list(F.when(F.col("kept"), F.struct("idx", "chunk")))
    )
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_chunks"),
            F.sum(F.when(F.col("kept"), 1).otherwise(0)).cast("int").alias("n_kept"),
            F.md5(
                F.concat_ws(" ", F.transform(kept_sorted, lambda s: s["chunk"]))
            ).alias("kept_hash"),
        )
    )


def incremental_dedup_pairs(corpus: DataFrame, new_docs: DataFrame,
                            text_col: str = "text",
                            corpus_index: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs for an INCREMENTAL ingest batch: verified pairs that
    involve at least one new document — never re-expanding old-vs-old.

    The production ingestion shape: the existing corpus's banded LSH
    buckets are a materialized index (here derived in-plan; persist the
    ``lsh_buckets`` output as a bucket-partitioned table to make ingest
    cost independent of corpus size — the new batch's buckets hash-join
    against the index, touching only colliding buckets). Work is
    O(new × bands) bucket rows + collisions:

    - old×new candidates: equi-join of the new batch's buckets against the
      index on (band, bucket) — the old side never self-pairs,
    - new×new candidates: the standard in-batch expansion,
    - verification re-reads shingles for candidate docs only (broadcast id
      list), exactly like the batch path.

    Equivalence: bucketing is per-document and deterministic, so this
    equals the full-corpus ``minhash_dedup_pairs`` restricted to pairs
    with a new member (tested + oracle-certified).

    ``corpus_index``: a pre-materialized (band, bucket, doc_id) index for
    the corpus — e.g. the bucketed table ``dedup_index_persist`` writes —
    so repeated ingests skip re-deriving corpus signatures entirely; when
    None the index is derived in-plan.
    """
    ob = (corpus_index if corpus_index is not None
          else lsh_buckets(corpus, text_col)).select(
        "band", "bucket", F.col("doc_id").alias("old_id")
    )
    nb = lsh_buckets(new_docs, text_col).select("band", "bucket", "doc_id")
    on = (
        nb.join(ob, ["band", "bucket"])
        .select(
            F.least("old_id", "doc_id").alias("doc_a"),
            F.greatest("old_id", "doc_id").alias("doc_b"),
        )
        .where(F.col("doc_a") != F.col("doc_b"))
    )
    nn = minhash_candidates(new_docs, text_col)
    cand = on.union(nn).distinct().persist()  # lazy; see minhash_dedup_pairs
    everything = corpus.unionByName(new_docs)
    joined, inter, union = _verify_jaccard(everything, cand, text_col)
    return joined.select(
        "doc_a",
        "doc_b",
        F.round(inter / union, 6).alias("jaccard"),
        (inter / union >= JACCARD_THRESHOLD).alias("is_near_dup"),
    )
