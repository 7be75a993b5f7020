"""Text-analysis operators over the ``documents`` table.

North-star extensions beyond the reference surface (BASELINE.json): the
operations a large-scale LLM training-data pipeline runs over raw text.
Everything here is built from JVM-side ``pyspark.sql.functions`` — no Python
UDFs on the hot path — so the plans stay inside whole-stage codegen and
scale linearly with partitions: per-document operators are embarrassingly
parallel (no shuffle at all until a final aggregation, if any).

Each operator is a plain DataFrame -> DataFrame function (composable), and
the suite exposes an oracle-checked query per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic. Deliberately small and deterministic: the operator contract is
#: the scoring machinery, not lexicon quality.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "für", "auf", "ein"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "pour", "dans"),
    "es": ("el", "la", "los", "de", "y", "un", "una", "es", "para", "con"),
    "zh": ("的", "是", "在", "和", "了", "有", "我", "不", "这", "中"),
}


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, distinct tokens, char/byte length,
    and a BPE-ish subword estimate (4 bytes/token heuristic over
    word-boundary pieces)."""
    toks = tokens(text_col)
    return df.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct_tokens"),
        F.length(text_col).cast("int").alias("n_chars_measured"),
        F.octet_length(text_col).cast("int").alias("n_bytes"),
        # BPE-ish proxy: words contribute ceil(len/4) subword units.
        F.aggregate(
            F.transform(toks, lambda t: F.ceil(F.length(t) / 4.0).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("int").alias("n_subword_est"),
    )


def _stopword_hits(toks: Column, words: tuple[str, ...]) -> Column:
    return F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*[F.lit(w) for w in words]))
    ).cast("int")


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language stopword-hit counts (the raw signal for language ID)."""
    toks = tokens(text_col)
    cols = [
        _stopword_hits(toks, words).alias(f"score_{lang}")
        for lang, words in LANG_STOPWORDS.items()
    ]
    return df.select("doc_id", "lang", *cols)


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language identification: argmax of stopword-hit scores with a
    deterministic tiebreak (language code order), 'und' when no hits."""
    scored = lang_scores(df, text_col)
    langs = sorted(LANG_STOPWORDS)
    pairs = F.array(
        *[F.struct(F.col(f"score_{l}").alias("s"), F.lit(l).alias("l")) for l in langs]
    )
    out = scored.withColumn("_pairs", pairs)
    # deterministic argmax: max score, then alphabetically-first language
    # among the maxima.
    max_score = F.array_max(F.transform(F.col("_pairs"), lambda p: p["s"]))
    argmin_lang = F.array_min(
        F.transform(
            F.filter(F.col("_pairs"), lambda p: p["s"] == max_score),
            lambda p: p["l"],
        )
    )
    return out.select(
        "doc_id",
        "lang",
        max_score.cast("int").alias("best_score"),
        F.when(max_score > 0, argmin_lang).otherwise(F.lit("und")).alias("lang_pred"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document quality: length, mean word length, stopword ratio,
    uppercase ratio, digit ratio — combined into a 0..1-ish score.

    All signals are integer counts divided by integer counts, so the score
    is bit-deterministic across engines.
    """
    toks = tokens(text_col)
    n_tokens = F.size(toks)
    n_chars = F.length(text_col)
    en_hits = _stopword_hits(toks, LANG_STOPWORDS["en"])
    n_digits = (
        n_chars - F.length(F.regexp_replace(F.col(text_col), "[0-9]", ""))
    )
    mean_word_len = (n_chars - (n_tokens - 1)) / n_tokens
    return df.select(
        "doc_id",
        n_tokens.cast("int").alias("n_tokens"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(en_hits / n_tokens, 6).alias("stopword_ratio"),
        F.round(n_digits / n_chars, 6).alias("digit_ratio"),
        F.round(
            F.least(n_tokens / 100.0, F.lit(1.0)) * 0.4
            + F.least(en_hits / (n_tokens * 0.1), F.lit(1.0)) * 0.4
            + (1 - n_digits / n_chars) * 0.2,
            6,
        ).alias("quality"),
        (n_tokens >= 10).alias("pass_min_length"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprinting: order-insensitive content hash (md5 over the
    sorted distinct token bag) + exact text hash. Used for shuffle-free
    near-canonical grouping downstream."""
    toks = tokens(text_col)
    return df.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("text_hash"),
        F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks)))).alias(
            "bag_fingerprint"
        ),
    )


#: Repetition thresholds (MassiveText/Gopher-style filtering, Rae et al.
#: 2021 §A1.1): a document is repetition-flagged when too much of it is
#: duplicated bigrams or a single dominant token.
REP_MAX_DUP_BIGRAM_FRAC = 0.2
REP_MAX_TOP_WORD_FRAC = 0.3


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Within-document repetition signals (the Gopher repetition filter).

    Two signals per document, both exact integer ratios (bit-deterministic):

    - ``dup_bigram_frac``: fraction of word-bigram occurrences beyond each
      bigram's first occurrence — computed ARRAY-SIDE as
      ``(n - n_distinct) / n``, so this path is shuffle-free and
      embarrassingly parallel.
    - ``top_word_frac``: share of tokens taken by the most frequent word
      (ties broken by lexicographically-first word). This needs per-(doc,
      word) counts: one map-side-combinable shuffle keyed by doc_id — at
      100 TB both shuffles in this operator carry doc_id keys, so they
      scale horizontally with documents and never concentrate.
    """
    toks = tokens(text_col)
    base = df.select("doc_id", toks.alias("_w"))
    # ONE corpus tokenize (r11, guide §2.3): the bigram signals are
    # array-side per-doc constants, so they ride the word explode as two
    # int columns (max()-ed back out of the aggregates) instead of a
    # second scan+tokenize+bigram kernel joined back on doc_id. The
    # carried ints live INSIDE the generator via the single-element-array
    # let-binding (the shingles idiom): Catalyst pushes a plain projection
    # ABOVE the Generate, which re-evaluated the zip_with/array_distinct
    # kernel per EMITTED token (benched 1.4 -> 5.0 s at sf0.1 — the
    # substring_dup_pairs trap); inside the generator the header struct
    # is computed once per document and copied per token. The (doc, word)
    # shuffle widens by two ints per map-side-combined group; the whole
    # second corpus pass disappears.
    gen = F.explode(
        F.expr(
            "flatten(transform("
            " array(struct("
            "   transform(array(CASE WHEN size(_w) >= 2 THEN"
            "     zip_with(slice(_w, 1, size(_w) - 1), slice(_w, 2, size(_w) - 1),"
            "       (a, b) -> concat(a, ' ', b))"
            "     ELSE array() END),"
            "     bg -> struct(CAST(size(bg) AS INT) AS nb,"
            "                  CAST(size(bg) - size(array_distinct(bg)) AS INT) AS nd)"
            "   )[0] AS h,"
            "   _w AS w)),"
            " s -> transform(s.w, t ->"
            "   struct(s.h.nb AS n_bigrams, s.h.nd AS _n_dup, t AS word))))"
        )
    )
    wc = (
        base.select("doc_id", gen.alias("g"))
        .select("doc_id", "g.n_bigrams", "g._n_dup", "g.word")
        .groupBy("doc_id", "word")
        .agg(
            F.count("*").alias("c"),
            F.max("n_bigrams").alias("n_bigrams"),
            F.max("_n_dup").alias("_n_dup"),
        )
    )
    # Deterministic argmax in ONE aggregation: min of (-count, word) is the
    # max count with the lexicographically-first word as tiebreak.
    top = wc.groupBy("doc_id").agg(
        F.min(F.struct((-F.col("c")).alias("nc"), F.col("word").alias("w"))).alias("t"),
        F.sum("c").cast("int").alias("n_tokens"),
        F.max("n_bigrams").alias("n_bigrams"),
        F.max("_n_dup").alias("_n_dup"),
    )
    dup_frac = F.when(
        F.col("n_bigrams") > 0,
        F.round(F.col("_n_dup") / F.col("n_bigrams"), 6),
    ).otherwise(F.lit(0.0))
    top_frac = F.round((-F.col("t.nc")) / F.col("n_tokens"), 6)
    return (
        top
        .select(
            "doc_id",
            "n_tokens",
            "n_bigrams",
            dup_frac.alias("dup_bigram_frac"),
            F.col("t.w").alias("top_word"),
            top_frac.alias("top_word_frac"),
            (
                (dup_frac <= REP_MAX_DUP_BIGRAM_FRAC)
                & (top_frac <= REP_MAX_TOP_WORD_FRAC)
            ).alias("pass_repetition"),
        )
    )


#: Winnowing parameters: character k-grams, window of w consecutive gram
#: hashes; a document's fingerprint set is the distinct per-window minima
#: (MOSS-style rolling-hash fingerprinting; guarantees any shared substring
#: of length >= K + W - 1 yields a shared fingerprint).
WINNOW_K = 8
WINNOW_W = 4
#: A fingerprint present in more than this many documents is corpus
#: boilerplate, excluded from substring-duplication evidence (and from the
#: quadratic posting-list pair expansion — the scale guard).
WINNOW_HUB_CAP = 50


def winnow_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rolling-hash winnowing fingerprints per document (Schleimer,
    Wilkerson & Aiken, "Winnowing: local algorithms for document
    fingerprinting", SIGMOD 2003).

    All JVM-side: char k-gram hashes via one ``transform`` pass
    (md5 hex slice as the rolling hash), window minima via a second pass of
    ``array_min(slice(...))``, then distinct + sort. Returns
    (doc_id, n_fingerprints, winnow_hash) where winnow_hash digests the
    sorted fingerprint set — two documents sharing long substrings share
    fingerprints, so the sets support containment/overlap checks downstream.
    """
    n_grams = F.length(F.col(text_col)) - (WINNOW_K - 1)
    gram_hashes = F.transform(
        F.when(n_grams >= 1, F.sequence(F.lit(1), n_grams)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda i: F.substring(F.md5(F.substring(F.col(text_col), i, WINNOW_K)), 1, 8),
    )
    out = df.withColumn("_gh", gram_hashes)
    n_windows = F.size("_gh") - (WINNOW_W - 1)
    minima = F.transform(
        F.when(n_windows >= 1, F.sequence(F.lit(1), n_windows)).otherwise(
            F.array().cast("array<int>")
        ),
        lambda j: F.array_min(F.slice(F.col("_gh"), j, WINNOW_W)),
    )
    fps = F.array_sort(F.array_distinct(minima))
    return out.select(
        "doc_id",
        F.size(fps).cast("int").alias("n_fingerprints"),
        F.md5(F.concat_ws(" ", fps)).alias("winnow_hash"),
        fps.alias("fps"),
    )


def substring_dup_pairs(df: DataFrame, text_col: str = "text",
                        min_shared: int = 20) -> DataFrame:
    """Cross-document VERBATIM-substring duplication (the substring-level
    dedup of Lee et al., "Deduplicating training data makes language
    models better", ACL 2022 — their suffix array finds exact duplicated
    spans; here the winnowing fingerprints sample those spans): a shared
    fingerprint is an identical ``WINNOW_K``-char window both documents
    contain, and winnowing guarantees every sufficiently long shared span
    contributes at least one (Schleimer et al. 2003 coverage property).

    Returns (doc_a, doc_b, n_shared) for pairs sharing at least
    ``min_shared`` NON-BOILERPLATE fingerprints — n_shared is the exact
    intersection size of the two fingerprint sets after dropping
    fingerprints found in more than ``WINNOW_HUB_CAP`` documents
    (MOSS's own rule: fingerprints common across the corpus are
    boilerplate, not evidence of pairwise copying). Tune ``min_shared``
    to the corpus: short repetitive vocabularies produce incidental
    single-window collisions, so the default demands enough shared
    windows to evidence a real duplicated span run.

    Scale shape: identical to MinHash candidates — one narrow
    (fingerprint, doc_id) shuffle, pairs expanded JVM-side per posting
    list, never an all-pairs join; count-per-pair is one map-side
    combinable aggregation. The hub cap is also the SCALE guard: pair
    expansion is quadratic in posting-list length, so without it one
    corpus-wide fingerprint costs O(n_docs²) (benched: 897 s at sf0.1's
    5k small-vocabulary docs; 4 s with the cap) — at 100 TB a df-capped
    inverted index is the only viable shape, and the cap is where the
    skew lives.
    """
    # Materialize the fingerprint arrays BEFORE exploding: a Generate
    # (explode) planned directly over the winnowing expression pipeline
    # re-evaluates the nested higher-order-function subtree per EMITTED
    # row, not per input row — benched 82 s vs 0.7 s at sf0.01 (500 docs),
    # and the round-3 driver bench caught it at 897 s for sf0.1. The
    # checkpoint pins (doc_id, fps) — narrow, fingerprint-sized — exactly
    # like dedup_groups pins its per-round labels.
    # eager=False (r11): the single consumer below materializes the blocks
    # inside its own job — the eager form scheduled one extra job + AQE
    # pass per call for identical pinning (the checkpoint itself remains
    # required; see the paragraph below).
    wf = (winnow_fingerprints(df, text_col).select("doc_id", "fps")
          .localCheckpoint(eager=False))
    fps = wf.select("doc_id", F.explode("fps").alias("fp"))
    grouped = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .where((F.size("ids") > 1) & (F.size("ids") <= WINNOW_HUB_CAP))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").cast("int").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


#: Fixed-point scale for log-probabilities: logs are rounded to integer
#: nano-nats so per-document sums are EXACT integer arithmetic (float sum
#: order varies across partitionings; integer sums don't).
LM_SCALE = 1_000_000_000


def lm_score(df: DataFrame, text_col: str = "text",
             vocab_cap: int = 50_000) -> DataFrame:
    """Unigram language-model cross-entropy per document — the proxy for
    the perplexity quality filter of CCNet (Wenzek et al., "CCNet:
    Extracting high quality monolingual datasets from web crawl data",
    LREC 2020; Laplace-smoothed unigram LM instead of their KenLM 5-gram).

    The "model" is the corpus's own unigram distribution: word counts (one
    map-side-combinable shuffle, vocab-bounded output, capped at
    ``vocab_cap`` by (count, word) so the table stays broadcastable on any
    corpus), smoothed p(w) = (c_w + 1) / (total + |V| + 1) with the +1
    bucket standing in for OOV. Scoring joins per-(doc, word) tfs against
    the BROADCAST prob table; per-doc sums run in exact fixed-point
    (integer nano-nats), so the score is bit-deterministic across engines
    and partitionings.
    """
    words = df.select("doc_id", F.explode(tokens(text_col)).alias("word"))
    tf = words.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    # Vocabulary counts are derived from the per-doc tf aggregate, not from
    # the raw token stream: c_w = SUM_doc tf(doc, w) is the same number, but
    # every plan leg (vocab, totals, OOV, scoring) now sits above tf's ONE
    # exchange — the tokenize+explode runs once at runtime (ReusedExchange)
    # instead of once per leg, and the vocab shuffle carries (doc, word, tf)
    # partials instead of one row per token occurrence (r11, guide §2.3/§2.4).
    wc = (
        tf.groupBy("word")
        .agg(F.sum("tf").alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(vocab_cap)
    )
    totals = wc.agg(
        F.sum("c").alias("total"), F.count("*").alias("v")
    )
    denom = F.col("total") + F.col("v") + 1
    probs = wc.crossJoin(F.broadcast(totals)).select(
        "word",
        F.round(F.log((F.col("c") + 1) / denom) * LM_SCALE).cast("long").alias("llr"),
    )
    oov = totals.select(
        F.round(F.log(1.0 / denom) * LM_SCALE).cast("long").alias("llr_oov")
    )
    scored = (
        tf.join(F.broadcast(probs), "word", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            "doc_id",
            "tf",
            F.coalesce(F.col("llr"), F.col("llr_oov")).alias("llr"),
        )
    )
    ln2 = 0.6931471805599453
    return scored.groupBy("doc_id").agg(
        F.sum("tf").cast("int").alias("n_tokens"),
        F.round(
            -F.sum(F.col("tf") * F.col("llr"))
            / (F.sum("tf") * F.lit(float(LM_SCALE)) * F.lit(ln2)),
            4,
        ).alias("xent_bits"),
    )


#: Gopher quality-rule constants (Rae et al., "Scaling Language Models:
#: Methods, Analysis & Insights from Training Gopher", 2021, §A1.1 —
#: the MassiveText quality filter, reused by MassiveWeb/RefinedWeb).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3
GOPHER_MAX_MEAN_WORD_LEN = 10
GOPHER_MAX_SYMBOL_RATIO = 0.1      # '#' or '...' per word
GOPHER_MAX_BULLET_FRAC = 0.9       # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.3     # lines ending with '...'
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8   # words containing an alphabetic char
GOPHER_MIN_STOPWORDS = 2           # distinct hits from the 8-word list
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _substr_count(col: Column, pat: str) -> Column:
    """Non-overlapping substring occurrences — replace-based so the exact
    same semantics are reproducible in any SQL engine."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(pat), F.lit(""))))
        / len(pat)
    ).cast("int")


def gopher_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The full Gopher/MassiveText document-quality rule set, one boolean
    flag per rule plus the conjunction (``keep``).

    Every rule is evaluated as an integer cross-multiplied comparison
    (e.g. ``10 * alpha_words >= 8 * n_words`` instead of a float ratio), so
    the flags are bit-deterministic across engines and partitionings.
    Embarrassingly parallel: pure per-row projection, no shuffle, stays
    inside whole-stage codegen end-to-end.
    """
    t = F.col(text_col)
    toks = tokens(text_col)
    n_words = F.size(toks)
    # mean word length bounds: word chars = total chars minus the (n-1)
    # single-space separators of a whitespace-normalized doc; exact via the
    # summed token lengths (robust to runs of whitespace).
    word_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    n_symbols = _substr_count(t, "#") + _substr_count(t, "...")
    lines = F.split(t, "\n")
    n_lines = F.size(lines)
    bullet_lines = F.size(
        F.filter(
            lines,
            lambda l: F.trim(l).startswith("•")
            | F.trim(l).startswith("* ")
            | F.trim(l).startswith("- "),
        )
    )
    ellipsis_lines = F.size(F.filter(lines, lambda l: F.rtrim(l).endswith("...")))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
    stopword_hits = F.size(
        F.array_intersect(
            F.transform(toks, F.lower), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    flags = {
        "pass_word_count": (n_words >= GOPHER_MIN_WORDS)
        & (n_words <= GOPHER_MAX_WORDS),
        "pass_mean_word_len": (word_chars >= GOPHER_MIN_MEAN_WORD_LEN * n_words)
        & (word_chars <= GOPHER_MAX_MEAN_WORD_LEN * n_words),
        "pass_symbol_ratio": n_symbols * 10 <= n_words,
        "pass_bullet_ratio": bullet_lines * 10 <= n_lines * 9,
        "pass_ellipsis_ratio": ellipsis_lines * 10 <= n_lines * 3,
        "pass_alpha_words": alpha_words * 10 >= n_words * 8,
        "pass_stopwords": stopword_hits >= GOPHER_MIN_STOPWORDS,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return df.select(
        "doc_id",
        n_words.cast("int").alias("n_words"),
        word_chars.cast("int").alias("word_chars"),
        stopword_hits.cast("int").alias("stopword_hits"),
        *[c.alias(name) for name, c in flags.items()],
        keep.alias("keep"),
    )


def word_ngrams(text_col: str = "text", k: int = 4) -> Column:
    """Distinct word k-grams as an array column (empty when < k tokens).

    Generic-k companion to ``dedup.shingles`` (which is a zip-specialized
    k=3). The per-position ``slice`` is O(k) per gram — fine for metadata-
    sized k; for hot k=3 paths use ``shingles``.
    """
    toks = tokens(text_col)
    # Single-element-array let-binding: `transform(array(split(...)), a ->
    # ...)` evaluates the regex split ONCE and binds it to the lambda
    # variable. Inlining split() into the inner lambda re-evaluates it on
    # EVERY position access (no CSE across lambda scopes) — benched 2.6 s
    # vs 0.4 s at sf0.1 for the gram-count scan, identical output.
    grams = F.expr(
        f"transform(array(split(trim({text_col}),'\\\\s+')), a -> "
        f"transform(sequence(1, size(a)-{k}+1), "
        f"i -> array_join(slice(a, i, {k}), ' ')))[0]"
    )
    return F.array_distinct(
        F.when(F.size(toks) >= k, grams).otherwise(F.array().cast("array<string>"))
    )


def ngram_decontaminate(train: DataFrame, benchmark: DataFrame,
                        text_col: str = "text", k: int = 4) -> DataFrame:
    """Benchmark decontamination by word k-gram overlap — the GPT-3
    appendix-C method (Brown et al. 2020 use 13-grams; k is a parameter
    and the testdata entry uses k=4 so the signal is non-degenerate on
    synthetic text).

    A training document is contaminated when it shares ANY word k-gram
    with any benchmark document. The benchmark gram set is
    benchmark-sized (tiny next to the pool), so it reaches the probe as a
    BROADCAST; per-doc work is one distinct-gram explode. At very large
    benchmark sets, swap the broadcast for ``sketch.bloom_build`` over the
    grams — no false negatives, same join shape.

    The train pool is read ONCE (r11): ``explode_outer`` keeps a
    null-gram row for gram-less documents, the broadcast LEFT join marks
    matches, and one map-side-combinable per-doc aggregate counts them —
    the old inner-join form needed a second doc_id-only train scan plus a
    join back just to re-attach the zero-gram documents.

    Returns every train doc: (doc_id, n_shared_grams, contaminated).
    """
    bench = (
        benchmark.select(F.explode(word_ngrams(text_col, k)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    tr = train.select(
        "doc_id", F.explode_outer(word_ngrams(text_col, k)).alias("gram")
    )
    return (
        tr.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
             .cast("int").alias("n_shared_grams"))
        .select(
            "doc_id",
            "n_shared_grams",
            (F.col("n_shared_grams") > 0).alias("contaminated"),
        )
    )


def ppl_bucket_sample(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 3,
    per_bucket: int = 20,
    seed: int = 42,
) -> DataFrame:
    """CCNet-style perplexity-stratified sampling (Wenzek et al., LREC
    2020 split web data into head/middle/tail by LM perplexity): score
    every document with the unigram cross-entropy (:func:`lm_score`),
    split the corpus into ``n_buckets`` fluency strata, and draw a
    deterministic seeded sample of ``per_bucket`` docs per stratum — the
    curation step that keeps some of every quality band instead of
    hard-filtering the tail.

    Determinism: stratum = NTILE over (xent_bits, doc_id); within-stratum
    sample order = md5(seed || doc_id) — both reproducible in any SQL
    engine, so the whole pipeline is oracle-checkable.

    Scale: the NTILE is a single global ordering of (doc_id, xent) rows —
    narrow but still one sort. At 100 TB use
    :func:`ppl_bucket_sample_approx` (bucket thresholds from
    ``approxQuantile``, no global sort); the seeded within-stratum
    ordering is already embarrassingly parallel.
    """
    from pyspark.sql import Window

    scored = lm_score(df, text_col)
    bucket = F.ntile(n_buckets).over(
        Window.orderBy(F.asc("xent_bits"), F.asc("doc_id"))
    )
    key = F.md5(F.concat(F.lit(f"s{seed}:"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(Window.partitionBy("bucket").orderBy(key, "doc_id"))
    return (
        scored.withColumn("bucket", bucket)
        .withColumn("rn", rn)
        .where(F.col("rn") <= per_bucket)
        .select(
            "doc_id",
            "n_tokens",
            "xent_bits",
            F.col("bucket").cast("int").alias("bucket"),
        )
    )


def ppl_bucket_sample_approx(
    df: DataFrame,
    text_col: str = "text",
    n_buckets: int = 3,
    per_bucket: int = 20,
    seed: int = 42,
    rel_err: float = 0.001,
) -> DataFrame:
    """The 100 TB form of :func:`ppl_bucket_sample`: stratum boundaries
    come from ``approxQuantile`` on xent_bits (driver receives n_buckets-1
    floats) and stratum membership is a pure per-row expression — no
    global NTILE sort. The per-stratum seeded top-k is unchanged (its
    window partitions by bucket, fully parallel). Strata differ from the
    exact NTILE only for docs within the quantile rel_err band of a
    boundary (pinned by ``tests/test_operators.py``).
    """
    from pyspark.sql import Window

    scored = lm_score(df, text_col)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.approxQuantile("xent_bits", probs, rel_err)
    # bucket = 1 + number of boundaries strictly below this doc's score
    bucket = sum(
        (F.col("xent_bits") > F.lit(float(c))).cast("int") for c in cuts
    ) + F.lit(1)
    key = F.md5(F.concat(F.lit(f"s{seed}:"), F.col("doc_id").cast("string")))
    rn = F.row_number().over(Window.partitionBy("bucket").orderBy(key, "doc_id"))
    return (
        scored.withColumn("bucket", bucket)
        .withColumn("rn", rn)
        .where(F.col("rn") <= per_bucket)
        .select(
            "doc_id",
            "n_tokens",
            "xent_bits",
            F.col("bucket").cast("int").alias("bucket"),
        )
    )


HASH_EMBED_DIM = 64


def hash_embedding(df: DataFrame, text_col: str = "text",
                   dim: int = HASH_EMBED_DIM) -> DataFrame:
    """Deterministic hashing-trick document embedding (the classic
    "hashing vectorizer", Weinberger et al., "Feature hashing for large
    scale multitask learning", ICML 2009): token -> md5 bucket in [0,dim),
    per-bucket counts, L2-normalized dense vector.

    The bridge from the text family to the vector family: the output
    column feeds :mod:`similarity` unchanged (cosine top-k, LSH/IVF/PQ
    ANN, SemDeDup) — a zero-model embedder for corpora with no neural
    embeddings yet.

    Arrow-batched numpy kernel (``mapInPandas``), like
    ``similarity.pq_encode``: the embedding is a pure PER-ROW map, so the
    natural plan is a shuffle-free projection. The expression form this
    replaced (:func:`hash_embedding_exprs`) exploded the corpus to one
    row per token and re-assembled docs through TWO hash shuffles — at
    sf0.1 the kernel is ~8x faster, and at 100 TB it removes the only
    exchanges from the embedding stage entirely. Per batch: one pandas
    ``factorize`` over the flattened tokens, md5 only per DISTINCT token
    (memoized across batches in the worker), one ``bincount`` into the
    (docs x dim) count matrix.

    Returns (doc_id, embedding array<double>, n_tokens int); values are
    rounded to 6 decimals (HALF_UP, matching Spark/DuckDB ROUND) after an
    exact integer norm so the vectors are engine-deterministic. Token
    semantics replicate ``tokens()`` exactly: trim spaces, split on runs
    of ASCII whitespace with Java limit=-1 empties (``re.split`` keeps
    the same leading/trailing empty tokens).
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ws = re.compile(r"[ \t\n\x0b\f\r]+")

    def gen(batches):
        memo: dict[str, int] = {}

        def bucket_of(tok: str) -> int:
            b = memo.get(tok)
            if b is None:
                b = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16) % dim
                memo[tok] = b
            return b

        for pdf in batches:
            texts = pdf[text_col]
            keep = texts.notna().to_numpy()
            if not keep.any():
                continue
            doc_ids = pdf["doc_id"].to_numpy()[keep]
            tok_lists = [ws.split(t.strip(" ")) for t in texts[keep]]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            flat = np.concatenate([np.asarray(t, dtype=object) for t in tok_lists])
            codes, uniques = pd.factorize(flat, sort=False)
            buckets = np.fromiter(
                (bucket_of(t) for t in uniques), dtype=np.int64, count=len(uniques)
            )
            doc_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            n = len(tok_lists)
            cnt = np.bincount(
                doc_idx * dim + buckets[codes], minlength=n * dim
            ).reshape(n, dim)
            norm2 = (cnt.astype(np.float64) ** 2).sum(axis=1)
            x = cnt / np.sqrt(norm2)[:, None]
            dense = np.floor(x * 1e6 + 0.5) / 1e6  # ROUND HALF_UP at 6 dp
            yield pd.DataFrame({
                "doc_id": doc_ids,
                "embedding": list(dense),
                "n_tokens": lens.astype(np.int32),
            })

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("n_tokens", T.IntegerType()),
    ])
    return df.select("doc_id", text_col).mapInPandas(gen, schema)


def hash_embedding_exprs(df: DataFrame, text_col: str = "text",
                         dim: int = HASH_EMBED_DIM) -> DataFrame:
    """Pure-expression reference form of :func:`hash_embedding` (explode +
    two map-side-combinable groupBys). Kept as the independent in-engine
    cross-check — ``tests/test_operators.py`` pins bit-equality with the
    kernel — and as the fallback if a deployment forbids Python workers.
    """
    toks = df.select("doc_id", F.explode(tokens(text_col)).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long") % dim
    ).cast("int")
    counts = (
        toks.select("doc_id", bucket.alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").cast("long").alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m"),
        F.sum(F.col("c") * F.col("c")).alias("norm2"),  # exact integer
        F.sum("c").cast("int").alias("n_tokens"),
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.round(
            F.coalesce(F.element_at("m", i.cast("int")), F.lit(0)).cast("double")
            / F.sqrt(F.col("norm2").cast("double")),
            6,
        ),
    )
    return per_doc.select("doc_id", dense.alias("embedding"), "n_tokens")
