"""Extension-operator suite entries: (spark callable, DuckDB oracle SQL).

Each DataFrame-API operator gets a deterministic query over the driver
testdata plus an independently-written DuckDB oracle that recomputes the
same semantics in SQL (md5-based hashing makes even MinHash/SimHash
oracle-checkable — see operators/dedup.py docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table, narrow, spread
from . import dedup, eventops, packing, text
from .dedup import JACCARD_THRESHOLD
from .oracles import (
    _hyperplane_values_sql,
    incremental_dedup_oracle,
    ivf_oracle,
    minhash_pairs_oracle,
)
from .shared import _DOT_DEC, _NORM_X, _NORM_Y, _SHINGLES, _WORDS, _query_vec


def simhash_oracle() -> str:
    hexmap = "0123456789abcdef"
    val = " + ".join(
        f"(strpos('{hexmap}', substring(hx, {p + 1}, 1)) - 1) * {16 ** (3 - p)}"
        for p in range(4)
    )
    bit_sums = ",\n       ".join(
        f"SUM(CASE WHEN CAST(FLOOR(h16 / {2**j}) AS INT) % 2 = 1 THEN 1 ELSE -1 END) AS bs_{j}"
        for j in range(16)
    )
    fp = " + ".join(f"CASE WHEN bs_{j} > 0 THEN {2**j} ELSE 0 END" for j in range(16))
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({_WORDS}) AS tok FROM documents
),
h AS (SELECT doc_id, md5(tok) AS hx FROM tok),
v AS (SELECT doc_id, {val} AS h16 FROM h),
b AS (
    SELECT doc_id,
       {bit_sums}
    FROM v GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS INT) AS simhash FROM b ORDER BY doc_id
"""


def dedup_groups_oracle() -> str:
    """Connected components over the verified minhash near-dup pairs via
    DuckDB ``WITH RECURSIVE`` min-label reachability — the exact oracle for
    ``dedup.duplicate_groups`` (deterministic min-doc_id component labels).
    """
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
)
SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS group_id
FROM reach GROUP BY id ORDER BY doc_id
"""


def _stoplist(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in text.LANG_STOPWORDS[lang]) + "]"


def _hits(lang: str) -> str:
    return (
        f"CAST(len(list_filter(w, t -> list_contains({_stoplist(lang)}, lower(t)))) AS INT)"
    )


def token_stats_oracle() -> str:
    return f"""
SELECT doc_id,
       CAST(len(w) AS INT) AS n_tokens,
       CAST(len(list_distinct(w)) AS INT) AS n_distinct_tokens,
       CAST(length(text) AS INT) AS n_chars_measured,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(list_sum(list_transform(w, t -> CAST(ceil(length(t) / 4.0) AS INT))) AS INT) AS n_subword_est
FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents) t
ORDER BY doc_id
"""


def lang_id_oracle() -> str:
    langs = sorted(text.LANG_STOPWORDS)
    scores = ", ".join(f"{_hits(lang)} AS s_{lang}" for lang in langs)
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    pick = " ".join(f"WHEN s_{lang} = best THEN '{lang}'" for lang in langs)
    return f"""
WITH scored AS (
    SELECT doc_id, lang, {scores}
    FROM (SELECT doc_id, lang, {_WORDS} AS w FROM documents) t
),
m AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, lang,
       CAST(best AS INT) AS best_score,
       CASE WHEN best = 0 THEN 'und' {pick} END AS lang_pred
FROM m
ORDER BY doc_id
"""


def quality_oracle() -> str:
    en = _hits("en")
    return f"""
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       ROUND((n_chars - (n_tokens - 1)) / n_tokens, 6) AS mean_word_len,
       ROUND(en_hits / n_tokens, 6) AS stopword_ratio,
       ROUND(n_digits / n_chars, 6) AS digit_ratio,
       ROUND(LEAST(n_tokens / 100.0, 1.0) * 0.4
             + LEAST(en_hits / (n_tokens * 0.1), 1.0) * 0.4
             + (1 - n_digits / n_chars) * 0.2, 6) AS quality,
       n_tokens >= 10 AS pass_min_length
FROM (
    SELECT doc_id,
           CAST(len(w) AS DOUBLE) AS n_tokens,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST({en} AS DOUBLE) AS en_hits,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE) AS n_digits
    FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents) t
) s
ORDER BY doc_id
"""


def winnow_oracle() -> str:
    from .text import WINNOW_K, WINNOW_W

    return f"""
WITH grams AS (
    SELECT doc_id,
           list_transform(
               range(1, GREATEST(length(text) - {WINNOW_K - 1}, 0) + 1),
               i -> substring(md5(substring(text, i, {WINNOW_K})), 1, 8)
           ) AS gh
    FROM documents
),
win AS (
    SELECT doc_id,
           list_sort(list_distinct(list_transform(
               range(1, GREATEST(len(gh) - {WINNOW_W - 1}, 0) + 1),
               j -> list_aggregate(gh[j:j+{WINNOW_W - 1}], 'min')
           ))) AS fps
    FROM grams
)
SELECT doc_id,
       CAST(len(fps) AS INT) AS n_fingerprints,
       md5(array_to_string(fps, ' ')) AS winnow_hash
FROM win
"""


def tfidf_oracle(k: int = 5) -> str:
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({_WORDS}) AS term FROM documents
),
tc AS (
    SELECT doc_id, term, COUNT(*) AS tf_count FROM tok GROUP BY doc_id, term
),
dl AS (
    SELECT doc_id, term, tf_count,
           SUM(tf_count) OVER (PARTITION BY doc_id) AS doc_len
    FROM tc
),
dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df_count FROM tc GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT dl.doc_id, dl.term, CAST(dl.tf_count AS BIGINT) AS tf_count,
           dfc.df_count,
           ROUND((CAST(dl.tf_count AS DOUBLE) / dl.doc_len)
                 * (ln(((SELECT n_docs FROM n) + 1.0) / (dfc.df_count + 1.0)) + 1.0),
                 6) AS score
    FROM dl JOIN dfc ON dl.term = dfc.term
),
ranked AS (
    SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
    FROM scored
)
SELECT doc_id, term, tf_count, df_count, score, rank
FROM ranked WHERE rank <= {k}
ORDER BY doc_id, rank
"""


def fingerprint_oracle() -> str:
    return f"""
SELECT doc_id,
       md5(text) AS text_hash,
       md5(array_to_string(list_sort(list_distinct(w)), ' ')) AS bag_fingerprint
FROM (SELECT doc_id, text, {_WORDS} AS w FROM documents) t
ORDER BY doc_id
"""


# -- similarity-search oracles ---------------------------------------------

def knn_oracle(k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
prod AS (
    SELECT e.vec_id,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
    FROM embeddings e
    WHERE e.vec_id <> 0
),
agg AS (
    SELECT vec_id, {_DOT_DEC} AS dot, {_NORM_X} AS norm2
    FROM prod GROUP BY vec_id
),
qn AS (
    SELECT SQRT(CAST(SUM(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)) AS qnorm
    FROM (SELECT unnest(qe) AS u FROM q) t
)
SELECT vec_id, ROUND(dot / (SQRT(norm2) * (SELECT qnorm FROM qn)), 6) AS cosine
FROM agg
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


def ann_lsh_oracle(k: int = 5) -> str:
    return f"""
WITH hp(j, v) AS (
    VALUES {_hyperplane_values_sql()}
),
pr AS (
    SELECT e.vec_id, hp.j,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           unnest(hp.v) AS y
    FROM embeddings e CROSS JOIN hp
),
dots AS (
    SELECT vec_id, j, {_DOT_DEC} AS d FROM pr GROUP BY vec_id, j
),
buckets AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN d > 0 THEN CAST(POW(2, j) AS BIGINT) ELSE 0 END) AS INT) AS bucket
    FROM dots GROUP BY vec_id
),
qb AS (SELECT bucket FROM buckets WHERE vec_id = 0),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cprod AS (
    SELECT e.vec_id, b.bucket,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
    FROM embeddings e
    JOIN buckets b ON b.vec_id = e.vec_id
    WHERE b.bucket = (SELECT bucket FROM qb) AND e.vec_id <> 0
),
agg AS (
    SELECT vec_id, bucket, {_DOT_DEC} AS dot, {_NORM_X} AS norm2
    FROM cprod GROUP BY vec_id, bucket
),
qn AS (
    SELECT SQRT(CAST(SUM(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)) AS qnorm
    FROM (SELECT unnest(qe) AS u FROM q) t
)
SELECT vec_id, bucket, ROUND(dot / (SQRT(norm2) * (SELECT qnorm FROM qn)), 6) AS cosine
FROM agg
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""


def ngram_jaccard_oracle(threshold: float) -> str:
    return f"""
WITH docs AS (
    SELECT doc_id, source, {_WORDS} AS w FROM documents
),
shingled AS (
    SELECT doc_id, source, {_SHINGLES} AS sh FROM docs
),
ne AS (SELECT * FROM shingled WHERE len(sh) > 0),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS inter,
           len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS uni
    FROM ne a JOIN ne b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ROUND(inter / uni, 6) AS jaccard
FROM pairs
WHERE ROUND(inter / uni, 6) >= {threshold}
ORDER BY doc_a, doc_b
"""


RANGE_JOIN_ORACLE = """
WITH errors AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
),
clicks AS (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
)
SELECT e.event_id, e.user_id, e.ts,
       CAST(COUNT(c.ts) AS BIGINT) AS n_recent
FROM errors e LEFT JOIN clicks c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts - INTERVAL 10 MINUTE
 AND c.ts < e.ts
GROUP BY e.event_id, e.user_id, e.ts
ORDER BY e.event_id
"""


def hll_oracle(key_expr: str = "l_orderkey", table: str = "lineitem",
               bound: float = 0.3) -> str:
    """DuckDB twin of hll_registers + hll_estimate (sketch.py): identical
    md5-derived registers/ranks, exact fixed-point register sum, one float
    division — hash-certifiable."""
    from .sketch import HLL_ALPHA, HLL_K, HLL_M

    return f"""
WITH h AS (SELECT md5(CAST({key_expr} AS VARCHAR)) AS d FROM {table}),
r AS (
    SELECT CAST(CAST('0x' || substring(d, 1, 2) AS BIGINT) % {HLL_M} AS INT) AS register,
           CAST('0x' || substring(d, 3, 15) AS BIGINT) AS v
    FROM h
),
rho AS (
    SELECT register,
           MAX(CASE WHEN v = 0 THEN 61 ELSE 61 - length(bin(v)) END) AS max_rho
    FROM r GROUP BY register
),
regs AS (
    SELECT g.register, COALESCE(rho.max_rho, 0) AS m_j
    FROM (SELECT CAST(unnest(range(0, {HLL_M})) AS INT) AS register) g
    LEFT JOIN rho ON g.register = rho.register
),
s AS (
    SELECT SUM(CASE WHEN m_j <= {HLL_K}
                    THEN (1::BIGINT << CAST({HLL_K} - m_j AS INT))
                    ELSE 0 END) AS reg_sum
    FROM regs
),
e AS (
    SELECT ROUND(CAST({HLL_ALPHA} AS DOUBLE) * {HLL_M} * {HLL_M}
                 * (1::BIGINT << {HLL_K}) / reg_sum, 4) AS hll_est
    FROM s
),
x AS (SELECT COUNT(DISTINCT {key_expr}) AS n_exact FROM {table})
SELECT CAST(n_exact AS BIGINT) AS n_exact,
       hll_est,
       ABS(hll_est / n_exact - 1.0) <= {bound} AS within_bound
FROM x, e
"""


def cms_oracle(keys: list[int]) -> str:
    from .sketch import CMS_PREFIXES, CMS_WIDTH

    hexmap = "0123456789abcdef"

    def hex4(expr: str) -> str:
        return " + ".join(
            f"(strpos('{hexmap}', substring({expr}, {p + 1}, 1)) - 1) * {16 ** (3 - p)}"
            for p in range(4)
        )

    def bucket(prefix: str, key_expr: str) -> str:
        inner = f"md5('{prefix}' || {key_expr})" if prefix else f"md5({key_expr})"
        return f"CAST(({hex4(inner)}) % {CMS_WIDTH} AS INT)"

    build = "\nUNION ALL\n".join(
        f"SELECT {i} AS row, {bucket(p, 'CAST(l_partkey AS VARCHAR)')} AS bucket FROM lineitem"
        for i, p in enumerate(CMS_PREFIXES)
    )
    key_rows = "\nUNION ALL\n".join(f"SELECT '{k}' AS key" for k in keys)
    probes = "\nUNION ALL\n".join(
        f"SELECT key, {i} AS row, {bucket(p, 'key')} AS bucket FROM keys"
        for i, p in enumerate(CMS_PREFIXES)
    )
    return f"""
WITH sketch AS (
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({build}) b
    GROUP BY row, bucket
),
keys AS ({key_rows}),
probes AS ({probes})
SELECT p.key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
FROM probes p LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
GROUP BY p.key
ORDER BY p.key
"""


CMS_KEYS = [1, 2, 3, 4, 5]

#: Heavy-hitter demo parameters (events.user_id): threshold as a fraction
#: of total rows, top-k by exact count.
HH_THRESHOLD_FRAC = 0.0008
HH_K = 10


def hh_oracle(threshold_frac: float = HH_THRESHOLD_FRAC, k: int = HH_K) -> str:
    """DuckDB twin of sketch.heavy_hitters over events.user_id: identical
    md5-derived buckets (width HH_WIDTH), CMS min-estimate, threshold
    filter, exact verification, same ordering."""
    from .sketch import CMS_PREFIXES, HH_WIDTH

    hexmap = "0123456789abcdef"

    def hex4(expr: str) -> str:
        return " + ".join(
            f"(strpos('{hexmap}', substring({expr}, {p + 1}, 1)) - 1) * {16 ** (3 - p)}"
            for p in range(4)
        )

    def bucket(prefix: str, key_expr: str) -> str:
        inner = f"md5('{prefix}' || {key_expr})" if prefix else f"md5({key_expr})"
        return f"CAST(({hex4(inner)}) % {HH_WIDTH} AS INT)"

    build = "\nUNION ALL\n".join(
        f"SELECT {i} AS row, {bucket(p, 'key')} AS bucket FROM src"
        for i, p in enumerate(CMS_PREFIXES)
    )
    probes = "\nUNION ALL\n".join(
        f"SELECT key, {i} AS row, {bucket(p, 'key')} AS bucket FROM keys"
        for i, p in enumerate(CMS_PREFIXES)
    )
    return f"""
WITH src AS (SELECT CAST(user_id AS VARCHAR) AS key FROM events),
tot AS (SELECT COUNT(*) AS n FROM src),
sketch AS (
    SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM ({build}) b GROUP BY row, bucket
),
keys AS (SELECT DISTINCT key FROM src),
probes AS ({probes}),
est AS (
    SELECT p.key, CAST(MIN(COALESCE(s.cnt, 0)) AS BIGINT) AS est
    FROM probes p LEFT JOIN sketch s ON s.row = p.row AND s.bucket = p.bucket
    GROUP BY p.key
),
cand AS (SELECT est.key, est.est FROM est, tot WHERE est.est >= {threshold_frac} * tot.n),
exact AS (
    SELECT s.key, CAST(COUNT(*) AS BIGINT) AS exact
    FROM src s JOIN cand c ON s.key = c.key
    GROUP BY s.key
)
SELECT CAST(e.key AS BIGINT) AS key, c.est, e.exact,
       c.est >= e.exact AS no_underestimate
FROM exact e JOIN cand c ON e.key = c.key
ORDER BY e.exact DESC, CAST(e.key AS BIGINT) ASC
LIMIT {k}
"""


#: Bloom probe keys: 1-3 are supplier keys present at every sf; 0 and the
#: 9999990+ keys never exist.
BLOOM_KEYS = [0, 1, 2, 3, 9999991, 9999992]

#: BM25 query: one rare term (high idf) + two common ones.
BM25_TERMS = ["dup", "window", "scan"]
BM25_K = 20


def bloom_oracle(keys: list[int] = BLOOM_KEYS) -> str:
    """DuckDB twin of sketch.bloom_build + bloom_probe over distinct
    l_suppkey: identical md5-derived bit indexes, all-K-bits membership."""
    from .sketch import BLOOM_BITS, CMS_PREFIXES

    hexmap = "0123456789abcdef"

    def hex4(expr: str) -> str:
        return " + ".join(
            f"(strpos('{hexmap}', substring({expr}, {p + 1}, 1)) - 1) * {16 ** (3 - p)}"
            for p in range(4)
        )

    def bit(prefix: str, key_expr: str) -> str:
        inner = f"md5('{prefix}' || {key_expr})" if prefix else f"md5({key_expr})"
        return f"CAST(({hex4(inner)}) % {BLOOM_BITS} AS INT)"

    build = "\nUNION ALL\n".join(
        f"SELECT {bit(p, 'key')} AS bit FROM src" for p in CMS_PREFIXES
    )
    key_rows = "\nUNION ALL\n".join(f"SELECT '{k}' AS key" for k in keys)
    probes = "\nUNION ALL\n".join(
        f"SELECT key, {bit(p, 'key')} AS bit FROM keys" for p in CMS_PREFIXES
    )
    return f"""
WITH src AS (SELECT DISTINCT CAST(l_suppkey AS VARCHAR) AS key FROM lineitem),
bits AS (SELECT DISTINCT bit FROM ({build}) b),
keys AS ({key_rows}),
probes AS ({probes}),
claim AS (
    SELECT p.key, COUNT(b.bit) = {len(CMS_PREFIXES)} AS claimed
    FROM probes p LEFT JOIN bits b ON p.bit = b.bit
    GROUP BY p.key
)
SELECT CAST(c.key AS BIGINT) AS key, c.claimed,
       s.key IS NOT NULL AS present,
       (c.claimed OR s.key IS NULL) AS sound
FROM claim c LEFT JOIN src s ON c.key = s.key
ORDER BY CAST(c.key AS BIGINT)
"""


def bm25_oracle(terms: list[str] = BM25_TERMS, k: int = BM25_K) -> str:
    """DuckDB twin of tfidf.bm25_scores: same Lucene-form idf, same k1/b,
    same rounding and ordering."""
    from .tfidf import BM25_B, BM25_K1

    n = len(terms)
    tf_defs = ",\n           ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(terms)
    )
    df_defs = ",\n           ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(n)
    )
    matched = " + ".join(f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)" for i in range(n))
    norm = f"{BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (CAST(total_len AS DOUBLE) / n_docs))"
    score = " + ".join(
        f"ln(1 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * ({BM25_K1} + 1) / (tf_{i} + {norm})"
        for i in range(n)
    )
    any_hit = " OR ".join(f"tf_{i} > 0" for i in range(n))
    return f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
p AS (
    SELECT doc_id, len(w) AS dl,
           {tf_defs}
    FROM t
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_len,
           {df_defs}
    FROM p
)
SELECT doc_id, CAST(dl AS BIGINT) AS doc_len,
       CAST({matched} AS INT) AS n_matched_terms,
       ROUND({score}, 6) AS bm25
FROM p, s
WHERE {any_hit}
ORDER BY bm25 DESC, doc_id
LIMIT {k}
"""


def lm_score_oracle(vocab_cap: int = 50_000) -> str:
    """DuckDB twin of text.lm_score: same Laplace-smoothed unigram LM,
    same fixed-point nano-nat log rounding, same final division."""
    from .text import LM_SCALE

    ln2 = 0.6931471805599453
    return f"""
WITH words AS (SELECT doc_id, unnest({_WORDS}) AS word FROM documents),
wc AS (
    SELECT word, COUNT(*) AS c FROM words
    GROUP BY word ORDER BY c DESC, word LIMIT {vocab_cap}
),
totals AS (SELECT CAST(SUM(c) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS v FROM wc),
probs AS (
    SELECT word,
           CAST(ROUND(ln((c + 1) / CAST(total + v + 1 AS DOUBLE)) * {LM_SCALE}) AS BIGINT) AS llr
    FROM wc, totals
),
oov AS (
    SELECT CAST(ROUND(ln(1.0 / (total + v + 1)) * {LM_SCALE}) AS BIGINT) AS llr_oov
    FROM totals
),
tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word)
SELECT tf.doc_id, CAST(SUM(tf.tf) AS INT) AS n_tokens,
       ROUND(-SUM(tf.tf * COALESCE(p.llr, o.llr_oov))
             / (SUM(tf.tf) * {LM_SCALE}.0 * {ln2}), 4) AS xent_bits
FROM tf LEFT JOIN probs p ON tf.word = p.word CROSS JOIN oov o
GROUP BY tf.doc_id
ORDER BY tf.doc_id
"""


def emb_covariance_oracle(dims: int = 8) -> str:
    """DuckDB twin of linalg.covariance_entries: same micro-unit
    quantization, exact integer moment sums, same double expression order."""
    from .linalg import EMB_SCALE

    s = EMB_SCALE
    return f"""
WITH idx AS (
    SELECT i.range AS i, j.range AS j
    FROM range(0, {dims}) i, range(0, {dims}) j
    WHERE j.range >= i.range
),
q AS (
    SELECT idx.i, idx.j,
           CAST(ROUND(CAST(embedding[idx.i + 1] AS DOUBLE) * {s}) AS BIGINT) AS x,
           CAST(ROUND(CAST(embedding[idx.j + 1] AS DOUBLE) * {s}) AS BIGINT) AS y
    FROM embeddings, idx
)
SELECT i, j, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND((SUM(x * y) / ({s}.0 * {s}.0)
              - (SUM(x) / {s}.0) * (SUM(y) / {s}.0) / COUNT(*)) / COUNT(*), 9) AS cov
FROM q GROUP BY i, j
ORDER BY i, j
"""


def ngram_contamination_oracle(k: int = 4) -> str:
    """DuckDB twin of text.ngram_decontaminate with benchmark = src0 docs,
    train = everything else: distinct word k-grams both sides, overlap
    count per train doc."""
    grams = (
        f"list_distinct(CASE WHEN len(w) >= {k} THEN "
        f"list_transform(range(1, len(w) - {k} + 2), "
        f"i -> array_to_string(w[i:i+{k}-1], ' ')) ELSE [] END)"
    )
    return f"""
WITH docs AS (SELECT doc_id, source, {_WORDS} AS w FROM documents),
g AS (SELECT doc_id, source, unnest({grams}) AS gram FROM docs),
bench AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
tr AS (SELECT doc_id, gram FROM g WHERE source <> 'src0'),
hits AS (
    SELECT tr.doc_id, CAST(COUNT(*) AS INT) AS n_shared_grams
    FROM tr JOIN bench ON tr.gram = bench.gram
    GROUP BY tr.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_shared_grams, 0) AS n_shared_grams,
       COALESCE(h.n_shared_grams, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
LEFT JOIN hits h ON d.doc_id = h.doc_id
ORDER BY d.doc_id
"""


def dedup_apply_oracle() -> str:
    """DuckDB oracle for the end-to-end kept corpus: connected components
    over verified minhash near-dup pairs (WITH RECURSIVE), keep only each
    component's min-label representative; docs in no component survive."""
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
dropped AS (SELECT doc_id FROM labels WHERE doc_id <> group_id)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
ORDER BY d.doc_id
"""


def shuffle_oracle(n_shards: int = 8, seed: str = "42") -> str:
    """DuckDB twin of shuffleop.seeded_shuffle: same md5 permutation key,
    hex4-mod shard, row_number per shard."""
    hexmap = "0123456789abcdef"
    hex4 = " + ".join(
        f"(strpos('{hexmap}', substring(k, {p + 1}, 1)) - 1) * {16 ** (3 - p)}"
        for p in range(4)
    )
    return f"""
WITH keyed AS (
    SELECT doc_id, md5('{seed}' || ':' || CAST(doc_id AS VARCHAR)) AS k
    FROM documents
),
sharded AS (
    SELECT doc_id, k, CAST(({hex4}) % {n_shards} AS INT) AS shard FROM keyed
)
SELECT doc_id, shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INT) AS pos
FROM sharded
ORDER BY doc_id
"""


def dsir_oracle() -> str:
    """DuckDB twin of dsir.dsir_logweights with target = lang='en' docs:
    same hashed unigram+bigram buckets (md5 hex8 mod B), same Laplace
    smoothing, same fixed-point nano-nat rounding."""
    from .dsir import DSIR_BUCKETS
    from .text import LM_SCALE

    hexmap = "0123456789abcdef"
    hex8 = " + ".join(
        f"(strpos('{hexmap}', substring(md5(feat), {p + 1}, 1)) - 1) * {16 ** (7 - p)}"
        for p in range(8)
    )
    B = DSIR_BUCKETS
    return f"""
WITH docs AS (SELECT doc_id, lang, {_WORDS} AS w FROM documents),
feats AS (
    SELECT doc_id, lang,
           unnest(list_concat(w,
               CASE WHEN len(w) >= 2 THEN
                   list_transform(range(1, len(w)), i -> concat(w[i], ' ', w[i+1]))
               ELSE [] END)) AS feat
    FROM docs
),
fb AS (SELECT doc_id, lang, CAST(({hex8}) % {B} AS INT) AS bucket FROM feats),
rawc AS (SELECT bucket, COUNT(*) AS cr FROM fb GROUP BY bucket),
tgtc AS (SELECT bucket, COUNT(*) AS ct FROM fb WHERE lang = 'en' GROUP BY bucket),
tots AS (
    SELECT (SELECT SUM(cr) FROM rawc) AS tr,
           (SELECT COALESCE(SUM(ct), 0) FROM tgtc) AS tt
),
ratio AS (
    SELECT r.bucket,
           CAST(ROUND((ln((COALESCE(t.ct, 0) + 1) / CAST(tt + {B} AS DOUBLE))
                     - ln((r.cr + 1) / CAST(tr + {B} AS DOUBLE))) * {LM_SCALE}) AS BIGINT) AS llr
    FROM rawc r LEFT JOIN tgtc t ON r.bucket = t.bucket CROSS JOIN tots
),
tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM fb GROUP BY doc_id, bucket)
SELECT tf.doc_id, CAST(SUM(tf.tf) AS INT) AS n_feats,
       ROUND(SUM(tf.tf * COALESCE(rr.llr, 0)) / (SUM(tf.tf) * {LM_SCALE}.0), 4) AS logw_nats
FROM tf LEFT JOIN ratio rr ON tf.bucket = rr.bucket
GROUP BY tf.doc_id
ORDER BY tf.doc_id
"""


def gopher_oracle() -> str:
    """DuckDB twin of text.gopher_rules: same integer cross-multiplied
    comparisons, list-side line/word filters."""
    from .text import (
        GOPHER_MAX_MEAN_WORD_LEN,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_MEAN_WORD_LEN,
        GOPHER_MIN_STOPWORDS,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
    )

    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
    SELECT doc_id,
           {_WORDS} AS w,
           string_split(text, chr(10)) AS lines,
           CAST((len(text) - len(replace(text, '#', '')))
                + (len(text) - len(replace(text, '...', ''))) / 3 AS INT) AS n_symbols
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_words,
           CAST(list_aggregate(list_transform(w, x -> len(x)), 'sum') AS INT) AS word_chars,
           n_symbols,
           CAST(len(lines) AS INT) AS n_lines,
           CAST(len(list_filter(lines, l -> starts_with(trim(l), '•')
                OR starts_with(trim(l), '* ') OR starts_with(trim(l), '- '))) AS INT) AS bullet_lines,
           CAST(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) AS INT) AS ellipsis_lines,
           CAST(len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS INT) AS alpha_words,
           CAST(len(list_intersect(list_transform(w, x -> lower(x)), [{stops}])) AS INT) AS stopword_hits
    FROM base
),
f AS (
    SELECT doc_id, n_words, word_chars, stopword_hits,
           (n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}) AS pass_word_count,
           (word_chars >= {GOPHER_MIN_MEAN_WORD_LEN} * n_words
            AND word_chars <= {GOPHER_MAX_MEAN_WORD_LEN} * n_words) AS pass_mean_word_len,
           (n_symbols * 10 <= n_words) AS pass_symbol_ratio,
           (bullet_lines * 10 <= n_lines * 9) AS pass_bullet_ratio,
           (ellipsis_lines * 10 <= n_lines * 3) AS pass_ellipsis_ratio,
           (alpha_words * 10 >= n_words * 8) AS pass_alpha_words,
           (stopword_hits >= {GOPHER_MIN_STOPWORDS}) AS pass_stopwords
    FROM m
)
SELECT *,
       (pass_word_count AND pass_mean_word_len AND pass_symbol_ratio
        AND pass_bullet_ratio AND pass_ellipsis_ratio AND pass_alpha_words
        AND pass_stopwords) AS keep
FROM f
ORDER BY doc_id
"""


def repetition_oracle() -> str:
    """DuckDB twin of text.repetition_stats: array-side duplicate-bigram
    fraction + grouped top-word share, same rounding and tiebreaks."""
    from .text import REP_MAX_DUP_BIGRAM_FRAC, REP_MAX_TOP_WORD_FRAC

    return f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
b AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 2
                THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
                ELSE [] END AS bg
    FROM t
),
d AS (
    SELECT doc_id, len(bg) AS n_bigrams,
           len(bg) - len(list_distinct(bg)) AS n_dup
    FROM b
),
words AS (SELECT doc_id, unnest(w) AS word FROM t),
wc AS (SELECT doc_id, word, COUNT(*) AS c FROM words GROUP BY doc_id, word),
mx AS (SELECT doc_id, MAX(c) AS mc FROM wc GROUP BY doc_id),
top AS (
    SELECT wc.doc_id, MIN(wc.word) AS top_word, ANY_VALUE(mx.mc) AS top_count
    FROM wc JOIN mx ON wc.doc_id = mx.doc_id AND wc.c = mx.mc
    GROUP BY wc.doc_id
),
nt AS (SELECT doc_id, CAST(SUM(c) AS INT) AS n_tokens FROM wc GROUP BY doc_id),
j AS (
    SELECT d.doc_id, nt.n_tokens, CAST(d.n_bigrams AS INT) AS n_bigrams,
           ROUND(CASE WHEN d.n_bigrams > 0
                      THEN CAST(d.n_dup AS DOUBLE) / d.n_bigrams
                      ELSE 0.0 END, 6) AS dup_bigram_frac,
           top.top_word,
           ROUND(CAST(top.top_count AS DOUBLE) / nt.n_tokens, 6) AS top_word_frac
    FROM d
    JOIN top ON d.doc_id = top.doc_id
    JOIN nt ON d.doc_id = nt.doc_id
)
SELECT doc_id, n_tokens, n_bigrams, dup_bigram_frac, top_word, top_word_frac,
       (dup_bigram_frac <= {REP_MAX_DUP_BIGRAM_FRAC}
        AND top_word_frac <= {REP_MAX_TOP_WORD_FRAC}) AS pass_repetition
FROM j
ORDER BY doc_id
"""


def paragraph_dedup_oracle() -> str:
    """DuckDB twin of dedup.paragraph_dedup: fixed-width word chunks,
    corpus-wide first-occurrence winners by (doc_id, idx), in-order
    reconstruction digest."""
    from .dedup import CHUNK_WORDS

    cw = CHUNK_WORDS
    return f"""
WITH t AS (SELECT doc_id, {_WORDS} AS w FROM documents),
c0 AS (
    SELECT doc_id,
           list_transform(range(0, CAST(ceil(len(w) / {cw}.0) AS BIGINT)),
               j -> {{'idx': CAST(j AS INT),
                      'chunk': array_to_string(list_slice(w, j * {cw} + 1, j * {cw} + {cw}), ' ')}}) AS cs
    FROM t
),
c1 AS (SELECT doc_id, unnest(cs) AS s FROM c0),
c AS (SELECT doc_id, s.idx AS idx, s.chunk AS chunk FROM c1),
h AS (
    SELECT doc_id, idx, chunk,
           ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
    FROM c
)
SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY idx), '')) AS kept_hash
FROM h GROUP BY doc_id ORDER BY doc_id
"""


ASOF_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
views AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'view'
)
SELECT c.event_id, c.user_id, c.ts, c.value,
       v.ts AS r_ts, v.value AS r_value
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
ORDER BY c.event_id
"""


def neardup_oracle(threshold: float = 0.35, k: int = 20) -> str:
    from .similarity import CENTROID_VEC_IDS, TARGET_CELL

    lo, kmin = min(CENTROID_VEC_IDS), len(CENTROID_VEC_IDS)
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings
    WHERE vec_id BETWEEN {lo} AND GREATEST({kmin},
          (SELECT COUNT(*) FROM embeddings) // {TARGET_CELL})
),
cpr AS (
    SELECT e.vec_id, c.cid,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest(c.ce) AS DOUBLE) AS y
    FROM embeddings e CROSS JOIN cents c
),
csc AS (
    SELECT vec_id, cid,
           ROUND({_DOT_DEC} / (SQRT({_NORM_X}) * SQRT({_NORM_Y})), 6) AS score
    FROM cpr GROUP BY vec_id, cid
),
assign AS (
    SELECT vec_id, cid AS cell
    FROM (SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
          FROM csc)
    WHERE rn = 1
),
prod AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
           CAST(unnest(a.embedding) AS DOUBLE) AS x,
           CAST(unnest(b.embedding) AS DOUBLE) AS y
    FROM embeddings a
    JOIN assign ca ON ca.vec_id = a.vec_id
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    JOIN assign cb ON cb.vec_id = b.vec_id AND cb.cell = ca.cell
),
agg AS (
    SELECT vec_a, vec_b, label,
           {_DOT_DEC} AS dot, {_NORM_X} AS na, {_NORM_Y} AS nb
    FROM prod GROUP BY vec_a, vec_b, label
),
scored AS (
    SELECT vec_a, vec_b, label,
           ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cosine
    FROM agg
)
SELECT vec_a, vec_b, label, cosine, cosine >= {threshold} AS is_near_dup
FROM scored
ORDER BY cosine DESC, vec_a, vec_b
LIMIT {k}
"""


EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS dup_count
FROM documents
GROUP BY md5(text)
ORDER BY keep_id
"""


# ---------------------------------------------------------------------------
# Spark runners.


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the text operators are per-row expensive (shingling, md5,
    # regex) and the testdata is one unsplittable row group — see tables.py.
    return spread(load_table(spark, sf_dir, "documents"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "embeddings"))


def run_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir)).orderBy("keep_id")


def run_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_dedup_pairs(_docs(spark, sf_dir)).orderBy("doc_a", "doc_b")


def run_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(_docs(spark, sf_dir)).orderBy("doc_id")


def run_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def run_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir)).orderBy("doc_id")


def run_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir)).orderBy("doc_id")


def run_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


def run_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No cosmetic global sort: range-partitioning's sampling pass
    # re-executes the child plan, and here the child is the per-char
    # md5 winnowing kernel — the 100x sweep measured the ORDER BY
    # DOUBLING wall time (the correctness gates sort canonically anyway).
    return (
        text.winnow_fingerprints(_docs(spark, sf_dir))
        .select("doc_id", "n_fingerprints", "winnow_hash")
    )


def substring_dup_oracle(min_shared: int = 20) -> str:
    from .text import WINNOW_HUB_CAP, WINNOW_K, WINNOW_W

    return f"""
WITH grams AS (
    SELECT doc_id,
           list_transform(
               range(1, GREATEST(length(text) - {WINNOW_K - 1}, 0) + 1),
               i -> substring(md5(substring(text, i, {WINNOW_K})), 1, 8)
           ) AS gh
    FROM documents
),
win AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(gh) - {WINNOW_W - 1}, 0) + 1),
               j -> list_aggregate(gh[j:j+{WINNOW_W - 1}], 'min')
           )) AS fps
    FROM grams
),
fp AS (SELECT doc_id, unnest(fps) AS f FROM win),
-- boilerplate exclusion: fingerprints in > {WINNOW_HUB_CAP} docs carry no
-- pairwise-copying evidence (mirrors text.WINNOW_HUB_CAP)
keep AS (
    SELECT f FROM fp GROUP BY f
    HAVING COUNT(*) BETWEEN 2 AND {WINNOW_HUB_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS INT) AS n_shared
FROM fp a
JOIN keep k ON a.f = k.f
JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
ORDER BY doc_a, doc_b
"""


def run_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.substring_dup_pairs(_docs(spark, sf_dir)).orderBy("doc_a", "doc_b")


def run_emb_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .linalg import covariance_entries

    return covariance_entries(_emb(spark, sf_dir)).orderBy("i", "j")


def run_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return text.ngram_decontaminate(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
    ).orderBy("doc_id")


def ppl_bucket_oracle(n_buckets: int = 3, per_bucket: int = 20,
                      seed: int = 42) -> str:
    base = lm_score_oracle().strip().rstrip()
    return f"""
WITH base AS ({base}),
b AS (
    SELECT doc_id, n_tokens, xent_bits,
           NTILE({n_buckets}) OVER (ORDER BY xent_bits ASC, doc_id ASC) AS bucket
    FROM base
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY bucket
        ORDER BY md5('s{seed}:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
    FROM b
)
SELECT doc_id, n_tokens, xent_bits, CAST(bucket AS INT) AS bucket
FROM r WHERE rn <= {per_bucket}
ORDER BY bucket, doc_id
"""


def run_ppl_bucket_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ppl_bucket_sample(_docs(spark, sf_dir)).orderBy("bucket", "doc_id")


def pq_oracle(k: int = 10) -> str:
    from .similarity import PQ_M, PQ_SAMPLE_VEC_IDS, PQ_SCALE, PQ_SUB

    lo, hi = min(PQ_SAMPLE_VEC_IDS), max(PQ_SAMPLE_VEC_IDS)
    return f"""
WITH subs AS (SELECT CAST(s.range AS INT) AS s FROM range(0, {PQ_M}) s),
cb AS (
    SELECT subs.s,
           CAST(ROW_NUMBER() OVER (PARTITION BY subs.s ORDER BY vec_id) - 1 AS INT) AS j,
           embedding[subs.s * {PQ_SUB} + 1 : subs.s * {PQ_SUB} + {PQ_SUB}] AS cvec
    FROM embeddings CROSS JOIN subs
    WHERE vec_id BETWEEN {lo} AND {hi}
),
pr AS (
    SELECT e.vec_id, cb.s, cb.j,
           CAST(unnest(e.embedding[cb.s * {PQ_SUB} + 1 : cb.s * {PQ_SUB} + {PQ_SUB}]) AS DOUBLE) AS x,
           CAST(unnest(cb.cvec) AS DOUBLE) AS y
    FROM embeddings e CROSS JOIN cb
),
d AS (
    SELECT vec_id, s, j,
           CAST(ROUND(CAST(SUM(CAST((x - y) * (x - y) AS DECIMAL(28,14))) AS DOUBLE)
                      * {PQ_SCALE}) AS BIGINT) AS du
    FROM pr GROUP BY vec_id, s, j
),
code AS (
    SELECT vec_id, s, j AS cj
    FROM (SELECT vec_id, s, j,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY du, j) AS rn
          FROM d)
    WHERE rn = 1
),
lut AS (SELECT s, j, du FROM d WHERE vec_id = 0),
score AS (
    SELECT c.vec_id, CAST(SUM(l.du) AS BIGINT) AS approx_dist_u
    FROM code c JOIN lut l ON l.s = c.s AND l.j = c.cj
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id
)
SELECT vec_id, approx_dist_u
FROM score ORDER BY approx_dist_u, vec_id LIMIT {k}
"""


def ivfpq_oracle(k: int = 10, nprobe: int = 2) -> str:
    from .similarity import (
        CENTROID_VEC_IDS,
        PQ_M,
        PQ_SAMPLE_VEC_IDS,
        PQ_SCALE,
        PQ_SUB,
    )

    clo, chi = min(CENTROID_VEC_IDS), max(CENTROID_VEC_IDS)
    plo, phi = min(PQ_SAMPLE_VEC_IDS), max(PQ_SAMPLE_VEC_IDS)
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings
    WHERE vec_id BETWEEN {clo} AND {chi}
),
cpr AS (
    SELECT e.vec_id, c.cid,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest(c.ce) AS DOUBLE) AS y
    FROM embeddings e CROSS JOIN cents c
),
csc AS (
    SELECT vec_id, cid,
           ROUND({_DOT_DEC} / (SQRT({_NORM_X}) * SQRT({_NORM_Y})), 6) AS score
    FROM cpr GROUP BY vec_id, cid
),
assign AS (
    SELECT vec_id, cid AS cell
    FROM (SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
          FROM csc)
    WHERE rn = 1
),
probe AS (
    SELECT cid FROM (SELECT cid, ROW_NUMBER() OVER (ORDER BY score DESC, cid) AS rn
                     FROM csc WHERE vec_id = 0)
    WHERE rn <= {nprobe}
),
subs AS (SELECT CAST(s.range AS INT) AS s FROM range(0, {PQ_M}) s),
cb AS (
    SELECT subs.s,
           CAST(ROW_NUMBER() OVER (PARTITION BY subs.s ORDER BY vec_id) - 1 AS INT) AS j,
           embedding[subs.s * {PQ_SUB} + 1 : subs.s * {PQ_SUB} + {PQ_SUB}] AS cvec
    FROM embeddings CROSS JOIN subs
    WHERE vec_id BETWEEN {plo} AND {phi}
),
pr AS (
    SELECT e.vec_id, cb.s, cb.j,
           CAST(unnest(e.embedding[cb.s * {PQ_SUB} + 1 : cb.s * {PQ_SUB} + {PQ_SUB}]) AS DOUBLE) AS x,
           CAST(unnest(cb.cvec) AS DOUBLE) AS y
    FROM embeddings e CROSS JOIN cb
),
d AS (
    SELECT vec_id, s, j,
           CAST(ROUND(CAST(SUM(CAST((x - y) * (x - y) AS DECIMAL(28,14))) AS DOUBLE)
                      * {PQ_SCALE}) AS BIGINT) AS du
    FROM pr GROUP BY vec_id, s, j
),
code AS (
    SELECT vec_id, s, j AS cj
    FROM (SELECT vec_id, s, j,
                 ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY du, j) AS rn
          FROM d)
    WHERE rn = 1
),
lut AS (SELECT s, j, du FROM d WHERE vec_id = 0),
score AS (
    SELECT c.vec_id, CAST(SUM(l.du) AS BIGINT) AS approx_dist_u
    FROM code c
    JOIN assign a ON a.vec_id = c.vec_id
    JOIN lut l ON l.s = c.s AND l.j = c.cj
    WHERE c.vec_id <> 0 AND a.cell IN (SELECT cid FROM probe)
    GROUP BY c.vec_id
)
SELECT vec_id, approx_dist_u
FROM score ORDER BY approx_dist_u, vec_id LIMIT {k}
"""


def run_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = _emb(spark, sf_dir)
    crows = (
        emb.where(F.col("vec_id").isin(list(similarity.CENTROID_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in crows)
    prows = (
        emb.where(F.col("vec_id").isin(list(similarity.PQ_SAMPLE_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    books = similarity.pq_codebooks(
        [(r["vec_id"], list(r["embedding"])) for r in prows]
    )
    return similarity.ivfpq_ann_topk(
        emb, _query_vec(spark, sf_dir), centroids, books, k=10, exclude_vec_id=0
    )


def run_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = _emb(spark, sf_dir)
    rows = (
        emb.where(F.col("vec_id").isin(list(similarity.PQ_SAMPLE_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    books = similarity.pq_codebooks(
        [(r["vec_id"], list(r["embedding"])) for r in rows]
    )
    return similarity.pq_adc_topk(
        emb, _query_vec(spark, sf_dir), books, k=10, exclude_vec_id=0
    )


def fuzzy_oracle(key_len: int = 24, tau: int = 2) -> str:
    return f"""
WITH k AS (
    SELECT doc_id, substr(text, 1, {key_len}) AS key
    FROM documents WHERE length(text) >= {key_len}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.key, b.key) AS INT) AS dist
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= {tau}
ORDER BY doc_a, doc_b
"""


def run_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .fuzzy import fuzzy_join_pairs

    return fuzzy_join_pairs(_docs(spark, sf_dir)).orderBy("doc_a", "doc_b")


def fuzzy_groups_oracle() -> str:
    """Entity-resolution components over the fuzzy-key pairs, via the same
    ``WITH RECURSIVE`` min-label reachability oracle as dedup_groups."""
    return f"""
WITH RECURSIVE fp AS (
{fuzzy_oracle()}
),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM fp
    UNION ALL
    SELECT doc_b, doc_a FROM fp
),
nodes AS (SELECT DISTINCT a AS id FROM edges),
reach(id, r) AS (
    SELECT id, id FROM nodes
    UNION
    SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id
)
SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS group_id
FROM reach GROUP BY id ORDER BY doc_id
"""


def run_fuzzy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .dedup import duplicate_groups
    from .fuzzy import fuzzy_join_pairs

    pairs = fuzzy_join_pairs(_docs(spark, sf_dir)).select("doc_a", "doc_b")
    return duplicate_groups(pairs).orderBy("doc_id")


def hash_embed_oracle(dim: int = 64) -> str:
    return f"""
WITH toks AS (SELECT doc_id, unnest({_WORDS}) AS tok FROM documents),
counts AS (
    SELECT doc_id,
           CAST(CAST(CONCAT('0x', SUBSTRING(md5(tok), 1, 8)) AS BIGINT) % {dim} AS INT) AS b,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM toks GROUP BY 1, 2
),
per_doc AS (
    SELECT doc_id,
           map_from_entries(list_transform(list_zip(list(b), list(c)),
                                           p -> {{'k': p[1], 'v': p[2]}})) AS m,
           SUM(c * c) AS norm2,
           CAST(SUM(c) AS INT) AS n_tokens
    FROM counts GROUP BY doc_id
)
SELECT doc_id,
       md5(array_to_string(
           list_transform(range(0, {dim}),
               i -> CAST(round(ROUND(CAST(coalesce(m[CAST(i AS INT)][1], 0) AS DOUBLE)
                                     / SQRT(CAST(norm2 AS DOUBLE)), 6)
                               * 1000000) AS BIGINT)),
           ' ')) AS emb_hash,
       n_tokens
FROM per_doc
"""


def run_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scalar per-doc digest for the driver gate: its pandas canonicalizer
    # cannot sort/hash array<double> cells (the one red CORRECTNESS_r05
    # row). The md5 covers every dimension, so the certification is as
    # strong as comparing the raw vectors; values go through round(v*1e6)
    # -> BIGINT because INTEGER strings format identically on both
    # engines while double->string does not (Spark "1.0E-6" vs DuckDB
    # "1e-06"). Output stays corpus-sized (one row per doc) — an exploded
    # (doc, pos, v) form would collect dim x corpus rows at bench scales.
    # hash_embedding itself keeps the array form — that is what feeds the
    # similarity family.
    emb = text.hash_embedding(_docs(spark, sf_dir))
    digest = F.md5(
        F.array_join(
            F.transform(
                F.col("embedding"),
                lambda x: F.round(x * 1_000_000).cast("long").cast("string"),
            ),
            " ",
        )
    )
    return emb.select("doc_id", digest.alias("emb_hash"), "n_tokens")


SEMDEDUP_THRESHOLD = 0.4


def semdedup_oracle(threshold: float = SEMDEDUP_THRESHOLD) -> str:
    from .similarity import CENTROID_VEC_IDS, TARGET_CELL

    lo, kmin = min(CENTROID_VEC_IDS), len(CENTROID_VEC_IDS)
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings
    WHERE vec_id BETWEEN {lo} AND GREATEST({kmin},
          (SELECT COUNT(*) FROM embeddings) // {TARGET_CELL})
),
pr AS (
    SELECT e.vec_id, c.cid,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest(c.ce) AS DOUBLE) AS y
    FROM embeddings e CROSS JOIN cents c
),
sc AS (
    SELECT vec_id, cid,
           ROUND({_DOT_DEC} / (SQRT({_NORM_X}) * SQRT({_NORM_Y})), 6) AS score
    FROM pr GROUP BY vec_id, cid
),
assign AS (
    SELECT vec_id, cid AS cell
    FROM (SELECT vec_id, cid,
                 ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
          FROM sc)
    WHERE rn = 1
),
pp AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           CAST(unnest(ea.embedding) AS DOUBLE) AS x,
           CAST(unnest(eb.embedding) AS DOUBLE) AS y
    FROM assign a
    JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
),
pcos AS (
    SELECT va, vb,
           ROUND({_DOT_DEC} / (SQRT({_NORM_X}) * SQRT({_NORM_Y})), 6) AS cosine
    FROM pp GROUP BY va, vb
),
dups AS (SELECT DISTINCT vb AS vec_id FROM pcos WHERE cosine >= {threshold})
SELECT a.vec_id, CAST(a.cell AS INT) AS cell, d.vec_id IS NULL AS kept
FROM assign a LEFT JOIN dups d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""


def run_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid count is corpus-scaled (similarity.scaled_centroids <->
    the oracle's GREATEST(8, n // 256)): cells stay ~TARGET_CELL members
    so the within-cell pair join is linear in the corpus — with the old
    fixed 8 centroids the 10x scale gate measured 20x wall at 10x data.
    Centroids are the k lowest vec_ids >= 1 (the CENTROID_VEC_IDS
    convention, generalized)."""
    from . import similarity

    emb = _emb(spark, sf_dir)
    # Count + centroid collect off the UNSPREAD scan: spread() exists to
    # fan out the per-row vector kernels below, but these two driver
    # actions aggregate/filter only, so routing them through the
    # round-robin repartition paid a full-table shuffle each for nothing
    # (r11: one saved exchange per action; values identical).
    emb_raw = load_table(spark, sf_dir, "embeddings")
    k = similarity.scaled_centroids(emb_raw.count())
    rows = (
        emb_raw.where(F.col("vec_id").between(1, k))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in rows)
    return similarity.semdedup(
        emb, centroids, threshold=SEMDEDUP_THRESHOLD
    ).orderBy("vec_id")


def run_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return dedup.incremental_dedup_pairs(
        docs.where(F.col("source") != "src0"),
        docs.where(F.col("source") == "src0"),
    ).orderBy("doc_a", "doc_b")


def run_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: pairs -> transitive groups -> keep the
    min-label representative of every duplicate cluster."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_dedup_pairs(docs).where("is_near_dup")
    groups = dedup.duplicate_groups(pairs)
    dropped = groups.where(F.col("doc_id") != F.col("group_id")).select("doc_id")
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
        .orderBy("doc_id")
    )


def run_seeded_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .shuffleop import seeded_shuffle

    return seeded_shuffle(_docs(spark, sf_dir)).orderBy("doc_id")


def run_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import dsir

    docs = _docs(spark, sf_dir)
    return dsir.dsir_logweights(docs, docs.where(F.col("lang") == "en")).orderBy(
        "doc_id"
    )


def run_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_rules(_docs(spark, sf_dir)).orderBy("doc_id")


def run_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(_docs(spark, sf_dir)).orderBy("doc_id")


def run_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.paragraph_dedup(_docs(spark, sf_dir)).orderBy("doc_id")


def run_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketch import heavy_hitters

    raw = load_table(spark, sf_dir, "events")
    ev = spread(narrow(raw, "user_id"))
    # n off the raw scan (footer metadata), not through spread()'s
    # exchange — same value, one less full-table shuffle job (r11).
    return heavy_hitters(ev, "user_id", threshold_frac=HH_THRESHOLD_FRAC,
                         k=HH_K, n=raw.count())


def run_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketch import bloom_build, bloom_probe

    li = spread(narrow(load_table(spark, sf_dir, "lineitem"), "l_suppkey"))
    probed = bloom_probe(bloom_build(li, "l_suppkey"), BLOOM_KEYS)
    # Presence ground truth only matters for the |BLOOM_KEYS| probed keys,
    # so filter BEFORE the distinct (r11, guide §2.3 — shuffle fewer
    # bytes): the old full-column distinct shuffled every corpus key to
    # certify 6 membership bits. Pushed predicate + distinct over <= 6
    # values; join semantics identical (probed is the left side).
    present = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_suppkey").isin(BLOOM_KEYS))
        .select(F.col("l_suppkey").cast("string").alias("key"))
        .distinct()
        .withColumn("present", F.lit(True))
    )
    return (
        probed.join(present, "key", "left")
        .na.fill({"present": False})
        .select(
            F.col("key").cast("long").alias("key"),
            "claimed",
            "present",
            (F.col("claimed") | ~F.col("present")).alias("sound"),
        )
        .orderBy("key")
    )


def run_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tfidf import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), BM25_TERMS, k=BM25_K)


def run_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lm_score(_docs(spark, sf_dir)).orderBy("doc_id")


def run_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tfidf import tfidf_topk

    # Count off the raw scan (see run_semdedup): same value, no spread
    # exchange in the count action.
    n_docs = load_table(spark, sf_dir, "documents").count()
    return tfidf_topk(_docs(spark, sf_dir), k=5, n_docs=n_docs).orderBy(
        "doc_id", "rank"
    )


SALTED_JOIN_ORACLE = """
SELECT s_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


def run_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bucket_width from the raw-scan count (see run_semdedup): identical
    # value to assign_bins' internal default, one less spread exchange.
    import math

    n = load_table(spark, sf_dir, "documents").count()
    return packing.pack_stats(
        _docs(spark, sf_dir), bucket_width=max(64, math.isqrt(n))
    )


def run_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join certified against the plain-join oracle: salting is
    semantics-preserving (the salt only respreads rows), so the aggregated
    result must hash-match an unsalted SQL join."""
    from .skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("k"), "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"), "s_nationkey"
    )
    return (
        salted_join(li, supp, "k", n_salt=8)
        .groupBy("s_nationkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("l_quantity").cast("long")).cast("long").alias("total_qty"),
        )
        .orderBy("s_nationkey")
    )


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def run_ev_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventops.tumbling_agg(_events(spark, sf_dir)).orderBy("bucket_start", "event_type")


def run_resample_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventops.resample_fill(_events(spark, sf_dir)).orderBy(
        "bucket_start", "event_type"
    )


def run_ev_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventops.sliding_agg(_events(spark, sf_dir)).orderBy("bucket_start")


def run_ev_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unordered: per-session output scales with the corpus and the child
    # is a two-pass window pipeline (SCALE.md round-6 cosmetic-sort rule)
    return eventops.session_agg(_events(spark, sf_dir))


def run_ev_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return eventops.daily_type_pivot(_events(spark, sf_dir)).orderBy("day")


MM_META_ORACLE = """
SELECT 'fake' AS format,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(n_chars % 1024) AS BIGINT) AS total_width,
       CAST(MAX(n_chars % 768) AS INT) AS max_height
FROM documents
"""

MM_BYTES_ORACLE = """
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(n_chars % 1024 AS INT) AS width,
       CAST(n_chars % 768 AS INT) AS height
FROM documents
ORDER BY doc_id
"""


# The stub codec's n_bytes/checksum are plain byte reductions of the utf-8
# payload, so they ARE SQL-computable: DuckDB reads the bytes back out of
# hex(encode(text)) two nibbles at a time.  This certifies the whole
# mapInPandas decode path (schema, Arrow batches, vectorized kernel) against
# an independent engine; only the fake `feature` vector stays unchecked.
MM_DECODE_ORACLE = """
WITH b AS (
    SELECT doc_id, strlen(text) AS n, hex(encode(text)) AS hx FROM documents
)
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(COALESCE(list_sum(list_transform(range(1, n + 1),
            i -> (strpos('0123456789ABCDEF', substring(hx, 2*i-1, 1)) - 1) * 16
                 + strpos('0123456789ABCDEF', substring(hx, 2*i, 1)) - 1)), 0) AS BIGINT) AS checksum
FROM b
ORDER BY doc_id
"""


def run_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    return mm.meta_stats(mm.with_binary_payload(_docs(spark, sf_dir)))


def run_mm_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    return mm.byte_stats(mm.with_binary_payload(_docs(spark, sf_dir)))


def run_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import multimodal as mm

    return (
        mm.decode_features(mm.with_binary_payload(_docs(spark, sf_dir)))
        .select("doc_id", "n_bytes", "checksum")
        .orderBy("doc_id")
    )


def run_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketch import count_min_build, count_min_estimate

    # spread(): the build's 3-md5s-per-row projection is compute-bound and
    # the testdata parquet is one unsplittable row group; repartitioning the
    # narrow key column fans the hash work across all cores.
    li = spread(narrow(load_table(spark, sf_dir, "lineitem"), "l_partkey"))
    sketch = count_min_build(li, "l_partkey")
    return count_min_estimate(sketch, CMS_KEYS).orderBy("key")


def run_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sketch import HLL_M, HLL_SCALE, hll_registers, hll_term

    # Project to the key BEFORE spread(): the repartition exists only to fan
    # the md5 work across cores, and shuffling one narrow column beats
    # shuffling the full 16-column row.
    li = spread(narrow(load_table(spark, sf_dir, "lineitem"), "l_orderkey"))
    # ONE pass for the sketch AND the certification count (r11, guide
    # §1.2/§2.3): HLL registers are max-of-rho per bucket, so
    # registers(distinct(S)) == registers(S) byte-for-byte — building
    # from the distinct keys cuts the md5/conv/bin kernel to the
    # distinct cardinality (4x fewer rows here), and per-register key
    # counts (nk) make SUM(nk) the exact distinct count, folding what
    # used to be a SEPARATE corpus countDistinct leg (2 scans, 2
    # unshared corpus exchanges) into the register aggregate's own final
    # row. The production sketch path is unchanged (hll_registers over
    # the raw stream, no distinct): the distinct here exists only
    # because this declared query ALSO certifies the estimate.
    dk = li.select("l_orderkey").distinct()
    regs = hll_registers(dk, "l_orderkey", with_count=True)
    full = spark.range(HLL_M).select(F.col("id").cast("int").alias("register"))
    return (
        full.join(regs, "register", "left")
        .agg(
            F.sum(hll_term()).alias("reg_sum"),
            F.sum("nk").cast("long").alias("n_exact"),
        )
        .select(
            "n_exact",
            F.round(F.lit(HLL_SCALE) / F.col("reg_sum"), 4).alias("hll_est"),
        )
        .select(
            "n_exact",
            "hll_est",
            (F.abs(F.col("hll_est") / F.col("n_exact") - 1) <= 0.3)
            .alias("within_bound"),
        )
    )


def run_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.minhash_dedup_pairs(_docs(spark, sf_dir)).where("is_near_dup")
    return dedup.duplicate_groups(pairs).orderBy("doc_id")


def run_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir)).orderBy("doc_a", "doc_b")


def run_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(clicks, views).orderBy("event_id")


ASOF_FWD_ORACLE = """
WITH clicks AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
),
views AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'view'
),
m AS (
    SELECT c.event_id, c.user_id, c.ts, c.value,
           v.ts AS m_ts, v.value AS m_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts <= v.ts
)
SELECT event_id, user_id, ts, value,
       CASE WHEN m_ts <= ts + INTERVAL '30' MINUTE THEN m_ts END AS r_ts,
       CASE WHEN m_ts <= ts + INTERVAL '30' MINUTE THEN m_value END AS r_value
FROM m
ORDER BY event_id
"""


def run_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(
        clicks, views, direction="forward", tolerance_seconds=30 * 60
    ).orderBy("event_id")


def run_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .rangejoin import range_join_count

    ev = _events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    return range_join_count(errors, clicks, window_minutes=10).orderBy("event_id")


def run_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = _emb(spark, sf_dir)
    rows = (
        emb.where(F.col("vec_id").isin(list(similarity.CENTROID_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in rows)
    return similarity.ivf_ann_topk(
        emb, _query_vec(spark, sf_dir), centroids, k=10, exclude_vec_id=0
    )


def run_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = _emb(spark, sf_dir)
    return similarity.cosine_topk(emb, _query_vec(spark, sf_dir), k=10, exclude_vec_id=0)


def run_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import similarity

    emb = _emb(spark, sf_dir)
    return similarity.lsh_ann_topk(emb, _query_vec(spark, sf_dir), k=5, exclude_vec_id=0)


def run_emb_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocks on (label, semantic cell): label alone is fixed-cardinality,
    so its blocks grow with the corpus and the pair join goes quadratic
    (the 10x scale gate measured 15x wall). Cells use the same
    corpus-scaled centroid convention as run_semdedup."""
    from . import similarity

    emb = _emb(spark, sf_dir)
    # Unspread scan for the two driver actions — see run_semdedup.
    emb_raw = load_table(spark, sf_dir, "embeddings")
    k = similarity.scaled_centroids(emb_raw.count())
    rows = (
        emb_raw.where(F.col("vec_id").between(1, k))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in rows)
    assigned = similarity.ivf_assign(emb, centroids)
    return similarity.neardup_pairs(
        assigned, block_col=("label", "cell"), threshold=0.35, k=20
    )


def extension_entries():
    from ..queries.registry import SuiteEntry

    return [
        SuiteEntry("dedup_exact", run_exact_dedup, EXACT_DEDUP_ORACLE,
                   "exact dedup: hash-groupBy on text digest"),
        SuiteEntry("dedup_minhash_lsh", run_minhash_pairs, minhash_pairs_oracle(),
                   "minhash+LSH candidates verified by n-gram jaccard"),
        SuiteEntry("dedup_simhash", run_simhash, simhash_oracle(),
                   "simhash: 16-bit near-dup fingerprint"),
        SuiteEntry("text_token_stats", run_token_stats, token_stats_oracle(),
                   "token counting: whitespace + distinct + BPE-ish estimate"),
        SuiteEntry("text_lang_id", run_lang_id, lang_id_oracle(),
                   "language ID: stopword-hit argmax heuristic"),
        SuiteEntry("text_quality", run_quality, quality_oracle(),
                   "quality scoring: length/stopword/digit ratios"),
        SuiteEntry("text_fingerprint", run_fingerprint, fingerprint_oracle(),
                   "document fingerprinting: content + bag hashes"),
        SuiteEntry("text_winnow", run_winnow, winnow_oracle(),
                   "winnowing: rolling char-k-gram hashes, window minima"),
        SuiteEntry("sim_knn_brute", run_knn_brute, knn_oracle(),
                   "similarity: brute-force cosine top-k (zip_with/aggregate)"),
        SuiteEntry("sketch_count_min", run_count_min, cms_oracle(CMS_KEYS),
                   "count-min sketch: build + point estimates, md5-hashed"),
        SuiteEntry("dedup_groups", run_dedup_groups, dedup_groups_oracle(),
                   "transitive duplicate groups: iterative connected components"),
        SuiteEntry("dedup_ngram_jaccard", run_ngram_jaccard,
                   ngram_jaccard_oracle(JACCARD_THRESHOLD),
                   "exact n-gram jaccard dedup: blocked + size-ratio pruned"),
        SuiteEntry("join_asof", run_asof, ASOF_ORACLE,
                   "as-of join: union + single window pass (sort-merge style)"),
        SuiteEntry("join_range", run_range_join, RANGE_JOIN_ORACLE,
                   "range join: time-bucketized equi-join + residual filter"),
        SuiteEntry("sim_ann_lsh", run_ann_lsh, ann_lsh_oracle(),
                   "similarity: hyperplane-LSH bucketed ANN top-k"),
        SuiteEntry("sim_ann_ivf", run_ann_ivf, ivf_oracle(),
                   "similarity: IVF coarse-quantized ANN top-k (nprobe cells)"),
        SuiteEntry("dedup_embedding_cosine", run_emb_neardup, neardup_oracle(),
                   "embedding-cosine near-dup pairs within label blocks"),
        SuiteEntry("ev_tumbling_window", run_ev_tumbling, eventops.TUMBLING_ORACLE,
                   "tumbling 1h window: count + sum per event_type"),
        SuiteEntry("ev_sliding_window", run_ev_sliding, eventops.SLIDING_ORACLE,
                   "sliding 1h/15m window counts"),
        SuiteEntry("ev_session_window", run_ev_session, eventops.SESSION_ORACLE,
                   "session windows (30m gap) per user"),
        SuiteEntry("ev_daily_pivot", run_ev_pivot, eventops.PIVOT_ORACLE,
                   "daily event-type pivot matrix"),
        SuiteEntry("mm_meta_stats", run_mm_meta, MM_META_ORACLE,
                   "multimodal: metadata-only agg (payload pruned from scan)"),
        SuiteEntry("mm_byte_stats", run_mm_bytes, MM_BYTES_ORACLE,
                   "multimodal: binary payload size stats, no decode"),
        SuiteEntry("mm_decode_features", run_mm_decode, MM_DECODE_ORACLE,
                   "multimodal: mapInPandas Arrow-batched decode (stub codec)"),
        SuiteEntry("text_tfidf", run_tfidf, tfidf_oracle(),
                   "TF-IDF top-k terms per doc: smoothed idf, windowed top-k"),
        SuiteEntry("join_salted", run_salted_join, SALTED_JOIN_ORACLE,
                   "skew-salted join (replicate-and-scatter), oracle = plain join"),
        SuiteEntry("seq_pack", run_seq_pack, packing.pack_oracle(),
                   "sequence packing: two-level distributed prefix sum -> "
                   "token-budget bins, oracle = global-window cumsum"),
        SuiteEntry("sketch_hll", run_hll, hll_oracle(),
                   "HyperLogLog: md5 registers, exact fixed-point sum, "
                   "deterministic estimate vs exact distinct"),
        SuiteEntry("text_repetition", run_repetition, repetition_oracle(),
                   "within-doc repetition: dup-bigram + top-word fractions "
                   "(Gopher filter)"),
        SuiteEntry("dedup_paragraph", run_paragraph_dedup,
                   paragraph_dedup_oracle(),
                   "corpus-wide paragraph-hash dedup with in-order doc "
                   "reconstruction"),
        SuiteEntry("sketch_heavy_hitters", run_heavy_hitters, hh_oracle(),
                   "top-k heavy hitters: CMS candidates + exact verify"),
        SuiteEntry("sketch_bloom", run_bloom, bloom_oracle(),
                   "Bloom filter: bounded set-bit table, broadcast probe, "
                   "no false negatives"),
        SuiteEntry("text_bm25", run_bm25, bm25_oracle(),
                   "BM25 lexical search: array-side tf, one broadcast "
                   "stats row, top-k"),
        SuiteEntry("text_lm_score", run_lm_score, lm_score_oracle(),
                   "unigram-LM cross-entropy (CCNet-style perplexity "
                   "proxy), fixed-point deterministic"),
        SuiteEntry("text_gopher_rules", run_gopher, gopher_oracle(),
                   "full Gopher/MassiveText quality rule set, "
                   "integer-exact flags, shuffle-free"),
        SuiteEntry("dsir_weights", run_dsir, dsir_oracle(),
                   "DSIR importance weights: hashed n-gram buckets, "
                   "broadcast log-ratio table, fixed-point"),
        SuiteEntry("shuffle_shard", run_seeded_shuffle, shuffle_oracle(),
                   "seeded deterministic global shuffle + shard "
                   "assignment (hash permutation, no global sort)"),
        SuiteEntry("contamination_ngram", run_ngram_contamination,
                   ngram_contamination_oracle(),
                   "GPT-3-style k-gram benchmark decontamination "
                   "(broadcast gram set, per-doc overlap counts)"),
        SuiteEntry("dedup_apply", run_dedup_apply, dedup_apply_oracle(),
                   "end-to-end kept corpus after transitive near-dup "
                   "removal (recursive-CTE certified)"),
        SuiteEntry("emb_covariance", run_emb_covariance,
                   emb_covariance_oracle(),
                   "exact fixed-point embedding covariance block "
                   "(map-side-combined integer moments)"),
        SuiteEntry("dedup_incremental", run_incremental_dedup,
                   incremental_dedup_oracle(),
                   "incremental-ingest near-dup pairs: new batch vs "
                   "corpus LSH index, no old-vs-old expansion"),
        SuiteEntry("sim_semdedup", run_semdedup, semdedup_oracle(),
                   "SemDeDup: cluster-then-prune semantic dedup "
                   "(within-cell cosine, keep-lowest-id)"),
        SuiteEntry("ppl_bucket_sample", run_ppl_bucket_sample,
                   ppl_bucket_oracle(),
                   "CCNet-style perplexity-stratified seeded sampling "
                   "(head/middle/tail fluency buckets)"),
        SuiteEntry("ev_resample_fill", run_resample_fill, eventops.RESAMPLE_ORACLE,
                   "gap-filled hourly resample: dense time spine x type "
                   "grid, zero rows for empty buckets"),
        SuiteEntry("sim_ann_pq", run_ann_pq, pq_oracle(),
                   "product-quantization ANN: nibble codes + ADC lookup "
                   "sums (integer micro-units)"),
        SuiteEntry("sim_ann_ivfpq", run_ann_ivfpq, ivfpq_oracle(),
                   "IVF-PQ (FAISS IVFADC): nprobe cell pruning + ADC "
                   "code scoring"),
        SuiteEntry("join_asof_forward", run_asof_forward, ASOF_FWD_ORACLE,
                   "forward as-of join with 30-minute tolerance "
                   "(pandas merge_asof surface)"),
        SuiteEntry("dedup_fuzzy_prefix", run_fuzzy_join, fuzzy_oracle(),
                   "edit-distance fuzzy self-join via PassJoin segment "
                   "blocking (candidates only, never all-pairs)"),
        SuiteEntry("dedup_fuzzy_groups", run_fuzzy_groups,
                   fuzzy_groups_oracle(),
                   "entity resolution: connected components over the "
                   "fuzzy-key pairs (recursive-CTE certified)"),
        SuiteEntry("text_hash_embed", run_hash_embed, hash_embed_oracle(),
                   "hashing-trick document embedding (feature hashing, "
                   "L2-normalized) bridging text -> ANN/semdedup"),
        SuiteEntry("dedup_substring_fps", run_substring_dups,
                   substring_dup_oracle(),
                   "verbatim-substring duplication across docs "
                   "(winnowing-sampled shared spans, Lee et al. 2022)"),
    ]
