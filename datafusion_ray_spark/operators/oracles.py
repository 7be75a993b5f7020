"""Cross-suite DuckDB oracle builders.

These oracles mirror the MinHash/LSH parameters in ``operators/dedup.py``
and the hyperplane/centroid constants in ``operators/similarity.py``, so
a change to either implementation file must keep them in step.
"""

from __future__ import annotations

from .dedup import JACCARD_THRESHOLD, N_BANDS, N_HASHES, ROWS_PER_BAND
from .shared import _DOT_DEC, _NORM_X, _NORM_Y, _SHINGLES, _WORDS


def _sig_exprs() -> str:
    from .dedup import HASH_PREFIXES

    exprs = []
    for i in range(N_HASHES):
        p, off = HASH_PREFIXES[i // 4], i % 4
        inner = f"md5('{p}' || s)" if p else "md5(s)"
        exprs.append(
            f"list_aggregate(list_transform(sh, s -> substring({inner}, {off * 8 + 1}, 8)), 'min') AS sig_{i}"
        )
    return ",\n       ".join(exprs)


def _band_rows() -> str:
    selects = []
    for b in range(N_BANDS):
        cols = " || '|' || ".join(
            f"sig_{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)
        )
        selects.append(
            f"SELECT doc_id, sh, {b} AS band, md5({cols}) AS bucket FROM sigs"
        )
    return "\nUNION ALL\n".join(selects)


def minhash_pairs_oracle() -> str:
    return f"""
WITH docs AS (
    SELECT doc_id, {_WORDS} AS w FROM documents
),
shingled AS (
    SELECT doc_id, {_SHINGLES} AS sh FROM docs
),
nonempty AS (SELECT * FROM shingled WHERE len(sh) > 0),
sigs AS (
    SELECT doc_id, sh,
       {_sig_exprs()}
    FROM nonempty
),
buckets AS (
{_band_rows()}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM buckets a JOIN buckets b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
verified AS (
    SELECT
        c.doc_a,
        c.doc_b,
        len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS inter,
        len(sa.sh) + len(sb.sh) - len(list_filter(sa.sh, x -> list_contains(sb.sh, x))) AS uni
    FROM cand c
    JOIN nonempty sa ON sa.doc_id = c.doc_a
    JOIN nonempty sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       ROUND(inter / uni, 6) AS jaccard,
       inter / uni >= {JACCARD_THRESHOLD} AS is_near_dup
FROM verified
ORDER BY doc_a, doc_b
"""


def incremental_dedup_oracle() -> str:
    """Oracle: the full-corpus minhash pair set restricted to pairs that
    involve a 'new' (src0) document — what the incremental ingest path
    must equal by the per-document-determinism argument."""
    return f"""
WITH mp AS (
{minhash_pairs_oracle()}
)
SELECT mp.doc_a, mp.doc_b, mp.jaccard, mp.is_near_dup
FROM mp
JOIN documents a ON a.doc_id = mp.doc_a
JOIN documents b ON b.doc_id = mp.doc_b
WHERE a.source = 'src0' OR b.source = 'src0'
ORDER BY mp.doc_a, mp.doc_b
"""


def _hyperplane_values_sql(n_planes: int | None = None) -> str:
    from .similarity import HYPERPLANES, N_PLANES

    rows = []
    for j, vec in enumerate(HYPERPLANES[: n_planes or N_PLANES]):
        arr = "[" + ", ".join(repr(v) for v in vec) + "]::DOUBLE[]"
        rows.append(f"({j}, {arr})")
    return ",\n       ".join(rows)


def ivf_oracle(k: int = 10, nprobe: int = 2) -> str:
    from .similarity import CENTROID_VEC_IDS

    lo, hi = min(CENTROID_VEC_IDS), max(CENTROID_VEC_IDS)
    return f"""
WITH cents AS (
    SELECT vec_id AS cid, embedding AS ce FROM embeddings
    WHERE vec_id BETWEEN {lo} AND {hi}
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
probe AS (
    SELECT cid FROM (SELECT cid, ROW_NUMBER() OVER (ORDER BY score DESC, cid) AS rn
                     FROM sc WHERE vec_id = 0)
    WHERE rn <= {nprobe}
),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
cprod AS (
    SELECT e.vec_id, a.cell,
           CAST(unnest(e.embedding) AS DOUBLE) AS x,
           CAST(unnest((SELECT qe FROM q)) AS DOUBLE) AS y
    FROM embeddings e
    JOIN assign a ON a.vec_id = e.vec_id
    WHERE a.cell IN (SELECT cid FROM probe) AND e.vec_id <> 0
),
agg AS (
    SELECT vec_id, cell, {_DOT_DEC} AS dot, {_NORM_X} AS norm2
    FROM cprod GROUP BY vec_id, cell
),
qn AS (
    SELECT SQRT(CAST(SUM(CAST(CAST(u AS DOUBLE) * CAST(u AS DOUBLE) AS DECIMAL(28,14))) AS DOUBLE)) AS qnorm
    FROM (SELECT unnest(qe) AS u FROM q) t
)
SELECT vec_id, CAST(cell AS INT) AS cell,
       ROUND(dot / (SQRT(norm2) * (SELECT qnorm FROM qn)), 6) AS cosine
FROM agg
ORDER BY cosine DESC, vec_id
LIMIT {k}
"""
