"""DSIR — Data Selection via Importance Resampling (Xie et al., NeurIPS
2023): score every raw document by how target-like its hashed n-gram
feature distribution is, then resample the raw pool by those weights.

Scale shape (the reason DSIR works at 100 TB):

- The *model* is two bucket-count vectors of fixed size ``DSIR_BUCKETS`` —
  one over the target sample, one over the raw pool. Both come from a
  map-side-combinable ``groupBy(bucket)`` whose output is bounded by the
  bucket count, never by the corpus, so the fitted log-ratio table is
  broadcastable by construction.
- Scoring is one per-(doc, bucket) aggregation (shuffle keyed by doc_id —
  scales horizontally) plus a BROADCAST join against the ratio table.
  Nothing driver-sided, no Python in the hot path.

Determinism: log-ratios are rounded to integer nano-nats
(fixed-point, see ``text.LM_SCALE``) so per-document sums are exact
integer arithmetic — bit-identical across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import LM_SCALE, tokens

#: Number of hash buckets for the n-gram feature space. DSIR's paper uses
#: 10k; 1024 keeps the oracle cheap while preserving the architecture.
DSIR_BUCKETS = 1024


def hashed_features(df: DataFrame, text_col: str = "text",
                    n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Explode each document into hashed unigram+bigram feature buckets.

    Returns (doc_id, bucket) with one row per feature OCCURRENCE (the
    importance estimator is count-based, not set-based).
    """
    toks = tokens(text_col)
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    feats = F.concat(toks, bigrams)
    bucket = (
        F.conv(F.substring(F.md5(F.col("feat")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")
    return (
        df.select("doc_id", F.explode(feats).alias("feat"))
        .select("doc_id", bucket.alias("bucket"))
    )


def _bucket_counts(feats: DataFrame) -> DataFrame:
    return feats.groupBy("bucket").agg(F.count("*").alias("c"))


def _log_ratio_table(target_counts: DataFrame, raw_counts: DataFrame,
                     n_buckets: int) -> DataFrame:
    """Per-bucket Laplace-smoothed log(p_target / p_raw) in integer
    nano-nats. At most ``n_buckets`` rows — broadcastable always."""
    t = target_counts.withColumnRenamed("c", "ct")
    r = raw_counts.withColumnRenamed("c", "cr")
    tt = t.agg(F.sum("ct").alias("tt"))
    tr = r.agg(F.sum("cr").alias("tr"))
    joined = (
        r.join(t, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(tt))
        .crossJoin(F.broadcast(tr))
    )
    log_ratio = F.log(
        (F.col("ct") + 1) / (F.col("tt") + n_buckets)
    ) - F.log((F.col("cr") + 1) / (F.col("tr") + n_buckets))
    return joined.select(
        "bucket",
        F.round(log_ratio * LM_SCALE).cast("long").alias("llr"),
    )


def dsir_logweights(raw: DataFrame, target: DataFrame,
                    text_col: str = "text",
                    n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Per-document DSIR importance log-weight over the raw pool.

    ``target`` is the (small) exemplar corpus whose distribution we want;
    ``raw`` is the pool being scored. Returns
    (doc_id, n_feats, logw_nats): the average per-feature log importance
    ratio — positive means more target-like than the raw average.
    """
    # One explode+hash pass over the raw pool: per-(doc, bucket) tfs are
    # the primary aggregate, and the raw bucket-count vector is DERIVED
    # from them (sum of tf per bucket) instead of re-exploding the corpus.
    # NOT persisted: both the model fit and the scoring join consume tf,
    # but caching the O(docs × buckets/doc) table benched SLOWER locally
    # (cache serialization exceeded the recompute); at cluster scale with
    # a genuinely expensive upstream, add .persist(MEMORY_AND_DISK) here.
    tf = (
        hashed_features(raw, text_col, n_buckets)
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )
    raw_counts = tf.groupBy("bucket").agg(F.sum("tf").alias("c"))
    ratio = _log_ratio_table(
        _bucket_counts(hashed_features(target, text_col, n_buckets)),
        raw_counts,
        n_buckets,
    )
    return (
        tf.join(F.broadcast(ratio), "bucket", "left")
        .na.fill({"llr": 0})
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("int").alias("n_feats"),
            F.round(
                F.sum(F.col("tf") * F.col("llr"))
                / (F.sum("tf") * F.lit(float(LM_SCALE))),
                4,
            ).alias("logw_nats"),
        )
    )


def dsir_select(raw: DataFrame, target: DataFrame, frac: float,
                text_col: str = "text",
                n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """Deterministic top-``frac`` selection by DSIR weight (rank by
    log-weight, doc_id tiebreak). The paper adds Gumbel noise for sampled
    selection; the deterministic variant keeps the output oracle-checkable.

    The global rank is one ``row_number`` over a single ordering — at
    100 TB use :func:`dsir_select_approx` (an ``approxQuantile``
    threshold plus a pure filter, no global sort); semantics identical up
    to quantile error.
    """
    w = dsir_logweights(raw, target, text_col, n_buckets)
    n = w.count()
    k = int(n * frac)
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.orderBy(F.desc("logw_nats"), F.asc("doc_id"))
    )
    return w.withColumn("rk", rn).where(F.col("rk") <= k).drop("rk")


def dsir_select_approx(raw: DataFrame, target: DataFrame, frac: float,
                       text_col: str = "text",
                       n_buckets: int = DSIR_BUCKETS,
                       rel_err: float = 0.001) -> DataFrame:
    """The 100 TB form of :func:`dsir_select`: an ``approxQuantile``
    threshold on ``logw_nats`` (driver receives ONE float) followed by a
    pure filter — no global ordering anywhere, so nothing serializes
    through a single partition. Keeps every doc with log-weight at or
    above the (1-frac) quantile; the selected set differs from the exact
    top-k only within the quantile's rel_err rank band (pinned by
    ``tests/test_operators.py::test_dsir_select_approx_matches_exact``).
    """
    w = dsir_logweights(raw, target, text_col, n_buckets)
    [threshold] = w.approxQuantile("logw_nats", [1.0 - frac], rel_err)
    return w.where(F.col("logw_nats") >= threshold)
