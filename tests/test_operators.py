"""Behavioral unit tests for the extension operators (planted-case checks
that the oracle comparison can't express)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_ray_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),
        (2, "the quick brown fox jumps over the lazy dog", "en", "s0", 43),  # exact dup
        (3, "the quick brown fox jumps over the lazy cat", "en", "s0", 43),  # near dup
        (4, "completely different content about spark engines and shuffles", "en", "s1", 61),
        (5, "la maison est dans le jardin pour une belle journee", "fr", "s1", 51),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_exact_dedup_finds_planted_duplicate(docs):
    out = dedup.exact_dedup(docs).where(F.col("dup_count") > 1).collect()
    assert len(out) == 1
    assert out[0]["keep_id"] == 1
    assert out[0]["dup_count"] == 2


def test_minhash_pairs_flags_exact_and_near_dup(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r for r in dedup.minhash_dedup_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)]["jaccard"] == 1.0 and pairs[(1, 2)]["is_near_dup"]
    if (1, 3) in pairs:  # candidate only if some band collides (probabilistic)
        assert 0 < pairs[(1, 3)]["jaccard"] < 1


def test_minhash_large_bucket_expansion_is_complete(spark):
    """The streaming two-Generate pair expansion (the hot-bucket OOM fix:
    live memory O(bucket) per task, never a bucket²-struct array) must be
    lossless on oversized buckets: 12 identical docs put 12 ids in every
    LSH bucket, and every one of the 66 ordered pairs must come out
    exactly once, alongside the pairs from the two merely-similar docs."""
    rows = [(i, "alpha beta gamma delta epsilon zeta eta theta", "en", "s0", 44)
            for i in range(1, 13)]
    rows += [(21, "one two three four five six seven eight nine", "en", "s0", 44),
             (22, "one two three four five six seven eight ten", "en", "s0", 43)]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"])

    out = [(r["doc_a"], r["doc_b"])
           for r in dedup.minhash_candidates(docs).collect()]
    assert len(out) == len(set(out))  # distinct: one row per pair
    forced = set(out)
    assert all(a < b for a, b in forced)
    # the 12 identical docs must all pair up
    expected_clique = {(a, b) for a in range(1, 13) for b in range(a + 1, 13)}
    assert expected_clique <= forced


def test_minhash_candidates_is_lazy(spark):
    """Plan construction must run ZERO Spark jobs (the r6 probe action made
    callers pay the whole signature pipeline at build time — ADVICE r6)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f", "en", "s0", 11)],
        ["doc_id", "text", "lang", "source", "n_chars"])
    sc = spark.sparkContext
    sc.setJobGroup("lazy-probe-check", "minhash_candidates construction")
    try:
        dedup.minhash_candidates(docs)
        jobs = sc.statusTracker().getJobIdsForGroup("lazy-probe-check")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []


def test_simhash_identical_texts_equal(docs):
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    assert fp[1] == fp[2]
    assert 0 <= fp[1] < 2**16
    # near-dup texts should be close in hamming distance
    ham = bin(fp[1] ^ fp[3]).count("1")
    assert ham <= 6


def test_tfidf_rare_term_outranks_common(docs):
    from datafusion_ray_spark.operators.tfidf import tfidf_topk

    top = tfidf_topk(docs, k=3).collect()
    by_doc = {}
    for r in top:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 4's distinctive vocabulary ("shuffles" appears nowhere else) must
    # outrank its common words; "the" (df=4 docs) never tops any doc.
    top_terms_4 = [r["term"] for r in sorted(by_doc[4], key=lambda r: r["rank"])]
    assert "the" not in top_terms_4
    assert all(r["df_count"] == 1 for r in by_doc[4] if r["rank"] == 1)
    # ranks are 1..k and dense per doc
    for rows in by_doc.values():
        assert sorted(r["rank"] for r in rows) == list(range(1, len(rows) + 1))


def test_simhash_pairs_band_blocking_is_lossless(docs):
    # Band blocking must find exactly the pairs a brute-force all-pairs
    # Hamming scan finds (pigeonhole: <=3 differing bits across 4 bands
    # guarantees one exact band match).
    fp = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    expected = {
        (a, b): bin(fp[a] ^ fp[b]).count("1")
        for a in fp
        for b in fp
        if a < b and bin(fp[a] ^ fp[b]).count("1") <= 3
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs).collect()
    }
    assert got == expected
    assert (1, 2) in got and got[(1, 2)] == 0  # exact dup pair survives


def test_lang_id_prefers_french_stopwords(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[5] == "fr"


def test_quality_monotone_in_length(docs):
    out = {r["doc_id"]: r["quality"] for r in text.quality_score(docs).collect()}
    assert 0 <= min(out.values()) and max(out.values()) <= 1


def test_cosine_topk_self_similarity(spark):
    rows = [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [-1.0, 0.0, 0.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity.cosine_topk(emb, [1.0, 0.0, 0.0], k=2, exclude_vec_id=0).collect()
    assert top[0]["vec_id"] == 1 and top[0]["cosine"] == 1.0
    assert top[1]["cosine"] < 1.0


def test_lsh_bucket_prunes_candidates(spark, sf_dir):
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    total = emb.count()
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    bucketed = similarity.with_bucket(emb)
    n_buckets = bucketed.select("bucket").distinct().count()
    assert n_buckets > 1, "hyperplanes failed to split the space"
    qb = bucketed.where(F.col("vec_id") == 0).first()["bucket"]
    in_bucket = bucketed.where(F.col("bucket") == qb).count()
    assert in_bucket < total  # pruning actually happened
    out = similarity.lsh_ann_topk(emb, q, k=5, exclude_vec_id=0)
    assert out.count() <= 5


def test_multimodal_decode_roundtrip(docs):
    binary = multimodal.with_binary_payload(docs)
    feats = multimodal.decode_features(binary).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert by_id[1]["checksum"] == sum(b"the quick brown fox jumps over the lazy dog")
    assert len(by_id[1]["feature"]) == multimodal.FEATURE_DIM
    assert abs(sum(by_id[1]["feature"]) - 1.0) < 1e-6


def test_multimodal_unknown_codec_raises(docs):
    binary = multimodal.with_binary_payload(docs).withColumn(
        "meta", F.struct(F.lit("jpeg").alias("format"), F.lit(1).alias("width"),
                         F.lit(1).alias("height"), F.lit(3).alias("channels"))
    )
    with pytest.raises(Exception, match="(?i)codec|NotImplemented"):
        multimodal.decode_features(binary).collect()


def test_pq_adc_ranks_planted_clone_first(spark, sf_dir):
    """An exact clone of the query vector encodes to the query's own codes,
    so its ADC distance is the minimum possible — it must rank first.
    Codes stay in [0, PQ_K) and the pipeline is shuffle-free (encode is a
    partition-preserving Arrow kernel; top-k is a TakeOrdered)."""
    from datafusion_ray_spark.plans import shuffle_count
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id").isin(list(similarity.PQ_SAMPLE_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    books = similarity.pq_codebooks([(r["vec_id"], list(r["embedding"])) for r in rows])
    q = [float(v) for v in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    clone = spark.createDataFrame([(9_999_999, q, 0)], ["vec_id", "embedding", "label"])
    out = similarity.pq_adc_topk(
        emb.unionByName(clone), q, books, k=5, exclude_vec_id=0
    )
    assert shuffle_count(out) == 0
    top = out.collect()
    assert top[0]["vec_id"] == 9_999_999
    codes = similarity.pq_encode(emb, books).select("code").first()["code"]
    assert len(codes) == similarity.PQ_M
    assert all(0 <= c < similarity.PQ_K for c in codes)


def test_fuzzy_join_catches_insertion_shift(spark):
    """An INSERTION shifts every later character, so no segment matches at
    its home position — only the ±tau probe window finds it. This is the
    case plain segment-equality blocking silently misses."""
    from datafusion_ray_spark.operators.fuzzy import fuzzy_join_pairs

    base = "abcdefgh" "ijklmnop" "qrstuvwx"  # 24 chars = 3 segments
    rows = [
        (1, base + " tail", "en", "s", 29),
        (2, "Z" + base[:23] + " tail", "en", "s", 30),      # ins at front: dist 2
        (3, base[:8] + "XY" + base[8:22] + " t", "en", "s", 29),  # ins mid: dist ~4
        (4, "zzzzzzzzzzzzzzzzzzzzzzzz diff", "en", "s", 29),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    got = {(r["doc_a"], r["doc_b"]): r["dist"] for r in fuzzy_join_pairs(docs).collect()}
    assert (1, 2) in got and got[(1, 2)] == 2  # found via shifted segments only
    assert (1, 4) not in got
    # oracle-grade ground truth for every pair the operator emits
    import duckdb

    con = duckdb.connect()
    for (a, b), dist in got.items():
        ka = next(r[1][:24] for r in rows if r[0] == a)
        kb = next(r[1][:24] for r in rows if r[0] == b)
        assert con.execute("SELECT levenshtein(?, ?)", [ka, kb]).fetchone()[0] == dist


def test_semdedup_removes_planted_clone(spark):
    """A cloned vector (cosine 1.0 with its original) must be pruned,
    keeping the lowest id; an orthogonal vector in the same cell survives."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = [list(map(float, rng.normal(size=8))) for _ in range(4)]
    rows = (
        [(i, base[i], 0) for i in range(4)]  # ids 0..3 (centroids 1..?)
        + [(10, base[0], 0)]                 # exact clone of vec 0
        + [(11, [v * 2.0 for v in base[0]], 0)]  # scaled clone: cosine 1.0
    )
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    centroids = [(i, base[i]) for i in range(4)]
    out = {r["vec_id"]: r for r in similarity.semdedup(emb, centroids, threshold=0.95).collect()}
    assert out[0]["kept"] is True          # lowest id of the clone group
    assert out[10]["kept"] is False        # exact clone pruned
    assert out[11]["kept"] is False        # scaled clone pruned
    assert all(out[i]["kept"] for i in range(1, 4))  # non-dups survive
    assert out[10]["cell"] == out[0]["cell"] == 0


def test_hash_embedding_kernel_matches_expression_form(spark, docs):
    """The shuffle-free Arrow kernel must be bit-identical to the pure
    expression form it replaced (hash_embedding_exprs), including the
    tokenizer edge cases Java split(limit=-1) produces: leading/trailing
    empty tokens around non-space whitespace, runs of mixed whitespace,
    and an all-whitespace text (one empty token after trim)."""
    edge = spark.createDataFrame(
        [
            (10, "\ta b\n", "en", "s0", 5),       # leading+trailing empties
            (11, "  ", "en", "s0", 2),             # trim -> "" -> one token
            (12, "x\r\n y\x0b\fz", "en", "s0", 9),  # mixed whitespace runs
            (13, "solo", "en", "s0", 4),
        ],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    both = docs.unionByName(edge)
    a = text.hash_embedding(both).orderBy("doc_id").collect()
    b = text.hash_embedding_exprs(both).orderBy("doc_id").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_hash_embedding_feeds_semdedup(docs):
    """The text->vector bridge end to end: hash-embed documents, then
    SemDeDup over the derived vectors prunes the exact text duplicate
    (identical text -> identical vector -> cosine 1.0)."""
    emb = text.hash_embedding(docs).withColumnRenamed("doc_id", "vec_id")
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    assert rows[1] == rows[2]  # identical texts embed identically
    centroids = [(i, rows[i]) for i in sorted(rows)[:2]]
    out = {
        r["vec_id"]: r["kept"]
        for r in similarity.semdedup(emb, centroids, threshold=0.99).collect()
    }
    assert out[1] is True and out[2] is False  # clone pruned, keep-lowest-id
    assert out[4] is True  # distinct content survives


def test_kmeans_feeds_semdedup(spark, sf_dir):
    """The production SemDeDup path: centroids LEARNED in-engine
    (kmeans_centroids) feed the cluster-then-prune dedup; a planted clone
    is still pruned and every vector gets a verdict."""
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(v) for v in emb.where(F.col("vec_id") == 7).first()["embedding"]]
    clone = spark.createDataFrame([(8_888_888, q, 0)], ["vec_id", "embedding", "label"])
    both = emb.unionByName(clone)
    centroids = similarity.kmeans_centroids(both, k=8, iterations=2)
    assert len(centroids) == 8 and all(len(v) == 64 for _, v in centroids)
    out = {r["vec_id"]: r for r in similarity.semdedup(both, centroids, threshold=0.99).collect()}
    assert len(out) == both.count()
    assert out[7]["kept"] is True
    assert out[8_888_888]["kept"] is False  # clone pruned under learned cells
    assert out[8_888_888]["cell"] == out[7]["cell"]


class _XorCodec:
    """Second codec for the registry seam test: checksum of payload XOR 0xFF,
    constant feature — trivially distinguishable from FakeCodec output."""

    def features(self, payloads):
        import numpy as np

        lens = np.array([len(b) for b in payloads], dtype=np.int64)
        checksum = np.array(
            [sum(x ^ 0xFF for x in b) for b in payloads], dtype=np.int64
        )
        feature = np.full(
            (len(payloads), multimodal.FEATURE_DIM), 0.5, dtype=np.float32
        )
        return lens, checksum, feature

    def resize(self, payloads, width, height):
        return [bytes(width * height) for _ in payloads]


def test_multimodal_codec_registry_injection(docs):
    """VERDICT r2 #8: a second codec plugs in via register_codec without
    touching the operator, and a mixed-format batch dispatches per-format."""
    multimodal.register_codec("xor", _XorCodec())
    try:
        binary = multimodal.with_binary_payload(docs).withColumn(
            "meta",
            F.struct(
                F.when(F.col("doc_id") % 2 == 0, "xor").otherwise("fake").alias("format"),
                F.col("meta.width"), F.col("meta.height"), F.col("meta.channels"),
            ),
        )
        rows = {r["doc_id"]: r for r in multimodal.decode_features(binary).collect()}
        payloads = {
            r["doc_id"]: bytes(r["payload"])
            for r in binary.select("doc_id", "payload").collect()
        }
        for doc_id, r in rows.items():
            want = (
                sum(x ^ 0xFF for x in payloads[doc_id])
                if doc_id % 2 == 0
                else sum(payloads[doc_id])
            )
            assert r["checksum"] == want, f"doc {doc_id} routed to wrong codec"
        resized = multimodal.resize(binary, width=4, height=2).collect()
        for r in resized:
            assert len(bytes(r["payload"])) == 8
            if r["doc_id"] % 2 == 0:
                assert bytes(r["payload"]) == bytes(8)
    finally:
        multimodal.CODECS.pop("xor", None)


def test_multimodal_binary_file_ingest(spark, tmp_path):
    """binaryFile-source ingest: files on disk become (doc_id, payload,
    meta) rows and flow through the decode kernel unchanged."""
    payloads = {"a.fake": b"hello world", "sub/b.fake": b"\x00\x01\x02\x03"}
    for rel, data in payloads.items():
        p = tmp_path / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(data)
    df = multimodal.from_binary_files(spark, str(tmp_path), glob="*.fake")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.fake", "b.fake"}
    assert bytes(rows["a.fake"]["payload"]) == b"hello world"
    assert rows["a.fake"]["meta"]["format"] == "fake"
    assert all(r["doc_id"] >= 0 for r in rows.values())
    feats = {
        r["n_bytes"]: r for r in multimodal.decode_features(df.drop("path")).collect()
    }
    assert feats[11]["checksum"] == sum(b"hello world")
    assert feats[4]["checksum"] == 0 + 1 + 2 + 3


def test_multimodal_meta_scan_prunes_payload(docs, tmp_path):
    # write a real parquet so the scan has a ReadSchema to prune
    p = str(tmp_path / "mm.parquet")
    multimodal.with_binary_payload(docs).write.mode("overwrite").parquet(p)
    spark = docs.sparkSession
    stats = multimodal.meta_stats(spark.read.parquet(p))
    plan = stats._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan, "payload column not pruned from metadata-only scan"


def test_ngram_jaccard_planted_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in dedup.ngram_jaccard_pairs(docs).collect()}
    assert pairs[(1, 2)] == 1.0  # exact dup in block s0
    # near-dup (1,3): differs in last token only -> high but < 1 jaccard
    assert (1, 3) in pairs and 0.6 <= pairs[(1, 3)] < 1.0
    # cross-block pairs never compared
    assert all(a in (1, 2, 3) and b in (1, 2, 3) for a, b in pairs)


def test_asof_join_semantics(spark):
    from datetime import datetime as dt

    from datafusion_ray_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 1, dt(2024, 1, 1, 0, 5), 10.0),
         (2, 1, dt(2024, 1, 1, 0, 1), 20.0),   # before any right row
         (3, 2, dt(2024, 1, 1, 0, 4), 30.0)],  # equal-ts match
        ["event_id", "user_id", "ts", "value"],
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 0, 2), 1.5),
         (1, dt(2024, 1, 1, 0, 4), 2.5),
         (2, dt(2024, 1, 1, 0, 4), 3.5)],
        ["user_id", "ts", "value"],
    )
    out = {r["event_id"]: r for r in asof_join(left, right).collect()}
    assert out[1]["r_value"] == 2.5  # latest right row <= ts
    assert out[2]["r_value"] is None and out[2]["r_ts"] is None  # no prior row
    assert out[3]["r_value"] == 3.5  # ts equality counts as matched


def test_ivf_assigns_centroid_to_own_cell(spark, sf_dir):
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id").isin(list(similarity.CENTROID_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in rows)
    assigned = {
        r["vec_id"]: r["cell"]
        for r in similarity.ivf_assign(emb, centroids)
        .where(F.col("vec_id").isin(list(similarity.CENTROID_VEC_IDS)))
        .collect()
    }
    assert all(assigned[cid] == cid for cid in similarity.CENTROID_VEC_IDS)


def test_ivf_topk_subset_of_probed_cells(spark, sf_dir):
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.where(F.col("vec_id").isin(list(similarity.CENTROID_VEC_IDS)))
        .select("vec_id", "embedding")
        .collect()
    )
    centroids = sorted((r["vec_id"], list(r["embedding"])) for r in rows)
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    out = similarity.ivf_ann_topk(emb, q, centroids, k=10, exclude_vec_id=0).collect()
    assert 0 < len(out) <= 10
    assert len({r["cell"] for r in out}) <= similarity.N_PROBE


def test_salted_groupby_sum_matches_plain(spark, sf_dir):
    from datafusion_ray_spark.operators.skew import salted_groupby_sum
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.round(F.col("l_quantity") * 100).cast("long").alias("qc")
    )
    plain = {r["l_returnflag"]: r["s"] for r in
             li.groupBy("l_returnflag").agg(F.sum("qc").alias("s")).collect()}
    salted = {r["l_returnflag"]: r["sum_qc"] for r in
              salted_groupby_sum(li, "l_returnflag", "qc").collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark, sf_dir):
    from datafusion_ray_spark.operators.skew import salted_join
    from datafusion_ray_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").withColumnRenamed(
        "n_nationkey", "c_nationkey"
    )
    plain = cust.join(nation, "c_nationkey").groupBy("n_name").count()
    salted = salted_join(cust, nation, "c_nationkey").groupBy("n_name").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_winnow_fingerprints_identity_and_difference(docs):
    out = {r["doc_id"]: r["winnow_hash"] for r in text.winnow_fingerprints(docs).collect()}
    assert out[1] == out[2]      # identical texts -> identical fingerprint set
    assert out[1] != out[4]      # unrelated texts -> different sets


def test_kmeans_ivf_improves_assignment(spark, sf_dir):
    """Learned centroids must (a) keep shape, (b) give a no-worse total
    within-cell cosine than the fixed seed centroids, (c) drive a working
    ivf_ann_topk."""
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    learned = similarity.kmeans_centroids(emb, k=8, iterations=2)
    assert len(learned) == 8 and all(len(v) == 64 for _, v in learned)

    def mean_best_score(cents):
        from pyspark.sql import functions as F

        assigned = similarity.ivf_assign(emb, cents)
        pairs = {cid: v for cid, v in cents}
        # score of each vector against its own cell centroid
        scores = []
        for cid, vec in cents:
            sub = assigned.where(F.col("cell") == cid)
            scored = similarity.with_cosine(sub, vec)
            scores.extend(r["cosine"] for r in scored.select("cosine").collect())
        return sum(scores) / len(scores)

    seeds = [(i, list(r["embedding"])) for i, r in enumerate(
        emb.orderBy("vec_id").limit(8).select("embedding").collect())]
    assert mean_best_score(learned) >= mean_best_score(seeds) - 1e-9

    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    out = similarity.ivf_ann_topk(emb, q, learned, k=5, exclude_vec_id=0).collect()
    assert 0 < len(out) <= 5


def test_approx_sketches_error_bounds(spark, sf_dir):
    """HLL distinct and t-digest percentile are rows-only at the driver
    (engine-specific sketches); bound their relative error here instead."""
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx"),
        F.countDistinct("l_orderkey").alias("exact"),
        F.expr("approx_percentile(l_quantity, 0.5)").alias("p50_approx"),
        F.expr("percentile(l_quantity, 0.5)").alias("p50_exact"),
    ).first()
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.03  # 3x rsd
    assert abs(row["p50_approx"] - row["p50_exact"]) <= 1.0


def test_multimodal_resize_deterministic(docs):
    out = multimodal.resize(multimodal.with_binary_payload(docs), width=8, height=4)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert all(len(r["payload"]) == 32 for r in rows.values())
    assert rows[1]["payload"] == rows[2]["payload"]  # identical source bytes


def test_multimodal_frame_sample_fanout(docs):
    out = multimodal.frame_sample(
        multimodal.with_binary_payload(docs), frame_bytes=10, every_n=2
    )
    rows = out.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1 text is 44 chars -> 5 frames of 10 -> sampled frames 0, 2, 4
    d1 = sorted(by_doc[1], key=lambda r: r["frame_id"])
    assert [r["frame_id"] for r in d1] == [0, 2, 4]
    assert d1[0]["n_bytes"] == 10


@pytest.mark.parametrize(
    "edges, expected",
    [
        pytest.param(
            [(1, 2), (2, 3), (7, 9), (10, 11), (3, 5)],
            {1: 1, 2: 1, 3: 1, 5: 1, 7: 7, 9: 7, 10: 10, 11: 10},
            id="chains",
        ),
        # a hub joined to 1..39, plus a chain: the hub's whole neighborhood
        # lands in one window partition in round 1
        pytest.param(
            [(0, i) for i in range(1, 40)] + [(50, 51), (51, 52)],
            {**{i: 0 for i in range(40)}, 50: 50, 51: 50, 52: 50},
            id="hub",
        ),
    ],
)
def test_duplicate_groups_transitive_closure(spark, edges, expected):
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    rows = dedup.duplicate_groups(pairs).collect()
    assert len(rows) == len(expected)  # one row per doc
    assert {r["doc_id"]: r["group_id"] for r in rows} == expected


def test_duplicate_groups_deep_chain_converges(spark):
    """A 300-node path graph (diameter 299) must converge WITHIN the
    default iteration cap: alternating large-star/small-star contracts
    components in O(log^2 n) rounds (~10 here) where one-hop label
    propagation would need 299 (the 10x scale gate hit exactly this with
    chain-shaped cosine components)."""
    import warnings

    n = 300
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    with warnings.catch_warnings():
        # non-convergence warns -> fail; scope to UserWarning so py4j
        # socket-GC ResourceWarnings don't turn into unraisable noise
        warnings.simplefilter("error", UserWarning)
        rows = dedup.duplicate_groups(pairs).collect()
    assert len(rows) == n
    assert {r["group_id"] for r in rows} == {0}


def test_duplicate_groups_no_premature_star_forest_exit(spark):
    """Advisor round-5 counterexample: after one contraction round this
    component's edge set is parent/child-disjoint but NOT a star forest —
    node(s) have two distinct parents. A terminal test checking only
    parent/child disjointness exits early, splitting the single component
    {1..9} into two groups and emitting doc 3 under BOTH group_ids
    (duplicate doc_id rows). The fixed ``_is_star_forest`` additionally
    requires every child to have exactly one distinct parent."""
    edges = [(3, 4), (4, 8), (3, 5), (5, 9), (1, 6), (6, 8), (2, 7),
             (7, 9), (1, 4), (2, 5)]
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    rows = dedup.duplicate_groups(pairs).collect()
    # exactly one row per doc (no doc in two groups) ...
    ids = sorted(r["doc_id"] for r in rows)
    assert ids == list(range(1, 10))
    # ... and one component rooted at the minimum
    assert {r["group_id"] for r in rows} == {1}


def test_is_star_forest_rejects_multi_parent_child(spark):
    """Unit form of the counterexample: {(1,4),(3,4)} is parent/child-
    disjoint yet not a star forest (child 4 has parents 1 and 3), while
    {(1,2),(1,3),(4,5)} is a genuine star forest."""
    bad = spark.createDataFrame([(1, 4), (3, 4)], ["s", "t"])
    good = spark.createDataFrame([(1, 2), (1, 3), (4, 5)], ["s", "t"])
    assert dedup._is_star_forest(bad) is False
    assert dedup._is_star_forest(good) is True


def test_count_min_upper_bound_property(spark, sf_dir):
    """CMS guarantee: estimate >= true count, always."""
    from datafusion_ray_spark.operators.sketch import count_min_build, count_min_estimate
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    keys = [1, 2, 3, 10, 99999999]  # incl. an absent key
    sketch = count_min_build(li, "l_partkey")
    est = {r["key"]: r["est"] for r in count_min_estimate(sketch, keys).collect()}
    true = {
        str(r["l_partkey"]): r["c"]
        for r in li.groupBy("l_partkey").agg(F.count("*").alias("c")).collect()
    }
    n = li.count()
    for k in keys:
        t = true.get(str(k), 0)
        assert t <= est[str(k)] <= n, (k, t, est[str(k)])


def test_count_min_merge_property(spark, sf_dir):
    """CMS counters merge by ADDITION: sum-combining two shards' sketches
    equals the whole-corpus sketch counter-for-counter — the property that
    lets every executor (or every day's partition) sketch independently."""
    from datafusion_ray_spark.operators.sketch import count_min_build
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    merged = (
        count_min_build(a, "l_partkey")
        .unionByName(count_min_build(b, "l_partkey"))
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    whole = count_min_build(li, "l_partkey")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


def test_hll_merge_property(spark, sf_dir):
    """HLL registers merge: max-combining two shards' register tables gives
    exactly the registers of the union — the property that lets sketches
    compose across partitions/days at scale."""
    from datafusion_ray_spark.operators.sketch import hll_estimate, hll_registers
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_orderkey") % 2 == 0)
    b = li.where(F.col("l_orderkey") % 2 == 1)
    merged = (
        hll_registers(a, "l_orderkey")
        .unionByName(hll_registers(b, "l_orderkey"))
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    whole = hll_registers(li, "l_orderkey")
    assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))
    est_merged = hll_estimate(merged).first()["hll_est"]
    est_whole = hll_estimate(whole).first()["hll_est"]
    assert est_merged == est_whole


def test_hll_duplicate_insensitive(spark, sf_dir):
    """Cardinality estimate is unchanged by duplicating every row."""
    from datafusion_ray_spark.operators.sketch import hll_estimate, hll_registers
    from datafusion_ray_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    doubled = li.unionByName(li)
    e1 = hll_estimate(hll_registers(li, "l_orderkey")).first()["hll_est"]
    e2 = hll_estimate(hll_registers(doubled, "l_orderkey")).first()["hll_est"]
    assert e1 == e2


def test_repetition_stats_flags_repeated_text(spark):
    rows = [
        (1, "spam spam spam spam spam spam"),
        (2, "every word here is completely unique today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in text.repetition_stats(df).collect()}
    # doc 1: all 5 bigrams are "spam spam" -> 4 of 5 are duplicates.
    assert out[1]["dup_bigram_frac"] == 0.8
    assert out[1]["top_word"] == "spam"
    assert out[1]["top_word_frac"] == 1.0
    assert not out[1]["pass_repetition"]
    assert out[2]["dup_bigram_frac"] == 0.0
    assert out[2]["pass_repetition"]


def test_repetition_top_word_tiebreak_deterministic(spark):
    df = spark.createDataFrame([(1, "b a b a")], ["doc_id", "text"])
    row = text.repetition_stats(df).first()
    # a and b tie at 2 -> lexicographically-first wins.
    assert row["top_word"] == "a"
    assert row["top_word_frac"] == 0.5


def test_paragraph_dedup_drops_repeated_chunk(spark):
    base = " ".join(f"w{i}" for i in range(20))  # one full chunk
    uniq = " ".join(f"u{i}" for i in range(20))
    rows = [(1, base + " " + uniq), (2, base + " tail words here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.paragraph_dedup(df).collect()}
    # doc 1 owns the first occurrence of `base` (lower doc_id): keeps both
    # chunks; doc 2's copy of `base` is dropped, its tail chunk survives.
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    import hashlib
    assert out[2]["kept_hash"] == hashlib.md5(b"tail words here").hexdigest()


def test_heavy_hitters_finds_planted_key(spark):
    from datafusion_ray_spark.operators.sketch import heavy_hitters

    rows = [(7,)] * 500 + [(11,)] * 300 + [(i,) for i in range(100, 300)]
    df = spark.createDataFrame(rows, ["k"])
    out = heavy_hitters(df, "k", threshold_frac=0.1, k=5).collect()
    assert [r["key"] for r in out[:2]] == [7, 11]
    assert out[0]["exact"] == 500 and out[1]["exact"] == 300
    # CMS invariant: the estimate never undercounts.
    assert all(r["no_underestimate"] for r in out)
    assert all(r["est"] >= r["exact"] for r in out)


def test_bloom_no_false_negatives_and_merge(spark):
    from datafusion_ray_spark.operators.sketch import bloom_build, bloom_probe

    a = spark.createDataFrame([(i,) for i in range(50)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(50, 100)], ["k"])
    whole = bloom_build(a.unionByName(b), "k")
    # Merge = union+distinct of the set-bit tables (the Bloom OR).
    merged = bloom_build(a, "k").unionByName(bloom_build(b, "k")).distinct()
    assert sorted(r["bit"] for r in merged.collect()) == sorted(
        r["bit"] for r in whole.collect()
    )
    probed = {
        int(r["key"]): r["claimed"]
        for r in bloom_probe(whole, list(range(100)) + [10**6, 10**6 + 1]).collect()
    }
    # Guarantee: every inserted key reports present.
    assert all(probed[i] for i in range(100))


def test_bm25_rare_term_outranks_common(spark):
    from datafusion_ray_spark.operators.tfidf import bm25_scores

    rows = [(1, "rareword filler filler"), (2, "common filler filler")] + [
        (i, "common filler text here") for i in range(3, 30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_scores(df, ["rareword", "common"], k=5).collect()
    # The doc holding the corpus-rare term must rank first.
    assert out[0]["doc_id"] == 1
    assert out[0]["n_matched_terms"] == 1
    assert all(out[0]["bm25"] > r["bm25"] for r in out[1:])


def test_write_shards_roundtrip_order(spark, sf_dir, tmp_path):
    from datafusion_ray_spark.operators.shuffleop import seeded_shuffle, write_shards
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    path = str(tmp_path / "shards")
    write_shards(docs.select("doc_id", "text"), path, n_shards=4)
    back = spark.read.parquet(path)
    expect = seeded_shuffle(docs, n_shards=4)
    # Same membership per shard, and the stored file order IS the
    # permutation order: doc_ids within a shard file appear sorted by pos.
    got = {
        (r["shard"], r["doc_id"])
        for r in back.select("shard", "doc_id").collect()
    }
    want = {(r["shard"], r["doc_id"]) for r in expect.collect()}
    assert got == want
    import pyspark.sql.functions as F

    pos = {(r["shard"], r["doc_id"]): r["pos"] for r in expect.collect()}
    one = back.where(F.col("shard") == 0).withColumn(
        "file_order", F.monotonically_increasing_id()
    )
    rows = sorted(one.collect(), key=lambda r: r["file_order"])
    positions = [pos[(0, r["doc_id"])] for r in rows]
    assert positions == sorted(positions)


def test_dsir_select_top_fraction(spark, sf_dir):
    from datafusion_ray_spark.operators.dsir import dsir_logweights, dsir_select
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    w = dsir_logweights(docs, target)
    n = w.count()
    sel = dsir_select(docs, target, frac=0.2)
    assert sel.count() == int(n * 0.2)
    ranked = sorted(
        w.collect(), key=lambda r: (-r["logw_nats"], r["doc_id"])
    )[: int(n * 0.2)]
    assert {r["doc_id"] for r in sel.collect()} == {r["doc_id"] for r in ranked}


def test_dsir_target_docs_score_higher(spark, sf_dir):
    """Sanity: English docs should average a higher importance weight when
    the target distribution is English docs."""
    from datafusion_ray_spark.operators.dsir import dsir_logweights
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en")
    w = dsir_logweights(docs, target).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    avg = {
        r["is_en"]: r["m"]
        for r in w.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("logw_nats").alias("m"))
        .collect()
    }
    assert avg[True] > avg[False]


def test_ngram_decontaminate_planted(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix words"),  # shares a 4-gram
            (2, "completely unrelated text with other tokens"),
            (3, "tiny doc"),  # shorter than k
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: (r["n_shared_grams"], r["contaminated"])
        for r in text.ngram_decontaminate(train, bench, k=4).collect()
    }
    assert out[1][1] and out[1][0] >= 1
    assert out[2] == (0, False)
    assert out[3] == (0, False)


def test_pca_components_orthonormal_and_ranked(spark, sf_dir):
    import numpy as np

    from datafusion_ray_spark.operators.linalg import pca_components, pca_project
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    mean, comps = pca_components(emb, k=4)
    # orthonormal basis
    assert np.allclose(comps @ comps.T, np.eye(4), atol=1e-8)
    # projected variance is decreasing across components
    proj = pca_project(emb, k=4)
    x = np.stack([r["proj"] for r in proj.collect()])
    var = x.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(3))
    # and the first component captures at least as much variance as any
    # single raw dimension it could be replaced by
    raw = np.stack([r["embedding"] for r in emb.collect()]).astype(float)
    assert var[0] >= raw.var(axis=0).max() - 1e-9


def test_gram_partials_match_fixed_point_covariance(spark, sf_dir):
    """The numpy Gram-partial covariance agrees with the certified
    fixed-point covariance entries (to quantization tolerance)."""
    import numpy as np

    from datafusion_ray_spark.operators.linalg import (
        covariance_entries,
        gram_partials,
    )
    from datafusion_ray_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n, s, g = gram_partials(emb)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    for r in covariance_entries(emb, dims=4).collect():
        assert abs(cov[r["i"], r["j"]] - r["cov"]) < 1e-5


def test_incremental_dedup_equals_batch_restriction(spark, sf_dir):
    """Incremental ingest (new batch vs corpus index) must equal the
    full-corpus batch pairs restricted to pairs involving a new doc."""
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.where(F.col("source") == "src0")
    old = docs.where(F.col("source") != "src0")
    inc = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["is_near_dup"])
        for r in dedup.incremental_dedup_pairs(old, new).collect()
    }
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    batch = {
        (r["doc_a"], r["doc_b"]): (r["jaccard"], r["is_near_dup"])
        for r in dedup.minhash_dedup_pairs(docs).collect()
        if r["doc_a"] in new_ids or r["doc_b"] in new_ids
    }
    assert inc == batch


def test_quality_classifier_learns_rule_signal(spark, sf_dir):
    """Weak-label bootstrap end to end: train on a TEXT-DERIVED rule (the
    synthetic corpus shares one vocabulary across the lang/source columns,
    so only content rules are learnable), then the model must (a) agree
    with the rule on held-in data near-perfectly and (b) rank planted
    in-class text above out-of-class text."""
    pytest.importorskip("numpy")
    from datafusion_ray_spark.operators import classifier
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    rule = F.col("text").like("%spark%")
    labeled = classifier.weak_labels(docs, rule)
    base_rate = labeled.agg(F.avg("label")).first()[0]
    assert 0.1 < base_rate < 0.9, "rule no longer well-distributed"
    model = classifier.train_quality_classifier(labeled)
    scored = classifier.score_quality(model, docs).join(
        labeled.select("doc_id", "label"), "doc_id"
    )
    agree = scored.where(
        F.col("quality_pred") == F.col("label").cast("int")
    ).count() / scored.count()
    assert agree >= 0.9, f"classifier barely learned the rule signal: {agree}"

    planted = spark.createDataFrame(
        [(900001, "big spark table merge sort"), (900002, "big table merge sort row")],
        ["doc_id", "text"],
    )
    probs = {
        r["doc_id"]: r["quality_prob"]
        for r in classifier.score_quality(model, planted).collect()
    }
    assert probs[900001] > probs[900002]


def test_substring_dup_pairs_find_planted_span(spark):
    """A long verbatim span copied between two docs must surface with a
    large shared-fingerprint count; unrelated docs with disjoint content
    must not pair (alphabet chosen so no incidental window collides)."""
    span = "x7q9z2m4k8w1r5t3y6u0p9o8i7u6y5t4r3e2w1q0a9s8d7f6g5h4j3k2l1"
    rows = [
        (1, "aaa bbb ccc " + span + " ddd eee", "en", "s", 80),
        (2, "fff ggg " + span + " hhh iii jjj", "en", "s", 80),
        (3, "nnnnn mmmmm ooooo ppppp qqqqq rrrrr sssss ttttt vvvvv zzzzz", "en", "s", 59),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in text.substring_dup_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert (1, 3) not in got and (2, 3) not in got


def test_dsir_select_approx_matches_exact(spark):
    """The 100 TB selection path (approxQuantile threshold + pure filter,
    no global sort) must agree with the exact global-rank top-k up to the
    quantile error band: high overlap, similar size, and pure
    upward-closedness (it may only disagree about threshold-tied docs)."""
    from datafusion_ray_spark.operators.dsir import dsir_select, dsir_select_approx
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    target = docs.where(F.col("source") == "src0")
    frac = 0.3
    exact = {r["doc_id"]: r["logw_nats"]
             for r in dsir_select(docs, target, frac).collect()}
    approx = {r["doc_id"]: r["logw_nats"]
              for r in dsir_select_approx(docs, target, frac).collect()}
    k = len(exact)
    assert k > 0
    overlap = len(exact.keys() & approx.keys()) / k
    assert overlap >= 0.9, f"overlap {overlap:.2f}"
    assert abs(len(approx) - k) <= max(5, 0.1 * k)
    # threshold-purity: the approx set must be exactly {logw >= t} for
    # some t — no doc outside it may outscore a doc inside it. (It may
    # legitimately sit one tie-band below the exact kth value; that IS
    # the rel_err quantile band.)
    from datafusion_ray_spark.operators.dsir import dsir_logweights

    all_w = {r["doc_id"]: r["logw_nats"]
             for r in dsir_logweights(docs, target).collect()}
    excluded = [v for d, v in all_w.items() if d not in approx]
    assert min(approx.values()) >= max(excluded)


def test_ppl_bucket_sample_approx_matches_exact_strata(spark):
    """Approx strata (approxQuantile cuts, no global NTILE) must assign
    the same bucket as the exact NTILE for nearly all docs, keep the
    per-bucket cap, and be run-to-run deterministic."""
    from datafusion_ray_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    scored = text.lm_score(docs)
    n = scored.count()
    from pyspark.sql import Window

    exact_bucket = {
        r["doc_id"]: r["b"]
        for r in scored.withColumn(
            "b", F.ntile(3).over(Window.orderBy(F.asc("xent_bits"), F.asc("doc_id")))
        ).select("doc_id", "b").collect()
    }
    cuts = scored.approxQuantile("xent_bits", [1 / 3, 2 / 3], 0.001)
    approx_bucket = {
        r["doc_id"]: r["b"]
        for r in scored.withColumn(
            "b",
            sum((F.col("xent_bits") > F.lit(float(c))).cast("int") for c in cuts)
            + F.lit(1),
        ).select("doc_id", "b").collect()
    }
    agree = sum(exact_bucket[d] == approx_bucket[d] for d in exact_bucket) / n
    assert agree >= 0.95, f"stratum agreement {agree:.2f}"

    out1 = text.ppl_bucket_sample_approx(docs).collect()
    out2 = text.ppl_bucket_sample_approx(docs).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    from collections import Counter

    per = Counter(r["bucket"] for r in out1)
    assert set(per) == {1, 2, 3} and all(v <= 20 for v in per.values())


def test_attribution_credits_last_touch_within_lookback(spark):
    """Planted journeys: the purchase credits the LATEST preceding touch
    (view then click -> click); a touch older than the lookback window
    doesn't qualify ('none'); a conversion-less user contributes nothing;
    error events never receive credit."""
    from datafusion_ray_spark.operators.suite4 import (
        ATTRIBUTION_LOOKBACK_US,
        attribution,
    )

    day = 24 * 3600 * 1_000_000
    rows = [
        # user 1: view @t0, click @t1, purchase @t2 -> click credited
        (1, "view", 10, 0 * day, 0),
        (1, "click", 11, 1 * day, 0),
        (1, "purchase", 12, 2 * day, 5_000_000),
        # user 2: click 8 days before purchase -> outside lookback, 'none'
        (2, "click", 20, 0 * day, 0),
        (2, "purchase", 21, ATTRIBUTION_LOOKBACK_US + day, 7_000_000),
        # user 3: error then purchase -> error is not a touch, 'none'
        (3, "error", 30, 0 * day, 0),
        (3, "purchase", 31, 1 * day, 1_000_000),
        # user 4: touches but no purchase -> no output contribution
        (4, "click", 40, 0 * day, 0),
    ]
    ev = spark.createDataFrame(
        rows, ["user_id", "event_type", "event_id", "eus", "vus"]
    )
    out = {r["touch_type"]: r for r in attribution(ev).collect()}
    assert out["click"]["n_conversions"] == 1
    assert out["click"]["value_us"] == 5_000_000
    assert out["none"]["n_conversions"] == 2
    assert out["none"]["value_us"] == 8_000_000
    assert "view" not in out and "error" not in out


def test_linear_attribution_splits_value_exactly(spark):
    """Planted journeys: two touches in-window split the purchase value
    in exact pico-dollar floor shares; a touch outside the lookback gets
    nothing; an untouched purchase lands whole in 'none'."""
    from datafusion_ray_spark.operators.suite4 import (
        ATTRIBUTION_LOOKBACK_US,
        linear_attribution,
    )

    day = 24 * 3600 * 1_000_000
    rows = [
        # user 1: view + click in-window, purchase of 5_000_001 micro
        # -> each credited floor(5000001e6 / 2), remainder dropped
        (1, "view", 10, 0 * day, 0),
        (1, "click", 11, 1 * day, 0),
        (1, "purchase", 12, 2 * day, 5_000_001),
        # user 2: click 8 days before purchase -> outside lookback
        (2, "click", 20, 0 * day, 0),
        (2, "purchase", 21, ATTRIBUTION_LOOKBACK_US + day, 7_000_000),
    ]
    ev = spark.createDataFrame(
        rows, ["user_id", "event_type", "event_id", "eus", "vus"]
    )
    out = {r["touch_type"]: r for r in linear_attribution(ev).collect()}
    share_us = (5_000_001 * 1_000_000 // 2) // 1_000_000  # pico agg, micro out
    assert out["view"]["n_credits"] == 1 and out["view"]["value_credit_us"] == share_us
    assert out["click"]["n_credits"] == 1 and out["click"]["value_credit_us"] == share_us
    assert out["none"]["n_credits"] == 1
    assert out["none"]["value_credit_us"] == 7_000_000


def test_band_count_equals_naive_pairs_with_exact_boundaries(spark):
    """The CDF band count must equal a naive per-pair count using the
    SAME boundary arithmetic (t >= p - eps AND t <= p + eps), including
    targets landing exactly ON a band edge, empty bands, negative
    values, and bucket-straddling bands."""
    import numpy as np

    rng = np.random.RandomState(3)
    eps = 0.5
    targets = list(np.round(rng.uniform(-3, 3, 200), 2))
    targets += [1.25 - eps, 1.25 + eps, -2.0, -2.0]  # exact edges + ties
    probes = list(np.round(rng.uniform(-3, 3, 50), 2)) + [1.25, -1.5, 9.0]
    tdf = spark.createDataFrame([(float(v),) for v in targets], ["value"])
    pdf = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(probes)], ["event_id", "value"]
    )
    from datafusion_ray_spark.operators.rangejoin import band_count

    got = {
        r["event_id"]: r["n_close"]
        for r in band_count(
            pdf, tdf, probe_val="value", target_val="value",
            eps=eps, id_col="event_id",
        ).collect()
    }
    for i, p in enumerate(probes):
        lo, hi = p - eps, p + eps
        want = sum(1 for t in targets if lo <= t <= hi)
        assert got[i] == want, f"probe {p}: {got[i]} != {want}"
