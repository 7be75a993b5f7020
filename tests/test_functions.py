"""SQL function library: the registered UDFs (`functions/__init__.py`) and
the UDTFs (`functions/udtfs.py`)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_ray_spark.functions import register_sql_functions
from datafusion_ray_spark.sources.tables import load_table


def test_registered_udfs_callable_from_sql(spark, sf_dir):
    names = register_sql_functions(spark)
    assert names == ["bpe_token_estimate", "cosine_sim", "jaccard_sim"]
    load_table(spark, sf_dir, "embeddings").createOrReplaceTempView("embeddings")
    row = spark.sql(
        "SELECT ROUND(cosine_sim(embedding, embedding), 6) AS self_cos "
        "FROM embeddings WHERE vec_id = 0"
    ).first()
    assert row["self_cos"] == 1.0
    row = spark.sql(
        "SELECT jaccard_sim(ARRAY('a','b'), ARRAY('b','c')) AS j, "
        "bpe_token_estimate('hello world spark') AS n"
    ).first()
    assert abs(row["j"] - 1 / 3) < 1e-9
    assert row["n"] == 2 + 2 + 2  # ceil(5/4)=2 per word


def test_udf_matches_jvm_cosine(spark, sf_dir):
    """The pandas_udf slow path and the codegen fast path agree."""
    from datafusion_ray_spark.functions import cosine_sim
    from datafusion_ray_spark.operators.similarity import with_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    fast = {
        r["vec_id"]: r["cosine"]
        for r in with_cosine(emb.limit(50), q).select("vec_id", "cosine").collect()
    }
    qlit = F.array(*[F.lit(float(v)) for v in q]).cast("array<float>")
    slow = {
        r["vec_id"]: r["c"]
        for r in emb.limit(50)
        .select("vec_id", F.round(cosine_sim(F.col("embedding"), qlit), 6).alias("c"))
        .collect()
    }
    assert fast == slow


def test_udtf_chunking_matches_sql_twin(spark, sf_dir):
    """The UDTF chunker (LATERAL, per-document) must agree with the
    pure-SQL doc_chunk query on chunk counts and chunk hashes."""
    from datafusion_ray_spark.functions.udtfs import register_udtfs
    from datafusion_ray_spark.sources.tables import register_tables

    register_udtfs(spark)
    register_tables(spark, sf_dir)
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.n_tokens, MD5(c.chunk) AS chunk_hash "
        "FROM documents d, LATERAL chunk_tokens(d.text, 64, 48) c"
    )
    from datafusion_ray_spark.queries.registry import build_registry

    sql_twin = build_registry()["doc_chunk"].run(spark, sf_dir)
    a = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_hash"])
         for r in via_udtf.collect()}
    b = {(r["doc_id"], r["chunk_id"]): (r["n_tokens"], r["chunk_hash"])
         for r in sql_twin.collect()}
    assert a == b and len(a) > 0


def test_udtf_char_ngrams(spark):
    from datafusion_ray_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    got = {r["ngram"] for r in spark.sql("SELECT * FROM char_ngrams('abcab', 3)").collect()}
    assert got == {"abc", "bca", "cab"}
