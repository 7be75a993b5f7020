"""Physical-plan shape assertions — the scale contract.

Correctness tests prove the operators work at sf0.001; these tests prove the
*plans* are the ones that survive 100 TB: filters reach the parquet scan,
projections prune columns, small dimensions broadcast instead of shuffling,
aggregates split partial/final, and the Python-free operator pipelines stay
entirely JVM-side (no BatchEvalPython in the hot path).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datafusion_ray_spark import DFRayContext
from datafusion_ray_spark.sources.tables import load_table


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("lineitem", f"{sf_dir}/lineitem.parquet")
    plan = ctx.sql(
        "SELECT l_orderkey FROM lineitem WHERE l_quantity < 10 AND l_discount > 0.05"
    ).execution_plan()
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1].split("]")[0]


def test_projection_prunes_scan_columns(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(docs.groupBy("lang").agg(F.sum("n_chars").alias("s")))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # The wide `text` column must not be read for a metadata-only aggregate.
    assert "text" not in read_schema
    assert "n_chars" in read_schema


def test_small_dimension_join_broadcasts(spark, sf_dir):
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("customer", f"{sf_dir}/customer.parquet")
    ctx.register_parquet("nation", f"{sf_dir}/nation.parquet")
    plan = ctx.sql(
        """
        SELECT n_name, COUNT(*) AS c
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    ).execution_plan()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the 25-row nation table must never force a full shuffle join
    assert "SortMergeJoin" not in plan


def test_groupby_splits_partial_final(spark, sf_dir):
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("lineitem", f"{sf_dir}/lineitem.parquet")
    plan = ctx.sql(
        "SELECT l_returnflag, SUM(l_quantity) AS s FROM lineitem GROUP BY l_returnflag"
    ).execution_plan()
    # map-side partial + reduce-side final (the reference's
    # Partial/FinalPartitioned split — SURVEY.md §2.2 aggregations)
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_minhash_pipeline_stays_jvm_side(spark, sf_dir):
    from datafusion_ray_spark.operators import dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = _plan(dedup.minhash_dedup_pairs(docs))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_exact_pair_family_verifies_inline(spark, sf_dir):
    """Regression pin for the round-6 100x disk-death fix: the exact-pair
    operators must verify IN the candidate join (hashed shingle sets
    carried on the index rows), never via the two-phase shape that
    materialized a distinct candidate set (InMemoryRelation from
    persist()) and re-attached both shingle arrays through two more
    joins — that reshuffled a (pair + array) stream (~100 GB at 100x).
    One SortMergeJoin/ShuffledHashJoin self-join, no cached candidate
    relation, everything JVM-side."""
    from datafusion_ray_spark.operators import dedup
    from datafusion_ray_spark.operators.suite4 import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    for df in (dedup.ngram_jaccard_pairs(docs), containment_pairs(docs)):
        plan = _plan(df)
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
        # inline verify = exactly one join node in the whole plan (count
        # the numbered detail headers: formatted explain prints each node
        # once in the tree AND once as "(N) <Node>")
        import re

        n_joins = len(re.findall(
            r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)",
            plan,
        ))
        assert n_joins == 1, plan


def test_similarity_pipeline_stays_jvm_side(spark, sf_dir):
    from datafusion_ray_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    plan = _plan(similarity.cosine_topk(emb, q, k=10))
    assert "BatchEvalPython" not in plan
    # top-k must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    ctx = DFRayContext(spark=spark)
    ctx.register_parquet("orders", f"{sf_dir}/orders.parquet")
    plan = ctx.sql(
        "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 10"
    ).execution_plan()
    assert "TakeOrderedAndProject" in plan


def test_asof_join_single_shuffle(spark, sf_dir):
    from datafusion_ray_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts", "value")
    plan = _plan(asof_join(clicks, views))
    # union + window: exactly one hash-partition exchange (on the key), and
    # never a join node (the naive range-join formulation would show one)
    assert "Join" not in plan
    tree = plan.split("\n\n")[0]
    assert tree.count("Exchange") == 1
    assert "Window" in tree


def test_range_join_is_hash_join_not_nested_loop(spark, sf_dir):
    from datafusion_ray_spark.operators.rangejoin import range_join_count

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    plan = _plan(range_join_count(errors, clicks))
    # bucketization turns the band predicate into an equi-join; the naive
    # formulation would plan BroadcastNestedLoopJoin (O(n*m) per key)
    assert "NestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_ann_index_partition_pruning(spark, sf_dir, tmp_path):
    """The materialized ANN layout prunes to one bucket partition at plan
    time — the SCALE.md claim, measured."""
    from datafusion_ray_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ann_index")
    similarity.write_ann_index(emb, path)
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])

    indexed = similarity.indexed_ann_topk(spark, path, q, k=5, exclude_vec_id=0)
    plan = _plan(indexed)
    assert "PartitionFilters" in plan and "bucket" in plan.split("PartitionFilters")[1].split("]")[0]

    # results identical to the unmaterialized LSH path
    live = similarity.lsh_ann_topk(emb, q, k=5, exclude_vec_id=0)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in live.collect()]


def test_bucketed_tables_join_without_shuffle(spark, sf_dir):
    """Bucketing both sides of a recurring join key removes the exchange
    entirely — the co-located-join pattern SCALE.md prescribes for repeated
    big-table joins."""
    from datafusion_ray_spark import plans
    from datafusion_ray_spark.sources.bucketing import bucketed_join, write_bucketed

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    write_bucketed(orders, "b_orders", "o_custkey", n_buckets=8)
    write_bucketed(cust, "b_customer", "c_custkey", n_buckets=8)
    # forbid broadcast so the test proves the BUCKETING removed the
    # exchange, not the small-table fallback
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            bucketed_join(
                spark,
                "b_orders",
                "b_customer",
                F.col("o_custkey") == F.col("c_custkey"),
            )
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n"))
        )
        assert "SortMergeJoin" in plans.plan_tree(joined)
        # join itself needs no exchange (both sides pre-bucketed on the key);
        # the only shuffle is the final small groupBy
        assert plans.shuffle_count(joined) == 1
        total = joined.agg(F.sum("n")).first()[0]
        assert total == orders.count()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bloom_probe_broadcasts_filter_not_shuffle(spark, sf_dir):
    """The bloom set-bit table is bounded, so the probe must be a broadcast
    join — the probed side streams, never shuffles for the join."""
    from datafusion_ray_spark.operators.sketch import bloom_build, bloom_probe
    from datafusion_ray_spark.plans import join_strategies, uses_python_workers

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey")
    probed = bloom_probe(bloom_build(li, "l_suppkey"), [1, 2, 0])
    assert all(s == "BroadcastHashJoin" for s in join_strategies(probed))
    assert not uses_python_workers(probed)


def test_heavy_hitters_all_joins_broadcast(spark, sf_dir):
    """Candidate generation and exact verification must both run as
    broadcast joins (sketch and candidate set are bounded-size)."""
    from datafusion_ray_spark.operators.sketch import heavy_hitters
    from datafusion_ray_spark.plans import join_strategies, uses_python_workers

    ev = load_table(spark, sf_dir, "events").select("user_id")
    hh = heavy_hitters(ev, "user_id", threshold_frac=0.0008, k=10)
    strategies = join_strategies(hh)
    assert strategies, "expected joins in the heavy-hitters plan"
    assert all(s == "BroadcastHashJoin" for s in strategies)
    assert not uses_python_workers(hh)


def test_bm25_no_explode_no_python(spark, sf_dir):
    """BM25 tf is computed array-side: no Generate (explode) node and no
    Python workers; the only join is the broadcast of the 1-row stats."""
    from datafusion_ray_spark.operators.tfidf import bm25_scores
    from datafusion_ray_spark.plans import plan_tree, uses_python_workers

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, ["dup", "window", "scan"], k=20)
    assert "Generate" not in plan_tree(scored)
    assert not uses_python_workers(scored)


def test_repetition_dup_bigram_path_shuffle_free(spark, sf_dir):
    """The dup-bigram fraction alone (array-side path) must not shuffle."""
    from datafusion_ray_spark.operators import text
    from datafusion_ray_spark.plans import shuffle_count

    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens("text")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.expr(
            "zip_with(slice(split(trim(text), '\\\\s+'), 1, size(split(trim(text), '\\\\s+')) - 1), "
            "slice(split(trim(text), '\\\\s+'), 2, size(split(trim(text), '\\\\s+')) - 1), "
            "(a, b) -> concat(a, ' ', b))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    per_doc = docs.select(
        "doc_id",
        (F.size(bigrams) - F.size(F.array_distinct(bigrams))).alias("n_dup"),
    )
    assert shuffle_count(per_doc) == 0


def test_gopher_rules_shuffle_free_jvm_only(spark, sf_dir):
    """The whole Gopher rule set is one codegen'd projection: no shuffle,
    no Python workers."""
    from datafusion_ray_spark.operators import text
    from datafusion_ray_spark.plans import shuffle_count

    out = text.gopher_rules(load_table(spark, sf_dir, "documents"))
    assert shuffle_count(out) == 0
    assert "BatchEvalPython" not in _plan(out)


def test_dsir_ratio_table_broadcasts(spark, sf_dir):
    """The fitted log-ratio table (<= B rows) must reach scoring as a
    broadcast join, never a shuffle join on bucket."""
    from datafusion_ray_spark.operators import dsir

    docs = load_table(spark, sf_dir, "documents")
    out = dsir.dsir_logweights(docs, docs.where(F.col("lang") == "en"))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan


def test_seeded_shuffle_single_exchange(spark, sf_dir):
    """Shard+rank is one hash exchange on shard, never a global sort."""
    from datafusion_ray_spark.operators.shuffleop import seeded_shuffle
    from datafusion_ray_spark.plans import shuffle_count

    out = seeded_shuffle(load_table(spark, sf_dir, "documents"))
    plan = _plan(out)
    assert shuffle_count(out) == 1
    # no global ordering operator anywhere in the plan
    assert "rangepartitioning" not in plan.lower()


def test_sample_uniform_is_take_ordered(spark, sf_dir):
    """The hash-rank sampler must plan as TakeOrderedAndProject — a global
    sort materializing 100 TB for a LIMIT 100 is a non-starter."""
    from datafusion_ray_spark.queries.registry import build_registry
    from datafusion_ray_spark.sources.tables import register_tables

    register_tables(spark, sf_dir)
    entry = build_registry()["sample_uniform"]
    assert "TakeOrderedAndProject" in _plan(entry.run(spark, sf_dir))


def test_events_date_partition_pruning(spark, sf_dir):
    """The canonical event layout: a single-day predicate must become a
    PartitionFilter (directories skipped at plan time), and the day's
    data must round-trip exactly."""
    from datafusion_ray_spark.operators.sinks import write_events_partitioned

    ev = load_table(spark, sf_dir, "events")
    back = spark.read.parquet(
        write_events_partitioned(spark, sf_dir, "event_date")
    )
    day = back.select("event_date").first()["event_date"]
    q = back.where(F.col("event_date") == day)
    plan = _plan(q)
    assert "PartitionFilters" in plan and "event_date" in plan.split("PartitionFilters")[1].split("]")[0]
    n_day = q.count()
    n_expected = ev.where(F.to_date("ts") == day).count()
    assert n_day == n_expected > 0
    assert back.count() == ev.count()


def test_bq_prescreen_zero_shuffle_take_ordered(spark, sf_dir):
    """Binary-quantization ANN: the Hamming pre-screen must be a
    zero-exchange TakeOrderedAndProject over the packed code words (pure
    scan-side XOR+popcount), with the exact rerank joining back through a
    broadcast of the limit-reduced candidate set — never a shuffle of
    vector data."""
    from datafusion_ray_spark.operators import suite6

    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.where(F.col("vec_id") == 0).first()["embedding"])
    df = suite6.bq_rerank_topk(emb, q, k=10, exclude_vec_id=0)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    from datafusion_ray_spark.plans import runtime_shuffle_metrics

    m = runtime_shuffle_metrics(df)
    assert m["n_exchange"] == 0, m
    assert m["n_broadcast"] >= 1, m


def test_lm_score_tokenizes_corpus_once(spark, sf_dir):
    """The unigram-LM vocabulary is derived from the per-doc tf aggregate
    (c_w = SUM_doc tf), so every plan leg — vocab, totals, OOV, scoring —
    sits above tf's single exchange and the corpus tokenize+explode runs
    ONCE at runtime (r11). A regression back to counting the raw token
    stream re-plans the explode under a second exchange, which shows up
    here as a lost ReusedExchange."""
    from datafusion_ray_spark.operators import text
    from datafusion_ray_spark.plans import runtime_shuffle_metrics

    df = text.lm_score(load_table(spark, sf_dir, "documents"))
    df.collect()
    m = runtime_shuffle_metrics(df)
    # tf (doc_id, word) + vocab-by-word + final per-doc agg; the repeated
    # tf/vocab legs must resolve to reuse, not fresh exchanges.
    assert m["n_exchange"] <= 5, m
    assert m["n_reused_exchange"] >= 3, m


def test_upsert_merge_single_pass(spark, sf_dir):
    """The MERGE kernel reads events ONCE for the per-side latest rows
    (r11): one window over (user_id, side) replaces the old base/chg
    split that planned four parquet scans (two window legs, each
    re-planning the bounds subtree) and a full-outer SMJ. The only
    second scan allowed is the narrow ts-only bounds aggregate."""
    import re

    from datafusion_ray_spark.operators.suite3 import run_upsert_merge

    plan = _plan(run_upsert_merge(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly one corpus window pipeline (one Window node)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_retention_cohorts_single_scan(spark, sf_dir):
    """Cohort week is a window min over the one distinct (user, week)
    pass (r11): the groupBy+join-back form planned a SECOND full events
    scan (Catalyst collapsed distinct+min into its own corpus aggregate)
    plus a user-scale broadcast build."""
    import re

    from datafusion_ray_spark.operators.suite3 import run_retention_cohorts

    plan = _plan(run_retention_cohorts(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_collocations_tokenizes_corpus_once(spark, sf_dir):
    """PMI collocations tokenize the corpus ONCE (r11): unigram and
    bigram counts come from one explode of ``concat(w, bigrams(w))``
    (disjoint key spaces — tokens never contain the space every bigram
    key has) into one pinned vocabulary-sized count table. All plan legs
    (totals action, bigram scorer, both unigram lookups) read the pin:
    the final plan must show exactly one distinct parquet scan node
    (inside the cached build) and three cache consumers."""
    import re

    from datafusion_ray_spark.operators.suite6 import run_text_collocations

    df = run_text_collocations(spark, sf_dir)
    plan = _plan(df)
    assert len(set(re.findall(r"\((\d+)\) Scan parquet", plan))) == 1, plan
    assert len(set(re.findall(r"\((\d+)\) InMemoryTableScan", plan))) >= 3, plan


def test_text_kl_tokenizes_corpus_once(spark, sf_dir):
    """KL(source ‖ corpus) explodes the corpus ONCE into one
    (source, term) count exchange that every leg — vocab, totals, the
    per-source slice, the grid probe — REUSES at runtime (r12; r11
    pinned the table with persist() instead, which paid a cache write
    plus a separate driver vocab job). A regression re-plans the explode
    under a second exchange, which shows up here as lost reuse: the
    executed plan must keep >= 4 ReusedExchange nodes and at most 4
    fresh shuffle exchanges (the (source,term) agg, ns, the final
    per-source agg, and the output sort)."""
    from datafusion_ray_spark.operators.suite6 import run_text_kl
    from datafusion_ray_spark.plans import runtime_shuffle_metrics

    df = run_text_kl(spark, sf_dir)
    df.collect()
    m = runtime_shuffle_metrics(df)
    assert m["n_exchange"] <= 4, m
    assert m["n_reused_exchange"] >= 4, m
