"""Behavioral tests for the batch-4 additions: group-holdout split,
LSH evaluation, and set-containment dedup.

Value-level certification lives in the oracle gate
(tests/test_suite_oracle.py); these pin the semantic INVARIANTS the oracle
rows don't isolate: the leakage-safety guarantee, recall/precision bounds,
and containment's asymmetry (high containment at low Jaccard).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_group_holdout_never_splits_near_dup_pairs(spark, sf_dir):
    """The whole point of the operator: for EVERY verified near-dup pair,
    both docs land on the same side of the split."""
    from datafusion_ray_spark.operators import dedup
    from datafusion_ray_spark.operators.suite4 import run_group_holdout
    from datafusion_ray_spark.sources.tables import load_table

    split = run_group_holdout(spark, sf_dir).select("doc_id", "split")
    pairs = dedup.minhash_dedup_pairs(
        load_table(spark, sf_dir, "documents")
    ).where("is_near_dup")
    straddlers = (
        pairs.join(
            split.select(F.col("doc_id").alias("doc_a"),
                         F.col("split").alias("split_a")),
            "doc_a",
        )
        .join(
            split.select(F.col("doc_id").alias("doc_b"),
                         F.col("split").alias("split_b")),
            "doc_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddlers == 0


def test_group_holdout_covers_all_docs_once(spark, sf_dir):
    from datafusion_ray_spark.operators.suite4 import run_group_holdout
    from datafusion_ray_spark.sources.tables import load_table

    out = run_group_holdout(spark, sf_dir)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs
    assert out.select("doc_id").distinct().count() == n_docs
    sides = {r["split"] for r in out.select("split").distinct().collect()}
    assert sides <= {"train", "eval"} and "train" in sides


def test_lsh_eval_bounds(spark, sf_dir):
    """recall/precision are valid ppm ratios, and the intersection can't
    exceed either of its parents."""
    from datafusion_ray_spark.operators.suite4 import run_lsh_eval

    row = run_lsh_eval(spark, sf_dir).collect()[0]
    assert row["n_matched"] <= row["n_exact"]
    assert row["n_lsh_true"] <= row["n_candidates"]
    if row["n_exact"]:
        assert 0 <= row["recall_ppm"] <= 1_000_000
    if row["n_candidates"]:
        assert 0 <= row["precision_ppm"] <= 1_000_000


def test_containment_catches_subdocument_dup_jaccard_misses(spark):
    """A short doc embedded verbatim in a much longer one: containment ~ 1
    while Jaccard is far below the near-dup threshold."""
    from datafusion_ray_spark.operators.dedup import JACCARD_THRESHOLD
    from datafusion_ray_spark.operators.suite4 import containment_pairs

    base = " ".join(f"w{i}" for i in range(30))
    filler = " ".join(f"pad{i}" for i in range(300))
    docs = spark.createDataFrame(
        [
            (1, base, "s"),
            (2, base + " " + filler, "s"),
            (3, " ".join(f"z{i}" for i in range(50)), "s"),
        ],
        "doc_id long, text string, source string",
    )
    got = containment_pairs(docs).collect()
    assert [(r["doc_small"], r["doc_big"]) for r in got] == [(1, 2)]
    assert got[0]["containment_ppm"] >= 900_000
    # sanity: that pair's Jaccard really is below the symmetric threshold
    inter, union = 28.0, (28 + 328 - 28)  # 3-shingle counts
    assert inter / union < JACCARD_THRESHOLD


def test_seq_match_nonoverlapping_counts(spark, monkeypatch, tmp_path):
    """vc*p matches scan left-to-right non-overlapping: 'vcpvpp' has two
    conversions (vcp, vp) and the trailing p alone matches nothing; 'eee'
    is ONE burst (greedy e+), not two."""
    import datetime as dt

    import datafusion_ray_spark.operators.suite4 as s4

    sym2type = {"v": "view", "c": "click", "p": "purchase", "e": "error"}
    rows = []
    for uid, journey in ((1, "vcpvpp"), (2, "eee"), (3, "pvc")):
        for i, ch in enumerate(journey):
            rows.append((uid * 100 + i, dt.datetime(2024, 1, 1, 0, i),
                         uid, sym2type[ch], 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = {r["user_id"]: (r["n_conversions"], r["n_error_bursts"])
           for r in s4.run_seq_match(spark, "ignored").collect()}
    assert got == {1: (2, 0), 2: (0, 1), 3: (0, 0)}


def test_cep_match_rejects_bad_symbol_maps_and_unknown_types(spark):
    """The parameterized operator fails loudly instead of conflating: a
    colliding symbol map raises at build time; an event type missing from
    the map raises at execution (raise_error), never silently merges."""
    import datetime as dt

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from datafusion_ray_spark.operators.suite4 import cep_match

    df = spark.createDataFrame(
        [(1, 1, 1_000_000, "search")],
        "user_id long, event_id long, eus long, event_type string",
    )
    with pytest.raises(ValueError, match="colliding"):
        cep_match(df, {"x": "s+"}, {"signup": "s", "search": "s"})
    with pytest.raises(ValueError, match="single chars"):
        cep_match(df, {"x": "s+"}, {"signup": "si"})
    with pytest.raises(Exception, match="unmapped event_type"):
        cep_match(df, {"x": "v+"}).collect()
    _ = dt


def test_cep_match_second_pattern_set(spark, monkeypatch):
    """v{3,} counts maximal view streaks; s[vc]*p requires the signup
    before the purchase."""
    import datetime as dt

    import datafusion_ray_spark.operators.suite4 as s4

    sym2type = {"v": "view", "c": "click", "p": "purchase", "e": "error",
                "s": "signup"}
    rows = []
    for uid, journey in ((1, "vvvvsvcp"), (2, "svvvvvvp"), (3, "vcp")):
        for i, ch in enumerate(journey):
            rows.append((uid * 100 + i, dt.datetime(2024, 1, 1, 0, i),
                         uid, sym2type[ch], 1.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = {r["user_id"]: (r["n_view_streaks"], r["n_signup_journeys"])
           for r in s4.run_seq_match2(spark, "ignored").collect()}
    # uid1: vvvv=1 streak, svcp=1 journey; uid2: vvvvvv=1 streak (greedy),
    # s...p=1 journey; uid3: no streak (only 1 v), no signup
    assert got == {1: (1, 1), 2: (1, 1), 3: (0, 0)}


def test_markov_probabilities_sum_per_state(spark, sf_dir):
    from pyspark.sql import functions as F

    from datafusion_ray_spark.operators.suite4 import run_markov_transitions

    out = run_markov_transitions(spark, sf_dir)
    sums = (
        out.groupBy("from_type")
        .agg(F.sum("p_ppm").alias("s"), F.count("*").alias("k"))
        .collect()
    )
    for r in sums:
        # floor-division ppm: each of the k terms loses < 1 ppm
        assert 1_000_000 - r["k"] < r["s"] <= 1_000_000


def test_mode_tie_breaks_to_smallest_value(spark, monkeypatch):
    import datafusion_ray_spark.operators.suite4 as s4

    # flag 'A': values 3 and 1 both occur twice -> mode must be 1
    rows = [("A", 3, 10.0), ("A", 3, 20.0), ("A", 1, 30.0), ("A", 1, 40.0),
            ("B", 2, 5.0)]
    df = spark.createDataFrame(
        rows, "l_returnflag string, l_linenumber int, l_quantity double"
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = {r["l_returnflag"]: (r["mode_linenumber"], r["median_qty"])
           for r in s4.run_mode_median(spark, "ignored").collect()}
    assert got["A"] == (1, 25.0)
    assert got["B"] == (2, 5.0)


def test_scene_cuts_finds_known_boundary(spark):
    """Payload = 4 quiet frames then 4 loud frames: exactly one cut, at the
    first loud frame; tail frame may be short."""
    from datafusion_ray_spark.operators.multimodal import frame_lumas, scene_cuts

    quiet, loud = bytes([10] * 256), bytes([200] * 256)
    p1 = quiet * 4 + loud * 4            # cut at frame 4
    p2 = quiet * 3 + bytes([10] * 100)   # flat, short tail, no cut
    df = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))], "doc_id long, payload binary"
    )
    lumas = {(r["doc_id"], r["frame_id"]): (r["luma"], r["flen"])
             for r in frame_lumas(df).collect()}
    assert lumas[(1, 0)] == (10 * 256, 256)
    assert lumas[(1, 4)] == (200 * 256, 256)
    # short tail frame sums its real bytes and reports its real length, so
    # the mean-based cut rule does NOT false-trigger on it
    assert lumas[(2, 3)] == (10 * 100, 100)
    got = {r["doc_id"]: (r["n_frames"], r["n_cuts"], r["first_cut"])
           for r in scene_cuts(df).collect()}
    assert got[1] == (8, 1, 4)
    assert got[2] == (4, 0, -1)


def test_frame_lumas_drops_null_payloads(spark):
    """A NULL payload yields no frames and leaves its neighbours' frames
    (which share the batch's offsets buffer) intact."""
    from datafusion_ray_spark.operators.multimodal import frame_lumas

    df = spark.createDataFrame(
        [(1, bytearray([3] * 300)), (2, None), (3, bytearray([5] * 10))],
        "doc_id long, payload binary",
    ).coalesce(1)
    got = sorted(tuple(r) for r in frame_lumas(df).collect())
    assert got == [(1, 0, 3 * 256, 256), (1, 1, 3 * 44, 44), (3, 0, 50, 10)]


def test_containment_tie_break_and_threshold(spark):
    """Equal-size sets: smaller doc_id is 'small'; pairs under the
    threshold are dropped."""
    from datafusion_ray_spark.operators.suite4 import containment_pairs

    a = " ".join(f"t{i}" for i in range(20))
    b = " ".join(f"t{i}" for i in range(18)) + " x0 x1"  # 16/18 shared 3-shingles
    docs = spark.createDataFrame(
        [(7, a, "s"), (4, a, "s"), (9, b, "s")],
        "doc_id long, text string, source string",
    )
    got = {(r["doc_small"], r["doc_big"]): r["containment_ppm"]
           for r in containment_pairs(docs).collect()}
    assert got[(4, 7)] == 1_000_000  # identical sets, id tie-break
    # b shares 16 of its 18 shingles with a: 16/18 = 0.888... -> kept
    assert (4, 9) in got and (7, 9) in got


def test_substring_dup_hub_cap_excludes_boilerplate(spark):
    """A span shared by MORE than WINNOW_HUB_CAP docs is boilerplate: it
    must induce no pairs; the same span across a few docs does."""
    from datafusion_ray_spark.operators.text import (
        WINNOW_HUB_CAP,
        substring_dup_pairs,
    )

    import hashlib

    def uniq(tag):  # 32 hex chars: no 8-gram shared across docs
        return hashlib.md5(tag.encode()).hexdigest()

    span = "SHARED-RUN-OF-TEXT-LONG-ENOUGH-TO-FINGERPRINT"
    many = [(i, f"{uniq(f'a{i}')} {span} {uniq(f'b{i}')}", "s")
            for i in range(WINNOW_HUB_CAP + 10)]
    few = [(1000 + i,
            f"{uniq(f'c{i}')} OTHER-DISTINCT-DUPLICATED-SPAN-HERE {uniq(f'd{i}')}",
            "s")
           for i in range(3)]
    df = spark.createDataFrame(
        many + few, "doc_id long, text string, source string"
    )
    # Boundary windows can let single boilerplate-derived fingerprints slip
    # under the df cap (their window minima are picked doc-dependently —
    # inherent to winnowing), but never a SPAN of them: the shared-span run
    # survives with many shared fps, hub-shared docs retain at most one.
    rows = substring_dup_pairs(df, min_shared=2).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in rows}
    assert got == {(1000, 1001), (1000, 1002), (1001, 1002)}
    assert all(r["n_shared"] >= 10 for r in rows)


def test_changepoint_finds_known_mean_shift(spark, monkeypatch):
    """10 events at value 1.0 then 5 at 100.0: best split must be k=10."""
    import datetime as dt

    import datafusion_ray_spark.operators.suite4 as s4

    rows = [(i, dt.datetime(2024, 1, 1, 0, i), 7,
             "view", 1.0 if i < 10 else 100.0, "{}") for i in range(15)]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = s4.run_changepoint(spark, "ignored").collect()
    assert len(got) == 1
    r = got[0]
    assert (r["n_events"], r["best_k"]) == (15, 10)
    # D_10 = |15*S_10 - 10*S_15| in micro-units: S_10=10e6, S_15=510e6
    assert r["d_max"] == abs(15 * 10_000_000 - 10 * 510_000_000)


def test_local_clustering_complete_and_path_graphs(spark, monkeypatch):
    """K4 nodes have lcc=1; a path's middle node has lcc=0."""
    import datafusion_ray_spark.operators.suite4 as s4
    from datafusion_ray_spark.operators import suite4

    k4 = [(a, b) for i, a in enumerate("ABCD") for b in "ABCD"[i + 1:]]
    path = [("X", "Y"), ("Y", "Z")]
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in k4 + path], "src string, dst string, w int"
    )
    monkeypatch.setattr(
        suite4, "load_table", lambda _s, _d, _n: None
    )
    import datafusion_ray_spark.operators.graph as graph_mod

    monkeypatch.setattr(
        graph_mod, "trade_edges", lambda *a, **k: edges
    )
    got = {r["node"]: (r["degree"], r["n_tri"], r["lcc_ppm"])
           for r in s4.run_local_clustering(spark, "ignored").collect()}
    for n in "ABCD":
        assert got[n] == (3, 3, 1_000_000)
    assert got["Y"] == (2, 0, 0)
    assert got["X"][2] == 0 and got["Z"][2] == 0


def test_centroid_outliers_flags_planted_outlier(spark, monkeypatch):
    """A vector far from a tight cluster must rank first with a much
    larger distance."""
    import datafusion_ray_spark.operators.suite4 as s4

    base = [0.5] * 8
    rows = [(i, [v + (0.001 * i) for v in base], 0) for i in range(9)]
    rows.append((99, [5.0] * 8, 0))  # the planted outlier
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = s4.run_centroid_outliers(spark, "ignored").collect()
    assert got[0]["vec_id"] == 99
    # with n=10 the outlier drags the centroid toward itself: expected
    # ratio ~ ((9/10)*4.5 / (1/10)*4.5)^2 = 81
    assert got[0]["dist2_us"] > 50 * got[1]["dist2_us"]


def test_centroid_outliers_degenerate_inputs(spark, monkeypatch):
    """Advisor r12 guards: an EMPTY embeddings table returns an empty
    (vec_id, dist2_us) result instead of an AnalysisException from
    zero-element array literals, and NULL/empty embedding rows are
    DROPPED (the pre-r11 posexplode semantics) instead of throwing /
    surfacing NULL scores in the top-k."""
    import datafusion_ray_spark.operators.suite4 as s4

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: empty)
    got = s4.run_centroid_outliers(spark, "ignored")
    assert got.columns == ["vec_id", "dist2_us"]
    assert got.collect() == []

    rows = [
        (1, [0.5] * 4, 0),
        (2, [0.6] * 4, 0),
        (3, None, 0),      # size(NULL) = -1 broke slice() pre-guard
        (4, [], 0),        # empty array yielded NULL dist2 pre-guard
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    monkeypatch.setattr(s4, "load_table", lambda _s, _d, _n: df)
    got = s4.run_centroid_outliers(spark, "ignored").collect()
    assert sorted(r["vec_id"] for r in got) == [1, 2]
    assert all(r["dist2_us"] is not None for r in got)


def test_sessionize_agrees_with_session_window_counts(spark, sf_dir):
    """Per user: number of distinct session labels == number of session
    windows the aggregate operator emits."""
    from datafusion_ray_spark.operators.suite4 import run_sessionize
    from datafusion_ray_spark.sources.tables import load_table
    from datafusion_ray_spark.streaming.windows import session_agg

    labels = (
        run_sessionize(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.max("session_idx").alias("n_sessions"))
    )
    windows = (
        session_agg(load_table(spark, sf_dir, "events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_windows"))
    )
    diff = (
        labels.join(windows, "user_id", "full_outer")
        .where(
            F.col("n_sessions").isNull()
            | F.col("n_windows").isNull()
            | (F.col("n_sessions") != F.col("n_windows"))
        )
        .count()
    )
    assert diff == 0


def test_ngram_novelty_duplicate_scores_zero(spark, monkeypatch):
    import datafusion_ray_spark.operators.suite4 as s4

    a = " ".join(f"w{i}" for i in range(20))
    b = " ".join(f"x{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, a, "s"), (2, a, "s"), (3, b, "s"),
         (4, a + " " + b, "s")],  # doc 4: all shingles seen except joins
        "doc_id long, text string, source string",
    )
    monkeypatch.setattr(s4, "_docs", lambda _s, _d: docs)
    got = {r["doc_id"]: (r["n_novel"], r["novelty_ppm"])
           for r in s4.run_ngram_novelty(spark, "ignored").collect()}
    assert got[1][1] == 1_000_000   # first occurrence: fully novel
    assert got[2] == (0, 0)         # exact duplicate: zero novelty
    assert got[3][1] == 1_000_000
    # doc 4 reuses every shingle of a and b; only the 2 stitch shingles
    # spanning the "a b" boundary are novel
    assert got[4][0] == 2 and got[4][1] < 100_000


def test_knn_graph_ranks_planted_neighbors(spark):
    """Two tight clusters: every vector's rank-1 neighbor comes from its
    own cluster, and ranking ties break by neighbor id."""
    from datafusion_ray_spark.operators.similarity import knn_graph

    a = [1.0] * 8 + [0.0] * 56
    b = [0.0] * 56 + [1.0] * 8
    rows = []
    for i in range(4):
        rows.append((i, [v + 0.001 * i for v in a], 0))
        rows.append((100 + i, [v + 0.001 * i for v in b], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_graph(df, k=2).collect()
    nb1 = {r["src"]: r["nbr"] for r in out if r["rank"] == 1}
    for src, nbr in nb1.items():
        assert (src < 100) == (nbr < 100), f"{src} crossed clusters to {nbr}"
    # ranks are 1..k and cosines non-increasing per src
    per_src = {}
    for r in out:
        per_src.setdefault(r["src"], []).append((r["rank"], r["cosine"]))
    for src, lst in per_src.items():
        lst.sort()
        assert [rk for rk, _ in lst] == list(range(1, len(lst) + 1))
        assert all(lst[i][1] >= lst[i + 1][1] for i in range(len(lst) - 1))


def test_silence_trim_finds_active_span(spark, monkeypatch):
    """Quiet-loud-quiet payload: active span covers exactly the loud
    frames; an all-quiet payload reports no active span."""
    import datafusion_ray_spark.operators.suite4 as s4
    from datafusion_ray_spark.operators import multimodal as mm

    quiet, loud = bytes([10] * 256), bytes([200] * 256)
    p1 = quiet * 2 + loud * 3 + quiet * 2   # active frames 2..4
    p2 = quiet * 3                           # fully quiet
    docs = spark.createDataFrame(
        [(1, "a", "s", 1), (2, "b", "s", 1)],
        "doc_id long, text string, source string, n_chars long",
    )
    payloads = spark.createDataFrame(
        [(1, bytearray(p1)), (2, bytearray(p2))], "doc_id long, payload binary"
    )
    monkeypatch.setattr(s4, "_docs_unspread", lambda _s, _d: docs)
    monkeypatch.setattr(mm, "with_binary_payload", lambda _d: payloads)
    got = {r["doc_id"]: (r["n_frames"], r["n_active"], r["first_active"],
                         r["last_active"], r["kept_span"])
           for r in s4.run_silence_trim(spark, "ignored").collect()}
    assert got[1] == (7, 3, 2, 4, 3)
    assert got[2] == (3, 0, -1, -1, 0)
