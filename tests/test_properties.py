"""Property-based tests (hypothesis): the temporal joins agree with a naive
per-row reference on arbitrary inputs — the reference repo has no
property-based layer (SURVEY.md §5), so this exceeds its test strategy where
the custom operators most need it (boundary semantics: equal timestamps,
empty sides, window edges)."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from datafusion_ray_spark.operators.asof import asof_join
from datafusion_ray_spark.operators.rangejoin import range_join_count

EPOCH = datetime(2024, 1, 1)

# (key, ts) unique so the match is well-defined; small domains force
# collisions on keys and near-boundary timestamps.
_rows = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)),
    unique=True,
    min_size=0,
    max_size=25,
)


@st.composite
def _two_sides(draw):
    left = draw(_rows)
    right = draw(_rows)
    return left, right


_settings = settings(
    max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow]
)


@given(sides=_two_sides())
@_settings
def test_asof_join_matches_naive(spark, sides):
    left_rows, right_rows = sides
    left = spark.createDataFrame(
        [(i, k, t, float(t)) for i, (k, t) in enumerate(left_rows)],
        "event_id long, user_id long, ts long, value double",
    )
    right = spark.createDataFrame(
        [(k, t, float(t) * 10) for (k, t) in right_rows],
        "user_id long, ts long, value double",
    )
    got = {
        r["event_id"]: (r["r_ts"], r["r_value"])
        for r in asof_join(left, right).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        prior = [(rt, rt * 10.0) for (rk, rt) in right_rows if rk == k and rt <= t]
        expect = max(prior) if prior else (None, None)
        assert got[i] == expect, (i, k, t, got[i], expect)


@given(sides=_two_sides(), tol=st.one_of(st.none(), st.integers(0, 15)))
@_settings
def test_asof_join_forward_tolerance_matches_naive(spark, sides, tol):
    left_rows, right_rows = sides
    left = spark.createDataFrame(
        [(i, k, t, float(t)) for i, (k, t) in enumerate(left_rows)],
        "event_id long, user_id long, ts long, value double",
    )
    right = spark.createDataFrame(
        [(k, t, float(t) * 10) for (k, t) in right_rows],
        "user_id long, ts long, value double",
    )
    got = {
        r["event_id"]: (r["r_ts"], r["r_value"])
        for r in asof_join(
            left, right, direction="forward", tolerance_seconds=tol
        ).collect()
    }
    for i, (k, t) in enumerate(left_rows):
        following = [
            (rt, rt * 10.0) for (rk, rt) in right_rows if rk == k and rt >= t
        ]
        expect = min(following) if following else (None, None)
        if tol is not None and expect[0] is not None and expect[0] - t > tol:
            expect = (None, None)
        assert got[i] == expect, (i, k, t, tol, got[i], expect)


@given(sides=_two_sides())
@_settings
def test_range_join_count_matches_naive(spark, sides):
    left_rows, right_rows = sides
    window_minutes = 10
    to_ts = lambda m: EPOCH + timedelta(minutes=m)
    left = spark.createDataFrame(
        [(i, k, to_ts(t)) for i, (k, t) in enumerate(left_rows)],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(k, to_ts(t)) for (k, t) in right_rows],
        "user_id long, ts timestamp",
    )
    got = {
        r["event_id"]: r["n_recent"]
        for r in range_join_count(left, right, window_minutes=window_minutes).collect()
    }
    assert len(got) == len(left_rows)
    for i, (k, t) in enumerate(left_rows):
        expect = sum(
            1 for (rk, rt) in right_rows if rk == k and t - window_minutes <= rt < t
        )
        assert got[i] == expect, (i, k, t, got[i], expect)


_texts = st.lists(
    st.text(alphabet="abcd ", min_size=20, max_size=60).filter(
        lambda t: len(t.split()) >= 4
    ),
    min_size=2,
    max_size=8,
)


@given(texts=_texts)
@_settings
def test_minhash_always_finds_exact_duplicates(spark, texts):
    """Identical texts have identical signatures, land in identical buckets,
    and verify at jaccard 1.0 — a deterministic guarantee, not probabilistic."""
    from datafusion_ray_spark.operators import dedup

    rows = []
    for i, t in enumerate(texts):
        rows.append((2 * i, t))
        rows.append((2 * i + 1, t))  # planted exact duplicate
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["doc_a"], r["doc_b"]): r
        for r in dedup.minhash_dedup_pairs(docs).collect()
    }
    for i, t in enumerate(texts):
        if len(set(t.split())) and len(t.split()) >= 3:
            key = (2 * i, 2 * i + 1)
            assert key in pairs, (t, sorted(pairs))
            assert pairs[key]["jaccard"] == 1.0
            assert pairs[key]["is_near_dup"]


_doc_texts = st.lists(
    st.text(alphabet="abc ", min_size=12, max_size=40).filter(
        lambda t: len(t.split()) >= 3
    ),
    min_size=2,
    max_size=10,
)


@given(texts=_doc_texts)
@_settings
def test_ngram_jaccard_prefix_filter_is_lossless(spark, texts):
    """The AllPairs prefix filter + size-ratio prune must find EVERY pair
    with jaccard >= threshold (recall 1.0) — verifies the prefix-length
    bound |A| - ceil(t|A|) + 1 on arbitrary inputs."""
    from datafusion_ray_spark.operators import dedup

    def shingle_set(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    docs = spark.createDataFrame(
        [(i, t, "blk") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = shingle_set(texts[i]), shingle_set(texts[j])
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if round(jac, 6) >= dedup.JACCARD_THRESHOLD:
                assert (i, j) in got, (texts[i], texts[j], jac)
                assert got[(i, j)] == round(jac, 6)
            else:
                assert (i, j) not in got or got[(i, j)] >= dedup.JACCARD_THRESHOLD


_ids = st.lists(
    st.integers(min_value=0, max_value=10_000), min_size=1, max_size=40, unique=True
)


@given(ids=_ids)
@_settings
def test_seeded_shuffle_is_permutation(spark, ids):
    """For any id set: shards partition the rows, per-shard positions are
    exactly 1..len(shard), and the layout is seed-deterministic."""
    from datafusion_ray_spark.operators.shuffleop import seeded_shuffle

    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = seeded_shuffle(docs, n_shards=4).collect()
    assert {r["doc_id"] for r in out} == set(ids)
    by_shard: dict[int, list[int]] = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    again = seeded_shuffle(docs, n_shards=4).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} == {
        (r["doc_id"], r["shard"], r["pos"]) for r in again
    }


@given(texts=_texts)
@_settings
def test_dsir_weights_order_invariant(spark, texts):
    """DSIR log-weights are a pure function of content — row order and
    partitioning must not change any weight (fixed-point determinism)."""
    from datafusion_ray_spark.operators.dsir import dsir_logweights

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    target = docs.where("doc_id % 2 = 0")
    w1 = {
        r["doc_id"]: r["logw_nats"]
        for r in dsir_logweights(docs, target).collect()
    }
    shuffled = docs.orderBy(F.desc("doc_id")).repartition(7)
    w2 = {
        r["doc_id"]: r["logw_nats"]
        for r in dsir_logweights(shuffled, target).collect()
    }
    assert w1 == w2


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


_fuzzy_keys = st.lists(
    st.text(alphabet="ab", min_size=24, max_size=28),
    min_size=2,
    max_size=10,
    unique=True,
)


@given(keys=_fuzzy_keys)
@_settings
def test_fuzzy_join_matches_bruteforce(spark, keys):
    """PassJoin blocking is LOSSLESS: output equals all-pairs levenshtein
    over the 24-char prefixes (tiny alphabet forces near-collisions and
    shift-window cases)."""
    from datafusion_ray_spark.operators.fuzzy import fuzzy_join_pairs

    docs = spark.createDataFrame(
        [(i, k, "en", "s", len(k)) for i, k in enumerate(keys)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["dist"]
        for r in fuzzy_join_pairs(docs).collect()
    }
    want = {}
    for i in range(len(keys)):
        for j in range(i + 1, len(keys)):
            d = _lev(keys[i][:24], keys[j][:24])
            if d <= 2:
                want[(i, j)] = d
    assert got == want, (got, want)


# ---------------------------------------------------------------------------
# Containment-dedup prefix filter: LOSSLESS against a naive all-pairs
# reference on arbitrary small corpora (random word sequences force shared
# and disjoint shingle sets, size ties, and sub-threshold pairs).

_doc_words = st.lists(st.integers(0, 7), min_size=3, max_size=12)
_corpus = st.lists(_doc_words, min_size=2, max_size=6)


def _shingle_set(words):
    toks = [f"w{w}" for w in words]
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


@given(corpus=_corpus)
@_settings
def test_containment_pairs_match_naive(spark, corpus):
    from datafusion_ray_spark.operators.suite4 import (
        CONTAINMENT_THRESHOLD_PPM,
        containment_pairs,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{w}" for w in words), "s")
         for i, words in enumerate(corpus)],
        "doc_id long, text string, source string",
    )
    got = {(r["doc_small"], r["doc_big"]): r["containment_ppm"]
           for r in containment_pairs(docs).collect()}

    expect = {}
    sets = [(_i, _shingle_set(w)) for _i, w in enumerate(corpus)]
    for i, sa in sets:
        for j, sb in sets:
            if i >= j or not sa or not sb:
                continue
            # 'small' side: fewer shingles, ties to the lower doc_id
            if (len(sa), i) <= (len(sb), j):
                small, big, ss = i, j, sa
            else:
                small, big, ss = j, i, sb
            ppm = (len(sa & sb) * 1_000_000) // len(ss)
            if ppm >= CONTAINMENT_THRESHOLD_PPM:
                expect[(small, big)] = ppm
    assert got == expect


# ---------------------------------------------------------------------------
# Scene-cut frame kernel: the batched prefix-sum gather must agree with a
# naive per-payload loop for arbitrary payload lengths (empty, shorter than
# one frame, exact multiples, long).

_payloads = st.lists(
    st.binary(min_size=0, max_size=40), min_size=1, max_size=6
)


@given(payloads=_payloads)
@_settings
def test_frame_lumas_match_naive(spark, payloads):
    from datafusion_ray_spark.operators.multimodal import frame_lumas

    fb = 16
    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id long, payload binary",
    )
    got = {(r["doc_id"], r["frame_id"]): (r["luma"], r["flen"])
           for r in frame_lumas(df, frame_bytes=fb).collect()}
    expect = {}
    for i, p in enumerate(payloads):
        for k in range(0, (len(p) + fb - 1) // fb):
            frame = p[k * fb:(k + 1) * fb]
            expect[(i, k)] = (sum(frame), len(frame))
    assert got == expect


# ---------------------------------------------------------------------------
# Change-point detection: the integer CUSUM-numerator argmax must agree
# with a naive Python scan for arbitrary per-user series (ties to the
# smallest k, singleton users dropped).

_series = st.lists(st.integers(-3, 3), min_size=1, max_size=12)
_users = st.lists(_series, min_size=1, max_size=4)


@given(users=_users)
@_settings
def test_changepoint_matches_naive(spark, users):
    import datetime as dt
    from unittest import mock

    import datafusion_ray_spark.operators.suite4 as s4

    rows = []
    for u, vals in enumerate(users):
        for i, v in enumerate(vals):
            rows.append((u * 1000 + i, dt.datetime(2024, 1, 1, 0, 0, i),
                         u, "view", float(v), "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with mock.patch.object(s4, "load_table", lambda _s, _d, _n: df):
        got = {r["user_id"]: (r["n_events"], r["best_k"], r["d_max"])
               for r in s4.run_changepoint(spark, "ignored").collect()}

    expect = {}
    for u, vals in enumerate(users):
        n = len(vals)
        if n < 2:
            continue  # no split exists; user dropped
        vus = [int(__import__("math").floor(v * 1_000_000)) for v in vals]
        sn = sum(vus)
        best = None
        for k in range(1, n):
            sk = sum(vus[:k])
            d = abs(n * sk - k * sn)
            if best is None or d > best[1]:
                best = (k, d)
        expect[u] = (n, best[0], best[1])
    assert got == expect


# ---------------------------------------------------------------------------
# CEP sequence matching: journey regex counts must agree with Python's re
# (same non-overlapping leftmost-greedy scan) on arbitrary journeys.

_journey = st.text(alphabet="vcpes", min_size=0, max_size=15)


@given(j1=_journey, j2=_journey)
@_settings
def test_seq_match_matches_re(spark, j1, j2):
    import datetime as dt
    import re
    from unittest import mock

    import datafusion_ray_spark.operators.suite4 as s4

    sym2type = {"v": "view", "c": "click", "p": "purchase",
                "e": "error", "s": "signup"}
    rows = []
    for u, journey in enumerate((j1, j2)):
        for i, ch in enumerate(journey):
            rows.append((u * 1000 + i, dt.datetime(2024, 1, 1, 0, 0, i),
                         u, sym2type[ch], 1.0, "{}"))
    if not rows:
        return
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    with mock.patch.object(s4, "load_table", lambda _s, _d, _n: df):
        got = {r["user_id"]: (r["n_conversions"], r["n_error_bursts"])
               for r in s4.run_seq_match(spark, "ignored").collect()}
    for u, journey in enumerate((j1, j2)):
        if not journey:
            continue
        expect = (
            len(re.findall(s4.SEQ_PATTERNS["n_conversions"], journey)),
            len(re.findall(s4.SEQ_PATTERNS["n_error_bursts"], journey)),
        )
        assert got[u] == expect, (u, journey)


@st.composite
def _dup_corpus(draw):
    """A seeded corpus with planted exact copies and near-duplicate
    clusters (one or two words edited per member), doc ids shuffled so a
    copy's id is as likely below its original's as above it."""
    import numpy as np

    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    vocab = [f"w{i}" for i in range(60)]
    texts = [
        " ".join(rng.choice(vocab, int(rng.integers(12, 30))))
        for _ in range(draw(st.integers(2, 10)))
    ]
    for _ in range(draw(st.integers(0, 4))):  # exact copies
        texts.append(texts[int(rng.integers(len(texts)))])
    for _ in range(draw(st.integers(0, 3))):  # near-duplicate clusters
        words = texts[int(rng.integers(len(texts)))].split()
        for _ in range(int(rng.integers(1, 4))):
            member = list(words)
            for pos in rng.choice(len(member), int(rng.integers(1, 3))):
                member[pos] = str(rng.choice(vocab))
            texts.append(" ".join(member))
    ids = rng.permutation(len(texts) * 3)[: len(texts)]
    return [(int(i), t) for i, t in zip(ids, texts)]


@given(rows=_dup_corpus())
@_settings
def test_minhash_pairs_unique_and_ordered(spark, rows):
    """Every candidate pair is emitted once, as (smaller id, larger id),
    however many LSH bands it collides in — dedup_lsh_eval counts pairs
    and relies on this."""
    from datafusion_ray_spark.operators import dedup

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_dedup_pairs(docs).collect()
    ]
    spark.catalog.clearCache()
    assert len(pairs) == len(set(pairs)), sorted(pairs)
    assert all(a < b for a, b in pairs), sorted(pairs)


@st.composite
def _dup_graph(draw):
    """Seeded pair lists mixing the shapes star contraction must handle: a
    star hub, a long chain, random pairs, repeated pairs (either order)
    and self-pairs, over shuffled node ids so a component's minimum can
    sit anywhere in it."""
    import numpy as np

    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    ids = [int(i) for i in rng.permutation(200)]
    hub, chain = ids[0], ids[1:draw(st.integers(3, 30))]
    spokes = rng.choice(ids[30:80], draw(st.integers(0, 25)))
    edges = [(hub, int(v)) for v in spokes]
    edges += list(zip(chain, chain[1:]))
    rand = rng.choice(ids[:80], (draw(st.integers(0, 15)), 2))
    edges += [(int(a), int(b)) for a, b in rand]
    edges += [(b, a) for a, b in edges[: draw(st.integers(0, 5))]]  # repeats
    edges += [(v, v) for v in ids[80:80 + draw(st.integers(0, 3))]]
    return edges


@given(edges=_dup_graph())
@_settings
def test_duplicate_groups_match_union_find(spark, edges):
    """Star contraction labels every doc with the minimum doc id of its
    connected component, once per doc — the same labelling a union-find
    gives; a doc seen only in a self-pair is its own group."""
    from datafusion_ray_spark.operators import dedup

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)  # a root is its set's minimum
    expected = {v: find(v) for v in list(parent)}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    rows = dedup.duplicate_groups(pairs).collect()
    assert len(rows) == len(expected)  # one row per doc
    assert {r["doc_id"]: r["group_id"] for r in rows} == expected
