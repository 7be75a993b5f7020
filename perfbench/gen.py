"""Seeded input generators for the benchmark.

Everything the engine reads is written here, from ``--seed``, into a work
directory inside the checkout:

- the TPC-H-style star schema in the trimmed layout of FIXTURES.md §1
  (``region nation customer supplier part orders lineitem``), with value
  domains chosen so every query in ``queries/tpch.py`` returns rows;
- ``documents`` (FIXTURES.md §3): a Zipf-vocabulary corpus with planted
  exact duplicates and near-duplicate clusters, written as multi-row-group
  parquet so scans split across cores;
- small ``events`` and ``embeddings`` tables, so ``register_tables`` (which
  registers every FIXTURES table) works unchanged on the directory.

The same seed and sizes always produce byte-identical parquet files.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
STOPWORDS_EN = ("the", "and", "of", "to", "a", "in", "is", "for", "on", "with")

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 UTC, epoch micros
_DATE_SPAN_DAYS = 2404  # through 2001-08-01


@dataclass(frozen=True)
class CorpusSpec:
    """Shape of the synthetic ``documents`` corpus."""

    n_docs: int
    vocab: int = 20_000
    zipf_s: float = 1.1
    min_words: int = 60
    max_words: int = 160
    exact_dup_frac: float = 0.10
    near_dup_frac: float = 0.20
    edits: int = 2
    row_group_docs: int = 1_000


def _write(table: pa.Table, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(table, path, row_group_size=row_group_size, compression="snappy")


def _money(rng: np.random.Generator, lo_cents: int, hi_cents: int, n: int) -> np.ndarray:
    """2-decimal money values stored as double (exact cents / 100)."""
    return rng.integers(lo_cents, hi_cents + 1, size=n) / 100.0


def _timestamps(rng: np.random.Generator, n: int, offset_days: int = 0) -> pa.Array:
    days = rng.integers(0, _DATE_SPAN_DAYS, size=n) + offset_days
    return pa.array(_EPOCH_1995 + days * _DAY_US, pa.timestamp("us"))


def write_tpch(out_dir: str, sf: float, seed: int) -> int:
    """Write the seven TPC-H tables at scale factor ``sf``; returns the
    total row count written."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(20, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    big_rg = max(4_096, n_line // 8)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    }), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -99_999, 999_999, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    }), os.path.join(out_dir, "customer.parquet"))
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -99_999, 999_999, n_supp)),
    }), os.path.join(out_dir, "supplier.parquet"))
    names = np.array([f"{a} {b}" for a in P_ADJ for b in P_NOUN])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array((90_000 + np.arange(n_part) % 1_000 * 10) / 100.0),
    }), os.path.join(out_dir, "part.parquet"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 100_000, 50_000_000, n_ord)),
        "o_orderdate": _timestamps(rng, n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
    }), os.path.join(out_dir, "orders.parquet"), row_group_size=max(4_096, n_ord // 4))
    _write(pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line, dtype=np.int64))),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 90_000, 10_500_000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(0, 2, n_line)]),
        "l_shipdate": _timestamps(rng, n_line, offset_days=1),
    }), os.path.join(out_dir, "lineitem.parquet"), row_group_size=big_rg)
    return 5 + 25 + n_cust + n_supp + n_part + n_ord + n_line


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    """English stopwords at the head of the rank order, then distinct
    synthetic lowercase words of 3-9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = list(STOPWORDS_EN)
    seen = set(words)
    while len(words) < size:
        length = int(rng.integers(3, 10))
        w = "".join(letters[rng.integers(0, 26, length)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def corpus_texts(spec: CorpusSpec, seed: int) -> tuple[list[str], dict]:
    """Document texts plus the planted-duplicate census.

    Layout: ``exact_dup_frac`` of the docs are verbatim copies of an
    earlier doc; ``near_dup_frac`` are members of clusters of 2-4 that
    share a base text with ``edits`` word substitutions each; the rest
    are independent Zipf draws. Positions are shuffled so duplicates are
    spread over the whole id range (and over every ingest batch).
    """
    rng = np.random.default_rng([seed, 2])
    vocab = _vocabulary(rng, spec.vocab)
    ranks = np.arange(1, spec.vocab + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()

    def draw(n_words: int) -> np.ndarray:
        return rng.choice(spec.vocab, size=n_words, p=p)

    n = spec.n_docs
    n_exact = int(n * spec.exact_dup_frac)
    n_near = int(n * spec.near_dup_frac)
    texts: list[str] = []
    clusters = 0
    while len(texts) < n_near:
        size = min(int(rng.integers(2, 5)), n_near - len(texts))
        base = draw(int(rng.integers(spec.min_words, spec.max_words + 1)))
        for _ in range(size):
            words = base.copy()
            pos = rng.choice(len(words), size=spec.edits, replace=False)
            words[pos] = rng.integers(0, spec.vocab, size=spec.edits)
            texts.append(" ".join(vocab[words]))
        clusters += 1
    while len(texts) < n - n_exact:
        texts.append(" ".join(vocab[draw(int(rng.integers(spec.min_words, spec.max_words + 1)))]))
    originals = rng.integers(0, len(texts), size=n_exact)
    texts.extend(texts[i] for i in originals)
    order = rng.permutation(n)
    shuffled = [texts[i] for i in order]
    return shuffled, {"exact_copies": n_exact, "near_dup_docs": n_near,
                      "near_dup_clusters": clusters}


def write_documents(out_dir: str, spec: CorpusSpec, seed: int) -> dict:
    """Write ``documents.parquet``; returns the corpus census."""
    texts, census = corpus_texts(spec, seed)
    rng = np.random.default_rng([seed, 3])
    n = len(texts)
    langs = np.array(("en", "en", "en", "de", "es", "fr"))[rng.integers(0, 6, n)]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 10, n)]),
        "n_chars": pa.array(np.fromiter(map(len, texts), np.int64, n)),
    }), os.path.join(out_dir, "documents.parquet"), row_group_size=spec.row_group_docs)
    words = [t.split(" ") for t in texts]
    census["n_docs"] = n
    census["tokens"] = sum(map(len, words))
    census["tfidf_rows"] = sum(min(5, len(set(w))) for w in words)
    return census


def write_side_tables(out_dir: str, seed: int, n_events: int = 2_000,
                      n_vecs: int = 500, dim: int = 16) -> None:
    """Small ``events`` and ``embeddings`` tables (FIXTURES.md §2-3)."""
    rng = np.random.default_rng([seed, 4])
    base = 1_704_067_200_000_000  # 2024-01-01 UTC, epoch micros
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(base + np.sort(rng.integers(0, 7 * _DAY_US, n_events)),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 100, n_events, dtype=np.int64)),
        "event_type": pa.array(np.array(("view", "click", "purchase", "error"))
                               [rng.integers(0, 4, n_events)]),
        "value": pa.array(rng.integers(0, 10_000, n_events) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    }), os.path.join(out_dir, "events.parquet"))
    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, n_vecs, dtype=np.int32)),
    }), os.path.join(out_dir, "embeddings.parquet"))


def write_all(out_dir: str, sf: float, spec: CorpusSpec, seed: int) -> dict:
    """Every table ``register_tables`` expects, under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    tpch_rows = write_tpch(out_dir, sf, seed)
    census = write_documents(out_dir, spec, seed)
    write_side_tables(out_dir, seed)
    return {"tpch_rows": tpch_rows, "corpus": census}
