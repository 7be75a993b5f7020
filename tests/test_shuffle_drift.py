"""Shuffle-volume drift gate: plan regressions fail like wrong answers.

Diffs live runtime shuffle metrics (bytes/rows written, exchange /
broadcast / Expand node counts — ``plans.runtime_shuffle_metrics``) against
the committed ``SHUFFLE_BASELINE.json`` snapshot for a representative
subset: all of TPC-H plus the shuffle-heaviest extension operators plus
every query whose plan legitimately contains an Expand (cube/rollup/
grouping-sets/unpivot/sliding-window/multi-distinct — pinned so a NEW
Expand anywhere else, the profile_table anti-pattern, can never return
silently).

The snapshot holds for the sf_dir and session parallelism it was taken
at. After an INTENTIONAL plan change, regenerate it:
    python shuffle_report.py   # writes SHUFFLE_BASELINE.json, commit it
"""

from __future__ import annotations

import json
import os

import pytest

from datafusion_ray_spark.plans import runtime_shuffle_metrics
from datafusion_ray_spark.queries.registry import build_registry

_BASELINE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "SHUFFLE_BASELINE.json",
)
#: bytes-drift gate is only meaningful above the noise floor — tiny
#: shuffles (a few KB of agg partials) jitter with Arrow batch layout.
_BYTES_FLOOR = 32 * 1024
_MAX_RATIO = 2.0

_TPCH = [f"q{i}" for i in range(1, 23)]
_HEAVY = [
    "dedup_substring_fps", "dsir_weights", "text_tfidf", "text_lm_score",
    "ppl_bucket_sample", "text_repetition", "dedup_paragraph",
    "text_hash_embed", "dedup_fuzzy_prefix", "text_ngram_novelty",
    "mm_phash_dedup", "text_entropy", "sketch_hll", "seq_pack",
    "contamination_ngram", "profile_table", "dedup_minhash_lsh",
    "dedup_groups", "graph_pagerank", "sim_knn_graph",
    # r7: rewritten to one single-distinct subquery per column — the
    # baseline pins n_expand at ZERO now, so a reintroduced
    # RewriteDistinctAggregates Expand fails this gate.
    "agg_approx_distinct",
]
_EXPAND_OK = [
    "cube_agg", "ev_multi_rollup",
    "ev_sliding_window", "grouping_sets", "rollup_agg", "unpivot_sql",
]
_SUBSET = _TPCH + _HEAVY + _EXPAND_OK


@pytest.fixture(scope="module")
def baseline() -> dict:
    with open(_BASELINE_PATH) as f:
        return json.load(f)


def test_baseline_covers_subset(baseline, spark, sf_dir):
    assert baseline["sf_dir"] == sf_dir, (
        "SHUFFLE_BASELINE.json was generated at a different sf_dir; "
        "regenerate with: python shuffle_report.py --sf-dir " + sf_dir
    )
    # Shuffle volume depends on the partition count: a small shuffle writes
    # one block per (map, reduce) pair, so sketch_hll at sf0.001 writes
    # 145 KB at 32 partitions and 62 KB at 4 with the same plan.
    cores = spark.sparkContext.defaultParallelism
    assert baseline["parallelism"] == cores, (
        f"SHUFFLE_BASELINE.json was generated at parallelism "
        f"{baseline['parallelism']}, this session has {cores}; regenerate "
        f"with: python shuffle_report.py, or run with SPARK_GRAFT_CPUS="
        f"{baseline['parallelism']}"
    )
    missing = [n for n in _SUBSET if n not in baseline["queries"]]
    assert not missing, f"baseline missing {missing} — rerun shuffle_report.py"


@pytest.mark.parametrize("name", _SUBSET)
def test_shuffle_volume_within_drift(name, baseline, spark, sf_dir):
    base = baseline["queries"][name]
    df = build_registry()[name].run(spark, sf_dir)
    df.collect()
    now = runtime_shuffle_metrics(df)
    spark.catalog.clearCache()

    assert now["n_expand"] <= base["n_expand"], (
        f"{name}: NEW Expand node(s) in plan ({base['n_expand']} -> "
        f"{now['n_expand']}) — multi-distinct/row-multiplication "
        "anti-pattern; at 100 TB this multiplies shuffle input"
    )
    assert now["n_exchange"] <= base["n_exchange"] + 1, (
        f"{name}: exchange count grew {base['n_exchange']} -> "
        f"{now['n_exchange']} — a shuffle was added to the plan"
    )
    if base["shuffle_bytes"] >= _BYTES_FLOOR or now["shuffle_bytes"] >= (
        _MAX_RATIO * _BYTES_FLOOR
    ):
        lo = base["shuffle_bytes"] / _MAX_RATIO
        hi = max(base["shuffle_bytes"] * _MAX_RATIO, _MAX_RATIO * _BYTES_FLOOR)
        assert lo <= now["shuffle_bytes"] <= hi, (
            f"{name}: shuffle bytes drifted >{_MAX_RATIO}x "
            f"({base['shuffle_bytes']} -> {now['shuffle_bytes']}); if "
            "intentional, regenerate SHUFFLE_BASELINE.json"
        )
