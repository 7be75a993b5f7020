"""Scale-up certification gate: super-linear plans fail like wrong answers.

``scale_check.py`` builds a 10x variant of sf0.1 (disjoint-key copies for
the keyed tables, fresh vocab-sampled synthetic rows for documents/
embeddings), runs the full fault-isolated bench against it, and writes
``SCALING.json`` with per-query wall-time ratios vs the committed 1x
``BENCH_DETAIL.json``; ``--copies 100`` writes ``SCALING_X100.json``. Both
names are fixed, so a rebuild replaces the artifact these tests read. This
test pins the committed artifact's contract:
every query ran, none errored, and nothing scales super-linearly except
the explicitly documented all-pairs baseline (``sim_knn_brute``, the
recall oracle for the sub-linear ANN family).

After an intentional change, regenerate with:
    python scale_check.py --rebuild   # ~20 min, writes SCALING.json
"""

from __future__ import annotations

import json
import os

import pytest

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _artifact() -> dict:
    path = os.path.join(_REPO, "SCALING.json")
    if not os.path.exists(path):
        pytest.skip("no SCALING.json committed yet")
    with open(path) as f:
        return json.load(f)


def test_scaling_artifact_is_complete_and_clean():
    art = _artifact()
    assert art["factor"] >= 10
    assert art["summary"]["n_errors"] == 0, art["summary"]["err_queries"]
    # every bench query must have earned a ratio row (the bench registry
    # can only grow; a shrinking artifact means queries silently dropped)
    assert art["summary"]["n_queries"] >= 170


def test_no_undocumented_superlinear_queries():
    art = _artifact()
    assert art["summary"]["n_flagged"] == 0, (
        "super-linear at 10x data: "
        f"{art['summary']['flagged']} — either fix the plan or, if the "
        "semantics are inherently all-pairs, document it in "
        "scale_check.KNOWN_SUPERLINEAR with a justification"
    )


def test_scaling_artifact_is_intra_epoch():
    """Round-9 epoch rule, machine-checked: a committed scaling artifact
    whose 1x baseline came from a DIFFERENT host epoch is measuring
    machine drift, not plans (the r8 mid-round reboot shifted JVM-heavy
    walls +20-35% on identical code+data). Artifacts predating epoch
    stamping carry no fields and are exempt (their adjudication lives in
    SCALE.md); every newly generated artifact must be intra-epoch."""
    art = _artifact()
    if "cross_epoch" not in art:
        pytest.skip("artifact predates epoch stamping")
    assert art["cross_epoch"] is False, (
        f"scaling ratios computed across host epochs "
        f"({art.get('base_epoch_id')} -> {art['epoch']['epoch_id']}); "
        "re-baseline with `python bench.py` then rerun scale_check"
    )


def test_host_epoch_shape_and_same_epoch_semantics():
    from datafusion_ray_spark.hostinfo import host_epoch, same_epoch

    e = host_epoch()
    assert e["boot_id"] and len(e["epoch_id"]) == 12 and e["ncpu"] >= 1
    assert host_epoch()["epoch_id"] == e["epoch_id"]  # stable within boot
    assert same_epoch(e, e)
    assert not same_epoch(e, {"epoch_id": "different00000"})
    # unstamped baselines are UNKNOWN -> not comparable (safe direction)
    assert not same_epoch(None, e) and not same_epoch(e, None)


def test_known_superlinear_list_is_justified():
    from scale_check import KNOWN_SUPERLINEAR

    art = _artifact()
    for name, why in KNOWN_SUPERLINEAR.items():
        assert len(why) > 20, f"{name}: justification required"
        assert name in art["queries"], f"{name}: not measured"
    # the allowlist must stay an exception, not become an escape hatch
    assert len(KNOWN_SUPERLINEAR) <= 3


def test_x100_subset_artifact_is_clean():
    """The 100x subset certification (scale_check.py --copies 100 over
    representative queries from every family) must be error-free with no
    super-linear flags — the closest measurable stand-in for the 100 TB
    north star this sandbox can produce."""
    path = os.path.join(_REPO, "SCALING_X100.json")
    if not os.path.exists(path):
        pytest.skip("no x100 artifact committed")
    with open(path) as f:
        art = json.load(f)
    assert art["factor"] == 100
    assert art["summary"]["n_errors"] == 0, art["summary"]["err_queries"]
    assert art["summary"]["n_flagged"] == 0, art["summary"]["flagged"]
    assert art["summary"]["n_queries"] >= 20
