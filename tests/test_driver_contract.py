"""Driver contract: ``__spark_entry__.py`` loaded by path, the way an
external driver loads it, exposes the whole registry with TPC-H first, and
the engine has no Structured Streaming surface (a non-goal: the reference
has no streaming semantics)."""

from __future__ import annotations

import importlib.util
import os
import pathlib
import re

import pytest

from datafusion_ray_spark.queries.registry import build_registry

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ENTRY_PATH = os.path.join(_REPO, "__spark_entry__.py")


@pytest.fixture(scope="module")
def contract():
    spec = importlib.util.spec_from_file_location("__spark_entry__", _ENTRY_PATH)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_queries_cover_the_registry_tpch_first(contract):
    names = list(contract.queries())
    assert len(names) == 194
    assert set(names) == set(build_registry())
    assert names[:22] == [f"q{i}" for i in range(1, 23)]


def test_oracle_sql_names_are_queries(contract):
    assert set(contract.oracle_sql()) <= set(contract.queries())


def test_entry_returns_rows(contract, spark):
    assert contract.entry(spark).count() > 0


def test_no_structured_streaming_surface():
    assert importlib.util.find_spec("datafusion_ray_spark.streaming") is None
    streaming = re.compile(r"readStream|writeStream|pyspark\.sql\.streaming")
    hits = [
        str(path)
        for top in ("datafusion_ray_spark", "examples")
        for path in pathlib.Path(_REPO, top).rglob("*.py")
        if streaming.search(path.read_text(encoding="utf-8"))
    ]
    assert hits == []
