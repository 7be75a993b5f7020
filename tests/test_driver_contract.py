"""Driver contract: ``__spark_entry__.py`` loaded by path, the way an
external driver loads it, exposes the whole registry with TPC-H first."""

from __future__ import annotations

import importlib.util
import os

import pytest

from datafusion_ray_spark.queries.registry import build_registry

_ENTRY_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "__spark_entry__.py",
)


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
