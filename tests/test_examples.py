"""Examples must keep running: each demo script is executed in-process at
sf0.001 (SparkSession.stop patched to a no-op so the suite session
survives; getOrCreate hands every example the same session)."""

from __future__ import annotations

import os
import runpy
import sys

import pytest

EXAMPLES_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "examples")

SCRIPTS = [
    "basic.py",
    "ann_search.py",
    "dedup_pipeline.py",
    "llm_pipeline.py",
    "behavior_analytics.py",
    "partitioned_tables.py",
    "index_lifecycle.py",
    "object_store_scan.py",
]


@pytest.mark.parametrize("script", SCRIPTS)
def test_example_runs(spark, monkeypatch, script):
    from pyspark.sql import SparkSession

    monkeypatch.setattr(SparkSession, "stop", lambda self: None)
    monkeypatch.setattr(sys, "argv", [script, "/root/testdata/sf0.001"])
    runpy.run_path(os.path.join(EXAMPLES_DIR, script), run_name="__main__")
