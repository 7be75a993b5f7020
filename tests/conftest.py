from __future__ import annotations

import os

import duckdb
import pytest

from datafusion_ray_spark.session import build_session
from datafusion_ray_spark.sources.tables import duckdb_register

# Tests iterate at the smallest scale factor; the driver's correctness gate
# reruns the same comparison at sf0.01 (TESTDATA.md).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="datafusion_ray_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    duckdb_register(con, SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
