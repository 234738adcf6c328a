"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the synthetic tables registered as views (mirroring the driver), and
the differential-compare helper used by the oracle tests."""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_caic_spark.oracle import create_views, mismatch
from etl_caic_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl-caic-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = create_views(duckdb.connect(), SF_DIR)
    yield con
    con.close()


def compare_with_oracle(spark, duck, spec, sf_dir: str):
    """Run spec.fn on Spark and assert it matches spec.oracle on DuckDB."""
    diff = mismatch(duck, spec.oracle, spec.fn(spark, sf_dir))
    assert diff is None, f"{spec.name}: {diff}"
