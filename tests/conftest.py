"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the synthetic tables registered as views (mirroring the driver), and
the differential-compare helper used by the oracle tests."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from etl_caic_spark.session import get_spark
from etl_caic_spark.sources import TABLE_NAMES

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
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def canon_value(v):
    """Canonicalize a cell for order-insensitive comparison."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        # repr of the exact double — queries are written so both engines
        # produce bit-identical doubles (per-row ops) or pre-rounded values.
        return f"f:{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return f"{type(v).__name__[0]}:{v}"


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple]:
    """Sort columns by name, canonicalize cells, sort rows — the same
    order-insensitive shape the driver hashes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def compare_with_oracle(spark, duck, spec, sf_dir: str, max_diff_print: int = 8):
    """Run spec.fn on Spark and spec.oracle on DuckDB; assert equal rows."""
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    orel = duck.sql(spec.oracle)
    ocols = [d[0] for d in orel.description]
    orows = [tuple(r) for r in orel.fetchall()]
    assert sorted(scols) == sorted(ocols), (
        f"{spec.name}: column mismatch spark={sorted(scols)} oracle={sorted(ocols)}"
    )
    a = canon_rows(scols, srows)
    b = canon_rows(ocols, orows)
    if a != b:
        only_spark = [r for r in a if r not in set(b)][:max_diff_print]
        only_oracle = [r for r in b if r not in set(a)][:max_diff_print]
        raise AssertionError(
            f"{spec.name}: value mismatch (spark {len(a)} rows, oracle {len(b)} rows)\n"
            f"only in spark:  {only_spark}\n"
            f"only in oracle: {only_oracle}"
        )
