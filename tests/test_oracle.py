"""Differential oracle test: every registered query with a DuckDB twin is
run on both engines at SF_DIR and compared order-insensitively — the local
mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from etl_caic_spark.oracle import mismatch, value_hash
from etl_caic_spark.registry import all_specs
from tests.conftest import compare_with_oracle

SPECS = all_specs()
ORACLED = sorted(n for n, s in SPECS.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in SPECS.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, duck, sf_dir, name):
    compare_with_oracle(spark, duck, SPECS[name], sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, sf_dir, name):
    df = SPECS[name].fn(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shapes():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) == len(SPECS)


@pytest.mark.parametrize(
    "spark_sql, oracle_sql, want",
    [
        ("CAST(1 AS BIGINT) AS x", "SELECT CAST(1 AS BIGINT) AS x", ""),
        ("1 AS y", "SELECT 1 AS x", "columns"),
        ("array(1) AS x", "SELECT [1] AS x", "non-scalar"),
        ("1 AS x", "SELECT CAST(1 AS BIGINT) AS x", "type mismatch"),
        ("1 AS x FROM range(2)", "SELECT 1 AS x", "row count"),
        ("2 AS x", "SELECT 1 AS x", "value mismatch"),
    ],
    ids=["match", "renamed", "array", "int-vs-bigint", "rows", "values"],
)
def test_mismatch_reports_the_first_drift(spark, duck, spark_sql, oracle_sql, want):
    diff = mismatch(duck, oracle_sql, spark.sql(f"SELECT {spark_sql}")) or ""
    assert diff.startswith(want) and bool(diff) == bool(want), diff


def test_value_hash_is_pinned():
    """Recorded qhash values stay comparable across refactors."""
    rows = [
        (None, 1, [1.5, None]),
        (True, 2**40, []),
        (float("nan"), -3, ["x"]),
        (0.1, 0, None),
        ("s", 7, [[1, 2], [3]]),
    ]
    assert value_hash(["b", "a", "c"], rows) == (
        "c2e372a010d80b9d5b7c270e4c802d212c0439b3f98151cdc637ae48f8b25b8e"
    )
    assert value_hash([], []) == (
        "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855"
    )
