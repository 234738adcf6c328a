"""Driver simulator: exercises the __spark_entry__ contract exactly like the
round driver — a plain SparkSession (driver's own configs, not our factory),
entry() smoke at sf0.001, then every queries() entry at sf0.01 compared to
its oracle_sql() twin through DuckDB with etl_caic_spark.oracle.mismatch
(columns, non-scalar columns, types, row count, order-insensitive values).
Prints one verdict line per query and a summary.

Usage: python tools/driver_sim.py [name-substring ...]"""

from __future__ import annotations

import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
# type_mismatches and value_hash are re-exported for perfbench/run.py.
from etl_caic_spark.oracle import (  # noqa: E402, F401
    create_views,
    mismatch,
    nonscalar_columns,
    type_mismatches,
    value_hash,
)
from etl_caic_spark.session import default_cpus  # noqa: E402

SF_CHECK = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")


def main():
    spark = (
        SparkSession.builder.master(f"local[{default_cpus()}]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema={df.schema.simpleString()[:120]}")
    assert n > 0

    con = create_views(duckdb.connect(), SF_CHECK)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # Optional name filter: `driver_sim.py q1 q2 ...` checks only those
    # queries (substring match) — the full no-arg run stays the gate.
    if sys.argv[1:]:
        qs = {
            n: f
            for n, f in qs.items()
            if any(pat in n for pat in sys.argv[1:])
        }
    ok = bad = rows_only = 0
    for name in sorted(qs):
        try:
            sdf = qs[name](spark, SF_CHECK)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            bad += 1
            continue
        if name not in oracles:
            nonscalar = nonscalar_columns(sdf)
            note = f" [non-scalar cols: {nonscalar}]" if nonscalar else ""
            print(f"ROWS  {name}: {len(srows)} rows (rows-only){note}")
            rows_only += 1
            continue
        try:
            diff = mismatch(con, oracles[name], sdf, srows)
        except Exception as exc:
            diff = f"oracle error: {exc}"
        if diff:
            print(f"FAIL  {name}: {diff}")
            bad += 1
        else:
            print(f"OK    {name}: {len(srows)} rows hash-match")
            ok += 1
    print(f"summary: {ok} hash-match, {rows_only} rows-only, {bad} FAIL")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
