"""Partitioning-determinism probe: every registered query must produce
IDENTICAL results under different shuffle-partition counts.

The DuckDB oracle (tools/driver_sim.py) proves Spark == SQL semantics,
but rows-only queries (sketches, LSH pair ops, IVF top-k) have no value
check at all, and even oracled queries could in principle pass at one
partitioning and fail at another (double-sum ordering — see SCALE.md
round-2 findings). This probe closes that gap: run each query at
sf0.001 with spark.sql.shuffle.partitions=3 and =32 (different
partition counts => different reduce orders, different AQE decisions)
and compare an order-insensitive hash of the full result.

Queries that are legitimately run-scoped (RNG sampling is seeded and
partition-stable, so those SHOULD match too) get no exemption — any
mismatch is a bug.

Usage: python tools/determinism_probe.py [sf_dir]
Exit 1 on any mismatch.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from etl_caic_spark.plans import all_specs  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"


def result_hash(df) -> tuple[int, str]:
    rows = df.collect()
    cols = sorted(df.columns)
    canon = sorted(
        tuple(repr(r[c]) for c in cols) for r in rows
    )
    h = hashlib.sha256(repr(canon).encode()).hexdigest()[:16]
    return len(rows), h


def run(partitions: int) -> dict[str, tuple[int, str]]:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName(f"determinism-{partitions}")
        .config("spark.sql.shuffle.partitions", str(partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    out: dict[str, tuple[int, str]] = {}
    for name, spec in all_specs().items():
        try:
            out[name] = result_hash(spec.fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            out[name] = (-1, f"ERROR: {e}"[:120])
    spark.stop()
    return out


def main() -> int:
    a = run(3)
    b = run(32)
    bad = 0
    for name in a:
        if a[name] != b[name]:
            bad += 1
            print(f"MISMATCH {name}: p3={a[name]} p32={b[name]}")
    print(f"checked {len(a)} queries: {len(a) - bad} deterministic, {bad} mismatched")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
