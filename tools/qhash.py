"""Order-insensitive output hash of named queries — the equivalence gate
for optimization refactors.

Computes etl_caic_spark.oracle.value_hash (column-sorted, row-sorted,
canon() cell encoding) of each named query's Spark output at the given
SF dir. Run BEFORE and AFTER a refactor; identical hashes at
sf0.01 AND sf0.1 prove the rewrite is result-identical on data 10x
beyond what the driver checks.

Usage: python tools/qhash.py [--sf-dir DIR] query [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_caic_spark.oracle import value_hash  # noqa: E402
from etl_caic_spark.registry import all_specs  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf-dir":
            sf_dir = argv[i + 1]
            i += 2
        else:
            names.append(argv[i])
            i += 1
    spark = get_spark(app_name="qhash")
    specs = all_specs()
    for name in names:
        df = specs[name].fn(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        print(f"{name} {len(rows)} {value_hash(df.columns, rows)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
