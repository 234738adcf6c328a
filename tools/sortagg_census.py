"""Fleet-wide SortAggregate census (round 13).

The r13 dq_column_profile/corpus_datasheet investigations found a
silent scale hazard: a hash aggregate whose buffer carries VAR-LENGTH
state (string min/max, mixed count_distinct) degrades to SortAggregate,
turning a linear fact-grain pass into a sort of the fact rows (measured
105 s vs 7 s at the 100x probe). This tool builds every registered
query's INITIAL physical plan at sf0.001 and reports which plans
contain SortAggregate nodes, so fact-grain offenders can be triaged.

A SortAggregate over a bounded/tiny frame (top-k results, vocab-sized
model tables, grid grains) is harmless; the triage column is the node
count plus whether the plan also scans a fact table. Queries that
EXECUTE work at build time (checkpoint/collect-based pipelines) still
only run their build legs at sf0.001 — cheap.

Usage: python tools/sortagg_census.py [name-substring ...]
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_caic_spark.plans import REGISTRY  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"


def main() -> None:
    pats = sys.argv[1:]
    spark = get_spark(app_name="sortagg-census", cpus=8)
    rows = []
    for name, spec in REGISTRY.items():
        if pats and not any(p in name for p in pats):
            continue
        try:
            df = spec.fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # build-time failure — report, don't die
            rows.append({"query": name, "error": f"{type(ex).__name__}: {ex}"[:160]})
            continue
        n = len(re.findall(r"\bSortAggregate\b", plan))
        if n:
            rows.append(
                {
                    "query": name,
                    "sort_aggregates": n,
                    "objhash": len(re.findall(r"ObjectHashAggregate", plan)),
                }
            )
    for r in sorted(
        rows, key=lambda r: -r.get("sort_aggregates", 0)
    ):
        print(json.dumps(r), flush=True)
    print(json.dumps({"checked": "all" if not pats else pats, "flagged": len(rows)}))
    spark.stop()


if __name__ == "__main__":
    main()
