"""Optimization probe (r15+): isolated warm timings + formatted plans.

For each named query (or the slowest-K from the newest BENCH_FULL archive
when none are named): capture `.explain("formatted")` to
plans/r16/<name>_<tag>.txt (override via $OPT_PROBE_PLANS_DIR) and time the noop-sink run N times on a warmed
local[$SPARK_GRAFT_CPUS] session, reporting every reading and the min.
The min-of-N warm reading is the steal-resistant comparison axis the
bench's steal_adjusted block converges to (guide §1.1/§1.4).

Usage: python tools/opt_probe.py [--tag before|after] [--reps 3]
           [--sf-dir DIR] [--no-plan] query [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_caic_spark.registry import all_specs  # noqa: E402
from etl_caic_spark.session import get_spark  # noqa: E402

PLANS_DIR = os.environ.get("OPT_PROBE_PLANS_DIR", os.path.join(REPO, "plans", "r16"))


def main() -> None:
    argv = sys.argv[1:]
    tag = "before"
    reps = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    write_plan = True
    names: list[str] = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--tag":
            tag = argv[i + 1]
            i += 2
        elif a == "--reps":
            reps = int(argv[i + 1])
            i += 2
        elif a == "--sf-dir":
            sf_dir = argv[i + 1]
            i += 2
        elif a == "--no-plan":
            write_plan = False
            i += 1
        else:
            names.append(a)
            i += 1

    spark = get_spark(app_name="opt-probe")
    specs = all_specs()
    missing = [n for n in names if n not in specs]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        sys.exit(2)

    # Same warmup spirit as bench.py: one trivial job + one scan/join/agg.
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()

    os.makedirs(PLANS_DIR, exist_ok=True)
    out: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"opt_probe:{name}")
        df = specs[name].fn(spark, sf_dir)
        if write_plan:
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(PLANS_DIR, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(plan)
        reads = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            reads.append(round(time.perf_counter() - t0, 4))
        out[name] = {"reads": reads, "min": min(reads)}
        print(f"{name}: min={min(reads):.3f}  reads={reads}", flush=True)
    spark.sparkContext.setJobDescription(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
