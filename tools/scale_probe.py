"""Scale probe over the query registry: replicate the base sf directory
factor-x with shifted keys into a complete scaled sf directory, time each
selected query's build (``spec.fn``) and exec (the noop write) at every
factor, and report each layer's log-log growth exponent. An exponent near
1 means the plan survives scale-up; near 2, a quadratic is hiding.

Usage: python tools/scale_probe.py NAME... [--factors 1,10,30]

Each NAME is a registered query or a registry tag (``scale`` selects every
query tagged for scale). The base is $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1); cores come from session.default_cpus(). Prints one
JSON line per (query, factor) with build_s / exec_s / load1, then one per
query with the exponents; exits 1 if any run failed."""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from etl_caic_spark.registry import all_specs  # noqa: E402
from etl_caic_spark.session import default_cpus, get_spark  # noqa: E402
from etl_caic_spark.sources import load_table  # noqa: E402
from etl_caic_spark.util import scratch_path  # noqa: E402

# Fact tables: key column and per-replica shift (far above the sf0.1 key
# maxima 14,999 / 149,999 / 149,999 / 99,999 / 4,999 / 1,999, so replica
# keys never collide). lineitem and orders shift their order key alike, so
# replica r of lineitem joins replica r of orders; the other foreign keys
# (custkey, partkey, suppkey, user_id) keep pointing at the shared base.
FACTS = {
    "customer": ("c_custkey", 100_000_000),
    "orders": ("o_orderkey", 100_000_000),
    "lineitem": ("l_orderkey", 100_000_000),
    "events": ("event_id", 10_000_000),
    "documents": ("doc_id", 10_000_000),
    "embeddings": ("vec_id", 10_000_000),
}
DIMS = ("region", "nation", "supplier", "part")  # symlinked, shared
_ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"


def replicate(spark, base_dir: str, name: str, factor: int):
    """``name`` replicated factor-x with its key shifted per replica.
    Documents rotate their alphabet per replica and embeddings rotate
    their coordinates, so every replica row is distinct: replicas of a
    document share ~no shingles and a rotated vector lands in other LSH
    buckets, so near-dup and bucket volume grow with the corpus instead
    of measuring the identical-copy hot-bucket pathology."""
    key, shift = FACTS[name]
    rep = F.col("_rep")
    out = (
        load_table(spark, base_dir, name)
        .withColumn("_rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1))))
        .withColumn(key, F.col(key) + rep.cast("bigint") * F.lit(shift))
    )
    if name == "documents":
        text = F.col("text")
        for r in range(1, factor):
            k = r % len(_ALPHA)
            rot = _ALPHA[k:] + _ALPHA[:k]
            text = F.when(rep == r, F.translate("text", _ALPHA, rot)).otherwise(text)
        out = out.withColumn("text", text)
    if name == "embeddings":
        out = out.withColumn(
            "embedding",
            F.expr(
                "transform(embedding, (x, i) -> element_at(embedding,"
                " CAST((i + _rep) % size(embedding) AS INT) + 1))"
            ),
        )
    return out.drop("_rep")


def build_scaled_dir(spark, base_dir: str, factor: int) -> str:
    """A complete sf directory at factor x the base: the six fact tables
    replicated, the four dimension tables symlinked."""
    out_dir = scratch_path(f"scale_sf_x{factor}")
    os.makedirs(out_dir, exist_ok=True)
    for name in FACTS:
        dst = os.path.join(out_dir, f"{name}.parquet")
        replicate(spark, base_dir, name, factor).write.mode("overwrite").parquet(dst)
    for name in DIMS:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if not os.path.lexists(dst):
            os.symlink(os.path.abspath(os.path.join(base_dir, f"{name}.parquet")), dst)
    return out_dir


def slope(factors: list[int], times: list[float]) -> float | None:
    """Least-squares slope of log(time) on log(factor): the growth
    exponent. Times are floored at 1 ms (a plan-only build reads ~0)."""
    if len(set(factors)) < 2:
        return None
    xs = [math.log(f) for f in factors]
    ys = [math.log(max(t, 1e-3)) for t in times]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    return round(sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx, 3)


def select(specs: dict, names: list[str]) -> list[str]:
    """Registered names pass through; a tag expands to its queries."""
    picked: set[str] = set()
    for n in names:
        hits = {n} if n in specs else {q for q, s in specs.items() if n in s.tags}
        if not hits:
            sys.exit(f"scale_probe: {n!r} is neither a query nor a tag")
        picked |= hits
    return sorted(picked)


def run(spark, spec, sf_dir: str) -> tuple[float, float]:
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(t1 - t0, 4), round(time.perf_counter() - t1, 4)


def main() -> None:
    argv = sys.argv[1:]
    factors = [1, 10, 30]
    if "--factors" in argv:
        i = argv.index("--factors")
        factors = [int(f) for f in argv[i + 1].split(",")]
        argv = argv[:i] + argv[i + 2 :]
    if not argv:
        sys.exit(__doc__)
    base_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = all_specs()
    queries = select(specs, argv)
    spark = get_spark(app_name="scale-probe", cpus=default_cpus())
    failed: set[str] = set()
    for q in queries:  # untimed first run: a cold query reads slower at x1
        try:
            run(spark, specs[q], base_dir)
        except Exception as exc:
            print(f"scale_probe: {q} failed at base: {exc}", file=sys.stderr)
            failed.add(q)
    rows: dict[str, list[tuple[int, float, float]]] = {q: [] for q in queries}
    for f in factors:
        sf_dir = base_dir if f == 1 else build_scaled_dir(spark, base_dir, f)
        for q in queries:
            if q in failed:
                continue
            try:
                build_s, exec_s = run(spark, specs[q], sf_dir)
            except Exception as exc:
                print(f"scale_probe: {q} failed at x{f}: {exc}", file=sys.stderr)
                failed.add(q)
                continue
            rows[q].append((f, build_s, exec_s))
            row = {"query": q, "factor": f, "build_s": build_s, "exec_s": exec_s}
            load1 = round(os.getloadavg()[0], 2)
            print(json.dumps({**row, "load1": load1}), flush=True)
    for q in sorted(set(queries) - failed):
        fs, build, exec_ = zip(*rows[q])
        total = [b + e for b, e in zip(build, exec_)]
        exps = {"build_exp": slope(fs, build), "exec_exp": slope(fs, exec_)}
        print(json.dumps({"query": q, **exps, "total_exp": slope(fs, total)}))
    print(json.dumps({"n_queries": len(queries), "failed": sorted(failed)}))
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
