"""Layered, closed-loop benchmark of two of the engine's traffic shapes.

    python3 perfbench/run.py --workload caic_invocations --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One process is one run: it sizes
the Spark session for the host, generates its inputs from ``--seed``,
starts the engine cold several times (a fresh JVM and a fresh import of
the engine each time), runs one warm pass, then untimed settle passes
while the DuckDB oracle twins check the warm pass's output, then times
whole passes over the workload's op list, one op at a time, for at least
``--seconds`` seconds. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The exit
code is non-zero on any oracle mismatch or failed op. See README.md in
this directory for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.01
STARTS = 2
# Untimed passes between set-up and timing, while the oracle twins run.
# On a 4-core VM an eager_builds pass keeps getting faster for about ten
# passes after the warm pass (2.9 s down to 1.6 s, as C2 compiles the
# planner's paths); a CAIC invocation levels off after one.
SETTLE_PASSES = {"caic_invocations": 1, "eager_builds": 6}
MIN_PASSES = 3
MIN_TRACED_PASSES = 4  # traced / untraced / untraced / traced
CAIC_PAYLOADS = 2

EAGER_BUILDS = (
    "dedup_cluster_canonical",
    "graph_connected_components",
)
WORKLOADS = ("caic_invocations", "eager_builds")

END_TO_END = {"setup_s": "s", "latency_ms": "ms", "pass_s": "s"}
LAYER_METRICS = {
    "session.start_s": "s",
    "registry.load_s": "s",
    "setup.warm_pass_s": "s",
    "sources.fetch_ms": "ms",
    "sources.payload_bytes": "bytes",
    "operators.build_ms": "ms",
    "operators.jobs": "count",
    "sinks.submit_ms": "ms",
    "sinks.jobs": "count",
    "sinks.stages": "count",
    "sinks.tasks": "count",
    "sinks.features": "count",
    "plans.build_ms": "ms",
    "plans.build_jobs": "count",
    "plans.unattributed_jobs": "count",
    "exec.ms": "ms",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
}
QUERY_METRICS = {
    "build_ms": "ms",
    "exec_ms": "ms",
    "build_jobs": "count",
    "exec_jobs": "count",
    "unattributed_jobs": "count",
}
RUN_METRICS = {
    "latency.samples": "count",
    "latency_tail_ms": "ms",
    "latency_tail.pct": "%",
    "latency_tail.beyond": "count",
    "trace.overhead_pct": "%",
    "trace.coverage_pct": "%",
}


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_METRICS)
    for q in EAGER_BUILDS:
        units.update({f"{q}.{k}": u for k, u in QUERY_METRICS.items()})
    units.update(RUN_METRICS)
    return units


# ---------------------------------------------------------------- host


def host_env(run_dir: str) -> dict[str, str]:
    """Session sizing and scratch locations, derived from the host and
    exported before the JVM starts: cores from the affinity mask, driver
    heap a quarter of MemTotal clamped to [1, 4] GiB, Spark, Python and
    JVM scratch inside the checkout (no hsperfdata file in the system
    temp dir)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, kb // 1024 // 4))
    tmp = os.path.join(run_dir, "tmp")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    }


# ---------------------------------------------------------------- ops


class QueryOp:
    """One registry query: ``spec.fn`` (build) then a noop write (exec)."""

    def __init__(self, name: str, sf_dir: str):
        self.name = name
        self.sf_dir = sf_dir

    def run(self, spark, specs, trace=None, on_built=None):
        """``on_built`` (warm pass only) receives the built frame before
        the write."""
        fn = specs[self.name].fn
        if trace is None:
            df = fn(spark, self.sf_dir)
            if on_built is not None:
                on_built(df)
            df.write.format("noop").mode("overwrite").save()
            return
        tracer, op = trace
        with tracer.layer(op, "plans.build"):
            df = fn(spark, self.sf_dir)
        with tracer.layer(op, "exec"):
            df.write.format("noop").mode("overwrite").save()


def make_ops(workload: str, seed: int, run_dir: str):
    """The workload's op list and the directory of its generated tables
    (None for the CAIC payloads, which live in memory)."""
    if workload == "caic_invocations":
        import caic_flow

        ops = [
            caic_flow.Invocation(i, caic_flow.Payload(a, f))
            for i, (a, f) in enumerate(caic_flow.payload_seeds(seed, CAIC_PAYLOADS))
        ]
        return ops, None
    import datagen

    sf_dir = datagen.write_tables(os.path.join(run_dir, "data"), SF, seed)
    return [QueryOp(n, sf_dir) for n in EAGER_BUILDS], sf_dir


# ---------------------------------------------------------------- checks


def compare(con, oracle_sql: str, cols, dtypes, nonscalar, rows) -> str | None:
    """The strict comparison of ``tools/driver_sim.py``: columns, column
    types, non-scalar cells, row count and the order-insensitive value
    hash. Returns None on a match, else what differs."""
    import __spark_entry__  # noqa: F401  (cached before driver_sim imports it)
    from tools.driver_sim import type_mismatches, value_hash

    rel = con.sql(oracle_sql)
    ocols = [d[0] for d in rel.description]
    orows = [tuple(r) for r in rel.fetchall()]
    if sorted(cols) != sorted(ocols):
        return f"columns spark={sorted(cols)} duck={sorted(ocols)}"
    if nonscalar:
        return f"non-scalar output columns {nonscalar}"
    mism = type_mismatches(con, oracle_sql, dtypes)
    if mism:
        return f"type mismatch {mism}"
    if len(rows) != len(orows):
        return f"row count spark={len(rows)} duck={len(orows)}"
    if value_hash(cols, rows) != value_hash(ocols, orows):
        return f"value-hash mismatch ({len(rows)} rows)"
    return None


def collect_result(df):
    """What the oracle comparison needs of one built frame."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    nonscalar = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    return df.columns, df.dtypes, nonscalar, [tuple(r) for r in df.collect()]


def check_outputs(ops, results, specs, sf_dir, run_dir) -> tuple[list[str], dict]:
    """Oracle-check each distinct op once. Returns one message per failure
    and, for CAIC ops, the oracle's sorted feature ids by op name, for
    ``check_submitted``."""
    import duckdb

    con = duckdb.connect()
    errors, want = [], {}
    if sf_dir is not None:
        from etl_caic_spark.sources import TABLE_NAMES

        for t in TABLE_NAMES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        import __spark_entry__  # noqa: F401  (imported once, before the threads)
        import tools.driver_sim  # noqa: F401
        # The twins run in parallel, each on its own cursor, since DuckDB
        # plans a query on a single core.
        with ThreadPoolExecutor(len(ops)) as pool:
            found = list(
                pool.map(
                    lambda op: compare(
                        con.cursor(), specs[op.name].oracle, *results[op.name]
                    ),
                    ops,
                )
            )
        return [f"{op.name}: {err}" for op, err in zip(ops, found) if err], want

    from etl_caic_spark.sources.caic_fixtures import caic_fixture_paths

    fixture_areas, fixture_forecasts = caic_fixture_paths()
    for op in ops:
        areas, forecasts = op.payload.write_parquet(
            os.path.join(run_dir, "payloads", op.name)
        )
        sql = (
            specs["caic_pipeline"]
            .oracle.replace(fixture_areas, areas)
            .replace(fixture_forecasts, forecasts)
        )
        err = compare(con, sql, *results[op.name])
        if err:
            errors.append(f"{op.name}: {err}")
            continue
        want[op.name] = sorted(r[0] for r in con.sql(sql).fetchall())
    return errors, want


def check_submitted(ops, want: dict) -> list[str]:
    """Every FeatureCollection a CAIC op submitted during the run must
    carry exactly the oracle's feature ids."""
    import caic_flow

    errors = []
    for op in ops:
        if op.name not in want:  # not a CAIC op, or its pipeline check failed
            continue
        ids = want[op.name]
        bad = sum(caic_flow.submitted_ids(b) != ids for b in op.submitted)
        if bad:
            errors.append(
                f"{op.name}: {bad} of {len(op.submitted)} submitted "
                f"FeatureCollections differ from the oracle's {len(ids)} ids"
            )
    return errors


# ---------------------------------------------------------------- phases


ENGINE_PACKAGE = "etl_caic_spark"


def start_engine(state: dict) -> dict:
    """One cold start: stop the previous session and its JVM, drop the
    engine's modules (untimed), then time a fresh engine import with a new
    JVM and SparkSession (``session.get_spark``) and the registry load
    (``registry.all_specs``)."""
    if "spark" in state:
        stop_spark(state.pop("spark"))
    for name in [m for m in sys.modules if m.split(".")[0] == ENGINE_PACKAGE]:
        del sys.modules[name]
    gc.collect()
    t0 = time.perf_counter()
    from etl_caic_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    from etl_caic_spark.registry import all_specs

    specs = all_specs()
    t2 = time.perf_counter()
    state.update(spark=spark, specs=specs)
    return {"session": t1 - t0, "registry": t2 - t1}


def set_up(ops, state: dict) -> dict:
    """``STARTS`` cold starts, then one warm pass on the last one, with
    ``gc.collect()`` between ops. The warm pass runs each op as the timed loop will, and also
    collects each built frame for the oracle check. ``total`` is the
    set-up time ``setup_s`` reports: the median start plus the warm pass."""
    starts = [start_engine(state) for _ in range(STARTS)]
    spark, specs = state["spark"], state["specs"]
    t0 = time.perf_counter()
    for op in ops:
        gc.collect()

        def keep(df, name=op.name):
            state["results"][name] = collect_result(df)

        op.run(spark, specs, on_built=keep)
    warm = time.perf_counter() - t0
    cold = [s["session"] + s["registry"] for s in starts]
    return {
        "total": stats.median(cold) + warm,
        "session": stats.median([s["session"] for s in starts]),
        "registry": stats.median([s["registry"] for s in starts]),
        "warm_pass": warm,
        "starts": cold,
    }


def settle(ops, spark, specs, passes: int) -> float:
    """Untimed passes after set-up, so that timing starts nearer the
    JVM's steady state. Returns their wall time."""
    t0 = time.perf_counter()
    for _ in range(passes):
        for op in ops:
            gc.collect()
            op.run(spark, specs)
    return time.perf_counter() - t0


def timed_passes(ops, spark, specs, seconds: float, tracer) -> dict:
    """Closed loop, one client: whole passes over the op list until at
    least ``seconds`` have been measured. With a tracer, passes run in
    traced / untraced / untraced / traced blocks, so a warm-up trend
    cancels out of the trace overhead measured in the same run. A failed
    op is counted and its pass gets no pass time."""
    out = {"ops": [], "passes": [], "failed": 0, "attempted": 0, "errors": []}
    min_passes = MIN_PASSES if tracer is None else MIN_TRACED_PASSES
    t_start = time.perf_counter()
    p = 0
    while p < min_passes or time.perf_counter() - t_start < seconds:
        traced = tracer is not None and p % 4 in (0, 3)
        pass_s, pass_ok, records = 0.0, True, []
        for op in ops:
            gc.collect()
            out["attempted"] += 1
            ok, wall, trace = run_op(op, spark, specs, tracer if traced else None)
            if not ok:
                out["failed"] += 1
                out["errors"].append(f"{op.name}: {trace}")
                pass_ok = False
                continue
            pass_s += wall
            records.append({"op": op.name, "wall": wall, "trace": trace})
        out["ops"].extend(dict(r, traced=traced, pass_no=p) for r in records)
        if pass_ok:
            out["passes"].append({"wall": pass_s, "traced": traced, "ops": records})
        p += 1
    return out


def run_op(op, spark, specs, tracer):
    """Time one op. Returns (ok, wall seconds, trace record or error). The
    trace record maps each layer span to its time and counts, and holds
    the jobs that ran under no job group."""
    try:
        if tracer is None:
            t0 = time.perf_counter()
            op.run(spark, specs)
            return True, time.perf_counter() - t0, None
        with tracer.op(op.name, len(tracer.spans)) as span:
            op.run(spark, specs, (tracer, span))
        layers = {
            s.name: {"ms": s.ms, "jobs": s.jobs, "stages": s.stages, "tasks": s.tasks, **s.attrs}
            for s in tracer.resolve(span)
        }
        return True, span.end - span.start, {
            "layers": layers,
            "unattributed_jobs": span.unattributed_jobs,
        }
    except Exception:  # a failed op is counted, not skipped
        return False, 0.0, traceback.format_exc(limit=3)


# ---------------------------------------------------------------- metrics


def end_to_end(setup, timed) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for r in timed["ops"]:
        if not r["traced"]:
            by_op.setdefault(r["op"], []).append(r["wall"])
    passes = [p["wall"] for p in timed["passes"] if not p["traced"]]
    return {
        "setup_s": setup["total"],
        "latency_ms": 1000.0 * stats.geomean_of_medians(by_op),
        "pass_s": stats.median(passes),
    }


# (layer span, span field) -> per-layer metric
LAYER_FIELDS = {
    ("sources.fetch", "ms"): "sources.fetch_ms",
    ("sources.fetch", "payload_bytes"): "sources.payload_bytes",
    ("operators.build", "ms"): "operators.build_ms",
    ("operators.build", "jobs"): "operators.jobs",
    ("sinks.submit", "ms"): "sinks.submit_ms",
    ("sinks.submit", "jobs"): "sinks.jobs",
    ("sinks.submit", "stages"): "sinks.stages",
    ("sinks.submit", "tasks"): "sinks.tasks",
    ("sinks.submit", "features"): "sinks.features",
    ("plans.build", "ms"): "plans.build_ms",
    ("plans.build", "jobs"): "plans.build_jobs",
    ("exec", "ms"): "exec.ms",
    ("exec", "jobs"): "exec.jobs",
    ("exec", "stages"): "exec.stages",
    ("exec", "tasks"): "exec.tasks",
}


def per_layer(setup, timed) -> dict[str, float]:
    """Layer metrics are per op: summed over each traced pass, divided by
    the ops in it, median over traced passes. ``<query>.*`` metrics are
    the median over that query's traced samples. Bypassed layers read 0."""
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = setup["session"]
    m["registry.load_s"] = setup["registry"]
    m["setup.warm_pass_s"] = setup["warm_pass"]

    traced = [p for p in timed["passes"] if p["traced"]]
    per_pass: dict[str, list[float]] = {}
    for p in traced:
        sums: dict[str, float] = {}
        for rec in p["ops"]:
            layers = rec["trace"]["layers"]
            for (layer, fld), metric in LAYER_FIELDS.items():
                if layer in layers:
                    sums[metric] = sums.get(metric, 0) + layers[layer][fld]
            if "plans.build" in layers:
                sums["plans.unattributed_jobs"] = (
                    sums.get("plans.unattributed_jobs", 0) + rec["trace"]["unattributed_jobs"]
                )
        for metric, v in sums.items():
            per_pass.setdefault(metric, []).append(v / len(p["ops"]))

    coverage = []
    for rec in (r for r in timed["ops"] if r["traced"]):
        layers = rec["trace"]["layers"]
        coverage.append(sum(x["ms"] for x in layers.values()) / (rec["wall"] * 1000.0))
        if "plans.build" in layers:
            q, build, ex = rec["op"], layers["plans.build"], layers["exec"]
            for k, v in {
                "build_ms": build["ms"],
                "exec_ms": ex["ms"],
                "build_jobs": build["jobs"],
                "exec_jobs": ex["jobs"],
                "unattributed_jobs": rec["trace"]["unattributed_jobs"],
            }.items():
                per_pass.setdefault(f"{q}.{k}", []).append(v)
    for k, v in per_pass.items():
        m[k] = stats.median(v)

    walls = [1000.0 * r["wall"] for r in timed["ops"]]
    m["latency.samples"] = len(walls)
    t = stats.tail(walls)
    m["latency_tail_ms"], m["latency_tail.pct"], m["latency_tail.beyond"] = (
        t if t is not None else (max(walls), 100.0, 0)
    )
    untraced = [p["wall"] for p in timed["passes"] if not p["traced"]]
    if traced and untraced:
        m["trace.overhead_pct"] = 100.0 * (
            stats.median([p["wall"] for p in traced]) / stats.median(untraced) - 1.0
        )
    m["trace.coverage_pct"] = 100.0 * min(coverage) if coverage else 0.0
    return m


# ---------------------------------------------------------------- main


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    # SIGTERM unwinds like an exception, so the scratch cleanup still runs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "etl_caic_spark", "session.py")):
        print(f"perfbench: no engine source under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    env = host_env(run_dir)
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        print(f"{k}={env[k]}")

    state = {"results": {}}
    try:
        marks = [("start", time.perf_counter())]
        ops, sf_dir = make_ops(args.workload, args.seed, run_dir)
        import pyspark.sql  # noqa: F401  (not the engine: outside set-up)

        marks.append(("inputs", time.perf_counter()))
        setup = set_up(ops, state)
        marks.append(("setup", time.perf_counter()))
        spark, specs = state["spark"], state["specs"]
        # The oracle twins (DuckDB, which releases the GIL) run beside the
        # settle passes; timing starts only once they are done.
        with ThreadPoolExecutor(1) as checker:
            checks = checker.submit(
                check_outputs, ops, state["results"], specs, sf_dir, run_dir
            )
            settle_s = settle(ops, spark, specs, SETTLE_PASSES[args.workload])
            marks.append(("settle", time.perf_counter()))
            errors, want = checks.result()
        marks.append(("checks", time.perf_counter()))
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(spark.sparkContext)
        timed = timed_passes(ops, spark, specs, args.seconds, tracer)
        marks.append(("timed", time.perf_counter()))
        errors += check_submitted(ops, want)
        if tracer is not None:
            os.makedirs(os.path.join(ROOT, ".perfbench_run", "traces"), exist_ok=True)
            tracer.dump(
                os.path.join(
                    ROOT, ".perfbench_run", "traces",
                    f"{args.workload}-seed{args.seed}-{os.getpid()}.json",
                )
            )
        stop_spark(state.pop("spark"))
        marks.append(("stop", time.perf_counter()))
    finally:
        if "spark" in state:  # an exception left the JVM running
            stop_spark(state.pop("spark"))
        shutil.rmtree(run_dir, ignore_errors=True)

    print(
        "phases "
        + " ".join(f"{b[0]}_s={b[1] - a[1]:.2f}" for a, b in zip(marks, marks[1:]))
        + " starts_s=[" + ", ".join(f"{t:.2f}" for t in setup["starts"]) + "]"
        + f" warm_pass_s={setup['warm_pass']:.2f} settle_pass_s={settle_s:.2f}"
    )
    print("passes_s=[" + ", ".join(f"{p['wall']:.3f}" for p in timed["passes"]) + "]")

    for e in timed["errors"] + errors:
        print(f"FAIL {e}")
    units = per_layer_units() if args.trace else END_TO_END
    try:
        values = (per_layer if args.trace else end_to_end)(setup, timed)
    except ValueError as exc:  # every op of the run failed
        print(f"FAIL no samples to report: {exc}")
        return 1
    for name in sorted(values):
        print(f"{stats.check_metric_name(name)} {values[name]:.6g} {units[name]}")
    print(f"ops attempted={timed['attempted']} failed={timed['failed']} "
          f"passes={len(timed['passes'])} checks={len(ops)} check_failures={len(errors)}")
    correct = not errors and not timed["failed"]
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": timed["attempted"] + len(ops),
                "failed": timed["failed"] + len(errors),
                "metrics": {
                    k: {"value": v, "unit": units[k]} for k, v in values.items()
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
