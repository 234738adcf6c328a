"""Benchmark runner: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
SHORT JSON line {"metric", "value", "unit", "queries", "sf", ...} as the
final stdout line. "queries" holds only the slowest 10 (the full per-query
map would make the line several KB, and a bounded output-tail capture must
hold it intact); the complete per-query map is written to BENCH_FULL.json
next to this script. Unset, SPARK_GRAFT_CPUS defaults to the host's cores
(session.default_cpus).

Each query is forced end-to-end with the noop sink (df.write.format("noop"))
so projection/aggregation work is not optimized away by a count().

Raw axis: "value" and BENCH_FULL's "queries" are each query's first
reading, except that a stall outlier (> max(5 s, 3x the median)) keeps the
min of its two readings.

Steal sentinel: this host suffers bursty external CPU steal that can
inflate whole segments of a sweep with no code change. A fixed ~0.3 s
control query is timed before the sweep (min-of-3 = control_base) and again
after every _SENTINEL_EVERY queries; a reading above _SENTINEL_FACTOR x
control_base marks that segment's queries steal-suspect.

One retime pass (pick_retimes) follows the sweep: the stall outliers, the
steal-suspect queries and the slowest _TAIL_K are each re-timed once, and
the adjusted reading is the min of the two. BENCH_FULL's "steal_adjusted"
block holds the control base/readings, the inflated segments, every
retime pair, the per-query adjusted timings and the adjusted total; the
headline JSON line carries both the raw and the adjusted totals. No
earlier archive is read, so a run's numbers depend only on the run."""

from __future__ import annotations

import gc
import json
import os
import re
import statistics
import sys
import time

from etl_caic_spark.registry import all_specs
from etl_caic_spark.session import default_cpus, get_spark


def run_once(spark, spec, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = spec.fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


_SENTINEL_EVERY = 10  # control reading after every N timed queries
_SENTINEL_FACTOR = 2.0  # reading > factor x base => segment contaminated
_STALL_FLOOR = 5.0  # stall outlier: first reading > max(floor, ...
_STALL_FACTOR = 3.0  # ... factor x the median first reading)
_TAIL_K = 12  # slowest-K unconditional retimes


def stall_outliers(timings: dict[str, float]) -> set[str]:
    """Queries whose first reading exceeds max(5 s, 3x the median) — the
    one-off host stalls whose raw reading keeps the min of two."""
    ok = [t for t in timings.values() if t >= 0]
    if not ok:
        return set()
    cutoff = max(_STALL_FLOOR, _STALL_FACTOR * statistics.median(ok))
    return {n for n, t in timings.items() if t > cutoff}


def pick_tail(timings: dict[str, float], k: int = _TAIL_K) -> list[str]:
    """The slowest k queries (they dominate the total and are the most
    steal-exposed), slowest first — retimed unconditionally."""
    return [
        n
        for _, n in sorted(
            ((t, n) for n, t in timings.items() if t >= 0), reverse=True
        )[:k]
    ]


def pick_retimes(
    timings: dict[str, float], suspect: set[str], k: int = _TAIL_K
) -> list[str]:
    """The one retime set, each query once: the stall outliers, the
    queries of control-inflated segments (``suspect``) and the slowest k
    first readings. Failed (-1) queries are never retimed."""
    picked = stall_outliers(timings) | set(suspect) | set(pick_tail(timings, k))
    return sorted(n for n in picked if timings.get(n, -1.0) >= 0)


def run_control(spark, sf_dir: str) -> float:
    """Fixed-cost control job (~0.3 s at sf0.1): scan+shuffle+agg over
    lineitem — the same machinery (parquet reader, hash agg, one
    exchange) the fleet exercises, with a constant plan so any reading
    swing is the HOST's, not the code's."""
    from pyspark.sql import functions as F

    from etl_caic_spark.sources import load_table

    t0 = time.perf_counter()
    (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .groupBy((F.col("l_orderkey") % 101).alias("k"))
        .agg(F.sum("l_quantity").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def main() -> None:
    # --round N pins the BENCH_FULL_r{N}.json archive name; without it the
    # round is inferred from the driver's BENCH_r{N}.json artifacts (the
    # run belongs to the round AFTER the latest recorded one) — inference
    # misattributes ad-hoc re-runs made after the driver's own bench, so
    # scripted runs should pass the flag (round-7 ADVICE item).
    round_arg: int | None = None
    argv = sys.argv[1:]
    if "--round" in argv:
        round_arg = int(argv[argv.index("--round") + 1])
    # --draw N writes the per-round archive under the IMMUTABLE name
    # BENCH_FULL_r{R}_draw{N}.json instead of BENCH_FULL_r{R}.json, so a
    # builder's clean draws can never be clobbered by the driver's own
    # closing run (which owns the plain name) — r14 verdict ask #5.
    draw_arg: int | None = None
    if "--draw" in argv:
        draw_arg = int(argv[argv.index("--draw") + 1])
    # --only a,b,c restricts the sweep to the named queries (builder-side
    # tail probes / scaling probes at a second core count; the driver's
    # full runs never pass it, so the contract sweep is unchanged).
    only_arg: set[str] | None = None
    if "--only" in argv:
        only_arg = set(argv[argv.index("--only") + 1].split(","))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = default_cpus()
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark(app_name="etl-caic-spark-bench", cpus=cpus)
    # Echoed in the one-line JSON (r15 verdict: the driver could not tell
    # "honored but floor-dominated" from "ignored" without it).
    default_parallelism = spark.sparkContext.defaultParallelism
    specs = all_specs()
    if only_arg is not None:
        missing = sorted(only_arg - set(specs))
        if missing:
            print(f"bench: --only unknown queries: {missing}", file=sys.stderr)
            sys.exit(2)
        specs = {n: s for n, s in specs.items() if n in only_arg}

    # JVM/codegen warmup so the alphabetically-first query isn't charged
    # for session spin-up: a trivial job, then one untimed representative
    # scan+filter+join+agg over the bench tables (warms the parquet reader,
    # hash-agg/join codegen, and shuffle machinery that every timed query
    # shares).
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    try:
        from pyspark.sql import functions as F

        from etl_caic_spark.sources import load_table

        li = load_table(spark, sf_dir, "lineitem")
        ordr = load_table(spark, sf_dir, "orders")
        (
            li.filter(F.col("l_quantity") > 0)
            .join(F.broadcast(ordr.limit(1000)), li.l_orderkey == ordr.o_orderkey)
            .groupBy("l_returnflag")
            .agg(F.sum("l_extendedprice"), F.count("*"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # Pre-spawn the Python worker fleet at full width (forked daemons +
        # pandas import are a one-time cost otherwise charged to the first
        # wide pandas-UDF stage).
        def _ident(it):
            yield from it

        (
            spark.range(cpus * 10)
            .repartition(cpus)
            .mapInPandas(_ident, "id long")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # Python DataSource machinery (planner-side Python process + source
        # registration) is likewise a one-time cost; a tiny scan warms it so
        # the datasource queries measure steady-state connector throughput.
        from etl_caic_spark.sources.pyds import register_synthseq

        register_synthseq(spark)
        (
            spark.read.format("synthseq")
            .option("n", 64)
            .option("parts", 2)
            .load()
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        # Structured Streaming machinery (micro-batch planner, state-store
        # provider, file-source listing, memory sink) is its own one-time
        # class-loading hit — measured ~3.7 s charged to whichever stream
        # query sorts first. One trivial file->memory availableNow stream
        # warms it the same way the batch warmups above warm codegen.
        from etl_caic_spark.streaming.windows import run_stream_to_table
        from etl_caic_spark.util import scratch_dir

        wdir = scratch_dir("benchwarm_")
        spark.range(8).selectExpr(
            "id AS user_id", "CAST(id AS DOUBLE) AS value"
        ).write.mode("overwrite").parquet(f"{wdir}/warm.parquet")
        warm_stream = (
            spark.readStream.schema("user_id long, value double")
            .format("parquet")
            .option("pathGlobFilter", "*.parquet")
            .load(f"{wdir}/warm.parquet")
            .groupBy("user_id")
            .count()
        )
        run_stream_to_table(spark, warm_stream, "complete").count()
    except Exception as exc:  # pragma: no cover - warmup must not kill bench
        print(f"bench: warmup skipped: {exc}", file=sys.stderr)

    # Steal-sentinel baseline: min-of-3 control readings on the warmed
    # session.
    control_base = round(min(run_control(spark, sf_dir) for _ in range(3)), 4)
    control_reads: list[dict] = []

    timings: dict[str, float] = {}
    segment: list[str] = []
    suspect: set[str] = set()
    last = max(specs)  # the tail segment gets its own control reading
    for name in sorted(specs):
        try:
            timings[name] = round(run_once(spark, specs[name], sf_dir), 4)
        except Exception as exc:  # pragma: no cover - bench must not die
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        # Between queries (untimed): drop Python-side DataFrame refs so the
        # ContextCleaner can evict localCheckpoint/cache blocks from earlier
        # queries — otherwise storage memory ratchets up across the sweep
        # and later queries pay the GC bill.
        gc.collect()
        segment.append(name)
        if len(segment) >= _SENTINEL_EVERY or name == last:
            c = round(run_control(spark, sf_dir), 4)
            inflated = c > _SENTINEL_FACTOR * control_base
            control_reads.append({"after": name, "sec": c, "inflated": inflated})
            if inflated:
                suspect.update(segment)
            segment = []

    # One retime pass (pick_retimes): each picked query runs once more and
    # its adjusted reading is the min of the two. The raw axis ("queries",
    # "value") stays the first reading, except that a stall outlier keeps
    # the min (a random query per run absorbs a multi-second host stall),
    # so it stays comparable with the recorded history. Every pair of
    # readings lands in BENCH_FULL for audit.
    stalls = stall_outliers(timings)
    retimes: dict[str, list[float]] = {}
    adjusted: dict[str, float] = dict(timings)
    for name in pick_retimes(timings, suspect):
        try:
            t2 = round(run_once(spark, specs[name], sf_dir), 4)
        except Exception:  # pragma: no cover
            continue
        retimes[name] = [timings[name], t2]
        adjusted[name] = min(timings[name], t2)
        gc.collect()
    retries = {n: r for n, r in retimes.items() if n in stalls}
    for name in retries:
        timings[name] = adjusted[name]
    adjusted_total = round(sum(t for t in adjusted.values() if t >= 0), 4)
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    failed = sorted(n for n, t in timings.items() if t < 0)
    slowest = dict(
        sorted(
            ((n, t) for n, t in timings.items() if t >= 0),
            key=lambda kv: kv[1],
            reverse=True,
        )[:10]
    )
    repo = os.path.dirname(os.path.abspath(__file__))
    payload = {
        "sf": sf,
        "cpus": cpus,
        "default_parallelism": default_parallelism,
        "total_sec": total,
        "queries": timings,
        "failed": failed,
        "stall_retries": retries,
        "steal_adjusted": {
            "control_base_sec": control_base,
            "control_base_measured_sec": control_base,
            "control_reads": control_reads,
            "n_inflated_segments": sum(
                1 for r in control_reads if r["inflated"]
            ),
            "retimes": retimes,
            "queries": adjusted,
            "total_sec": adjusted_total,
        },
    }
    full_name = "BENCH_FULL.json" if only_arg is None else "BENCH_ONLY.json"
    with open(os.path.join(repo, full_name), "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    # Also keep a PER-ROUND archive (BENCH_FULL.json is overwritten every
    # run and gitignored, so prior rounds' per-query timings were
    # unrecoverable). The round number is inferred from the driver's own
    # BENCH_r{N}.json artifacts: the run belongs to the round AFTER the
    # latest recorded one. tools/bench_regressions.py diffs two archives.
    if round_arg is not None:
        this_round = round_arg
    else:
        rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"BENCH_r(\d+)\.json$", f))
        ]
        this_round = (max(rounds) + 1) if rounds else 1
    if only_arg is None:  # a partial --only sweep must never claim an archive
        archive = (
            f"BENCH_FULL_r{this_round:02d}.json"
            if draw_arg is None
            else f"BENCH_FULL_r{this_round:02d}_draw{draw_arg}.json"
        )
        with open(os.path.join(repo, archive), "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
    spark.stop()
    # The short machine-readable line goes LAST so a bounded tail capture
    # always contains it intact.
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf,
                "n_queries": len(timings),
                "n_failed": len(failed),
                "cpus": cpus,
                "default_parallelism": default_parallelism,
                "steal_adjusted_total_sec": adjusted_total,
                "control_base_sec": control_base,
                "n_inflated_segments": sum(
                    1 for r in control_reads if r["inflated"]
                ),
                "full_timings": "BENCH_FULL.json",
            }
        )
    )


if __name__ == "__main__":
    main()
