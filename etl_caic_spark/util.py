"""Small shared utilities."""

from __future__ import annotations

import atexit
import os
import re
import shutil
import tempfile
import warnings

from pyspark.sql import DataFrame

try:  # py4j is absent on Spark Connect slim clients — the very builds
    # strip_plan_stats must degrade gracefully on (r11 ADVICE).
    from py4j.protocol import Py4JError
except ModuleNotFoundError:  # pragma: no cover - classic-only container

    class Py4JError(Exception):
        """Placeholder so `except (..., Py4JError)` stays valid."""

# Flipped (once) when strip_plan_stats hits private-API drift and has to
# return frames unstripped — observable signal for the perf regression.
_STRIP_STATS_UNAVAILABLE = False


def widen_narrow_scan(df: DataFrame, per_core: int = 1) -> DataFrame:
    """Round-robin repartition an input that arrives NARROWER than the
    cluster, ahead of a compute-inflating op (shingle explode, vector
    self-join, per-bit aggregates).

    A scan of one small file yields one partition, which serializes a 50×
    explode onto a single core; a 100 TB scan already arrives thousands of
    partitions wide and this is a no-op (no shuffle added). The check is
    plan-time only — no job is triggered — and reads the partition count
    off the JVM-side RDD of the plan (``df.rdd`` would also build a
    Python RDD around it for nothing)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * per_core
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= target:
        return df
    return df.repartition(target)


def submit_inheriting(pool, spark, fn, *args):
    """pool.submit(fn, *args), with fn run under the calling thread's Spark
    local properties (job group, job description, scheduler pool). PySpark
    pins each Python thread to its own JVM thread, so a pool thread starts
    without them, and its jobs would fall outside the caller's job group:
    unattributed in a profile, out of reach of cancelJobGroup. The
    properties are copied when this is called."""
    jsc = spark.sparkContext._jsc.sc()
    props = jsc.getLocalProperties().clone()

    def leg():
        jsc.setLocalProperties(props)
        return fn(*args)

    return pool.submit(leg)


def strip_plan_stats(df: DataFrame) -> DataFrame:
    """Re-root a (checkpointed) DataFrame on a fresh LogicalRDD WITHOUT
    the origin plan's Catalyst statistics — the fix for the
    stats-squaring pathology of iterative self-joins.

    Dataset.localCheckpoint truncates the LINEAGE but deliberately
    carries the origin plan's computed Statistics into the new
    LogicalRDD (so broadcast decisions survive checkpointing). In an
    iterative algorithm that joins a checkpointed frame WITH ITSELF
    (pointer doubling: map := map(map)), join size estimation then
    SQUARES the carried sizeInBytes every iteration — the BigInteger's
    bit length doubles per round (measured: 66 -> 130 -> 259 -> ... ->
    8263 bits in 8 iterations), and within ~14 iterations Catalyst
    spends MINUTES of driver CPU in BigInteger.multiplyToomCook3
    during ordinary planning (found by jstack on a connected-components
    probe whose rounds went 2 s -> 84 s with constant data sizes).

    The reset is zero-I/O and JVM-side only: re-wrap the checkpointed
    internal RDD via SparkSession.internalCreateDataFrame, whose
    LogicalRDD carries no origin stats (sizeInBytes falls back to
    spark.sql.defaultSizeInBytes). Runtime join strategy is unaffected
    — AQE re-plans from TRUE runtime sizes at every exchange. If the
    internal API ever disappears, the frame is returned unchanged:
    correctness never depends on this (it is purely a planning-cost
    fix)."""
    global _STRIP_STATS_UNAVAILABLE
    try:
        spark = df.sparkSession
        jdf = df._jdf
        jrdd = jdf.queryExecution().toRdd()
        jschema = spark._jsparkSession.parseDataType(df.schema.json())
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jschema, False
        )
        return DataFrame(new_jdf, spark)
    except (AttributeError, TypeError, Py4JError):
        # Private-API drift (e.g. Spark Connect has no _jdf). Correctness
        # is unaffected, but the stats-squaring planning pathology this
        # guards against silently returns — so say so ONCE per process
        # and flip a module flag tests/operators can observe (round-10
        # ADVICE item: the silent fallback hid the regression).
        if not _STRIP_STATS_UNAVAILABLE:
            _STRIP_STATS_UNAVAILABLE = True
            warnings.warn(
                "strip_plan_stats: internalCreateDataFrame unavailable on "
                "this PySpark build — iterative self-join plans keep their "
                "carried Catalyst statistics (planning-cost pathology, not "
                "a correctness issue)",
                RuntimeWarning,
                stacklevel=2,
            )
        return df


# All scratch output stays inside the repo (driver policy: nothing outside
# /root/repo is written). Gitignored.
REPO_TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")


_OWN_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """Fresh per-call scratch directory. Tracked so the atexit hook
    below deletes everything this process created — mkdtemp names are
    random, so unlike the pid-suffixed scratch_path dirs no other
    process can identify (or reuse) them, and untracked ones would
    accumulate forever (observed: 500 ckpt_*/fixture dirs across test
    runs before round 10 added this)."""
    os.makedirs(REPO_TMP, exist_ok=True)
    d = tempfile.mkdtemp(prefix=prefix, dir=REPO_TMP)
    _OWN_SCRATCH_DIRS.append(d)
    return d


def scratch_path(name: str) -> str:
    """Per-PROCESS scratch directory for write->read roundtrip queries.

    The pid suffix matters: two verification processes running the same
    sink query concurrently (e.g. pytest's oracle differential and
    tools/driver_sim.py) would otherwise write and read the SAME fixed
    path and transiently corrupt each other — observed as a one-off
    row-count mismatch in a round-9 gate run. Within one process the
    path is stable (time-travel / incremental-refresh queries that
    re-read their own earlier writes keep working); across processes
    each run rebuilds its own copy."""
    os.makedirs(REPO_TMP, exist_ok=True)
    return os.path.join(REPO_TMP, f"{name}_p{os.getpid()}")


# Scratch hygiene: per-pid dirs isolate concurrent runs (above), but
# nothing would ever delete them — every verification/bench/pytest
# process would permanently leave its copy of every sink fixture,
# growing REPO_TMP without bound across runs. Two-sided cleanup:
# (a) on import, prune _p<pid> dirs whose owning process is gone
#     (liveness probe via kill(pid, 0); pid-reuse makes the check
#     conservative — a recycled pid keeps a stale dir one run longer,
#     never deletes a live one);
# (b) at exit, remove THIS process's own dirs (it cannot be using
#     them anymore). rmtree(ignore_errors) tolerates two cleaners
#     racing on the same dead dir.
_PID_DIR_RE = re.compile(r"_p(\d+)$")


def _prune_dead_scratch() -> None:
    try:
        entries = os.listdir(REPO_TMP)
    except OSError:
        return
    for name in entries:
        m = _PID_DIR_RE.search(name)
        if not m or int(m.group(1)) == os.getpid():
            continue
        try:
            os.kill(int(m.group(1)), 0)
        except ProcessLookupError:
            shutil.rmtree(os.path.join(REPO_TMP, name), ignore_errors=True)
        except PermissionError:
            pass  # alive under another uid — leave it


def _cleanup_own_scratch() -> None:
    for d in _OWN_SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)
    suffix = f"_p{os.getpid()}"
    try:
        entries = os.listdir(REPO_TMP)
    except OSError:
        return
    for name in entries:
        if name.endswith(suffix):
            shutil.rmtree(os.path.join(REPO_TMP, name), ignore_errors=True)


_prune_dead_scratch()
atexit.register(_cleanup_own_scratch)
