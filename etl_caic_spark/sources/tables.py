"""Parquet table catalog for the driver-generated synthetic tables.

Schemas are declared in ``schemas.TABLE_SCHEMAS`` (FIXTURES.md Part A)
and passed to the reader, so a load runs no schema-inference job. Each
file's footer is checked against the declaration on the driver first
(pyarrow, metadata only): a column the declaration does not know, or one
whose type differs, raises instead of being read as nulls or re-typed.
Reads are otherwise plain ``spark.read.parquet`` so Catalyst gets
projection/predicate pushdown and partition-sized splits for free; at
100 TB the same call reads a multi-file dataset and
``spark.sql.files.maxPartitionBytes`` governs split sizing — nothing here
assumes a single file.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl_caic_spark.schemas import TABLE_SCHEMAS

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    path = table_path(sf_dir, name)
    return spark.read.schema(declared_schema(path, TABLE_SCHEMAS[name])).parquet(path)


def declared_schema(path: str, declared: T.StructType) -> T.StructType:
    """The read schema for the dataset at ``path``: its footer's columns, in
    footer order (what inference would give), typed as ``declared`` says.

    A footer column that ``declared`` lacks (a rename) or whose Spark type
    differs from the declared one (a retype) raises TypeError: the read
    never null-fills or casts. A file with fewer columns than declared (a
    hand-built fixture) reads as those columns; a query that needs a
    missing one fails at analysis. Footer-only and cached per file
    version, like the ts sniff."""
    p = _first_part_file(path)
    st = os.stat(p)
    return _declared_schema(p, st.st_mtime_ns, st.st_size, declared)


@lru_cache(maxsize=256)
def _declared_schema(
    p: str, mtime_ns: int, size: int, declared: T.StructType
) -> T.StructType:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(p)
    phys = {c.path: c.physical_type for c in pf.schema}
    want = {f.name: f.dataType for f in declared.fields}
    fields, drift = [], []
    for f in pf.schema_arrow:
        got = _spark_type(f.type, phys.get(f.name))
        if want.get(f.name) != got:
            drift.append(f"{f.name}: file {got}, declared {want.get(f.name)}")
        fields.append(T.StructField(f.name, want.get(f.name, got), True))
    if drift:
        raise TypeError(
            f"{p} does not match its declared schema "
            f"(etl_caic_spark/schemas.py TABLE_SCHEMAS): {'; '.join(drift)}"
        )
    return T.StructType(fields)


def _spark_type(at, physical: str | None) -> T.DataType:
    """The Spark type parquet inference gives an Arrow footer type. A
    timestamp reads as TimestampType when tz-aware or INT96, as LongType
    when annotated nanos (only readable under nanosAsLong, see
    _load_events), and as TIMESTAMP_NTZ otherwise."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import from_arrow_type

    if pa.types.is_timestamp(at):
        if at.tz is not None or physical == "INT96":
            return T.TimestampType()
        return T.LongType() if at.unit == "ns" else T.TimestampNTZType()
    return from_arrow_type(at)


def events_ts_physical_type(path: str):
    """Sniff the parquet footer for the physical/logical type of ``ts``.

    Fixture generations have shipped events.ts as parquet TIMESTAMP(NANOS)
    (earlier rounds) and as TIMESTAMP(MICROS) (current), so the loader
    branches on the footer instead of assuming either. A footer read is
    metadata-only — no row groups are touched — and is cached per path.
    """
    return _sniff_ts(path)


@lru_cache(maxsize=64)
def _sniff_ts(path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = _first_part_file(path)
    t = pq.read_schema(p).field("ts").type
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            # Arrow reports BOTH parquet TIMESTAMP(NANOS) and legacy
            # INT96 as timestamp[ns] — but Spark reads INT96 natively as
            # TimestampType (it is what Spark itself WRITES by default,
            # so every replicated/derived events fixture is INT96; found
            # by the round-11 wave15 scale probe misrouting a replica to
            # the nanosAsLong branch). Disambiguate on the parquet
            # PHYSICAL type before treating ns as annotated-nanos.
            pfs = pq.ParquetFile(p).schema
            phys = {
                pfs.column(i).name: pfs.column(i).physical_type
                for i in range(len(pfs))
            }
            if phys.get("ts") == "INT96":
                return "timestamp_tz"
            # Spark's parquet reader rejects TIMESTAMP(NANOS); under
            # spark.sql.legacy.parquet.nanosAsLong it surfaces as LongType,
            # so annotated nanos take the same branch as unannotated INT64.
            return "int_nanos"
        # tz-aware (isAdjustedToUTC) micros/millis read as TimestampType;
        # no-tz read as TIMESTAMP_NTZ — the stream schema must match.
        return "timestamp_tz" if t.tz is not None else "timestamp"
    if pa.types.is_integer(t):
        return "int_nanos"
    raise TypeError(
        f"events.ts has unsupported parquet type {t!r} in {p}; "
        "expected a timestamp or int64-nanos column "
        "(update etl_caic_spark/sources/tables.py if the fixture changed)"
    )


def _first_part_file(path: str) -> str:
    """Resolve a dataset path to one part file for footer sniffing.

    All parts share a schema, so any one footer is authoritative. Recurses so
    hive-partitioned layouts (subdirectories) work, and fails loudly on an
    empty dataset instead of raising a bare IndexError.
    """
    import glob

    if not os.path.isdir(path):
        return path
    parts = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    if not parts:
        raise FileNotFoundError(
            f"no .parquet part files found under {path!r}; cannot sniff the "
            "events.ts encoding (empty or non-parquet dataset)"
        )
    return parts[0]


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with ``ts`` normalized to a µs TimestampType regardless
    of how the fixture encodes it:

    - TIMESTAMP(MICROS/MILLIS): Spark reads no-tz parquet timestamps as
      TIMESTAMP_NTZ; cast to TimestampType (session TZ is UTC everywhere in
      this engine, so the cast is value-identical and the DuckDB oracle —
      which reads the same column as naive TIMESTAMP — agrees).
    - TIMESTAMP(NANOS): Spark's vectorized reader rejects nanos, so read
      them as raw INT64 under ``spark.sql.legacy.parquet.nanosAsLong`` and
      integer-DIV to µs (ns since epoch exceeds double's 2^53 mantissa;
      DIV matches DuckDB's TIMESTAMP_NS → TIMESTAMP truncation).

    A footer-stats sanity check makes silent type drift impossible: if a
    future fixture change makes the decoded timestamps land outside a sane
    range, the load throws instead of emitting 1970-collapsed data.
    """
    from pyspark.sql import functions as F

    path = table_path(sf_dir, "events")
    kind = events_ts_physical_type(path)
    schema = declared_schema(path, _events_schema(kind))
    if kind == "int_nanos":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        ts = F.timestamp_micros(F.expr("ts DIV 1000"))
    else:
        ts = F.col("ts").cast("timestamp")
    df = spark.read.schema(schema).parquet(path).withColumn("ts", ts)
    _assert_sane_ts_range(path, kind)
    return df


_TS_TYPES = {
    "int_nanos": T.LongType(),
    "timestamp_tz": T.TimestampType(),
    "timestamp": T.TimestampNTZType(),
}


def _events_schema(kind: str) -> T.StructType:
    """TABLE_SCHEMAS["events"] with ts typed as the footer sniff found it."""
    return T.StructType(
        [
            T.StructField(f.name, _TS_TYPES[kind], True) if f.name == "ts" else f
            for f in TABLE_SCHEMAS["events"].fields
        ]
    )


@lru_cache(maxsize=64)
def _assert_sane_ts_range(path: str, kind: str) -> None:
    """Footer-only guard: min(ts) across row-group statistics must decode to
    a year in (1990, 2100). Catches unit mismatches (s vs ms vs µs vs ns)
    the moment the driver regenerates the fixture with a new encoding."""
    import datetime

    import pyarrow.parquet as pq

    p = _first_part_file(path)
    md = pq.ParquetFile(p).metadata
    idx = md.schema.to_arrow_schema().get_field_index("ts")
    mins = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is not None and st.has_min_max:
            mins.append(st.min)
    if not mins:
        return  # no stats written; nothing cheap to check
    lo = min(mins)
    if kind == "int_nanos" and isinstance(lo, int):
        # Annotated TIMESTAMP(NANOS) stats already decode to datetime via
        # pyarrow; raw INT64 stats arrive as ints and are interpreted as ns.
        lo = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=lo // 1000
        )
    if getattr(lo, "tzinfo", None) is not None:
        lo = lo.replace(tzinfo=None)
    if not (1990 < lo.year < 2100):
        raise ValueError(
            f"events.ts sanity check failed: min(ts) decodes to {lo!r} "
            f"under the {kind!r} interpretation for {p}. The fixture's "
            "timestamp encoding has drifted; fix "
            "etl_caic_spark/sources/tables.py before trusting any "
            "events-derived result."
        )
