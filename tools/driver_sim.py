"""Driver simulator: exercises the __spark_entry__ contract exactly like the
round driver — a plain SparkSession (driver's own configs, not our factory),
entry() smoke at sf0.001, then every queries() entry at sf0.01 compared to
its oracle_sql() twin through DuckDB (row count + schema + order-insensitive
value hash). Prints one verdict line per query and a summary."""

from __future__ import annotations

import hashlib
import math
import os
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402
from etl_caic_spark.session import default_cpus  # noqa: E402

SF_CHECK = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__[0]}:{v}"


# DuckDB type → Spark simpleString type, for strict schema comparison.
DUCK_TO_SPARK = {
    "INTEGER": "int",
    "BIGINT": "bigint",
    "DOUBLE": "double",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "FLOAT": "float",
    "DATE": "date",
    "TIMESTAMP": "timestamp",
    "TIMESTAMP_NS": "timestamp",
    "FLOAT[]": "array<float>",
    "DOUBLE[]": "array<double>",
    "BIGINT[]": "array<bigint>",
    "INTEGER[]": "array<int>",
    "VARCHAR[]": "array<string>",
}


def type_mismatches(con, oracle_sql, spark_dtypes):
    desc = con.sql("DESCRIBE (" + oracle_sql + ")").fetchall()
    duck_types = {r[0]: r[1] for r in desc}
    out = []
    for col, st in spark_dtypes:
        dt = duck_types.get(col)
        if dt is None:
            continue
        # unmapped types (e.g. DECIMAL(38,2)) compare case-insensitively —
        # DuckDB upper-cases them, Spark simpleString lower-cases
        if DUCK_TO_SPARK.get(dt, dt.lower()) != st.replace(
            "timestamp_ntz", "timestamp"
        ):
            out.append(f"{col}: spark={st} duck={dt}")
    return out


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for r in canon_rows:
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


def main():
    spark = (
        SparkSession.builder.master(f"local[{default_cpus()}]")
        .appName("driver-sim")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    df = entrymod.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema={df.schema.simpleString()[:120]}")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_CHECK}/{t}.parquet'")

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
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {exc}")
            bad += 1
            continue
        from pyspark.sql.types import ArrayType, MapType, StructType

        nonscalar = [
            f.name
            for f in sdf.schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if name not in oracles:
            note = f" [non-scalar cols: {nonscalar}]" if nonscalar else ""
            print(f"ROWS  {name}: {len(srows)} rows (rows-only){note}")
            rows_only += 1
            continue
        if nonscalar:
            # The REAL driver canonicalizes via pandas.sort_values, which
            # throws on list/dict cells — flag before the hash can "pass".
            print(f"FAIL  {name}: non-scalar output columns {nonscalar}")
            bad += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            orows = [tuple(r) for r in rel.fetchall()]
        except Exception as exc:
            print(f"FAIL  {name}: oracle error: {exc}")
            bad += 1
            continue
        mism = type_mismatches(con, oracles[name], sdf.dtypes)
        if sorted(scols) != sorted(ocols):
            print(f"FAIL  {name}: cols spark={sorted(scols)} duck={sorted(ocols)}")
            bad += 1
        elif mism:
            print(f"FAIL  {name}: type mismatch {mism}")
            bad += 1
        elif len(srows) != len(orows):
            print(f"FAIL  {name}: rowcount spark={len(srows)} duck={len(orows)}")
            bad += 1
        elif value_hash(scols, srows) != value_hash(ocols, orows):
            print(f"FAIL  {name}: value-hash mismatch ({len(srows)} rows)")
            bad += 1
        else:
            print(f"OK    {name}: {len(srows)} rows hash-match")
            ok += 1
    print(f"summary: {ok} hash-match, {rows_only} rows-only, {bad} FAIL")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
