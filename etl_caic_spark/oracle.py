"""The oracle comparison: a built Spark frame against its DuckDB twin, with
the checks of the driver's correctness gate — column names, non-scalar
columns, column types, row count, then the order-insensitive values.

This is the one copy: the Tier-1 tests, ``tools/driver_sim.py`` and
``tools/qhash.py`` all call it. The caller passes the DuckDB connection
(this module does not import duckdb), and no engine path imports it."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql.types import ArrayType, MapType, StructType

from etl_caic_spark.sources import TABLE_NAMES

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


def canon(v):
    """One cell as a type-tagged string, equal across the two engines."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        # repr of the exact double — queries are written so both engines
        # produce bit-identical doubles (per-row ops) or pre-rounded values.
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return f"{type(v).__name__[0]}:{v}"


def canon_rows(cols, rows):
    """Columns sorted by name, cells canonicalized, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def value_hash(cols, rows):
    """sha256 of the canonical rows: the order-insensitive output identity."""
    h = hashlib.sha256()
    for r in canon_rows(cols, rows):
        h.update(("|".join(r) + "\n").encode())
    return h.hexdigest()


def type_mismatches(con, oracle_sql, spark_dtypes):
    """``"col: spark=<type> duck=<type>"`` for each shared column whose
    types differ."""
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


def nonscalar_columns(df):
    """Array, map and struct columns. The driver sorts rows with pandas,
    which throws on list or dict cells, so an oracled query has none."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]


def create_views(con, sf_dir, tables=TABLE_NAMES):
    """One DuckDB view per table over ``<sf_dir>/<table>.parquet``, as the
    driver registers them."""
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(con, oracle_sql, df, rows=None):
    """The first difference between ``df`` and the oracle, or None.
    ``rows`` are ``df``'s collected rows, when the caller has them."""
    rel = con.sql(oracle_sql)
    cols, ocols = df.columns, rel.columns
    if sorted(cols) != sorted(ocols):
        return f"columns spark={sorted(cols)} duck={sorted(ocols)}"
    nonscalar = nonscalar_columns(df)
    if nonscalar:
        return f"non-scalar output columns {nonscalar}"
    types = type_mismatches(con, oracle_sql, df.dtypes)
    if types:
        return f"type mismatch {types}"
    if rows is None:
        rows = [tuple(r) for r in df.collect()]
    orows = rel.fetchall()
    if len(rows) != len(orows):
        return f"row count spark={len(rows)} duck={len(orows)}"
    a, b = canon_rows(cols, rows), canon_rows(ocols, orows)
    if a == b:
        return None
    sa, sb = set(a), set(b)
    return (
        f"value mismatch ({len(a)} rows): "
        f"only in spark {[r for r in a if r not in sb][:8]}, "
        f"only in oracle {[r for r in b if r not in sa][:8]}"
    )
