"""REST snapshot source (reference R1/R4, task.ts:88-107): a driver-side
HTTP GET of a JSON payload turned into a DataFrame with a declared schema.

This mirrors the reference's mode exactly — one snapshot per scheduled run,
fail-fast on HTTP or schema errors (task.ts:93-95,106-107). The fetch runs
on the driver because the payload is O(10²) features (SURVEY.md §6); a
source whose snapshot is large lands the payload on object storage first
and reads it with spark.read.json(paths) so executors parse in parallel.

Records decode through one Arrow table (`decode_records`): the fetched
frame is a LocalTableScan, so scanning it runs no Python worker.

No live calls in tests: the transport is injectable (SURVEY.md §7.5)."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request
from collections.abc import Callable
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier

Transport = Callable[[str], str]


def _default_transport(url: str) -> str:
    with urllib.request.urlopen(url, timeout=30) as resp:  # pragma: no cover
        if resp.status // 100 != 2:
            raise RuntimeError(f"non-2xx from {url}: {resp.status}")
        return resp.read().decode("utf-8")


def snapshot_url(base: str, params: dict[str, str]) -> str:
    """URL with encoded query params — the reference interpolates
    encodeURIComponent'd datetime params (task.ts:88-89,102)."""
    return base + "?" + urllib.parse.urlencode(params)


def utcnow_iso() -> str:
    """ISO-8601 UTC timestamp, as the reference's new Date().toISOString()
    (task.ts:88)."""
    return datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def _as_text(v):
    """A JSON int or bool in a string field becomes the text the JVM's
    toString gives it ('7', 'true'), as the reference's String(feat.id)
    (task.ts:99). Anything else is left for Arrow, which raises on a
    non-string."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    return v


def _text_fixer(dt: T.DataType):
    """Function applying _as_text to every string slot of a value of type
    dt; None when dt has no string slot."""
    if isinstance(dt, T.StringType):
        return _as_text
    if isinstance(dt, T.ArrayType):
        f = _text_fixer(dt.elementType)
        return f and (lambda v: [f(x) for x in v] if isinstance(v, list) else v)
    if isinstance(dt, T.StructType):
        fixers = [(fl.name, _text_fixer(fl.dataType)) for fl in dt.fields]
        fixers = [(n, f) for n, f in fixers if f]
        if not fixers:
            return None
        return lambda v: (
            {**v, **{n: f(v[n]) for n, f in fixers if n in v}}
            if isinstance(v, dict)
            else v
        )
    return None


def records_to_arrow(records: list, schema: T.StructType) -> pa.Table:
    """JSON records (one object each) → an Arrow table of `schema`.

    Fail-fast like createDataFrame(records, schema) with verifySchema:
    every record runs the same per-record type verifier first, so every
    payload the list decode rejects (a non-nullable null, a float in an
    int field, an out-of-range int) still raises; Arrow alone would
    truncate `_pos: 3.5` to 3. Where Arrow is stricter it raises rather
    than decode to different cells: a record that is not a JSON object;
    a float, object or array in a string field; a non-string in a map's
    string values; an array given for a struct; a lone surrogate (not
    encodable as UTF-8) in a string."""
    verify = _make_type_verifier(schema)
    fix = _text_fixer(schema)
    rows = []
    for r in records:
        if not isinstance(r, dict):
            raise TypeError(f"expected a JSON object per record, got {r!r:.80}")
        verify(r)
        rows.append(fix(r) if fix else r)
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))


def decode_records(
    spark: SparkSession, records: list, schema: T.StructType
) -> DataFrame:
    """JSON records → DataFrame of `schema`, through one Arrow table."""
    return spark.createDataFrame(records_to_arrow(records, schema), schema)


def fetch_json_snapshot(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    record_path: str | None = None,
    transport: Transport | None = None,
) -> DataFrame:
    """GET a JSON payload and decode it into a DataFrame.

    record_path: optional key holding the record array (e.g. "features" for
    a FeatureCollection envelope); None means the payload IS the array.
    Schema enforcement is fail-fast: decode_records raises on mismatched
    payloads (the res.typed() analogue)."""
    raw = (transport or _default_transport)(url)
    payload = json.loads(raw)
    records = payload[record_path] if record_path else payload
    if not isinstance(records, list):
        raise ValueError(f"expected a JSON array at {record_path!r}")
    return decode_records(spark, records, schema)


def fetch_json_paginated(
    spark: SparkSession,
    url: str,
    schema: T.StructType,
    record_path: str = "items",
    cursor_path: str = "next",
    transport: Transport | None = None,
    max_pages: int = 1000,
) -> DataFrame:
    """GET a cursor-paginated JSON collection and decode ALL pages into
    one DataFrame — the shape most real REST APIs expose (the reference's
    endpoints return complete snapshots, task.ts:89-107; pagination is
    the first thing a user hits pointing this engine at any other API).

    Each page is an object {record_path: [...], cursor_path: <next-url
    or null>}; pages are followed until the cursor is null/absent, with
    a hard max_pages cap so a buggy server can't loop the driver forever
    (fail-fast, like every guard in this source). Each page is verified
    and decoded to Arrow as it arrives, and the page tables are
    concatenated into one frame. Scale note: the fetch is driver-side
    sequential BY DESIGN (cursors are inherently serial); for large
    collections land pages on storage and read them with spark.read.json
    — same as fetch_json_snapshot's guidance."""
    t = transport or _default_transport
    pages_arrow: list[pa.Table] = []
    next_url: str | None = url
    pages = 0
    while next_url:
        if pages >= max_pages:
            raise RuntimeError(
                f"pagination exceeded max_pages={max_pages} at {next_url}"
            )
        payload = json.loads(t(next_url))
        records = payload.get(record_path)
        if not isinstance(records, list):
            raise ValueError(f"expected a JSON array at {record_path!r}")
        pages_arrow.append(records_to_arrow(records, schema))
        next_url = payload.get(cursor_path)
        pages += 1
    return spark.createDataFrame(pa.concat_tables(pages_arrow), schema)
