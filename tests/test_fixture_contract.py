"""Fixture contract: pin the parquet types the engine assumes.

Round 3 lost 31 queries and 42 tests to a silent driver-side fixture change
(events.ts went from INT64 TIMESTAMP(NANOS) to TIMESTAMP(MICROS)). This file
makes any such drift fail in ONE loud assert instead of a shrapnel field of
broken queries. It reads footers only — no Spark session, no row groups.

The events.ts check intentionally mirrors the loader's branching
(etl_caic_spark/sources/tables.py): both the nanos-int64 and the
timestamp[us/ms] encodings are *accepted*, because the loader handles both;
anything else (string, float, seconds-scale ints) must fail.
"""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

EXPECTED = {
    "region": {"r_regionkey": pa.types.is_integer, "r_name": pa.types.is_string},
    "nation": {"n_nationkey": pa.types.is_integer, "n_regionkey": pa.types.is_integer},
    "customer": {"c_custkey": pa.types.is_integer, "c_acctbal": pa.types.is_floating},
    "supplier": {"s_suppkey": pa.types.is_integer, "s_nationkey": pa.types.is_integer},
    "part": {"p_partkey": pa.types.is_integer, "p_retailprice": pa.types.is_floating},
    "orders": {
        "o_orderkey": pa.types.is_integer,
        "o_custkey": pa.types.is_integer,
        "o_totalprice": pa.types.is_floating,
        "o_orderdate": lambda t: pa.types.is_date(t) or pa.types.is_timestamp(t),
    },
    "lineitem": {
        "l_orderkey": pa.types.is_integer,
        "l_partkey": pa.types.is_integer,
        "l_quantity": lambda t: pa.types.is_floating(t) or pa.types.is_decimal(t),
        "l_extendedprice": lambda t: pa.types.is_floating(t) or pa.types.is_decimal(t),
        "l_discount": lambda t: pa.types.is_floating(t) or pa.types.is_decimal(t),
        "l_returnflag": pa.types.is_string,
        "l_shipdate": lambda t: pa.types.is_date(t) or pa.types.is_timestamp(t),
    },
    "events": {
        "event_id": pa.types.is_integer,
        "user_id": pa.types.is_integer,
        "event_type": pa.types.is_string,
        "value": pa.types.is_floating,
        "props": pa.types.is_string,
        # ts: either encoding the loader supports
        "ts": lambda t: pa.types.is_timestamp(t) or pa.types.is_integer(t),
    },
    "documents": {
        "doc_id": pa.types.is_integer,
        "text": pa.types.is_string,
    },
    "embeddings": {
        "vec_id": pa.types.is_integer,
        # array<float/double>
        "embedding": lambda t: (pa.types.is_list(t) or pa.types.is_large_list(t))
        and pa.types.is_floating(t.value_type),
    },
}


def _schema(table):
    return pq.read_schema(os.path.join(SF_DIR, f"{table}.parquet"))


@pytest.mark.parametrize("table", sorted(EXPECTED))
def test_table_schema_contract(table):
    schema = _schema(table)
    names = set(schema.names)
    for col, pred in EXPECTED[table].items():
        assert col in names, (
            f"{table}.parquet no longer has column {col!r} (has {sorted(names)}); "
            "the driver regenerated the fixture — update the engine's loaders."
        )
        t = schema.field(col).type
        assert pred(t), (
            f"{table}.{col} has parquet type {t!r}, outside the contract this "
            "engine was built against. Update the loader AND this contract."
        )


def test_events_ts_decodes_to_sane_epoch():
    """Unit-drift guard: whatever encoding ts uses, the loader's
    interpretation of the footer min must land in (1990, 2100). This is the
    one assert that would have caught round 3's silent µs-as-ns misread."""
    from etl_caic_spark.sources.tables import events_ts_physical_type

    path = os.path.join(SF_DIR, "events.parquet")
    kind = events_ts_physical_type(path)
    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index("ts")
    mins = [
        md.row_group(rg).column(idx).statistics.min
        for rg in range(md.num_row_groups)
        if md.row_group(rg).column(idx).statistics is not None
        and md.row_group(rg).column(idx).statistics.has_min_max
    ]
    assert mins, "events.parquet writes no ts statistics; cannot cheap-check"
    lo = min(mins)
    if kind == "int_nanos":
        lo = datetime.datetime(1970, 1, 1) + datetime.timedelta(
            microseconds=lo // 1000
        )
    assert 1990 < lo.year < 2100, (
        f"events.ts min decodes to {lo!r} under the {kind!r} interpretation — "
        "the fixture's timestamp unit drifted; fix sources/tables.py."
    )


def test_sniff_routes_annotated_nanos_to_int_branch(tmp_path):
    """Parquet TIMESTAMP(NANOS) must take the int_nanos branch: Spark's
    vectorized reader rejects annotated nanos, and under nanosAsLong they
    surface as LongType — the plain-read branch would throw at load."""
    from etl_caic_spark.sources.tables import _sniff_ts

    f = tmp_path / "events.parquet"
    tbl = pa.table(
        {"ts": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns"))}
    )
    pq.write_table(tbl, f, coerce_timestamps=None)
    assert _sniff_ts(str(f)) == "int_nanos"


def test_sniff_distinguishes_tz_aware_micros(tmp_path):
    """tz-aware (isAdjustedToUTC) micros read as TimestampType in batch; the
    stream schema must declare the same type, so the sniffer reports it."""
    from etl_caic_spark.sources.tables import _sniff_ts

    f_tz = tmp_path / "events_tz.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us", tz="UTC"))}),
        f_tz,
    )
    assert _sniff_ts(str(f_tz)) == "timestamp_tz"

    f_ntz = tmp_path / "events_ntz.parquet"
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_000_000], pa.timestamp("us"))}),
        f_ntz,
    )
    assert _sniff_ts(str(f_ntz)) == "timestamp"


def test_sniff_empty_dataset_fails_loudly(tmp_path):
    from etl_caic_spark.sources.tables import _sniff_ts

    empty = tmp_path / "events.parquet"
    empty.mkdir()
    with pytest.raises(FileNotFoundError, match="no .parquet part files"):
        _sniff_ts(str(empty))


def test_load_events_reads_annotated_nanos(tmp_path, spark):
    """End-to-end: an annotated TIMESTAMP(NANOS) events fixture must load
    through _load_events (nanosAsLong branch) and decode to µs timestamps —
    the round-1 encoding the loader docstrings claim to handle."""
    import shutil

    from etl_caic_spark.sources.tables import load_table

    sf = tmp_path / "sf"
    sf.mkdir()
    ns = pa.timestamp("ns")
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_123_456_789, 1_700_003_600_000_000_000], ns
            ),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["click", "view"], pa.string()),
            "value": pa.array([1.5, 2.5], pa.float64()),
            "props": pa.array(["{}", "{}"], pa.string()),
        }
    )
    pq.write_table(tbl, sf / "events.parquet", coerce_timestamps=None)
    rows = load_table(spark, str(sf), "events").orderBy("event_id").collect()
    assert [r.event_id for r in rows] == [1, 2]
    # ns → µs truncation (DIV 1000), matching DuckDB TIMESTAMP_NS → TIMESTAMP
    assert rows[0].ts == datetime.datetime(2023, 11, 14, 22, 13, 20, 123456)
    assert rows[1].ts == datetime.datetime(2023, 11, 14, 23, 13, 20)


def test_caic_fixture_parquet_matches_generators(spark):
    """The parquet-materialized CAIC fixtures (what caic_pipeline AND its
    DuckDB oracle read) must hold exactly the rows the in-code generators
    produce (what the golden tests pin). A drift — e.g. editing
    area_rows() without bumping CAIC_FIXTURE_TAG, leaving a stale .tmp
    dataset — would silently decouple the oracled query from the golden
    semantics; this assert makes it loud."""
    from etl_caic_spark.sources.caic_fixtures import (
        ensure_caic_fixture_parquet,
        generate_areas,
        generate_forecasts,
    )

    areas_path, forecasts_path = ensure_caic_fixture_parquet()

    def canon(rows):
        return sorted(repr(sorted(r.asDict().items())) for r in rows)

    assert canon(spark.read.parquet(areas_path).collect()) == canon(
        generate_areas(spark).collect()
    )
    assert canon(spark.read.parquet(forecasts_path).collect()) == canon(
        generate_forecasts(spark).collect()
    )


def test_loader_rejects_insane_ts(tmp_path):
    """The loader-side guard itself must throw on a wrong-unit file (e.g.
    seconds stored where the nanos branch would decode them as ~1970)."""
    from etl_caic_spark.sources.tables import _assert_sane_ts_range, _sniff_ts

    bad = tmp_path / "events.parquet"
    # seconds-since-epoch stored as int64: the nanos interpretation collapses
    # these to 1970, which the guard must reject.
    tbl = pa.table({"ts": pa.array([1_700_000_000, 1_700_000_500], pa.int64())})
    pq.write_table(tbl, bad)
    kind = _sniff_ts(str(bad))
    assert kind == "int_nanos"
    with pytest.raises(ValueError, match="sanity check failed"):
        _assert_sane_ts_range(str(bad), kind)


def test_readme_counts_match_registry():
    """README's 'NNN registered queries (MMM oracled ...)' line is part
    of the contract surface — pin it to the live registry so the counts
    can't drift again (round-5 verdict item 4)."""
    import re

    from etl_caic_spark.registry import all_specs

    specs = all_specs()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    text = open(os.path.join(root, "README.md")).read()
    m = re.search(r"(\d+) registered queries", text)
    assert m, "README must state the registered-query count"
    assert int(m.group(1)) == len(specs), (
        f"README says {m.group(1)} queries, registry has {len(specs)}"
    )
    m = re.search(r"\((\d+) oracled", text)
    n_oracled = sum(1 for s in specs.values() if s.oracle is not None)
    assert m and int(m.group(1)) == n_oracled, (
        f"README oracled count != {n_oracled}"
    )


def test_embeddings_vec_id_unique():
    """r16: pq_shortlist_frames derives its anchor-id universe from the
    d = 0 slice of the coordinate stream instead of DISTINCT vec_id —
    sound only while vec_id stays the embeddings fixture's unique key
    (verified true at sf0.001/0.01/0.1)."""
    t = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"), columns=["vec_id"])
    ids = t.column("vec_id").to_pylist()
    assert len(ids) == len(set(ids))


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_embeddings_are_full_64_dim(sf):
    """The other half of pq_shortlist_frames' d = 0 precondition: a row
    whose embedding is null or empty posexplodes to no d = 0 coordinate
    and would silently drop out of the anchor ids. Every row carries a
    non-null 64-dim embedding."""
    import pyarrow.compute as pc

    path = os.path.join(os.path.dirname(SF_DIR), sf, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no {sf} fixture")
    emb = pq.read_table(path, columns=["embedding"]).column("embedding")
    assert emb.null_count == 0
    lengths = pc.list_value_length(emb)
    assert pc.min(lengths).as_py() == pc.max(lengths).as_py() == 64
    assert pc.list_flatten(emb).null_count == 0
