"""clickstream_pipeline sessionization at sub-second gap resolution: the
Spark builder and its DuckDB twin must split sessions on the same
fractional-second gaps."""

from __future__ import annotations

from datetime import datetime, timedelta

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from etl_caic_spark.oracle import create_views, mismatch
from etl_caic_spark.registry import all_specs

T0 = datetime(2026, 2, 1, 10, 0, 0, 200000)  # .2 s past the second


def _write_events(path, events):
    user, ts, etype, value = zip(*events)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(events)), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(user, pa.int64()),
                "event_type": pa.array(etype, pa.string()),
                "value": pa.array(value, pa.float64()),
                "props": pa.array([None] * len(events), pa.string()),
            }
        ),
        path / "events.parquet",
    )


def test_half_second_over_the_gap_splits_the_session(spark, tmp_path):
    """1800.5 s between a view and a click is past the 30-minute gap, so
    the click opens a new session. Whole-second truncation makes it
    1800 s (10:00:00.2 → 10:30:00.7) and wrongly keeps one session."""
    late = T0 + timedelta(seconds=1800.5)
    _write_events(
        tmp_path,
        [
            (1, T0, "view", 0.0),
            (1, late, "click", 0.0),
            (1, late + timedelta(seconds=1), "purchase", 12.5),
            (2, T0, "view", 0.0),  # 1799.9 s: one session
            (2, T0 + timedelta(seconds=1799.9), "click", 0.0),
        ],
    )
    spec = all_specs()["clickstream_pipeline"]
    df = spec.fn(spark, str(tmp_path))
    rows = df.collect()
    con = create_views(duckdb.connect(), tmp_path, ["events"])
    assert mismatch(con, spec.oracle, df, rows) is None
    con.close()
    sessions = {r[0]: r for r in rows}
    assert sessions["view"]["n_sessions"] == 2  # user 1's first, user 2's
    assert sessions["click"]["n_sessions"] == 1  # user 1's second
