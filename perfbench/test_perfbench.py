"""Tests for the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import caic_flow  # noqa: E402
import datagen  # noqa: E402
import repeat  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def test_tail_needs_ten_samples_beyond():
    assert stats.tail(list(range(10))) is None
    # 11 samples: only the smallest has ten beyond it.
    assert stats.tail(list(range(11))) == (0, 100 / 11, 10)
    values = [float(v) for v in range(100)]
    value, pct, beyond = stats.tail(values)
    assert (value, pct, beyond) == (89.0, 90.0, 10)
    assert sum(v > value for v in values) == beyond


def test_tail_ignores_input_order():
    values = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0, 10.0, 11.0]
    assert stats.tail(values) == stats.tail(sorted(values)) == (1.0, 200 / 12, 10)


def test_quartiles_match_statistics_module():
    values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0]
    q1, q2, q3 = stats.quartiles(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert q2 == stats.median(values)
    with pytest.raises(ValueError):
        stats.quartiles([1.0])


def test_repeat_parses_seed_ranges_and_lists():
    assert repeat.parse_seeds("3-6") == [3, 4, 5, 6]
    assert repeat.parse_seeds("7,2") == [7, 2]


def test_repeat_spread_is_quartile_distance_over_median():
    values = [10.0, 11.0, 9.0, 10.5, 9.5, 10.0, 12.0, 8.0, 10.0, 10.2]
    q1, q2, q3, sp = repeat.spread(values)
    assert [q1, q2, q3] == statistics.quantiles(values, n=4)
    assert sp == pytest.approx((q3 - q1) / q2)


def test_metric_names_are_valid_and_unique():
    names = list(run.END_TO_END) + list(run.per_layer_units())
    assert len(names) == len(set(names))
    for name in names:
        assert stats.check_metric_name(name) == name
    for bad in ("", "a b", "x/y", "_lead", "a" * 65):
        with pytest.raises(ValueError):
            stats.check_metric_name(bad)


def test_caic_payloads_deterministic_per_seed():
    def bodies(seed):
        return [
            (p.areas_json, p.forecasts_json)
            for p in (caic_flow.Payload(a, f) for a, f in caic_flow.payload_seeds(seed, 2))
        ]

    one, again, other = bodies(1), bodies(1), bodies(2)
    assert one == again
    assert one[0] != one[1]  # the payloads of a run rotate
    assert not set(one) & set(other)


def test_tables_deterministic_per_seed():
    def digest(seed):
        return {n: t.to_pylist()[:50] for n, t in datagen.build_tables(0.001, seed).items()}

    a, b, c = digest(3), digest(3), digest(4)
    assert a == b
    for name in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
        assert a[name] != c[name], name
    counts = datagen.row_counts(0.001)
    for name, table in datagen.build_tables(0.001, 3).items():
        assert table.num_rows == counts[name]


class _Op:
    def __init__(self, name, fail_every=0):
        self.name, self.fail_every, self.calls = name, fail_every, 0

    def run(self, spark, specs, trace=None, on_built=None):
        self.calls += 1
        if on_built is not None:
            on_built(self.name)
        if self.fail_every and self.calls % self.fail_every == 0:
            raise RuntimeError("boom")


def test_failed_ops_are_counted_not_skipped():
    good, flaky = _Op("good"), _Op("flaky", fail_every=2)
    out = run.timed_passes([good, flaky], None, None, seconds=0, tracer=None)
    passes = run.MIN_PASSES
    assert good.calls == flaky.calls == passes
    assert out["attempted"] == 2 * passes
    assert out["failed"] == passes // 2
    assert len(out["ops"]) == out["attempted"] - out["failed"]
    # a pass with a failed op gets no pass time
    assert len(out["passes"]) == passes - passes // 2
    assert all("boom" in e for e in out["errors"])


def test_setup_is_median_start_plus_one_warm_pass(monkeypatch):
    starts = iter([(9.0, 1.0), (2.0, 0.5), (3.0, 0.2)])

    def fake_start(state):
        session, registry = next(starts)
        state.update(spark="spark", specs="specs")
        return {"session": session, "registry": registry}

    monkeypatch.setattr(run, "start_engine", fake_start)
    monkeypatch.setattr(run, "STARTS", 3)
    monkeypatch.setattr(run, "collect_result", lambda df: ("rows of", df))
    ops = [_Op("a"), _Op("b")]
    state = {"results": {}}
    setup = run.set_up(ops, state)
    assert setup["starts"] == [10.0, 2.5, 3.2]
    assert setup["session"] == 3.0 and setup["registry"] == 0.5
    assert setup["total"] == pytest.approx(3.2 + setup["warm_pass"])
    # one warm pass, which also keeps each op's built frame for the check
    assert [op.calls for op in ops] == [1, 1]
    assert state["results"] == {"a": ("rows of", "a"), "b": ("rows of", "b")}


def test_settle_runs_whole_untimed_passes():
    ops = [_Op("a"), _Op("b")]
    assert run.settle(ops, None, None, passes=3) >= 0.0
    assert [op.calls for op in ops] == [3, 3]
    assert run.settle(ops, None, None, passes=0) >= 0.0
    assert [op.calls for op in ops] == [3, 3]


def test_every_submitted_collection_is_checked():
    import json

    def body(ids):
        return json.dumps({"features": [{"id": i} for i in ids]})

    op = _Op("caic_0")
    op.submitted = [body(["x", "y"]), body(["y", "x"]), body(["x"])]
    assert caic_flow.submitted_ids(op.submitted[1]) == ["x", "y"]
    errors = run.check_submitted([op], {"caic_0": ["x", "y"]})
    assert len(errors) == 1 and "1 of 3 submitted" in errors[0]
    assert run.check_submitted([op], {}) == []


def test_end_to_end_uses_untraced_samples_only():
    setup = {"total": 3.0}
    timed = {
        "ops": [
            {"op": "a", "wall": 0.1, "traced": False},
            {"op": "b", "wall": 0.4, "traced": False},
            {"op": "a", "wall": 0.1, "traced": False},
            {"op": "b", "wall": 0.4, "traced": False},
            {"op": "a", "wall": 5.0, "traced": True},
        ],
        "passes": [{"wall": 0.5, "traced": False}, {"wall": 5.0, "traced": True}],
    }
    m = run.end_to_end(setup, timed)
    assert m == {"setup_s": 3.0, "latency_ms": pytest.approx(200.0), "pass_s": 0.5}


def test_geomean_of_medians_weighs_each_op_once():
    got = stats.geomean_of_medians({"a": [1.0, 1.0, 1.0, 100.0], "b": [4.0]})
    assert got == pytest.approx(2.0)


def test_benchmark_json_lists_what_run_prints():
    import json

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
