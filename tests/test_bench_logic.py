"""Pure-logic tests for bench.py's steal-adjusted axis decisions —
the driver consumes BENCH_FULL's steal_adjusted block, so the retime
selection rules are contract, not incidental script behavior."""

from __future__ import annotations

import json
import sys

sys.path.insert(0, "/root/repo")

import bench


def test_pick_regressed_orders_caps_and_floors():
    prior = {"a": 1.0, "b": 1.0, "c": 0.2, "d": 2.0, "e": 1.0, "z": -1.0}
    adjusted = {
        "a": 3.0,  # 3.0x -> picked, worst first
        "b": 2.0,  # 2.0x -> picked second
        "c": 0.4,  # 2.0x but under the 0.5s absolute floor -> skipped
        "d": 2.5,  # 1.25x -> under the 1.5x factor -> skipped
        "e": 9.0,  # regressed but already retimed -> skipped
        "f": 9.0,  # no prior -> skipped
        "z": 9.0,  # non-positive prior -> skipped
    }
    got = bench.pick_regressed(adjusted, prior, already={"e"})
    assert got == ["a", "b"]
    # cap is respected
    many_p = {f"q{i}": 1.0 for i in range(100)}
    many_a = {f"q{i}": 2.0 + i / 1000 for i in range(100)}
    assert len(bench.pick_regressed(many_a, many_p, set(), cap=60)) == 60


def test_pick_tail_slowest_first_ignores_failures():
    adjusted = {"a": 1.0, "b": 5.0, "c": -1.0, "d": 3.0, "e": 0.1}
    assert bench.pick_tail(adjusted, k=2) == ["b", "d"]
    assert "c" not in bench.pick_tail(adjusted, k=10)


def test_load_prior_adjusted_prefers_steal_adjusted(tmp_path):
    (tmp_path / "BENCH_FULL_r03.json").write_text(
        json.dumps({"queries": {"q": 9.0}})
    )
    (tmp_path / "BENCH_FULL_r04.json").write_text(
        json.dumps(
            {
                "queries": {"q": 5.0},
                "steal_adjusted": {"queries": {"q": 4.0}},
            }
        )
    )
    # newest round wins; steal_adjusted axis preferred over raw
    assert bench.load_prior_adjusted(str(tmp_path)) == {"q": 4.0}
    # raw fallback when the block is absent
    (tmp_path / "BENCH_FULL_r05.json").write_text(
        json.dumps({"queries": {"q": 7.0}})
    )
    assert bench.load_prior_adjusted(str(tmp_path)) == {"q": 7.0}
    # no archives -> empty
    empty = tmp_path / "sub"
    empty.mkdir()
    assert bench.load_prior_adjusted(str(empty)) == {}


def test_load_prior_control_base(tmp_path):
    assert bench.load_prior_control_base(str(tmp_path)) is None
    (tmp_path / "BENCH_FULL_r07.json").write_text(
        json.dumps(
            {
                "queries": {},
                "steal_adjusted": {"control_base_sec": 0.25, "queries": {}},
            }
        )
    )
    assert bench.load_prior_control_base(str(tmp_path)) == 0.25
    # newest archive without the block -> None (no stale carryover)
    (tmp_path / "BENCH_FULL_r08.json").write_text(json.dumps({"queries": {}}))
    assert bench.load_prior_control_base(str(tmp_path)) is None


def test_load_prior_matches_cpus_like_for_like(tmp_path):
    def archive(name, cpus, q):
        body = {"queries": {"q": q}, "steal_adjusted": {"queries": {"q": q}}}
        if cpus is not None:
            body["cpus"] = cpus
        (tmp_path / name).write_text(json.dumps(body))

    archive("BENCH_FULL_r15.json", None, 1.0)
    archive("BENCH_FULL_r16.json", 32, 2.0)
    archive("BENCH_FULL_r16_c8.json", 8, 3.0)
    archive("BENCH_FULL_r16_draw1.json", 4, 9.0)  # draws are never a prior
    # newest archive recorded at the run's own core count
    assert bench.load_prior_adjusted(str(tmp_path), cpus=32) == {"q": 2.0}
    assert bench.load_prior_adjusted(str(tmp_path), cpus=8) == {"q": 3.0}
    # no archive at this core count (and none that records no cpus) -> none
    assert bench.load_prior_adjusted(str(tmp_path), cpus=4) == {}
    assert bench.load_prior_control_base(str(tmp_path), cpus=4) is None
    archive("BENCH_FULL_r17.json", 32, 5.0)
    assert bench.load_prior_adjusted(str(tmp_path), cpus=32) == {"q": 5.0}
    assert bench.load_prior_adjusted(str(tmp_path), cpus=8) == {"q": 3.0}
