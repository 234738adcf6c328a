"""Pure-logic tests for bench.py's steal-adjusted axis decisions —
BENCH_FULL's steal_adjusted block is read by the benchmark's consumers, so
the retime selection rules are contract, not incidental script behavior."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import bench  # noqa: E402


def test_pick_tail_slowest_first_ignores_failures():
    adjusted = {"a": 1.0, "b": 5.0, "c": -1.0, "d": 3.0, "e": 0.1}
    assert bench.pick_tail(adjusted, k=2) == ["b", "d"]
    assert "c" not in bench.pick_tail(adjusted, k=10)


def test_pick_retimes_is_the_union_once_without_failures():
    # 20 sub-second queries put the median at 0.5 s, so the stall cutoff
    # is the 5 s floor.
    timings = {f"q{i:02d}": 0.5 for i in range(20)}
    timings.update(
        {
            "stall": 9.0,  # > max(5 s, 3x median) -> stall outlier
            "slow": 4.0,  # under the cutoff, but in the slowest k
            "steal": 0.3,  # in a control-inflated segment
            "both": 6.0,  # stall outlier AND suspect AND tail
            "dead": -1.0,  # failed: never retimed, even when suspect
        }
    )
    assert bench.stall_outliers(timings) == {"stall", "both"}
    got = bench.pick_retimes(timings, {"steal", "both", "dead"}, k=3)
    assert got == ["both", "slow", "stall", "steal"]
    assert len(got) == len(set(got))
    # the tail criterion alone still picks the slowest readings
    assert bench.pick_retimes(timings, set(), k=1) == ["both", "stall"]
    # nothing measured -> nothing to retime
    assert bench.pick_retimes({"dead": -1.0}, {"dead"}) == []
