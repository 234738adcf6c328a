"""Run the benchmark once per seed on one workload, in one or more sets,
and report for each end-to-end metric each set's median, quartiles and
quartile spread (as a share of the median) against the metric's bound in
BENCHMARK.json, and how far each later set's median moved from the first.

    python3 perfbench/repeat.py --workload eager_builds --seeds 1-10 --sets 2

Every metric is gated, ``setup_s`` too: a spread above the bound, or a
median more than the bound away from the first set's, exits 1, and so
does a failed run. A spread under a third of the bound is marked steady.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    """"1-10" or "3,5,8"."""
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(q1, median, q3, (q3 - q1) / median)."""
    q1, q2, q3 = stats.quartiles(values)
    return q1, q2, q3, (q3 - q1) / q2


def run_set(spec: dict, workload: str, seeds: list[int]) -> tuple[dict, bool]:
    """One run per seed; returns each metric's values and whether every
    run exited 0 with a correct result."""
    values: dict[str, list[float]] = {}
    ok = True
    for seed in seeds:
        cmd = spec["command"] + [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(spec["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if proc.returncode or result is None or not result["correct"]:
            ok = False
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stdout[-2000:]}")
            continue
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(
            f"seed {seed}: wall {wall:.1f}s "
            + " ".join(f"{k}={m['value']:.5g}" for k, m in result["metrics"].items()),
            flush=True,
        )
    return values, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=parse_seeds)
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    sets, ok = [], True
    for i in range(args.sets):
        print(f"-- set {i + 1}", flush=True)
        values, set_ok = run_set(spec, args.workload, args.seeds)
        sets.append(values)
        ok &= set_ok

    for metric in spec["end_to_end"]:
        name, bound, unit = metric["name"], metric["bound"], metric["unit"]
        first = None
        for i, values in enumerate(sets):
            v = values.get(name, [])
            if len(v) < 2:
                print(f"{name} set {i + 1}: {len(v)} values")
                ok = False
                continue
            q1, q2, q3, sp = spread(v)
            verdict = "steady" if sp < bound / 3 else "ok" if sp <= bound else "TOO WIDE"
            ok &= sp <= bound
            line = (
                f"{name} set {i + 1}: median {q2:.5g} {unit} q1 {q1:.5g} q3 {q3:.5g} "
                f"spread {sp:.4f} bound {bound} {verdict} n={len(v)}"
            )
            if first is None:
                first = q2
            else:
                shift = q2 / first - 1.0
                ok &= abs(shift) <= bound
                line += f" shift {shift:+.4f} {'ok' if abs(shift) <= bound else 'MOVED'}"
            print(line)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
