#!/usr/bin/env python3
"""Tracing overhead: the traced run's end-to-end medians minus the
untraced run's, per metric.

    python3 perfbench/overhead.py --workload ingest --seeds 1 2 3 --seconds 6

Runs ``run.py`` once per seed in each mode (alternating which goes first)
and reads the end-to-end lines both modes print before their JSON line.
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS  # noqa: E402


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict[str, float]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    )
    values = {}
    for line in proc.stdout.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in E2E_UNITS:
            values[parts[0]] = float(parts[1])
    return values


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args()
    runs: dict[int, list[dict]] = {0: [], 1: []}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(one_run(args.workload, seed, args.seconds, trace))
    print(f"{'metric':<18}{'untraced':>12}{'traced':>12}{'overhead':>12}{'share':>9}")
    for k, unit in E2E_UNITS.items():
        off = statistics.median(r[k] for r in runs[0])
        on = statistics.median(r[k] for r in runs[1])
        print(f"{k:<18}{off:>12.4g}{on:>12.4g}{on - off:>12.4g}"
              f"{(on - off) / off:>9.1%}  {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
