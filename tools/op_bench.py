#!/usr/bin/env python
"""Isolated per-query timing for an optimization round.

Times each named query with the noop sink (guide §1.4 — computes every
column, discards the result, no collect/driver transfer in the timing)
and labeled jobs. First run is cold (plan build + any checkpoint
materialization); steady is the median of 3 further runs through the
registered plan cache — the same cold/steady split bench.py reports.

Usage: python tools/op_bench.py <query> [query ...]
Prints one JSON line: {"sf_dir": ..., "loadavg": ..., "queries":
{name: {"cold": s, "steady": s, "samples": [...]}}}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from ballcone_spark.queries import EXTRA_QUERIES  # noqa: E402
from ballcone_spark.session import get_spark  # noqa: E402

STEADY_RUNS = 3


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="op_bench")
    queries = dict(entry_mod.queries())
    for name, spec in EXTRA_QUERIES.items():
        queries.setdefault(name, spec.fn)

    # one untimed warm-up for JVM/codegen one-offs, as in bench.py
    queries["events_daily_visits"](spark, sf_dir).collect()

    def run_noop(name: str) -> float:
        spark.sparkContext.setJobDescription(f"op_bench: {name}")
        t0 = time.perf_counter()
        (
            queries[name](spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        dt = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        return dt

    out = {}
    for name in names:
        cold = run_noop(name)
        samples = [run_noop(name) for _ in range(STEADY_RUNS)]
        out[name] = {
            "cold": round(cold, 3),
            "steady": round(statistics.median(samples), 3),
            "samples": [round(s, 3) for s in samples],
        }
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "queries": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
