#!/usr/bin/env python
"""Scaling curves for the dedup/ANN operator family (VERDICT r4 #1).

Times the LLM-pipeline headliners at sf0.01 / sf0.1 (driver testdata)
and sf1 / sf3 (generated by ``tools/gen_scale_data.py`` — same seeded
corpus shape, 10× / 30× the rows), Spark and DuckDB side-by-side:

- Spark: cold first run + median-of-3 steady runs, same protocol as
  ``bench.py``.
- DuckDB: the query's own oracle SQL, one warm + median-of-3, executed
  in a CHILD PROCESS with a hard timeout — several oracles are
  deliberately O(n²)-shaped (they are correctness definitions, not
  scale paths) and must not hang the harness; a timeout records null.

Prints one JSON line:
    {"sf": {"<sf>": {"<query>": {"spark_cold": s, "spark": s,
                                 "duckdb": s|null}}}}

Usage:
    python tools/scale_bench.py                 # sf 0.01 0.1 1
    python tools/scale_bench.py --sfs 0.01,0.1,1,3 --duck-cap 300
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

QUERIES = [
    "dedup_exact_keep_first",
    "dedup_minhash_lsh_vectorized",
    "dedup_ngram_jaccard",
    "dedup_incremental_minhash",
    "embeddings_pq_ann_recall_vectorized",
    # round-6 corpus operators (BASELINE.md §6d)
    "docs_semantic_dedup",
    "docs_bigram_lm_score",
    "docs_boilerplate_spans",
    "events_hot_keys",
]

STEADY_RUNS = 3

TABLES_NEEDED = ["documents", "embeddings", "events"]


def sf_dir(sf: str) -> str:
    scale = os.path.join(ROOT, ".scale_data", f"sf{sf}")
    return scale if os.path.isdir(scale) else f"/root/testdata/sf{sf}"


def _duck_child(oracle: str, d: str, q: mp.Queue) -> None:
    import duckdb

    con = duckdb.connect()
    for t in TABLES_NEEDED:
        p = os.path.join(d, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
            )
    con.execute(oracle).fetchall()  # warm
    runs = []
    for _ in range(STEADY_RUNS):
        t0 = time.perf_counter()
        con.execute(oracle).fetchall()
        runs.append(time.perf_counter() - t0)
    q.put(round(statistics.median(runs), 3))


def time_duckdb(oracle: str, d: str, cap_s: float):
    q: mp.Queue = mp.Queue()
    proc = mp.Process(target=_duck_child, args=(oracle, d, q))
    proc.start()
    proc.join(cap_s)
    if proc.is_alive():
        proc.terminate()
        proc.join()
        return None
    return q.get() if not q.empty() else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", default="0.01,0.1,1")
    ap.add_argument("--queries", default=",".join(QUERIES))
    ap.add_argument("--duck-cap", type=float, default=300.0)
    ap.add_argument("--skip-duck", action="store_true")
    args = ap.parse_args()

    from ballcone_spark.queries import EXTRA_QUERIES, QUERIES as DRIVER_Q
    from ballcone_spark.session import get_spark

    import __spark_entry__  # noqa: F401  (registers every query)

    specs = {**EXTRA_QUERIES, **DRIVER_Q}
    spark = get_spark(app_name="ballcone_spark_scale_bench")

    out: dict[str, dict] = {}
    for sf in args.sfs.split(","):
        d = sf_dir(sf)
        out[sf] = {}
        for name in args.queries.split(","):
            spec = specs[name]
            t0 = time.perf_counter()
            spec.fn(spark, d).collect()
            cold = round(time.perf_counter() - t0, 3)
            runs = []
            for _ in range(STEADY_RUNS):
                t0 = time.perf_counter()
                spec.fn(spark, d).collect()
                runs.append(time.perf_counter() - t0)
            entry = {
                "spark_cold": cold,
                "spark": round(statistics.median(runs), 3),
                # ambient-load witness at this query's moment (the
                # bench.py r8 lesson): adjudicates drift without a
                # controlled re-run
                "loadavg": round(os.getloadavg()[0], 2),
            }
            if not args.skip_duck and spec.oracle is not None:
                entry["duckdb"] = time_duckdb(spec.oracle, d, args.duck_cap)
            out[sf][name] = entry
            print(f"# sf{sf} {name}: {entry}", file=sys.stderr)
    print(json.dumps({"sf": out}))
    spark.stop()


if __name__ == "__main__":
    main()
