"""``corpus``: passes over the 13 corpus-curation queries of ``bench.py``'s
headline.  Each pass runs every query on a fresh copy of the seeded corpus
tables, so every fingerprinted plan and memo rebuilds, then re-calls it
through the plan cache; ``evict_plan`` releases the pass's plans."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

import common
import gen
from common import Outcome, fresh_tail, p50, read_tail

QUERIES = [
    "dedup_exact_keep_first",
    "dedup_minhash_lsh_vectorized",
    "dedup_incremental_minhash",
    "docs_exact_span_dups",
    "docs_dup_span_coverage",
    "docs_chunk_semantic_pairs",
    "docs_dedup_keep_best",
    "docs_curation_budget_mix",
    "docs_chunk_alias_map",
    "docs_chunk_alias_arrival",
    "docs_chunk_alias_resolve",
    "docs_token_stats_vectorized",
    "embeddings_knn_bruteforce_vectorized",
]
TABLES = ("documents", "embeddings")
#: Plan-cache re-calls per query per pass (the read samples).
RECALLS = 8
#: Query the set-up cycles time as their first operation.
FIRST_QUERY = "dedup_exact_keep_first"


def registry() -> dict:
    """Every registered query function, driver and EXTRA registries."""
    import __spark_entry__  # noqa: F401  (registers the operator modules)
    from ballcone_spark.queries import EXTRA_QUERIES, QUERIES as DRIVER

    return {n: s for n, s in {**EXTRA_QUERIES, **DRIVER}.items()}


def _cell(v) -> str:
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (dt.date, dt.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        f = round(v, 4)
        return repr(0.0 if abs(f) < 1e-9 else f)
    return "None" if v is None else str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: columns by name, cells
    normalized (floats to 4 places), rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in body:
        h.update(line.encode() + b"\n")
    return h.hexdigest()


def oracle_hashes(specs: dict, corpus_dir: str) -> None:
    """Write each query's DuckDB oracle result hash over ``corpus_dir`` to
    ``oracle.json`` next to the seeded tables (so it runs once per seed)."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(corpus_dir, t)}.parquet')")
    out = {}
    for q in QUERIES:
        cur = con.execute(specs[q].oracle)
        out[q] = result_hash([d[0] for d in cur.description], cur.fetchall())
    path = os.path.join(corpus_dir, "oracle.json")
    with open(path + ".part", "w") as fh:
        json.dump(out, fh)
    os.rename(path + ".part", path)


def _fresh_copy(src: str, dst: str) -> str:
    os.makedirs(dst)
    for t in TABLES:
        shutil.copy(os.path.join(src, f"{t}.parquet"), dst)
    return dst


def prepare(seed: int, seconds: float):
    """Build the seeded tables and, unless cached for this seed, start the
    DuckDB oracle pass in a process of its own, so it overlaps the JVM
    launch and its memory stays out of the driver's."""
    warm = gen.build_corpus(seed, common.CACHE, common.ROOT,
                            gen.WARMUP_DOCS, gen.WARMUP_VECS, "warmup")
    main = gen.build_corpus(seed, common.CACHE, common.ROOT,
                            gen.CORPUS_DOCS, gen.CORPUS_VECS)
    oracle = None
    if not os.path.exists(os.path.join(main, "oracle.json")):
        oracle = subprocess.Popen([sys.executable, os.path.abspath(__file__), main])
        common.CHILDREN.append(oracle)
    return warm, main, registry(), oracle


def run(seed: int, seconds: float, run_dir: str, tracer, session, prep) -> dict:
    out = Outcome()
    warm, main, specs, oracle = prep
    from ballcone_spark.queries import evict_plan

    def start(spark):
        rows = specs[FIRST_QUERY].fn(spark, warm).collect()
        out.op(len(rows) > 0, f"{FIRST_QUERY} returned no rows on set-up")
        return spark

    if oracle is not None and oracle.wait() != 0:
        raise RuntimeError("DuckDB oracle pass failed")
    with open(os.path.join(main, "oracle.json")) as fh:
        expected = json.load(fh)
    spark, setups = session.cycles(start, lambda s: None)

    # freshness of query k: from the pass's fresh tables landing until k's
    # rebuilt result is collected, the pass rebuilding queries in order
    # (re-calls excluded)
    fresh: list[float] = []
    reads: list[float] = []  # per call: plan-cache re-call + collect
    per_query = {q: {"build_s": [], "exec_s": [], "steady_s": []} for q in QUERIES}
    calls = hits = 0
    first_hash: dict[str, str] = {}
    pass_fresh: list[float] = []  # per pass: all 13 results rebuilt
    t_start = time.perf_counter()
    passes = 0
    while passes == 0 or time.perf_counter() - t_start < seconds:
        d = _fresh_copy(main, os.path.join(run_dir, f"pass-{passes}"))
        landed = 0.0
        for q in QUERIES:
            fn = specs[q].fn
            try:
                t0 = time.perf_counter()
                with tracer.span(f"queries.{q}.build"):
                    df = fn(spark, d)
                t1 = time.perf_counter()
                with tracer.span(f"queries.{q}.exec"):
                    rows = df.collect()
                t2 = time.perf_counter()
                calls += 1
                steady = []
                for _ in range(RECALLS):
                    t3 = time.perf_counter()
                    with tracer.span(f"queries.{q}.steady"):
                        again = fn(spark, d)
                        again.collect()
                    steady.append(time.perf_counter() - t3)
                    calls += 1
                    hits += again is df
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                out.op(False, f"{q}: {type(e).__name__}: {e}"[:300])
                continue
            h = result_hash(df.columns, rows)
            ok = h == first_hash.setdefault(q, h) and h == expected[q]
            out.op(ok, f"{q}: result hash differs from "
                       + ("the DuckDB oracle" if h != expected[q] else "pass 0"))
            landed += t2 - t0
            fresh.append(landed)
            reads.extend(steady)
            per_query[q]["build_s"].append(t1 - t0)
            per_query[q]["exec_s"].append(t2 - t1)
            per_query[q]["steady_s"].append(common.median(steady))
        for q in QUERIES:
            evict_plan(q)
        pass_fresh.append(landed)
        passes += 1

    return {
        "outcome": out,
        "samples": {"read": len(reads), "freshness": len(fresh)},
        "e2e": {
            "setup_s": common.median(setups),
            "read_p75_ms": 1000 * read_tail(reads),
            "freshness_p50_s": p50(fresh),
            "freshness_p90_s": fresh_tail(fresh),
        },
        "queries": per_query,
        "plan_cache_hit_share": hits / calls if calls else 0.0,
        "rebuild_total_s": pass_fresh,
        "notes": {"read_p50_ms": 1000 * p50(reads), "passes": passes,
                  "launch_s": session.launch_s,
                  "first_setup_s": session.first_setup_s, "setups": setups,
                  "rebuild_total_s": pass_fresh},
    }


if __name__ == "__main__":  # the oracle pass: python3 corpus.py <corpus dir>
    oracle_hashes(registry(), sys.argv[1])
