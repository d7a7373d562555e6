"""Concurrent-serve bench for ``semantic_index_topk`` (VERDICT r12 #4).

§6ak measured single-request latency; a serving surface's real question
is QPS under concurrency — every request is driver-routed (one bounded
collect + Python routing per call) before its Spark job runs, so the
candidate binding resources are (a) driver routing/GIL, (b) executor
scan+matmul, (c) scheduler queuing. This harness drives N client
threads against ONE SparkSession (the deployment shape: a resident
serving daemon multiplexing requests over one app), each issuing
sequential top-k requests, and reports per-request latency percentiles
vs concurrency plus the route/exec SPLIT per request:

- ``route_s`` — wall from request start until ``semantic_index_topk``
  RETURNS the DataFrame: queries-frame collect + numpy routing + plan
  construction, all driver-side Python (the part a GIL would serialize).
- ``exec_s`` — the ``collect()`` of the result: parquet scan + Arrow
  kernel matmul + top-k, the cluster-side part (parallel up to cores /
  scheduler policy).

Whichever component's p50 GROWS with concurrency while the other stays
flat is the binding resource; aggregate QPS saturating while both stay
flat means the scheduler, not the work, is the ceiling.

  python tools/serve_concurrency_bench.py --n 200000 --conc 1,2,4,8

Prints one JSON line; writes the same to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pct(xs, p):
    return round(float(np.percentile(np.array(xs), p)), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cells", type=int, default=64)
    ap.add_argument("--batch-queries", type=int, default=16,
                    help="queries per request (one serving call)")
    ap.add_argument("--requests", type=int, default=6,
                    help="sequential requests per client thread")
    ap.add_argument("--conc", default="1,2,4,8")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--nprobe", type=int, default=2)
    ap.add_argument("--direct", action="store_true",
                    help="pass queries as (id, vec) tuples instead of a "
                         "DataFrame — skips the per-request "
                         "createDataFrame+collect driver round-trip "
                         "(the serving daemon's shape)")
    ap.add_argument("--resident-cache", action="store_true",
                    help="serve through one ResidentIndexCache shared "
                         "by all clients — repeat requests score the "
                         "in-memory frame instead of re-reading parquet")
    ap.add_argument("--cache-interval", type=float, default=0.0,
                    help="ResidentIndexCache min_check_interval_s - "
                         "inside the window a request serves the cached "
                         "frame with zero FS round-trips (r14 staleness "
                         "bound); only meaningful with --resident-cache")
    ap.add_argument("--max-inflight", type=int, default=None,
                    help="admission control: cap concurrently-executing "
                         "requests with a semaphore (clients beyond the "
                         "cap queue client-side) — the §6av deployment "
                         "rule, measurable instead of asserted")
    ap.add_argument("--out", default="/tmp/serve_concurrency_bench.json")
    args = ap.parse_args()

    import pandas as pd

    from ballcone_spark.session import get_spark
    from ballcone_spark.streaming import state
    from ballcone_spark.streaming.semantic_stream import (
        ResidentIndexCache,
        semantic_index_topk,
    )

    spark = get_spark("serve_concurrency_bench")
    rng = np.random.default_rng(7)
    C = rng.normal(size=(args.cells, args.dim))
    C /= np.linalg.norm(C, axis=1)[:, None]
    centroids = [(i, C[i].tolist()) for i in range(args.cells)]
    cell = rng.integers(0, args.cells, size=args.n)
    V = C[cell] + 0.35 * rng.normal(size=(args.n, args.dim))
    nrm = np.linalg.norm(V, axis=1)
    routed = np.argmax((V / nrm[:, None]) @ C.T, axis=1)

    work = tempfile.mkdtemp(prefix="serve_conc_")
    idx = os.path.join(work, "idx")
    per = args.n // 8
    for b in range(8):
        lo, hi = b * per, (b + 1) * per if b < 7 else args.n
        pdf = pd.DataFrame(
            {"vec_id": np.arange(lo, hi, dtype=np.int64),
             "cluster_id": routed[lo:hi].astype(np.int64),
             "e": list(V[lo:hi]), "nrm": nrm[lo:hi]}
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            os.path.join(idx, f"batch_id={b}")
        )
    state.fold(spark, idx, every=2, sort_col="cluster_id")
    cache = (
        ResidentIndexCache(
            spark, idx, min_check_interval_s=args.cache_interval
        )
        if args.resident_cache else None
    )

    def one_request(client: int, req: int):
        """One serving call: fresh perturbed-member queries per request
        (plan caching across identical literals would flatter exec)."""
        r = np.random.default_rng(1000 * client + req)
        qsrc = r.integers(0, args.n, size=args.batch_queries)
        Q = V[qsrc] + 0.1 * r.normal(size=(args.batch_queries, args.dim))
        if args.direct:
            queries = [(i, Q[i].tolist()) for i in range(args.batch_queries)]
        else:
            queries = spark.createDataFrame(
                pd.DataFrame(
                    {"query_id": np.arange(args.batch_queries,
                                           dtype=np.int64),
                     "e": list(Q)}
                )
            )
        t0 = time.perf_counter()
        df = semantic_index_topk(
            spark, idx, queries, centroids, k=args.k, nprobe=args.nprobe,
            index_cache=cache,
        )
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        assert rows, "serve returned no rows"
        return t1 - t0, t2 - t1

    # untimed warm-up: codegen + Arrow worker spin-up
    one_request(999, 0)

    gate = (
        threading.Semaphore(args.max_inflight)
        if args.max_inflight else None
    )
    arms = []
    for conc in (int(c) for c in args.conc.split(",")):
        lat_total: list[float] = []
        lat_route: list[float] = []
        lat_exec: list[float] = []
        lock = threading.Lock()
        errs: list[str] = []

        def client(cid: int):
            try:
                for req in range(args.requests):
                    t_q = time.perf_counter()
                    if gate is not None:
                        gate.acquire()
                    try:
                        route_s, exec_s = one_request(cid, req)
                    finally:
                        if gate is not None:
                            gate.release()
                    # total includes client-side queueing under
                    # admission control — what a caller experiences
                    total = time.perf_counter() - t_q
                    with lock:
                        lat_route.append(route_s)
                        lat_exec.append(exec_s)
                        lat_total.append(total)
            except Exception as e:  # surface, don't hang the join
                with lock:
                    errs.append(repr(e))

        threads = [
            threading.Thread(target=client, args=(i,)) for i in range(conc)
        ]
        t0 = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        if errs:
            raise RuntimeError(f"concurrency {conc}: {errs[:3]}")
        n_req = conc * args.requests
        arms.append({
            "conc": conc,
            "requests": n_req,
            "qps": round(n_req / wall, 2),
            "p50_total_s": _pct(lat_total, 50),
            "p90_total_s": _pct(lat_total, 90),
            "p50_route_s": _pct(lat_route, 50),
            "p90_route_s": _pct(lat_route, 90),
            "p50_exec_s": _pct(lat_exec, 50),
            "p90_exec_s": _pct(lat_exec, 90),
            "wall_s": round(wall, 2),
            "loadavg1": round(os.getloadavg()[0], 2),
        })
        print(json.dumps(arms[-1]), flush=True)

    out = {
        "n": args.n, "dim": args.dim, "cells": args.cells,
        "batch_queries": args.batch_queries, "k": args.k,
        "nprobe": args.nprobe, "direct": bool(args.direct),
        "max_inflight": args.max_inflight,
        "resident_cache": bool(args.resident_cache),
        "cache_interval_s": args.cache_interval,
        "median_single_total_s": statistics.median(
            [a["p50_total_s"] for a in arms if a["conc"] == 1]
            or [arms[0]["p50_total_s"]]
        ),
        "arms": arms,
    }
    print(json.dumps(out))
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
