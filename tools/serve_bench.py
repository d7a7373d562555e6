"""Measure semantic_index_topk at corpus scale (§6ak addendum).

Builds a synthetic routed index the stream's shape (batch_id= dirs,
folded + cluster_id-sorted through the shipped state.fold), then
serves query batches at several nprobe settings and compares wall +
result equality against an in-driver numpy brute force.

  python tools/serve_bench.py --n 200000 --dim 64 --cells 16 --queries 64

--compressed adds a PQ-coded twin of the index (numpy-trained
per-subspace codebooks over the NORMALIZED vectors, the stream's
_with_codes convention) and serves the same queries through the
codes-only ADC-screen + exact-rerank path, reporting wall + recall
vs the exact-path results.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--dim", type=int, default=64)
    ap.add_argument("--cells", type=int, default=16)
    ap.add_argument("--queries", type=int, default=64)
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--compressed", action="store_true")
    ap.add_argument("--pq-m", type=int, default=8)
    ap.add_argument("--pq-k", type=int, default=64)
    ap.add_argument("--eps", type=float, default=0.15)
    args = ap.parse_args()

    import pandas as pd

    from ballcone_spark.session import get_spark
    from ballcone_spark.streaming import state
    from ballcone_spark.streaming.semantic_stream import (
        semantic_index_topk,
    )

    spark = get_spark("serve_bench")
    rng = np.random.default_rng(7)
    C = rng.normal(size=(args.cells, args.dim))
    C /= np.linalg.norm(C, axis=1)[:, None]
    centroids = [(i, C[i].tolist()) for i in range(args.cells)]

    # vectors = centroid + noise → realistic cluster occupancy
    cell = rng.integers(0, args.cells, size=args.n)
    V = C[cell] + 0.35 * rng.normal(size=(args.n, args.dim))
    nrm = np.linalg.norm(V, axis=1)
    Vn_all = V / nrm[:, None]
    # route by TRUE nearest centroid (the stream's rule), not the
    # generator's label — noise flips some assignments
    routed = np.argmax(Vn_all @ C.T, axis=1)

    books = None
    codes_all = None
    if args.compressed:
        # numpy Lloyd's per subspace over the NORMALIZED vectors (the
        # index stores codes of e/nrm — the stream's convention)
        m, kk = args.pq_m, args.pq_k
        d_sub = args.dim // m
        books_a = np.zeros((m, kk, d_sub))
        sample = Vn_all[rng.choice(args.n, size=min(50_000, args.n),
                                   replace=False)]
        for i in range(m):
            X = sample[:, i * d_sub:(i + 1) * d_sub]
            cb = X[rng.choice(len(X), size=kk, replace=False)]
            for _ in range(8):
                d2 = ((X[:, None, :] - cb[None, :, :]) ** 2).sum(-1)
                a = d2.argmin(1)
                for j in range(kk):
                    pts = X[a == j]
                    if len(pts):
                        cb[j] = pts.mean(0)
            books_a[i] = cb
        books = books_a.tolist()
        codes_all = np.stack([
            ((Vn_all[:, i * d_sub:(i + 1) * d_sub][:, None, :]
              - books_a[i][None, :, :]) ** 2).sum(-1).argmin(1)
            for i in range(m)
        ], axis=1).astype(np.int32)

    work = tempfile.mkdtemp(prefix="serve_bench_")
    idx = os.path.join(work, "idx")
    per = args.n // args.batches
    t0 = time.monotonic()
    for b in range(args.batches):
        lo, hi = b * per, (b + 1) * per if b < args.batches - 1 else args.n
        cols = {
            "vec_id": np.arange(lo, hi, dtype=np.int64),
            "cluster_id": routed[lo:hi].astype(np.int64),
            "e": list(V[lo:hi]),
            "nrm": nrm[lo:hi],
        }
        if codes_all is not None:
            cols["codes"] = list(codes_all[lo:hi])
        pdf = pd.DataFrame(cols)
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            os.path.join(idx, f"batch_id={b}")
        )
    build_s = round(time.monotonic() - t0, 2)
    t0 = time.monotonic()
    state.fold(spark, idx, every=2, sort_col="cluster_id")
    fold_s = round(time.monotonic() - t0, 2)

    # queries resemble corpus vectors (perturbed members — the real
    # serving shape); pure-noise queries have no cluster affinity and
    # make every recall curve meaningless
    qsrc = rng.integers(0, args.n, size=args.queries)
    Q = V[qsrc] + 0.1 * rng.normal(size=(args.queries, args.dim))
    queries = spark.createDataFrame(
        pd.DataFrame(
            {"query_id": np.arange(args.queries, dtype=np.int64),
             "e": list(Q)}
        )
    )

    # numpy truth (full scan, in driver)
    t0 = time.monotonic()
    Qn = Q / np.linalg.norm(Q, axis=1)[:, None]
    sims = Qn @ (V / nrm[:, None]).T
    truth = {
        q: set(np.argsort(-sims[q])[: args.k].tolist())
        for q in range(args.queries)
    }
    numpy_s = round(time.monotonic() - t0, 3)

    out = {"n": args.n, "cells": args.cells, "queries": args.queries,
           "k": args.k, "build_s": build_s, "fold_s": fold_s,
           "numpy_fullscan_s": numpy_s, "arms": []}
    exact_np2_rows = None
    for nprobe in (1, 2, 4, args.cells):
        t0 = time.monotonic()
        got = semantic_index_topk(
            spark, idx, queries, centroids, k=args.k, nprobe=nprobe
        ).collect()
        wall = round(time.monotonic() - t0, 2)
        if nprobe == 2:
            exact_np2_rows = got
        by_q: dict = {}
        for r in got:
            by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        recall = np.mean(
            [len(by_q.get(q, set()) & truth[q]) / args.k
             for q in range(args.queries)]
        )
        out["arms"].append(
            {"nprobe": nprobe, "wall_s": wall,
             "recall_vs_bruteforce": round(float(recall), 4)}
        )
    if books is not None:
        exact_res = {}
        for r in exact_np2_rows:  # reuse the arms loop's nprobe=2 serve
            exact_res.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        for nprobe in (2,):
            t0 = time.monotonic()
            cg = semantic_index_topk(
                spark, idx, queries, centroids, k=args.k, nprobe=nprobe,
                books=books, eps=args.eps,
            ).collect()
            wall = round(time.monotonic() - t0, 2)
            by_q = {}
            for r in cg:
                by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            rec = np.mean([
                len(by_q.get(q, set()) & exact_res.get(q, set())) / args.k
                for q in range(args.queries)
            ])
            out["compressed_arm"] = {
                "nprobe": nprobe, "wall_s": wall,
                "recall_vs_exact_path": round(float(rec), 4),
                "pq_m": args.pq_m, "pq_k": args.pq_k, "eps": args.eps,
            }
    out["loadavg1"] = round(os.getloadavg()[0], 2)
    print(json.dumps(out))
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
