"""Forward-probe broadcast-gate A/B (r14): what does DROPPING the
forced broadcast cost in the regime where the old hint was safe?

The r14 gate (`decon_stream._forward_flags`) broadcasts the batch's
doc grams only below ``FORWARD_BROADCAST_MAX_GRAMS``; above it the
join is hint-free and the planner sizes it from real stats. The gate
exists to remove a driver-OOM cliff on backfill batches — this bench
checks the OTHER side of the trade: for batches near and below the
ceiling, is the stats-planned join slower than the forced broadcast?
(If parity holds, the ceiling is pure safety: it costs nothing where
the hint was fine and removes the cliff where it wasn't.)

Interleaved in one session (forced, stats, forced, stats per size);
reports wall medians and the physical join the planner actually chose
in the hint-free variant.

  python tools/decon_gate_bench.py --sf-dir .scale_data/sf1
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".scale_data/sf1")
    ap.add_argument("--doc-counts", default="5000,20000,50000")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from ballcone_spark.session import get_spark
    from ballcone_spark.streaming import decon_stream as dcs
    from ballcone_spark.streaming import state

    spark = get_spark("decon_gate_bench")
    work = tempfile.mkdtemp(prefix="gate_bench_")
    dg, bg, fl = (os.path.join(work, d) for d in ("dg", "bg", "fl"))

    docs = spark.read.parquet(
        os.path.join(args.sf_dir, "documents.parquet")
    ).select("doc_id", "source", "text")
    corpus = docs.where(F.col("source") != "src0").select("doc_id", "text")
    bench = docs.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    n_bench = bench.count()
    # index the benchmark suite once — its gram history is the forward
    # probe's scan side in every variant
    dcs.process_decon_batch(spark, None, bench, dg, bg, fl, batch_id=0)
    bench_hist = state.read(spark, bg, before=1).select("h")
    bench_grams = bench_hist.count()

    def join_nodes(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return sorted({
            tok for tok in (
                "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
                "BuildLeft", "BuildRight",
            ) if tok in plan
        })

    results = []
    for n in [int(x) for x in args.doc_counts.split(",")]:
        doc_g = dcs._grams(
            corpus.limit(n), dcs._DECON_NGRAM
        ).localCheckpoint(eager=True)
        doc_grams = doc_g.count()
        walls = {"forced": [], "stats": []}
        plans = {}
        flags = {}
        for _ in range(args.reps):
            for variant in ("forced", "stats"):
                probe = doc_g.select("doc_id", "h")
                if variant == "forced":
                    probe = F.broadcast(probe)
                j = bench_hist.join(probe, "h", "inner").select("doc_id")
                t0 = time.monotonic()
                flags[variant] = j.distinct().count()
                walls[variant].append(time.monotonic() - t0)
                plans[variant] = join_nodes(j)
        assert flags["forced"] == flags["stats"]  # the gate never
        # changes results, only strategy
        med = lambda xs: round(sorted(xs)[len(xs) // 2], 3)  # noqa: E731
        results.append({
            "doc_batch": n,
            "doc_grams": doc_grams,
            "under_ceiling": doc_grams <= dcs.FORWARD_BROADCAST_MAX_GRAMS,
            "wall_forced_s": med(walls["forced"]),
            "wall_stats_s": med(walls["stats"]),
            "stats_over_forced": round(
                med(walls["stats"]) / med(walls["forced"]), 2
            ),
            "plan_forced": plans["forced"],
            "plan_stats": plans["stats"],
            "flagged": flags["stats"],
        })

    print(json.dumps({
        "metric": "decon_forward_gate_ab",
        "value": max(r["stats_over_forced"] for r in results),
        "unit": "x (worst stats/forced wall ratio)",
        "bench_items": n_bench,
        "bench_grams": bench_grams,
        "ceiling": dcs.FORWARD_BROADCAST_MAX_GRAMS,
        "rows": results,
        "reps": args.reps,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
