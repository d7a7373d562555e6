#!/usr/bin/env python
"""Retro-probe cost curve for the streaming decontamination's doc-gram
history (VERDICT r12 #3): how much does a NEW BENCHMARK arrival cost as
the corpus history grows, and how much does the r13 hash-bucket
partition pruning save?

Protocol: build a doc-gram history of H docs (batched through the real
``process_decon_batch`` write path, ``hash_buckets`` geometry), fold it
(the steady-state on-disk shape), then time a single small benchmark
arrival's retro probe two ways — PRUNED (the shipped
``_pruned_doc_history`` path: ``hb IN (bench buckets)`` partition
filter) and FULL (the pre-r13 whole-history scan). Repeat while H grows
×4 per step. Prints one JSON line per (H, mode) with median-of-3
timings, gram-row counts, and the buckets probed.

Run:  python tools/decon_probe_bench.py [--sizes 2000,8000,32000]
      [--buckets 16] [--out /tmp/decon_probe_bench.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from ballcone_spark.session import get_spark  # noqa: E402
from ballcone_spark.streaming import decon_stream as dcs  # noqa: E402
from ballcone_spark.streaming import state  # noqa: E402


def _mk_docs(spark, lo: int, hi: int):
    """Synthetic ~30-token docs with per-doc-unique vocabulary, so the
    gram history is all-distinct (the worst case for the probe: no
    dedup shrink) and a foreign benchmark can't collide."""
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.concat(F.lit(f"w{j}_"), F.col("id").cast("string"))
                for j in range(30)
            ],
        ).alias("text"),
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="2000,8000,32000")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--batch-docs", type=int, default=4000)
    ap.add_argument("--out", default="/tmp/decon_probe_bench.json")
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    spark = get_spark(app_name="decon_probe_bench")
    bench = spark.createDataFrame(
        [(9_000_000, "qq ww ee rr tt yy uu ii oo pp aa ss")],
        "bench_id long, text string",
    )
    bench_g = dcs._grams(
        bench.select(F.col("bench_id").alias("doc_id"), "text"), 8
    ).localCheckpoint(eager=True)

    rows = []
    root = tempfile.mkdtemp(prefix="decon_probe_")
    try:
        dg = os.path.join(root, "dg")
        bg = os.path.join(root, "bg")
        fl = os.path.join(root, "fl")
        written = 0
        batch_id = 0
        for H in sizes:
            while written < H:
                hi = min(written + args.batch_docs, H)
                dcs.process_decon_batch(
                    spark,
                    _mk_docs(spark, written, hi),
                    None,
                    dg,
                    bg,
                    fl,
                    batch_id=batch_id,
                    hash_buckets=args.buckets,
                )
                written, batch_id = hi, batch_id + 1
            # steady-state shape: history folded into bucket dirs
            state.fold(
                spark, dg, every=2, sort_col="h", partition_col="hb"
            )
            gram_rows = state.read(spark, dg, before=batch_id).count()

            def probe(pruned: bool) -> tuple[float, int]:
                if pruned:
                    hist = dcs._pruned_doc_history(
                        spark, dg, batch_id, bench_g
                    )
                    nb = hist.select("hb").distinct().count()
                else:
                    hist = state.read(spark, dg, before=batch_id)
                    nb = args.buckets
                runs = []
                for _ in range(3):
                    t0 = time.perf_counter()
                    hist.join(
                        F.broadcast(bench_g.select("h")), "h", "semi"
                    ).select("doc_id").count()
                    runs.append(time.perf_counter() - t0)
                return statistics.median(runs), nb

            for mode in ("pruned", "full"):
                sec, nb = probe(mode == "pruned")
                rows.append(
                    {
                        "docs": H,
                        "gram_rows": gram_rows,
                        "mode": mode,
                        "sec": round(sec, 4),
                        "buckets_probed": nb,
                        "buckets_total": args.buckets,
                    }
                )
                print(json.dumps(rows[-1]), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()
    with open(args.out, "w") as fh:
        json.dump(rows, fh, indent=1)


if __name__ == "__main__":
    main()
