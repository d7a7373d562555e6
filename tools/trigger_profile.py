"""Per-trigger driver-cost profile for the heavy foreachBatch streams
(r15, VERDICT r14 #1): §6ay named DRIVER-SIDE scheduling as the
cohabitation binder — each trigger runs a string of small driver-blocking
Spark jobs (presence probes, eager checkpoints, gate counts) plus py4j
Hadoop-FS round-trips (geometry re-reads, manifest/listing snapshots).
This harness counts BOTH, per completed trigger, for one decon stream
and one semantic stream driven exactly like the cohab bench's loads:

- **jobs/trigger**: delta of the app status store's total job count
  (``sc.statusStore().jobsList(null).size()``) across each completed
  micro-batch — every driver-blocking action (count/take/collect/write)
  is one or more jobs, and each costs a scheduling round-trip that
  serializes with every co-resident stream on the one driver.
- **FS-helper calls/trigger**: call counts of the FS-touching helpers
  of ``streaming/state.py`` (``snapshot`` / ``read_manifest`` /
  ``_contents`` / ``_dir_signature`` / ``read_json`` / ``fold``) and
  of the decon geometry (``_read_geometry`` / ``_ensure_geometry``),
  instrumented by wrapping the module attributes — each call is
  one-to-several py4j round-trips.

One arm per invocation (fresh JVM per variant — the §6x A/B protocol):

  python tools/trigger_profile.py --arm decon --waves 6
  python tools/trigger_profile.py --arm semantic --waves 6

Prints one JSON line with per-wave job deltas and helper-call deltas.
"""

from __future__ import annotations

import argparse
import collections
import functools
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HELPER_COUNTS: collections.Counter = collections.Counter()


#: the state layer's FS-touching helpers
STATE_HELPERS = [
    "snapshot", "read_manifest", "_contents", "_dir_signature",
    "read_json", "fold",
]


def _instrument(mod, names):
    for name in names:
        fn = getattr(mod, name)

        def make(fn=fn, name=name):
            @functools.wraps(fn)
            def w(*a, **k):
                HELPER_COUNTS[name] += 1
                return fn(*a, **k)

            return w

        setattr(mod, name, make())


def _atomic_write(spool, name, lines):
    tmp = os.path.join(spool, f".{name}.jsonl")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(spool, f"{name}.jsonl"))


def _n_done(q):
    return len([p for p in (q.recentProgress or []) if p["numInputRows"] > 0])


def _await_done(q, n, timeout=180):
    deadline = time.monotonic() + timeout
    while _n_done(q) < n and time.monotonic() < deadline:
        time.sleep(0.25)
    if _n_done(q) < n:
        raise TimeoutError(f"batch {n} did not complete in {timeout}s")


def profile_decon(spark, sf_dir, waves, bench_after):
    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs
    from ballcone_spark.streaming import state

    _instrument(dcs, ["_read_geometry", "_ensure_geometry"])
    _instrument(state, STATE_HELPERS)

    store = spark.sparkContext._jsc.sc().statusStore()
    work = tempfile.mkdtemp(prefix="trig_prof_decon_")
    dspool = os.path.join(work, "dsp")
    bspool = os.path.join(work, "bsp")
    os.makedirs(dspool), os.makedirs(bspool)
    dirs = [os.path.join(work, d) for d in ("dg", "bg", "fl")]
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "source", "text")
    corpus = [
        (r["doc_id"], r["text"])
        for r in docs.where(F.col("source") != "src0").collect()
    ]
    bench = [
        (r["doc_id"], r["text"])
        for r in docs.where(F.col("source") == "src0").collect()
    ]
    wave_rows: list[list] = [[] for _ in range(waves)]
    for i, row in enumerate(corpus):
        wave_rows[i % waves].append(row)

    q = dcs.start_decon_stream(
        spark, dspool, bspool, *dirs, os.path.join(work, "dckpt"),
        available_now=False, trigger_seconds=1, compact_every=64,
    )
    out = []
    done = 0
    for w in range(waves):
        jobs0 = store.jobsList(None).size()
        h0 = dict(HELPER_COUNTS)
        _atomic_write(
            dspool, f"wave-{w:03d}",
            [json.dumps({"doc_id": i, "text": t}) for i, t in wave_rows[w]],
        )
        done += 1
        _await_done(q, done)
        out.append({
            "kind": "doc",
            "jobs": store.jobsList(None).size() - jobs0,
            "helpers": {
                k: HELPER_COUNTS[k] - h0.get(k, 0)
                for k in HELPER_COUNTS if HELPER_COUNTS[k] > h0.get(k, 0)
            },
        })
        if w + 1 == bench_after:
            jobs0 = store.jobsList(None).size()
            h0 = dict(HELPER_COUNTS)
            _atomic_write(
                bspool, "bench-000",
                [json.dumps({"bench_id": i, "text": t}) for i, t in bench],
            )
            done += 1
            _await_done(q, done)
            out.append({
                "kind": "bench",
                "jobs": store.jobsList(None).size() - jobs0,
                "helpers": {
                    k: HELPER_COUNTS[k] - h0.get(k, 0)
                    for k in HELPER_COUNTS
                    if HELPER_COUNTS[k] > h0.get(k, 0)
                },
            })
    q.stop()
    flagged = dcs.read_contaminated(spark, dirs[2])
    n_flagged = flagged.count() if flagged is not None else 0
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return out, {"n_flagged": n_flagged}


def profile_semantic(spark, waves, rows_per_wave):
    import math

    from ballcone_spark.streaming import semantic_stream as sem
    from ballcone_spark.streaming import state

    _instrument(state, STATE_HELPERS)

    dim, cells = 16, 4

    def unit(theta, phi):
        v = [0.0] * dim
        v[(2 * phi) % dim] = math.cos(theta)
        v[(2 * phi + 1) % dim] = math.sin(theta)
        return v

    store = spark.sparkContext._jsc.sc().statusStore()
    work = tempfile.mkdtemp(prefix="trig_prof_sem_")
    spool = os.path.join(work, "vspool")
    os.makedirs(spool)
    centroids = [(c, unit(0.2 * c, c)) for c in range(cells)]
    q = sem.start_semantic_dedup_stream(
        spark, spool, os.path.join(work, "vidx"),
        os.path.join(work, "vdec"), os.path.join(work, "vckpt"),
        centroids, tau=0.99, available_now=False, trigger_seconds=1,
        compact_every=64,
    )
    out = []
    k = 0
    for w in range(waves):
        jobs0 = store.jobsList(None).size()
        h0 = dict(HELPER_COUNTS)
        lines = []
        for _ in range(rows_per_wave):
            lines.append(json.dumps(
                {"vec_id": 1_000_000 + k,
                 "e": unit(0.2 * (k % cells) + (k % 50) * 0.002, k % cells)}
            ))
            k += 1
        _atomic_write(spool, f"wave-{w:03d}", lines)
        _await_done(q, w + 1)
        out.append({
            "kind": "vec",
            "jobs": store.jobsList(None).size() - jobs0,
            "helpers": {
                kk: HELPER_COUNTS[kk] - h0.get(kk, 0)
                for kk in HELPER_COUNTS
                if HELPER_COUNTS[kk] > h0.get(kk, 0)
            },
        })
    q.stop()
    idx = sem.read_semantic_index(spark, os.path.join(work, "vidx"))
    n_indexed = idx.count() if idx is not None else 0
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return out, {"n_indexed": n_indexed}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--arm", choices=["decon", "semantic"], required=True)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--waves", type=int, default=6)
    ap.add_argument("--bench-after", type=int, default=3)
    ap.add_argument("--rows-per-wave", type=int, default=400)
    args = ap.parse_args()

    from ballcone_spark.session import get_spark

    spark = get_spark(f"trigger_profile_{args.arm}")
    if args.arm == "decon":
        per, extra = profile_decon(
            spark, args.sf_dir, args.waves, args.bench_after
        )
    else:
        per, extra = profile_semantic(spark, args.waves, args.rows_per_wave)

    doc_jobs = sorted(p["jobs"] for p in per if p["kind"] != "bench")
    steady = doc_jobs[len(doc_jobs) // 2] if doc_jobs else None
    print(json.dumps({
        "metric": f"trigger_profile_{args.arm}",
        "value": steady,
        "unit": "jobs/trigger (median, steady kind)",
        "per_trigger": per,
        **extra,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
