#!/usr/bin/env python3
"""Product benchmark for ballcone_spark.

    python3 perfbench/run.py --workload {ingest,corpus} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Inputs are generated from ``--seed``
(the corpus tables are cached by seed under ``.perfbench/cache``);
everything the run writes stays under ``.perfbench/``.  Prints one line
per metric (name, value, unit), then, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Exits 1 when an output check fails, 2 when the program
under test is not there.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
if HERE not in sys.path:
    sys.path.insert(0, HERE)

import common  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "read_p75_ms": "ms",
    "freshness_p50_s": "s",
    "freshness_p90_s": "s",
    "peak_rss_mb": "MB",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "corpus"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(common.ROOT, "ballcone_spark", "dao.py")):
        print(f"ballcone_spark not found under {common.ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    run_dir = common.prepare_env()
    import layers
    from spans import Tracer, tail_percentile

    tracer = Tracer(enabled=bool(args.trace))
    t_start = time.perf_counter()
    session = None
    try:
        mod = __import__(args.workload)
        prep = mod.prepare(args.seed, args.seconds)
        session = common.Session(tracer)
        res = mod.run(args.seed, args.seconds, run_dir, tracer, session, prep)
        res["e2e"]["peak_rss_mb"] = common.peak_rss_mb()
        tracer.count_jobs()
        if args.trace:
            spans_path = os.path.join(
                common.STATE, f"spans-{args.workload}-{args.seed}.jsonl")
            tracer.dump(spans_path)
            print(f"# spans written to {spans_path}", file=sys.stderr)
        res["get_spark_s"] = session.get_spark_s
        per_layer = layers.metrics(args.workload, res, tracer)
    finally:
        for child in common.CHILDREN:
            if child.poll() is None:
                child.kill()
            child.wait()
        if session is not None:
            common.stop_jvm(session.spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    out = res["outcome"]
    e2e = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E_UNITS.items()}
    metrics = e2e
    if args.trace:
        metrics = {k: {"value": v, "unit": layers.UNITS[k]}
                   for k, v in per_layer.items()}
    for k, m in {**e2e, **metrics}.items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(f"failed_share {out.failed / max(out.attempted, 1):.6g} ratio "
          f"({out.failed}/{out.attempted})")
    for k, n in res["samples"].items():
        print(f"# {k}: {n} samples; p{tail_percentile(n):g} is the highest "
              "percentile with >= 10 beyond it", file=sys.stderr)
    for note in out.notes:
        print(f"FAILED: {note}", file=sys.stderr)
    print(f"# wall {time.perf_counter() - t_start:.1f} s; "
          + "; ".join(f"{k}={v}" for k, v in res.get("notes", {}).items()),
          file=sys.stderr)
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
