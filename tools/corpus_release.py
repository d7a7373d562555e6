"""Corpus release as a resumable super-stage pipeline.

The production curation order (quality gate → MinHash-LSH near-dup
pairs → clusters → keep-best survivors → learned-score budget fill —
the same composition `curation_budget_mix` runs in one session,
pinned row-identical by tests/test_pipeline.py) expressed through
plans/pipeline.py: every stage materializes behind an atomic manifest,
a killed run RESUMES from the last committed stage, and
--fresh-sessions runs each stage in its own SparkSession so peak
shuffle disk is max-over-stages instead of sum-over-stages
(BASELINE §6ac).

  python tools/corpus_release.py --root /tmp/release --sf-dir /root/testdata/sf0.1
  python tools/corpus_release.py --root /tmp/release --status
  python tools/corpus_release.py --root /tmp/release --fresh-sessions

Prints one JSON line: per-stage ran/skipped + wall, total wall.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ballcone_spark.plans.pipeline import (  # noqa: E402
    Stage,
    pipeline_status,
    run_pipeline,
    stage_output,
)


def build_stages(sf_dir: str) -> list[Stage]:
    from ballcone_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_best,
        minhash_lsh_pairs,
    )
    from ballcone_spark.operators.quality_classifier import (
        FROZEN_W,
        _LEARNED_BUDGET,
        learned_budget_sample,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")

    def gate(spark, inputs):
        toks = F.split(F.trim(F.col("text")), r"\s+")
        return (
            spark.read.parquet(docs_path)
            .where(F.col("text").isNotNull())
            .select(
                "doc_id", "source", "lang", "text", "n_chars",
                F.size(toks).alias("n_tok"),
                F.size(F.array_distinct(toks)).alias("n_uniq"),
            )
            .where(
                (F.col("n_chars") >= 100)
                & (F.col("n_tok") >= 20)
                & ((F.col("n_uniq") / F.col("n_tok")) >= 0.3)
            )
        )

    def pairs(spark, inputs):
        return minhash_lsh_pairs(
            inputs["gate"].select("doc_id", "text")
        ).select("a_id", "b_id")

    def survivors(spark, inputs):
        clusters = dedup_clusters(inputs["pairs"])
        kb = dedup_keep_best(
            clusters,
            inputs["gate"].select("doc_id", F.col("n_uniq").alias("score")),
        )
        dropped = clusters.join(
            kb.select(F.col("kept_doc_id").alias("doc_id")).hint("merge"),
            "doc_id", "left_anti",
        ).select("doc_id")
        return inputs["gate"].join(
            dropped.hint("merge"), "doc_id", "left_anti"
        )

    def fill(spark, inputs):
        return learned_budget_sample(
            inputs["survivors"].select(
                "doc_id", "source", "lang", "text", "n_chars"
            ),
            FROZEN_W, _LEARNED_BUDGET, text_col="text",
        )

    return [
        Stage("gate", gate),
        Stage("pairs", pairs, deps=("gate",)),
        Stage("survivors", survivors, deps=("gate", "pairs")),
        Stage("fill", fill, deps=("survivors",)),
    ]


def build_span_stages(sf_dir: str) -> list[Stage]:
    """The span-release variant: qualifying spans (the expensive gram
    self-join — the §6ac disk-heavy super-stage) → Lee et al. deletion
    transform → sequence packing of the rewritten corpus. A killed
    release resumes into the deletion without re-pairing."""
    from ballcone_spark.operators.packing import pack_sequences
    from ballcone_spark.operators.span_dedup import (
        qualifying_spans,
        span_deduped_corpus,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")

    def spans(spark, inputs):
        docs = spark.read.parquet(docs_path).where(
            F.col("text").isNotNull()
        )
        return qualifying_spans(docs)

    def deduped(spark, inputs):
        docs = spark.read.parquet(docs_path).where(
            F.col("text").isNotNull()
        )
        return span_deduped_corpus(docs, spans=inputs["spans"])

    def packed(spark, inputs):
        return pack_sequences(
            inputs["deduped"].where(F.col("kept_tokens") > 0),
            seq_len=128,
            text_col="new_text",
        )

    return [
        Stage("spans", spans),
        Stage("deduped", deduped, deps=("spans",)),
        Stage("packed", packed, deps=("deduped",)),
    ]


def build_refresh_stages(sf_dir: str) -> list[Stage]:
    """The corpus-REFRESH variant (r13, VERDICT r12 #5): a DAG that is
    not a chain, so the runner's dep-token invalidation is exercised
    across branches —

        gate ──► decon ──┬──► report
                         ├──► alias ──► resolved
                         └──────────────┘

    ``report`` and ``alias`` both read (gate, decon) — a fan-OUT whose
    branches must BOTH invalidate when decon re-runs (new benchmark
    suite arrived) while gate stays current; ``resolved`` fans IN
    (gate, decon, alias). The clean-corpus rule (gate minus decon
    flags) is shared by all three consumers, derived from the same two
    committed parquet dirs.

    Deployment story: a new eval suite lands → re-run with the decon
    stage's version bumped (or --force-from decon) → the runner redoes
    decon, report, alias, resolved and SKIPS the gate scan of the full
    corpus. Pinned row-identical to the one-session composition by
    tests/test_pipeline.py."""
    from ballcone_spark.operators.corpus_report import corpus_report
    from ballcone_spark.operators.dedup import decontamination_flags
    from ballcone_spark.operators.packing import (
        apply_alias_map,
        chunk_alias_map,
        chunk_documents,
    )

    docs_path = os.path.join(sf_dir, "documents.parquet")

    def gate(spark, inputs):
        return (
            spark.read.parquet(docs_path)
            .where(F.col("text").isNotNull())
            .where(F.length("text") >= 50)
            .select("doc_id", "source", "lang", "text", "n_chars")
        )

    def decon(spark, inputs):
        g = inputs["gate"]
        corpus = g.where(F.col("source") != "src0")
        bench = g.where(F.col("source") == "src0")
        return decontamination_flags(corpus, bench)

    def _clean(inputs):
        # the shared clean-corpus rule: gated docs minus the benchmark
        # source itself minus contaminated docs — both sides are plain
        # committed-parquet scans, so every consumer derives the same
        # frame without recomputation
        return (
            inputs["gate"]
            .where(F.col("source") != "src0")
            .join(
                F.broadcast(inputs["decon"].select("doc_id")),
                "doc_id",
                "left_anti",
            )
        )

    def report(spark, inputs):
        return corpus_report(_clean(inputs))

    def alias(spark, inputs):
        return chunk_alias_map(_clean(inputs))

    def resolved(spark, inputs):
        refs = chunk_documents(_clean(inputs)).select("doc_id", "chunk_fp")
        res = apply_alias_map(refs, inputs["alias"])
        return (
            res.groupBy("doc_id")
            .agg(
                F.count("*").alias("n_chunks"),
                F.sum(F.col("is_redirected").cast("long")).alias(
                    "n_redirected"
                ),
                F.count_distinct("canonical_fp").alias("n_canonicals"),
            )
        )

    return [
        Stage("gate", gate),
        Stage("decon", decon, deps=("gate",)),
        Stage("report", report, deps=("gate", "decon")),
        Stage("alias", alias, deps=("gate", "decon")),
        Stage("resolved", resolved, deps=("gate", "decon", "alias")),
    ]


_VARIANTS = {
    "curation": build_stages,
    "span": build_span_stages,
    "refresh": build_refresh_stages,
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--sf-dir",
                    default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                           "/root/testdata/sf0.1"))
    ap.add_argument("--fresh-sessions", action="store_true",
                    help="one SparkSession per pending stage (§6ac "
                         "max-over-stages disk shape)")
    ap.add_argument("--force", action="store_true")
    ap.add_argument("--status", action="store_true",
                    help="print what a run would skip vs redo, then exit")
    ap.add_argument("--variant", default="curation",
                    choices=sorted(_VARIANTS),
                    help="curation = gate/dedup/budget-fill; span = "
                         "qualifying-spans/deletion/packing; refresh = "
                         "gate/decon/{report,alias}/resolved (diamond "
                         "DAG — new-benchmark redeploys skip the gate)")
    ap.add_argument("--stop-after", default=None,
                    help="(testing) exit after this stage commits — "
                         "simulates a killed deployment for resume runs")
    args = ap.parse_args()

    stages = _VARIANTS[args.variant](args.sf_dir)
    if args.status:
        print(json.dumps(pipeline_status(args.root, stages)))
        return

    from ballcone_spark.session import get_spark

    walls: dict[str, float] = {}
    ran: dict[str, bool] = {}

    if args.force:
        # invalidate by removing the manifests ONCE up front, then run
        # incrementally WITHOUT force — passing force to the
        # stage-at-a-time loop below would re-run every earlier stage
        # on each iteration (quadratic recompute)
        for s in stages:
            try:
                os.remove(os.path.join(args.root, s.name, "_stage.json"))
            except FileNotFoundError:
                pass

    t_total = time.monotonic()
    if args.fresh_sessions:
        factory = lambda: get_spark("corpus_release")  # noqa: E731
        run_kw = {"session_factory": factory}
    else:
        run_kw = {"spark": get_spark("corpus_release")}

    # run stage-at-a-time so --stop-after can kill between commits;
    # completed stages resume from their manifest, so each incremental
    # call executes at most the one new stage
    done: list[Stage] = []
    for s in stages:
        done.append(s)
        t0 = time.monotonic()
        res = run_pipeline(args.root, done, **run_kw)
        r = res[s.name]
        ran[s.name] = r["ran"]
        walls[s.name] = round(time.monotonic() - t0, 2) if r["ran"] else 0.0
        if args.stop_after == s.name:
            print(json.dumps({"stopped_after": s.name,
                              "stage_walls_s": walls, "ran": ran}))
            return

    spark = run_kw.get("spark") or get_spark("corpus_release")
    final = stages[-1].name
    out = stage_output(spark, args.root, final)
    n = out.count()
    print(json.dumps({
        "stages": [s.name for s in stages],
        "ran": ran,
        "stage_walls_s": walls,
        "total_wall_s": round(time.monotonic() - t_total, 2),
        "final_stage": final,
        "final_rows": n,
        "sf_dir": args.sf_dir,
        "fresh_sessions": bool(args.fresh_sessions),
    }))


if __name__ == "__main__":
    main()
