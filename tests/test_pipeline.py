"""Super-stage pipeline runner (plans/pipeline.py): resume, atomic
commit, dep-token invalidation, kill-points, and equivalence of a
staged curation pipeline with its single-session composition."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from ballcone_spark.plans import pipeline as pl
from ballcone_spark.plans.pipeline import (
    Stage,
    pipeline_status,
    run_pipeline,
    stage_output,
)

SF = "/root/testdata/sf0.001"


def _diamond(calls):
    """raw → (evens, stats) → joined; `calls` counts build invocations."""

    def raw(spark, inputs):
        calls.append("raw")
        return spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 7).alias("bucket")
        )

    def evens(spark, inputs):
        calls.append("evens")
        return inputs["raw"].where(F.col("id") % 2 == 0)

    def stats(spark, inputs):
        calls.append("stats")
        return (
            inputs["raw"].groupBy("bucket")
            .agg(F.count("*").alias("n"), F.sum("id").alias("s"))
        )

    def joined(spark, inputs):
        calls.append("joined")
        return (
            inputs["evens"].join(inputs["stats"], "bucket")
            .select("id", "bucket", "n", "s")
        )

    return [
        Stage("raw", raw),
        Stage("evens", evens, deps=("raw",)),
        Stage("stats", stats, deps=("raw",)),
        Stage("joined", joined, deps=("evens", "stats")),
    ]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_pipeline_runs_and_matches_direct(spark, tmp_path):
    calls = []
    res = run_pipeline(str(tmp_path), _diamond(calls), spark=spark)
    assert all(v["ran"] for v in res.values())
    assert calls == ["raw", "evens", "stats", "joined"]

    base = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("bucket")
    )
    direct = (
        base.where(F.col("id") % 2 == 0)
        .join(
            base.groupBy("bucket").agg(
                F.count("*").alias("n"), F.sum("id").alias("s")
            ),
            "bucket",
        )
        .select("id", "bucket", "n", "s")
    )
    got = stage_output(spark, str(tmp_path), "joined")
    assert _rows(got) == _rows(direct)


def test_pipeline_resume_skips_completed(spark, tmp_path):
    calls = []
    stages = _diamond(calls)
    run_pipeline(str(tmp_path), stages, spark=spark)
    n_first = len(calls)
    res2 = run_pipeline(str(tmp_path), stages, spark=spark)
    assert len(calls) == n_first  # zero rebuilds
    assert not any(v["ran"] for v in res2.values())
    assert pipeline_status(str(tmp_path), stages) == {
        s.name: "current" for s in stages
    }


def test_pipeline_version_bump_cascades(spark, tmp_path):
    calls = []
    stages = _diamond(calls)
    run_pipeline(str(tmp_path), stages, spark=spark)
    calls.clear()

    # bump only the 'evens' code version: evens re-runs with a fresh
    # token, which transitively invalidates joined (rule 2) but must
    # NOT touch raw or stats
    bumped = [
        Stage(s.name, s.build, s.deps, s.partition_by, "2")
        if s.name == "evens" else s
        for s in stages
    ]
    st = pipeline_status(str(tmp_path), bumped)
    assert st == {
        "raw": "current", "evens": "stale",
        "stats": "current", "joined": "stale",
    }  # status predicts the cascade: evens will mint a new token,
    #    so joined's recorded dep token can't match (rule 2)
    res = run_pipeline(str(tmp_path), bumped, spark=spark)
    assert calls == ["evens", "joined"]
    assert [n for n, v in res.items() if v["ran"]] == ["evens", "joined"]


def test_pipeline_kill_before_manifest_commit(spark, tmp_path, monkeypatch):
    """Crash between the parquet write and the manifest replace: the
    attempt is unreadable, the orphan is swept, and the resumed run's
    output equals a never-crashed twin's."""
    calls = []
    stages = _diamond(calls)

    real_commit = pl._commit_state

    def exploding(root, name, st):
        if name == "stats":
            raise OSError("injected crash before manifest commit")
        real_commit(root, name, st)

    monkeypatch.setattr(pl, "_commit_state", exploding)
    with pytest.raises(OSError, match="injected"):
        run_pipeline(str(tmp_path), stages, spark=spark)
    monkeypatch.setattr(pl, "_commit_state", real_commit)

    # the crashed attempt is invisible (rule 1) ...
    with pytest.raises(FileNotFoundError):
        stage_output(spark, str(tmp_path), "stats")
    orphans = [
        e for e in os.scandir(tmp_path / "stats")
        if e.name.startswith("data-")
    ]
    assert len(orphans) == 1  # the uncommitted data dir, pre-sweep

    calls.clear()
    res = run_pipeline(str(tmp_path), stages, spark=spark)
    assert calls == ["stats", "joined"]  # raw/evens resumed, not rebuilt
    assert res["stats"]["ran"] and res["joined"]["ran"]

    twin = tmp_path / "twin"
    run_pipeline(str(twin), _diamond([]), spark=spark)
    assert _rows(stage_output(spark, str(tmp_path), "joined")) == _rows(
        stage_output(spark, str(twin), "joined")
    )
    # exactly one committed data dir per stage — the orphan was swept
    for s in stages:
        dirs = [
            e for e in os.scandir(tmp_path / s.name)
            if e.name.startswith("data-")
        ]
        assert len(dirs) == 1


def test_pipeline_corrupt_manifest_reruns_stage(spark, tmp_path):
    calls = []
    stages = _diamond(calls)
    run_pipeline(str(tmp_path), stages, spark=spark)
    with open(tmp_path / "raw" / "_stage.json", "w") as f:
        f.write("{ not json")
    calls.clear()
    run_pipeline(str(tmp_path), stages, spark=spark)
    # raw reruns; its fresh token cascades through every dependent
    assert calls == ["raw", "evens", "stats", "joined"]


def test_pipeline_rejects_non_topological_order(spark, tmp_path):
    stages = _diamond([])
    with pytest.raises(ValueError, match="deps-first"):
        run_pipeline(
            str(tmp_path), [stages[1], stages[0]], spark=spark
        )
    with pytest.raises(ValueError, match="exactly one"):
        run_pipeline(str(tmp_path), stages)


def test_pipeline_session_factory_per_pending_stage(spark, tmp_path,
                                                    monkeypatch):
    """The per-stage-session arm (§6ac max-over-stages disk shape):
    the factory is invoked once per PENDING stage and each session is
    stopped after its stage; resumed stages get no session at all."""
    made, stopped = [], []
    monkeypatch.setattr(spark, "stop", lambda: stopped.append(1))

    def factory():
        made.append(1)
        return spark

    stages = _diamond([])
    run_pipeline(str(tmp_path), stages, session_factory=factory)
    assert len(made) == 4 and len(stopped) == 4
    run_pipeline(str(tmp_path), stages, session_factory=factory)
    assert len(made) == 4  # full resume: zero sessions built


def test_pipeline_partition_by_lands_in_layout(spark, tmp_path):
    def raw(spark_, inputs):
        return spark_.range(0, 20).select(
            F.col("id"), (F.col("id") % 3).alias("part")
        )

    res = run_pipeline(
        str(tmp_path), [Stage("raw", raw, partition_by=("part",))],
        spark=spark,
    )
    names = os.listdir(res["raw"]["path"])
    assert {"part=0", "part=1", "part=2"} <= set(names)


def test_staged_curation_matches_single_session(spark, tmp_path):
    """The pipeline's real user: quality gate → near-dup pairs →
    clusters → keep-best survivors → budget fill, each a checkpointed
    super-stage, output row-identical to the one-session
    curation_budget_mix composition on the real sf0.001 corpus."""
    from ballcone_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_best,
        minhash_lsh_pairs,
    )
    from ballcone_spark.operators.quality_classifier import (
        FROZEN_W,
        _LEARNED_BUDGET,
        curation_budget_mix,
        learned_budget_sample,
    )

    docs_path = f"{SF}/documents.parquet"

    def gate(spark_, inputs):
        toks = F.split(F.trim(F.col("text")), r"\s+")
        return (
            spark_.read.parquet(docs_path)
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

    def pairs(spark_, inputs):
        return minhash_lsh_pairs(
            inputs["gate"].select("doc_id", "text")
        ).select("a_id", "b_id")

    def survivors(spark_, inputs):
        clusters = dedup_clusters(inputs["pairs"])
        kb = dedup_keep_best(
            clusters,
            inputs["gate"].select("doc_id", F.col("n_uniq").alias("score")),
        )
        dropped = clusters.join(
            kb.select(F.col("kept_doc_id").alias("doc_id")).hint("merge"),
            "doc_id", "left_anti",
        ).select("doc_id")
        return inputs["gate"].join(dropped.hint("merge"), "doc_id",
                                   "left_anti")

    def fill(spark_, inputs):
        return learned_budget_sample(
            inputs["survivors"].select(
                "doc_id", "source", "lang", "text", "n_chars"
            ),
            FROZEN_W, _LEARNED_BUDGET, text_col="text",
        )

    res = run_pipeline(
        str(tmp_path),
        [
            Stage("gate", gate),
            Stage("pairs", pairs, deps=("gate",)),
            Stage("survivors", survivors, deps=("gate", "pairs")),
            Stage("fill", fill, deps=("survivors",)),
        ],
        spark=spark,
    )
    assert all(v["ran"] for v in res.values())

    direct = curation_budget_mix(
        spark.read.parquet(docs_path), FROZEN_W, _LEARNED_BUDGET
    )
    staged = stage_output(spark, str(tmp_path), "fill")
    assert _rows(staged) == _rows(direct)
    # and the interrupted-deployment read path: a fresh "session"
    # (simulated by a plain read) sees only committed parquet
    with open(tmp_path / "fill" / "_stage.json") as f:
        tok = json.load(f)["token"]
    assert os.path.isdir(tmp_path / "fill" / f"data-{tok}")


def test_pipeline_forced_rerun_crash_keeps_old_output(spark, tmp_path,
                                                      monkeypatch):
    """A re-run (force or staleness) must NOT delete the committed data
    dir before the replacement commits: a crash mid-re-run leaves the
    old manifest pointing at old data, which must still be readable and
    intact (review r12 finding #1)."""
    stages = _diamond([])
    run_pipeline(str(tmp_path), stages, spark=spark)
    before = _rows(stage_output(spark, str(tmp_path), "raw"))

    real_commit = pl._commit_state

    def exploding(root, name, st):
        raise OSError("injected crash before forced re-commit")

    monkeypatch.setattr(pl, "_commit_state", exploding)
    with pytest.raises(OSError, match="injected"):
        run_pipeline(str(tmp_path), stages, spark=spark, force=True)
    monkeypatch.setattr(pl, "_commit_state", real_commit)

    # the committed output survived the crashed re-run attempt ...
    assert _rows(stage_output(spark, str(tmp_path), "raw")) == before
    # ... and a plain resume sees every stage current (the force never
    # completed, so the old committed state stands)
    res = run_pipeline(str(tmp_path), stages, spark=spark)
    assert not any(v["ran"] for v in res.values())
    assert _rows(stage_output(spark, str(tmp_path), "raw")) == before


def test_pipeline_retired_dir_survives_one_run(spark, tmp_path):
    """Deferred-garbage reader grace (review r12-d): a re-run RETIRES
    the old committed data dir instead of deleting it at commit — a
    concurrent stage_output reader that resolved the old token keeps
    scanning intact files (the state.fold one-interval contract).
    The retired dir is recorded as manifest garbage and deleted on the
    NEXT run; crashed-attempt orphans still die immediately."""
    stages = _diamond([])
    run_pipeline(str(tmp_path), stages, spark=spark)

    # a reader resolves 'raw' BEFORE the re-run (lazy — not collected)
    old_reader = stage_output(spark, str(tmp_path), "raw")
    with open(tmp_path / "raw" / "_stage.json") as f:
        old_tok = json.load(f)["token"]

    bumped = [
        Stage(s.name, s.build, s.deps, s.partition_by, "2")
        if s.name == "raw" else s
        for s in stages
    ]
    run_pipeline(str(tmp_path), bumped, spark=spark)

    with open(tmp_path / "raw" / "_stage.json") as f:
        m = json.load(f)
    assert m["token"] != old_tok
    assert m["garbage"] == [old_tok]
    # the old dir is intact: the pre-re-run reader still collects
    assert os.path.isdir(tmp_path / "raw" / f"data-{old_tok}")
    assert len(old_reader.collect()) == 100

    # the NEXT run (nothing stale) expires the grace: garbage dir gone,
    # manifest record cleared, current output untouched
    res = run_pipeline(str(tmp_path), bumped, spark=spark)
    assert not any(v["ran"] for v in res.values())
    assert not os.path.isdir(tmp_path / "raw" / f"data-{old_tok}")
    with open(tmp_path / "raw" / "_stage.json") as f:
        assert json.load(f)["garbage"] == []
    assert len(stage_output(spark, str(tmp_path), "raw").collect()) == 100


def test_staged_span_release_matches_direct(spark, tmp_path):
    """The span-release pipeline variant: materializing the expensive
    gram-self-join stage (qualifying_spans) through parquet and
    feeding it back via span_deduped_corpus(spans=...) must reproduce
    the direct single-plan composition byte-for-byte, and packing the
    rewritten corpus completes the staged release."""
    from pyspark.sql import functions as F

    from ballcone_spark.operators.packing import pack_sequences
    from ballcone_spark.operators.span_dedup import (
        qualifying_spans,
        span_deduped_corpus,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
    )

    def spans(spark_, inputs):
        return qualifying_spans(docs)

    def deduped(spark_, inputs):
        return span_deduped_corpus(docs, spans=inputs["spans"])

    def packed(spark_, inputs):
        return pack_sequences(
            inputs["deduped"].where(F.col("kept_tokens") > 0),
            seq_len=128, text_col="new_text",
        )

    res = run_pipeline(
        str(tmp_path),
        [
            Stage("spans", spans),
            Stage("deduped", deduped, deps=("spans",)),
            Stage("packed", packed, deps=("deduped",)),
        ],
        spark=spark,
    )
    assert all(v["ran"] for v in res.values())

    staged = stage_output(spark, str(tmp_path), "deduped")
    direct = span_deduped_corpus(docs)
    assert _rows(staged) == _rows(direct)  # incl. new_text bytes
    n_spans = stage_output(spark, str(tmp_path), "spans").count()
    assert n_spans > 0  # non-vacuous: sf0.001 has planted span dups
    assert stage_output(spark, str(tmp_path), "packed").count() > 0


def _load_corpus_release():
    """Import tools/corpus_release.py by path — the shipped stage
    definitions are what these tests pin, not a test-local copy."""
    import importlib.util

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "corpus_release.py",
    )
    spec = importlib.util.spec_from_file_location("corpus_release", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_staged_refresh_matches_single_session(spark, tmp_path):
    """The refresh variant (r13, VERDICT r12 #5): the DIAMOND DAG
    gate → decon → {report, alias} → resolved, run kill-point-first
    (killed after decon commits, then resumed), must produce outputs
    row-identical to the one-session composition — and a decon
    version bump (new benchmark suite) must invalidate exactly the
    decon/report/alias/resolved branch while the gate stage stays
    current and skipped."""
    from ballcone_spark.operators.corpus_report import corpus_report
    from ballcone_spark.operators.dedup import decontamination_flags
    from ballcone_spark.operators.packing import (
        apply_alias_map,
        chunk_alias_map,
        chunk_documents,
    )

    cr = _load_corpus_release()
    stages = cr.build_refresh_stages(SF)
    assert [s.name for s in stages] == [
        "gate", "decon", "report", "alias", "resolved",
    ]

    # kill-point: a deployment that died after decon committed ...
    res1 = run_pipeline(str(tmp_path), stages[:2], spark=spark)
    assert all(v["ran"] for v in res1.values())
    # ... resumes into the branches without re-running gate/decon
    res2 = run_pipeline(str(tmp_path), stages, spark=spark)
    assert [n for n, v in res2.items() if not v["ran"]] == ["gate", "decon"]
    assert [n for n, v in res2.items() if v["ran"]] == [
        "report", "alias", "resolved",
    ]

    # one-session twin of the whole composition
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    g = (
        docs.where(F.col("text").isNotNull())
        .where(F.length("text") >= 50)
        .select("doc_id", "source", "lang", "text", "n_chars")
    )
    flags = decontamination_flags(
        g.where(F.col("source") != "src0"),
        g.where(F.col("source") == "src0"),
    )
    clean = (
        g.where(F.col("source") != "src0")
        .join(F.broadcast(flags.select("doc_id")), "doc_id", "left_anti")
    )
    direct_resolved = (
        apply_alias_map(
            chunk_documents(clean).select("doc_id", "chunk_fp"),
            chunk_alias_map(clean),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_redirected").cast("long")).alias("n_redirected"),
            F.count_distinct("canonical_fp").alias("n_canonicals"),
        )
    )
    got_resolved = stage_output(spark, str(tmp_path), "resolved")
    assert _rows(got_resolved) == _rows(direct_resolved)
    assert got_resolved.count() > 0
    got_report = stage_output(spark, str(tmp_path), "report")
    assert _rows(got_report) == _rows(corpus_report(clean))
    # non-vacuous: the decon stage actually dropped contaminated docs
    assert stage_output(spark, str(tmp_path), "decon").count() > 0

    # branch invalidation: a new benchmark suite = decon code/config
    # change = version bump; the gate (full-corpus scan) must be the
    # ONLY skipped stage
    bumped = [
        Stage(s.name, s.build, s.deps, s.partition_by, "2")
        if s.name == "decon" else s
        for s in stages
    ]
    st = pipeline_status(str(tmp_path), bumped)
    assert st == {
        "gate": "current", "decon": "stale", "report": "stale",
        "alias": "stale", "resolved": "stale",
    }
    res3 = run_pipeline(str(tmp_path), bumped, spark=spark)
    assert not res3["gate"]["ran"]
    assert all(
        res3[n]["ran"] for n in ("decon", "report", "alias", "resolved")
    )
    # rebuilt-from-same-inputs outputs are row-identical
    assert _rows(
        stage_output(spark, str(tmp_path), "resolved")
    ) == _rows(direct_resolved)
