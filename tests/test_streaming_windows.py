"""Streaming window/state operator tests over a file stream of JSON
events. Append-mode outputs only contain windows FINALIZED by the
watermark (max event time − watermark bound) — the assertions below pin
that late-data semantic, which the reference lacks entirely."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from ballcone_spark.streaming import state

from ballcone_spark.streaming.windows import (
    running_user_totals,
    session_counts,
    sliding_traffic,
    windowed_visits,
)

SCHEMA = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("service", T.StringType(), False),
        T.StructField("ip", T.StringType(), False),
    ]
)


def _write_events(path, rows):
    path.mkdir(parents=True, exist_ok=True)
    with open(path / f"part-{len(list(path.iterdir()))}.json", "w") as f:
        for dt, svc, ip in rows:
            f.write(json.dumps({"datetime": dt, "service": svc, "ip": ip}) + "\n")


def _drain(spark, df, name, mode, tmp_path):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


@pytest.fixture()
def stream_src(spark, tmp_path):
    src = tmp_path / "src"
    _write_events(
        src,
        [
            ("2020-01-01 10:00:00", "blog", "1.1.1.1"),
            ("2020-01-01 10:10:00", "blog", "1.1.1.1"),   # same session
            ("2020-01-01 12:00:00", "blog", "1.1.1.1"),   # new session
            ("2020-01-01 10:05:00", "shop", "2.2.2.2"),
            ("2020-01-02 09:00:00", "blog", "3.3.3.3"),
        ],
    )
    # max event time 2020-01-02 09:00 → watermark (1h) = 2020-01-02 08:00:
    # day-1 state finalizes, day-2 is still open
    return spark.readStream.schema(SCHEMA).json(str(src))


def test_windowed_visits_append_finalized_only(spark, stream_src, tmp_path):
    out = _drain(
        spark, windowed_visits(stream_src), "wv", "append", tmp_path
    ).collect()
    got = {(str(r["window_start"]), r["service"]): r["visits"] for r in out}
    # the 2020-01-02 window has not crossed the watermark → not emitted
    assert got == {
        ("2020-01-01 00:00:00", "blog"): 3,
        ("2020-01-01 00:00:00", "shop"): 1,
    }


def test_session_counts(spark, stream_src, tmp_path):
    out = _drain(
        spark, session_counts(stream_src), "sc", "append", tmp_path
    ).collect()
    by_ip = {}
    for r in out:
        by_ip.setdefault(r["ip"], []).append(r["n_events"])
    # 1.1.1.1: (10:00,10:10) merge into one session of 2 (gap < 30 min);
    # 12:00 starts a new session of 1. 3.3.3.3's day-2 session is still
    # open at the watermark → absent.
    assert sorted(by_ip["1.1.1.1"]) == [1, 2]
    assert by_ip["2.2.2.2"] == [1]
    assert "3.3.3.3" not in by_ip


def test_sliding_traffic(spark, stream_src, tmp_path):
    out = _drain(
        spark, sliding_traffic(stream_src), "st", "append", tmp_path
    ).collect()
    # each event lands in 5 sliding windows (5 min / 1 min slide); the 4
    # day-1 events' windows are all finalized, day-2's are not → 20
    assert sum(r["requests"] for r in out) == 20


def test_running_user_totals_durable_state(spark, tmp_path):
    """State survives across separate availableNow runs sharing one
    checkpoint (memory sink can't recover checkpoints — foreachBatch)."""
    src = tmp_path / "src2"
    ckpt = str(tmp_path / "ckpt_totals")
    _write_events(src, [("2020-01-01 10:00:00", "blog", "x")] * 3
                  + [("2020-01-01 10:00:00", "shop", "y")])

    collected: list = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    def drain():
        collected.clear()
        stream = spark.readStream.schema(SCHEMA).json(str(src))
        q = (
            running_user_totals(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["key"]: (r["total"], r["batch_events"]) for r in collected}

    t1 = drain()
    assert t1 == {"blog": (3, 3), "shop": (1, 1)}

    # add more data, drain again with the SAME checkpoint: totals resume
    _write_events(src, [("2020-01-02 10:00:00", "blog", "x")] * 2)
    t2 = drain()
    assert t2["blog"] == (5, 2)  # 3 restored from state + 2 new in batch


def test_dedup_stream_drops_replays(spark, tmp_path):
    """Duplicate (service, ip, datetime) records inside the watermark
    horizon are emitted once; distinct records all survive."""
    from ballcone_spark.streaming.windows import dedup_stream

    src = tmp_path / "dsrc"
    _write_events(
        src,
        [
            ("2020-01-01 10:00:00", "blog", "1.1.1.1"),
            ("2020-01-01 10:00:00", "blog", "1.1.1.1"),  # exact replay
            ("2020-01-01 10:00:00", "blog", "9.9.9.9"),  # same ts, other ip
            ("2020-01-01 10:05:00", "blog", "1.1.1.1"),  # later, survives
        ],
    )
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    out = _drain(
        spark,
        dedup_stream(stream, ["service", "ip", "datetime"]),
        "dedup_sink",
        "append",
        tmp_path,
    )
    rows = {(str(r["datetime"]), r["service"], r["ip"]) for r in out.collect()}
    assert rows == {
        ("2020-01-01 10:00:00", "blog", "1.1.1.1"),
        ("2020-01-01 10:00:00", "blog", "9.9.9.9"),
        ("2020-01-01 10:05:00", "blog", "1.1.1.1"),
    }
    assert out.count() == 3


# --------------------------------------------------------------------- #
# incremental MinHash dedup vs the persistent signature index (r4)      #
# --------------------------------------------------------------------- #

BASE = ("the quick brown fox jumps over the lazy dog while seven wizards "
        "brew strong potions beneath the ancient stone bridge at midnight")
OTHER = ("completely different subject matter entirely about submarine "
         "navigation sonar arrays and deep ocean pressure hull engineering "
         "with ballast tanks")
THIRD = ("quarterly financial projections estimate modest revenue growth "
         "across retail segments despite persistent supply chain headwinds "
         "and currency fluctuations")


def _write_docs(path, docs):
    import json as _json

    path.mkdir(parents=True, exist_ok=True)
    with open(path / f"docs-{len(list(path.iterdir()))}.jsonl", "w") as f:
        for doc_id, text in docs:
            f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")


def _run_dedup(spark, tmp_path):
    from ballcone_spark.streaming.dedup_stream import start_dedup_stream

    q = start_dedup_stream(
        spark,
        str(tmp_path / "spool"),
        str(tmp_path / "index"),
        str(tmp_path / "decisions"),
        str(tmp_path / "ckpt_dedup"),
        available_now=True,
    )
    q.awaitTermination(120)


def test_incremental_dedup_across_batches(spark, tmp_path):
    """Planted near-dups ACROSS micro-batches are caught by the index
    probe; checkpoint resume keeps the index consistent (batch 2 runs
    with the same checkpoint after a stop)."""
    spool = tmp_path / "spool"
    _write_docs(spool, [(1, BASE), (2, OTHER), (3, BASE)])  # 3 dups 1
    _run_dedup(spark, tmp_path)
    d1 = {r["doc_id"]: r["is_dup"] for r in
          state.read(spark, str(tmp_path / "decisions")).collect()}
    assert d1 == {1: False, 2: False, 3: True}

    # second batch arrives after a full stop: 4 dups doc 1 (history!),
    # 5 is fresh, 6 dups 5 within the batch
    _write_docs(spool, [(4, BASE), (5, THIRD), (6, THIRD)])
    _run_dedup(spark, tmp_path)
    dec = state.read(spark, str(tmp_path / "decisions"))
    d2 = {r["doc_id"]: r["is_dup"] for r in dec.collect()}
    assert d2 == {1: False, 2: False, 3: True, 4: True, 5: False, 6: True}
    # the index holds every seen doc across both batches (banded rows)
    idx = state.read(spark, str(tmp_path / "index"))
    assert sorted(
        r["doc_id"] for r in idx.select("doc_id").distinct().collect()
    ) == [1, 2, 3, 4, 5, 6]
    assert idx.select("batch_id").distinct().count() == 2
    # replay-safety invariant: decisions carry their batch partition
    n_b = dict(
        dec.groupBy("batch_id").count().orderBy("batch_id").collect()
    )
    assert n_b == {0: 3, 1: 3}


def test_incremental_dedup_batch_replay_idempotent(spark, tmp_path):
    """A replayed micro-batch (same batch_id re-run after a crash) must
    reproduce byte-identical decisions and not grow the index: the probe
    reads only batch_id < current and the writes overwrite their own
    partition."""
    from ballcone_spark.streaming.dedup_stream import (
        _bands,
        batch_signatures,
        incremental_dedup_batch,
    )
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "index")
    b1 = spark.createDataFrame([(1, BASE), (2, OTHER)], "doc_id long, text string")
    state.write_batch(_bands(batch_signatures(b1)), index_dir, 0)

    b2 = spark.createDataFrame([(3, BASE), (4, OTHER + " q")], "doc_id long, text string")
    s2 = batch_signatures(b2)

    def run_batch2():
        hist = state.read(spark, index_dir).where(F.col("batch_id") < 1).select(
            "doc_id", "band_idx", "band_key", "sig"
        )
        dec = incremental_dedup_batch(s2, hist)
        out = sorted((r["doc_id"], r["is_dup"], r["n_matches"]) for r in dec.collect())
        state.write_batch(_bands(s2), index_dir, 1)
        return out

    first = run_batch2()
    second = run_batch2()  # the replay
    assert first == second
    assert first[0] == (3, True, 1)  # 3 dups 1 via the index
    idx = state.read(spark, index_dir)
    assert idx.select("doc_id").distinct().count() == 4  # no double-append
    assert idx.count() == 16  # 4 docs × 4 banded rows, exactly once


def test_streaming_decisions_match_declarative_simulation(spark, tmp_path):
    """The batch-by-batch streaming loop and the single-statement
    simulation (the driver-checked form) implement the SAME decision
    rule: identical is_dup per doc on the same batch split."""
    from ballcone_spark.streaming.dedup_stream import (
        batch_signatures,
        incremental_dedup_simulation,
    )
    from pyspark.sql import functions as F

    docs = [
        (1, BASE), (2, OTHER), (3, BASE),
        (4, BASE + " extra"), (5, OTHER), (6, "tiny"),
        (7, OTHER + " deep dive"), (8, BASE),
    ]
    spool = tmp_path / "spool"
    _write_docs(spool, docs[:3])
    _run_dedup(spark, tmp_path)
    _write_docs(spool, docs[3:6])
    _run_dedup(spark, tmp_path)
    _write_docs(spool, docs[6:])
    _run_dedup(spark, tmp_path)
    dec = state.read(spark, str(tmp_path / "decisions"))
    streamed = {r["doc_id"]: r["is_dup"] for r in dec.collect()}

    batch_of = {d[0]: i // 3 for i, d in enumerate(docs)}
    all_docs = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = batch_signatures(all_docs).withColumn(
        "batch_id",
        F.element_at(
            F.create_map(
                *[F.lit(x) for kv in batch_of.items() for x in kv]
            ),
            F.col("doc_id").cast("int"),
        ),
    )
    simulated = {
        r["doc_id"]: r["is_dup"]
        for r in incremental_dedup_simulation(sigs).collect()
    }
    assert streamed == simulated
    assert simulated[8] is True  # cross-batch dup caught in both paths


def test_backfill_batch_degrades_gracefully(spark, tmp_path, monkeypatch):
    """VERDICT r4 #5: an availableNow backfill can deliver the whole
    backlog as one huge batch. With the pushdown/broadcast caps forced
    to overflow (MAX_PUSHDOWN_KEYS patched tiny) and the writer scaling
    patched to engage, decisions must be IDENTICAL to the same docs
    arriving over three batches, the IN predicate must stay off the
    plan, and the batch partition must be written by multiple files.
    Batch boundaries align with doc_id order in both runs, so the
    (batch_id, doc_id) 'earlier' relation coincides and decisions are
    comparable doc-for-doc."""
    from ballcone_spark.streaming import dedup_stream as ds

    docs = [
        (i, f"{BASE} flavour {i % 5}" if i % 3 else f"{OTHER} item {i}")
        for i in range(1, 41)
    ]

    # run A: three availableNow drains, batches in doc_id order
    split_root = tmp_path / "split"
    for lo, hi in [(0, 13), (13, 26), (26, 40)]:
        _write_docs(split_root / "spool", docs[lo:hi])
        q = ds.start_dedup_stream(
            spark,
            str(split_root / "spool"),
            str(split_root / "index"),
            str(split_root / "decisions"),
            str(split_root / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
    split_dec = {
        r["doc_id"]: r["is_dup"]
        for r in state.read(spark, str(split_root / "decisions")).collect()
    }

    # run B: the backfill — two huge batches, caps forced into overflow
    monkeypatch.setattr(ds, "MAX_PUSHDOWN_KEYS", 4)
    monkeypatch.setattr(state, "ROWS_PER_FILE", 10)
    bulk_root = tmp_path / "bulk"
    for lo, hi in [(0, 26), (26, 40)]:
        _write_docs(bulk_root / "spool", docs[lo:hi])
        q = ds.start_dedup_stream(
            spark,
            str(bulk_root / "spool"),
            str(bulk_root / "index"),
            str(bulk_root / "decisions"),
            str(bulk_root / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
    bulk_dec = {
        r["doc_id"]: r["is_dup"]
        for r in state.read(spark, str(bulk_root / "decisions")).collect()
    }
    assert bulk_dec == split_dec
    assert any(bulk_dec.values())  # non-vacuous: dups exist

    # the scaled writer actually split the big batch across files
    import os

    part_files = [
        f
        for f in os.listdir(bulk_root / "index" / "batch_id=0")
        if f.endswith(".parquet")
    ]
    assert len(part_files) > 1

    # degraded probe plan: overflow skips the IN pushdown entirely
    monkeypatch.setattr(ds, "MAX_PUSHDOWN_KEYS", 1)
    from pyspark.sql import functions as F

    batch = spark.createDataFrame(docs[:6], "doc_id long, text string")
    hist = (
        state.read(spark, str(bulk_root / "index"))
        .where(F.col("batch_id") < 2)
        .select("doc_id", "band_idx", "band_key", "sig")
    )
    plan = (
        ds.incremental_dedup_batch(ds.batch_signatures(batch), hist)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "In(band_key" not in plan.replace("\n", " ")


def test_probe_plan_index_side(spark, tmp_path):
    """100 TB gate: the index side of the probe must not shuffle — the
    (small) batch side is broadcast — and the batch's band keys must be
    pushed into the index scan for row-group pruning."""
    from ballcone_spark.streaming.dedup_stream import (
        _bands,
        batch_signatures,
        incremental_dedup_batch,
    )
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "index")
    hist_docs = spark.createDataFrame(
        [(i, f"{BASE} variant {i}") for i in range(20)],
        "doc_id long, text string",
    )
    state.write_batch(_bands(batch_signatures(hist_docs)), index_dir, 0)
    batch = spark.createDataFrame(
        [(100, BASE + " variant 3"), (101, OTHER)], "doc_id long, text string"
    )
    hist = state.read(spark, index_dir).where(F.col("batch_id") < 1).select(
        "doc_id", "band_idx", "band_key", "sig"
    )
    dec = incremental_dedup_batch(batch_signatures(batch), hist)
    plan = dec._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the index never shuffles: no repartition by band key in the plan
    assert "hashpartitioning(band_key" not in plan
    assert "hashpartitioning(a_band_key" not in plan
    # the collected batch band keys reach the index parquet scan as a
    # PUSHED filter on the physical band_key column (banded storage is
    # what makes this possible — a sig-derived key could never push)
    assert "PushedFilters: [In(band_key" in plan.replace("\n", " ") or (
        "PushedFilters:" in plan and "In(band_key" in plan
    )


def _index_batches(spark, index_dir, n_batches, docs_per=3):
    from ballcone_spark.streaming import dedup_stream as ds

    for b in range(n_batches):
        docs = spark.createDataFrame(
            [(b * 10 + i, f"{BASE} b{b} i{i}") for i in range(docs_per)],
            "doc_id long, text string",
        )
        state.write_batch(
            ds._bands(ds.batch_signatures(docs)), index_dir, b
        )
    return {b * 10 + i for b in range(n_batches) for i in range(docs_per)}


def test_compact_index_preserves_decisions(spark, tmp_path):
    """Folding must not change future decisions. New invariants of the
    manifest design: the newest live batch is never folded, original
    batch_ids survive inside the fold, and retired dirs are deleted on
    the NEXT run (deferred) rather than mid-fold."""
    import os

    from ballcone_spark.streaming import dedup_stream as ds
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "index")
    _index_batches(spark, index_dir, 3)
    probe = spark.createDataFrame(
        [(999, BASE + " b1 i2"), (998, OTHER)], "doc_id long, text string"
    )

    def decide():
        hist = state.read(spark, index_dir).where(F.col("batch_id") < 50)
        return sorted(
            (r["doc_id"], r["is_dup"])
            for r in ds.incremental_dedup_batch(
                ds.batch_signatures(probe),
                hist.select("doc_id", "band_idx", "band_key", "sig"),
            ).collect()
        )

    before = decide()
    assert state.fold(spark, index_dir, every=3)
    spark.catalog.clearCache()
    assert decide() == before
    m = state.read_manifest(spark, index_dir)
    assert (m["fold_dir"], m["folded_hi"]) == ("fold-1", 1)
    assert sorted(m["garbage"]) == ["batch_id=0", "batch_id=1"]
    # deferred deletion: retired dirs still on disk for in-flight readers
    assert os.path.isdir(os.path.join(index_dir, "batch_id=0"))
    idx = state.read(spark, index_dir)
    assert idx.select("doc_id").distinct().count() == 9
    # original batch ids preserved through the fold (probe filter
    # semantics bit-identical before/after)
    assert {
        r["batch_id"] for r in idx.select("batch_id").distinct().collect()
    } == {0, 1, 2}
    # the NEXT run sweeps the garbage
    assert not state.fold(spark, index_dir, every=999)
    assert not os.path.isdir(os.path.join(index_dir, "batch_id=0"))
    assert state.read_manifest(spark, index_dir)["garbage"] == []
    spark.catalog.clearCache()
    assert decide() == before


def test_compact_index_crash_replay_decisions_stable(spark, tmp_path):
    """ADVICE r4 (medium): the stream crashed after writing batch N's
    index but before the checkpoint commit, and compaction ran before
    restart. The replayed batch N must (a) probe byte-identical history
    — so the fold may only absorb batches strictly older than N — and
    (b) overwrite only its own per-batch dir, never folded rows."""
    from ballcone_spark.streaming import dedup_stream as ds
    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "index")
    _index_batches(spark, index_dir, 4, docs_per=2)  # batch 3 = newest,
    # written but "uncommitted" in the checkpoint
    replay = spark.createDataFrame(
        [(30, f"{BASE} b3 i0"), (31, f"{BASE} b3 i1")],
        "doc_id long, text string",
    )
    s3 = ds.batch_signatures(replay)

    def decide():
        hist = (
            state.read(spark, index_dir)
            .where(F.col("batch_id") < 3)
            .select("doc_id", "band_idx", "band_key", "sig")
        )
        return sorted(
            (r["doc_id"], r["is_dup"], r["n_matches"])
            for r in ds.incremental_dedup_batch(s3, hist).collect()
        )

    before = decide()
    assert state.fold(spark, index_dir, every=4)  # folds 0..2 only
    m = state.read_manifest(spark, index_dir)
    assert (m["folded_hi"], m["fold_dir"]) == (2, "fold-2")
    spark.catalog.clearCache()
    assert decide() == before  # replayed probe sees identical history
    # the replay's own overwrite lands in its per-batch dir; fold intact
    state.write_batch(ds._bands(s3), index_dir, 3)
    spark.catalog.clearCache()
    assert state.read(spark, index_dir).select("doc_id").distinct().count() == 8
    assert decide() == before


@pytest.mark.parametrize(
    "crash_at",
    ["before_fold_rename", "before_manifest_swap", "mid_garbage_sweep",
     "new_batch_survives"],
)
def test_compact_index_crash_recovery(spark, tmp_path, monkeypatch, crash_at):
    """compact_index killed at any point must never lose index rows: the
    manifest rename is the single commit point. Before it, the fold dir
    is unreferenced (next run sweeps it, sources intact); after it,
    retired dirs are garbage the next run re-deletes idempotently.
    Batches appended after a crash keep their own dirs."""
    import os
    import shutil

    from ballcone_spark.streaming import dedup_stream as ds

    index_dir = str(tmp_path / "index")
    all_docs = _index_batches(spark, index_dir, 3, docs_per=2)

    class Boom(RuntimeError):
        pass

    if crash_at == "before_fold_rename":
        # crash with the fold still in its hidden tmp dir
        real_rename = os.rename

        def rename_hook(src, dst):
            if os.path.basename(dst).startswith("fold-"):
                raise Boom()
            real_rename(src, dst)

        monkeypatch.setattr(state.os, "rename", rename_hook)
        with pytest.raises(Boom):
            state.fold(spark, index_dir, every=3)
        monkeypatch.undo()
        assert os.path.isdir(os.path.join(index_dir, ".fold-1.tmp"))
    elif crash_at in ("before_manifest_swap", "new_batch_survives"):
        # fold dir renamed into place, but the manifest never swapped:
        # the fold is unreferenced and must be discarded on recovery
        def manifest_hook(spark_, index_dir_, manifest):
            raise Boom()

        monkeypatch.setattr(state, "write_manifest", manifest_hook)
        with pytest.raises(Boom):
            state.fold(spark, index_dir, every=3)
        monkeypatch.undo()
        assert os.path.isdir(os.path.join(index_dir, "fold-1"))
        if crash_at == "new_batch_survives":
            late = spark.createDataFrame(
                [(99, BASE + " very late")], "doc_id long, text string"
            )
            state.write_batch(
                ds._bands(ds.batch_signatures(late)), index_dir, 7
            )
            all_docs = all_docs | {99}
    elif crash_at == "mid_garbage_sweep":
        # a COMMITTED fold whose garbage sweep (next run) dies halfway:
        # garbage dirs are excluded by the manifest snapshot rule whether
        # or not they are still on disk, and the sweep is idempotent
        assert state.fold(spark, index_dir, every=3)
        real_rmtree = shutil.rmtree
        seen = {"n": 0}

        def rmtree_hook(p, **kw):
            if os.path.basename(p).startswith("batch_id="):
                seen["n"] += 1
                if seen["n"] == 2:
                    raise Boom()
            real_rmtree(p, **kw)

        monkeypatch.setattr(state.shutil, "rmtree", rmtree_hook)
        with pytest.raises(Boom):
            state.fold(spark, index_dir, every=999)
        monkeypatch.undo()

    spark.catalog.clearCache()
    # recovery = simply the next compaction attempt (sweep runs first)
    state.fold(spark, index_dir, every=999)
    spark.catalog.clearCache()
    idx = state.read(spark, index_dir)
    got = {r["doc_id"] for r in idx.select("doc_id").distinct().collect()}
    assert got == all_docs, f"{crash_at}: lost {all_docs - got}"
    m = state.read_manifest(spark, index_dir)
    assert m["garbage"] == []
    # no unreferenced fold dirs or tmp residue survive recovery
    strays = [
        e.name
        for e in os.scandir(index_dir)
        if (e.name.startswith("fold-") or e.name.startswith(".fold-"))
        and e.name != (m["fold_dir"] or "")
    ]
    assert strays == []
    if crash_at == "new_batch_survives":
        ids = {r["batch_id"] for r in idx.select("batch_id").distinct().collect()}
        assert 7 in ids and max(ids) == 7


def test_compact_index_concurrent_probes(spark, tmp_path):
    """Probes running continuously THROUGH a fold must never observe a
    duplicate or missing row (VERDICT r4 #4): the manifest snapshot rule
    plus deferred garbage deletion replace the old quiet-period
    contract. Each probe counts banded rows per doc — a double-counted
    fold or a vanished partition would break the exact (doc, 4) shape."""
    import threading

    from pyspark.sql import functions as F

    index_dir = str(tmp_path / "index")
    expected = _index_batches(spark, index_dir, 4)
    want = {(d, 4) for d in expected}

    anomalies: list = []
    stop = threading.Event()

    def probe_loop():
        while not stop.is_set():
            try:
                got = {
                    (r["doc_id"], r["n"])
                    for r in state.read(spark, index_dir)
                    .groupBy("doc_id")
                    .agg(F.count("*").alias("n"))
                    .collect()
                }
                if got != want:
                    anomalies.append(got ^ want)
            except Exception as exc:  # a missing file surfaces here
                anomalies.append(repr(exc))

    t = threading.Thread(target=probe_loop)
    t.start()
    try:
        assert state.fold(spark, index_dir, every=4)
    finally:
        stop.set()
        t.join()
    assert anomalies == []


def test_uri_state_dirs_read_and_fold(spark, tmp_path):
    """State dirs given as ``file://`` URIs go through the same reader
    and fold as plain paths. A posix-only reader saw no history there,
    so the dedup stream admitted every cross-batch duplicate, the alias
    map read back empty, and the fold silently skipped."""
    from ballcone_spark.streaming.alias_stream import read_alias_map
    from ballcone_spark.streaming.dedup_stream import start_dedup_stream

    spool = tmp_path / "spool"
    spool.mkdir()
    for i, docs in enumerate([[(1, BASE), (2, OTHER)], [(3, BASE)]]):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for doc_id, text in docs:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    index_uri = (tmp_path / "index").as_uri()
    dec_uri = (tmp_path / "decisions").as_uri()
    q = start_dedup_stream(
        spark, str(spool), index_uri, dec_uri, str(tmp_path / "ckpt"),
        available_now=True, max_files_per_trigger=1,  # one file per batch
    )
    q.awaitTermination(120)
    got = {
        r["doc_id"]: (r["batch_id"], r["is_dup"])
        for r in state.read(spark, dec_uri).collect()
    }
    # doc 3 duplicates doc 1 from the EARLIER batch: only a reader that
    # sees the URI index's history catches it
    assert got == {1: (0, False), 2: (0, False), 3: (1, True)}

    alias_uri = (tmp_path / "alias").as_uri()
    rows = [("fa", "fa", True), ("fb", "fa", False)]
    state.write_batch(
        spark.createDataFrame(
            rows, "chunk_fp string, canonical_fp string, is_canonical boolean"
        ),
        alias_uri,
        0,
    )
    assert sorted(map(tuple, read_alias_map(spark, alias_uri).collect())) == rows

    # a file: URI resolves to its local path and really folds
    fold_uri = (tmp_path / "fold_idx").as_uri()
    expected = _index_batches(spark, fold_uri, 3)
    assert state.fold(spark, fold_uri, every=3)
    m = state.read_manifest(spark, fold_uri)
    assert (m["fold_dir"], m["folded_hi"]) == ("fold-1", 1)
    assert (tmp_path / "fold_idx" / "fold-1").is_dir()
    assert {
        r["doc_id"] for r in state.read(spark, fold_uri).select("doc_id").collect()
    } == expected


def test_commit_memo_safe_for_outside_readers(spark, tmp_path):
    """The commit memo serves every reader, so it must never hide a
    replay or a sweep from one: the newest dir is re-checked on every
    read (a replay rewrites it in place), and a fold + sweep leaves no
    later read referencing a deleted dir."""
    root = str(tmp_path / "state")

    def batch(b, ids):
        state.write_batch(
            spark.createDataFrame([(i, f"k{i}") for i in ids],
                                  "doc_id long, band_key string"),
            root, b,
        )

    def doc_ids():
        return sorted(
            r["doc_id"] for r in state.read(spark, root).select("doc_id").collect()
        )

    for b in range(3):
        batch(b, [b * 10 + i for i in range(3)])
    assert doc_ids() == [0, 1, 2, 10, 11, 12, 20, 21, 22]
    # only the dirs below the newest are memoized
    assert set(state._COMMITTED[root]) == {"batch_id=0", "batch_id=1"}

    batch(2, [25, 26, 27, 28])  # the replay: same dir, different rows
    assert doc_ids() == [0, 1, 2, 10, 11, 12, 25, 26, 27, 28]

    assert state.fold(spark, root, every=3, sort_col=None)  # folds 0..1
    assert not state.fold(spark, root, every=999)  # sweeps the garbage
    assert not (tmp_path / "state" / "batch_id=0").exists()
    df = state.read(spark, root)
    swept = ("/batch_id=0/", "/batch_id=1/")
    assert not [f for f in df.inputFiles() if any(s in f for s in swept)]
    assert doc_ids() == [0, 1, 2, 10, 11, 12, 25, 26, 27, 28]
    assert "batch_id=0" not in state._COMMITTED[root]


# --------------------------------------------------------------------- #
# streaming LM drift monitor (streaming/drift.py)                       #
# --------------------------------------------------------------------- #


def test_drift_monitor_flags_distribution_shift(spark, tmp_path):
    """A micro-batch drawn from the reference distribution stays inside
    the band; a shifted-vocabulary batch trips the drift flag (OOV
    transitions score at the floor, so unseen text reads EXPENSIVE)."""
    import json as _json

    from ballcone_spark.operators.lm_quality import bigram_model
    from ballcone_spark.streaming.drift import (
        batch_ppl,
        default_oov_logp,
        start_drift_monitor,
    )

    ref_texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox naps under the old tree",
        "a lazy dog naps under the quick brown fox",
    ] * 5
    train = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ref_texts)], ["doc_id", "text"]
    )
    model = bigram_model(train)

    floor = default_oov_logp(model)
    baseline = batch_ppl(train, model, floor).collect()[0]["ppl"]

    src = tmp_path / "drift_src"
    src.mkdir()

    def write_file(name, texts):
        with open(src / name, "w") as f:
            for i, t in enumerate(texts):
                f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")

    write_file("b0.jsonl", ref_texts[:5])  # in-distribution
    write_file(
        "b1.jsonl",
        ["zebra xylophone quantum flux capacitor meltdown imminent"] * 5,
    )  # shifted vocabulary

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out_dir = str(tmp_path / "drift_out")
    q = start_drift_monitor(
        spark,
        stream,
        model,
        baseline_ppl=baseline,
        out_dir=out_dir,
        checkpoint_dir=str(tmp_path / "drift_ckpt"),
        rel_band=0.25,
    )
    q.awaitTermination(120)

    rows = sorted(
        spark.read.parquet(out_dir).collect(), key=lambda r: r["batch_id"]
    )
    assert len(rows) == 2
    in_dist, shifted = rows
    assert not in_dist["drift"]
    assert in_dist["n_oov"] == 0
    assert shifted["drift"]
    assert shifted["n_oov"] > 0
    assert shifted["ppl"] > in_dist["ppl"]


def test_drift_monitor_zero_bigram_batch_is_explicit_false(spark, tmp_path):
    """ADVICE r6: a non-empty batch whose docs are all <2 tokens yields
    n_bigrams=0 and a NULL ppl; the drift flag must be an explicit
    false — a NULL flag is invisible both to drift=true alarms and to
    NOT-drift all-quiet queries."""
    import json as _json

    from ballcone_spark.operators.lm_quality import bigram_model
    from ballcone_spark.streaming.drift import start_drift_monitor

    train = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, "the lazy dog naps")],
        ["doc_id", "text"],
    )
    model = bigram_model(train)

    src = tmp_path / "zb_src"
    src.mkdir()
    with open(src / "b0.jsonl", "w") as f:
        for i in range(3):
            f.write(_json.dumps({"doc_id": i, "text": "word"}) + "\n")

    stream = spark.readStream.schema("doc_id long, text string").json(str(src))
    out_dir = str(tmp_path / "zb_out")
    q = start_drift_monitor(
        spark,
        stream,
        model,
        baseline_ppl=10.0,
        out_dir=out_dir,
        checkpoint_dir=str(tmp_path / "zb_ckpt"),
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(out_dir).collect()
    assert len(rows) == 1
    row = rows[0]
    assert row["n_docs"] == 3 and row["n_bigrams"] == 0
    assert row["n_oov"] == 0  # coalesced, not a NULL sum-over-nothing
    assert row["ppl"] is None  # nothing scorable — documented NULL
    assert row["drift"] is False  # explicit false, never NULL


# --------------------------------------------------------------------- #
# incremental semantic dedup (streaming/semantic_stream.py)             #
# --------------------------------------------------------------------- #


def _sem_batch_rule(rows, centroids, tau):
    """Independent pure-numpy replay of the batch keep-lowest-id rule:
    route by argmax cosine, then a vector is dup iff ANY lower-vec_id
    vector (kept or removed) in its cluster sits at >= tau."""
    import numpy as np

    cents = sorted(centroids)
    ids = [c for c, _ in cents]
    C = np.array([v for _, v in cents], dtype=float)
    C = C / np.sqrt((C * C).sum(axis=1))[:, None]
    routed = {}
    for vid, e in sorted(rows):
        v = np.array(e, dtype=float)
        cid = ids[int(np.argmax(C @ (v / np.linalg.norm(v))))]
        routed.setdefault(cid, []).append((vid, v / np.linalg.norm(v)))
    out = {}
    for cid, members in routed.items():
        for j, (vid, v) in enumerate(members):
            out[vid] = any(
                float(v @ u) >= tau for _, u in members[:j]
            )
    return out


def test_semantic_stream_matches_batch_rule_and_replays(spark, tmp_path):
    """Two micro-batches of vectors stream through the incremental
    SemDeDup rule; the union of decisions must equal the batch
    keep-lowest-id rule replayed in arrival order, and re-running the
    stream (fresh checkpoint, same spool) must reproduce identical
    decisions (partition-overwrite idempotence)."""
    import json as _json

    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )

    dim = 8

    def unit(axis, scale=1.0):
        return [scale if d == axis else 0.0 for d in range(dim)]

    centroids = [(0, unit(0)), (1, unit(1)), (2, unit(2))]
    near0 = [0.99 if d == 0 else (0.01 if d == 1 else 0.0) for d in range(dim)]
    batch1 = [(10, unit(0)), (11, unit(1)), (12, unit(2))]
    batch2 = [(20, near0), (21, unit(1, 2.0)), (22, unit(2))]
    # 20 dups 10 (cluster 0); 21 dups 11 (same direction, cluster 1);
    # 22 dups 12 (cluster 2)

    spool = tmp_path / "sem_spool"
    spool.mkdir()

    def write(name, rows):
        with open(spool / name, "w") as f:
            for vid, e in rows:
                f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")

    def run(tag):
        q = start_semantic_dedup_stream(
            spark,
            str(spool),
            str(tmp_path / f"sem_idx_{tag}"),
            str(tmp_path / f"sem_dec_{tag}"),
            str(tmp_path / f"sem_ckpt_{tag}"),
            centroids,
            tau=0.9,
        )
        q.awaitTermination(120)
        return {
            r["vec_id"]: r["is_dup"]
            for r in spark.read.parquet(
                str(tmp_path / f"sem_dec_{tag}")
            ).collect()
        }

    write("b0.jsonl", batch1)
    first = run("a")
    write("b1.jsonl", batch2)
    got = run("a")  # same checkpoint: processes only the new file

    expected = _sem_batch_rule(batch1 + batch2, centroids, tau=0.9)
    assert got == expected
    assert not any(first[v] for v, _ in batch1)  # batch 1 all kept
    assert got[20] and got[21] and got[22]       # batch 2 all dups

    # full replay from scratch (fresh checkpoint+dirs) is identical
    replay = run("b")
    assert replay == got


def test_semantic_stream_out_of_order_arrival_is_first_seen_wins(
    spark, tmp_path
):
    """ADVICE r6: cross-batch 'earlier' means ARRIVAL order, not vec_id
    order. A lower-vec_id vector arriving in a LATER batch than a
    similar higher-vec_id one is the one removed (first-seen-wins) —
    where a global batch run would keep the lower id. This pins the
    documented streaming semantics for non-monotone id arrival."""
    import json as _json

    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )

    dim = 8
    unit0 = [1.0 if d == 0 else 0.0 for d in range(dim)]
    near0 = [0.99 if d == 0 else (0.01 if d == 1 else 0.0) for d in range(dim)]
    centroids = [(0, unit0)]

    spool = tmp_path / "ooo_spool"
    spool.mkdir()

    def write(name, rows):
        with open(spool / name, "w") as f:
            for vid, e in rows:
                f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")

    def run():
        q = start_semantic_dedup_stream(
            spark,
            str(spool),
            str(tmp_path / "ooo_idx"),
            str(tmp_path / "ooo_dec"),
            str(tmp_path / "ooo_ckpt"),
            centroids,
            tau=0.9,
        )
        q.awaitTermination(120)
        return {
            r["vec_id"]: r["is_dup"]
            for r in spark.read.parquet(str(tmp_path / "ooo_dec")).collect()
        }

    write("b0.jsonl", [(100, unit0)])  # high id arrives FIRST
    run()
    write("b1.jsonl", [(5, near0)])  # lower id arrives second, similar
    got = run()

    # streaming: first-seen (vec_id 100) wins; the late low id is the dup
    assert got == {100: False, 5: True}
    # the global batch rule would decide the opposite way — the
    # documented divergence for non-monotone arrival
    batch = _sem_batch_rule([(100, unit0), (5, near0)], centroids, tau=0.9)
    assert batch == {5: False, 100: True}


def test_semantic_stream_compressed_matches_exact(spark, tmp_path):
    """VERDICT r6 #3: the compressed-domain stream (PQ codes in the
    index, ADC screen, exact rerank of near-tau candidates) must make
    IDENTICAL decisions — is_dup AND n_matches — to the exact stream on
    the same spool, and the compressed index must actually carry
    codes."""
    import json as _json

    import numpy as np

    from ballcone_spark.streaming.semantic_stream import (
        _adc_sims,
        _pq_encode_norm,
        start_semantic_dedup_stream,
    )

    dim = 8

    def unit(axis, scale=1.0):
        return [scale if d == axis else 0.0 for d in range(dim)]

    centroids = [(0, unit(0)), (1, unit(1))]
    near0 = [0.97, 0.04, 0.01, 0.0, 0.02, 0.0, 0.0, 0.0]
    mid = [0.6, 0.6, 0.1, 0.0, 0.0, 0.1, 0.0, 0.0]  # no dup: cos < tau
    batch1 = [(10, unit(0)), (11, unit(1)), (12, [0.95, 0.05, 0, 0, 0, 0, 0, 0])]
    batch2 = [(20, near0), (21, unit(1, 2.0)), (22, mid)]

    # m=2 subspaces of d_sub=4; centroids cover the corpus's subvectors
    # imperfectly (noise components land on the nearest centroid) so the
    # ADC screen is genuinely approximate and the rerank band does work
    books = [
        [[1, 0, 0, 0], [0, 1, 0, 0], [0.7, 0.7, 0, 0], [0, 0, 0, 0]],
        [[0, 0, 0, 0], [0, 1, 0, 0], [1, 0, 0, 0], [0, 0, 1, 0]],
    ]

    spool = tmp_path / "cmp_spool"
    spool.mkdir()

    def write(name, rows):
        with open(spool / name, "w") as f:
            for vid, e in rows:
                f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")

    def run(tag, **kw):
        q = start_semantic_dedup_stream(
            spark,
            str(spool),
            str(tmp_path / f"cmp_idx_{tag}"),
            str(tmp_path / f"cmp_dec_{tag}"),
            str(tmp_path / f"cmp_ckpt_{tag}"),
            centroids,
            tau=0.9,
            **kw,
        )
        q.awaitTermination(120)
        return {
            r["vec_id"]: (r["is_dup"], r["n_matches"], r["canonical"])
            for r in spark.read.parquet(
                str(tmp_path / f"cmp_dec_{tag}")
            ).collect()
        }

    write("b0.jsonl", batch1)
    run("exact")
    run("pq", compressed=True, books=books, eps=0.3)
    write("b1.jsonl", batch2)
    exact = run("exact")
    comp = run("pq", compressed=True, books=books, eps=0.3)

    assert comp == exact  # decisions AND alias canonicals (r11)
    assert exact[20][0] and exact[21][0]  # the planted cross-batch dups
    assert not exact[22][0]  # the sub-threshold vector is kept
    # alias emission: dups redirect to their first-seen match's
    # canonical; kept vectors are their own canonical
    assert exact[20][2] == 10 and exact[21][2] == 11
    assert exact[22][2] == 22

    # the compressed index really carries codes
    idx = spark.read.parquet(str(tmp_path / "cmp_idx_pq")).collect()
    assert all(r["codes"] is not None for r in idx)

    # the eps band genuinely covers the ADC error on this corpus: the
    # worst-case |approx - exact| over all pairs is inside eps
    all_rows = batch1 + batch2
    E = np.array([e for _, e in all_rows], dtype=float)
    N = E / np.sqrt((E * E).sum(axis=1))[:, None]
    codes = _pq_encode_norm(N, np.array(books, dtype=float))
    approx = _adc_sims(N, codes, np.array(books, dtype=float))
    err = np.abs(approx - N @ N.T).max()
    assert err < 0.3, err


def test_semantic_decide_kernel_rectangular_and_linear_in_history():
    """VERDICT r6 #2: the per-cluster decision gram must be
    b×(h+b), not (h+b)².

    (a) Equivalence: the rectangular kernel reproduces the full-gram
    tril formulation exactly on random data.
    (b) Work shape: every matmul the kernel issues keeps the BATCH on
    the left — b rows, never h+b. De-flaked r14 (VERDICT r13 #6): the
    old form pinned wall-clock t(40k)/t(20k) < 3.0, which read 3.17
    under a saturated box with the kernel byte-unchanged; operand
    shapes are load-independent and fail deterministically if the
    (h+b)² formulation is restored.
    """
    import numpy as np

    from ballcone_spark.streaming.semantic_stream import _decide_kernel

    rng = np.random.default_rng(7)

    # (a) equivalence vs the old full-gram formulation
    for h, b in [(0, 5), (30, 7), (100, 1)]:
        e = rng.normal(size=(h + b, 16))
        nrm = np.sqrt((e * e).sum(axis=1))
        is_new = np.zeros(h + b, dtype=bool)
        is_new[h:] = True
        n = e / nrm[:, None]
        full = np.tril(n @ n.T >= 0.2, k=-1).sum(axis=1)[is_new]
        rect, first = _decide_kernel(e, nrm, is_new, 0.2)
        assert np.array_equal(full, rect), (h, b)
        # first-match positions: -1 iff no match, else the first
        # earlier position whose cosine clears tau
        earlier = np.tril(n @ n.T >= 0.2, k=-1)[is_new]
        want_first = np.where(
            earlier.any(axis=1), earlier.argmax(axis=1), -1
        )
        assert np.array_equal(first, want_first), (h, b)

    # (b) work-shape pin: record every matmul's operand shapes through
    # an ndarray subclass (ufuncs propagate the subclass, so the
    # kernel's normalized view inherits the recorder). The rectangular
    # kernel's one gram is (b, d) @ (d, h+b); the old full gram was
    # (h+b, d) @ (d, h+b) — left rows h+b instead of b.
    class _Rec(np.ndarray):
        shapes: list = []

        def __matmul__(self, other):
            type(self).shapes.append(
                (self.shape, np.asarray(other).shape)
            )
            return np.asarray(self) @ np.asarray(other)

    h, b, d = 5_000, 200, 64
    e = rng.normal(size=(h + b, d)).view(_Rec)
    nrm = np.sqrt(np.asarray((e * e).sum(axis=1)))
    is_new = np.zeros(h + b, dtype=bool)
    is_new[h:] = True
    _Rec.shapes = []
    matches, first = _decide_kernel(e, nrm, is_new, 0.9)
    assert len(matches) == b == len(first)
    assert _Rec.shapes, (
        "kernel no longer routes its gram through @ — re-pin its work "
        "shape"
    )
    for left, right in _Rec.shapes:
        assert left[0] == b, (
            f"decision gram grew beyond the batch: {left} @ {right} — "
            "the (h+b)^2 formulation is back"
        )


def _alias_partition(rows):
    """alias rows → frozenset of frozensets (cluster members incl. the
    canonical itself) — the naming-independent partition."""
    from collections import defaultdict

    groups = defaultdict(set)
    for r in rows:
        groups[r["canonical_fp"]].add(r["chunk_fp"])
        groups[r["canonical_fp"]].add(r["canonical_fp"])
    return frozenset(frozenset(v) for v in groups.values())


def test_alias_stream_partition_matches_batch(spark, tmp_path):
    """VERDICT r10 #5 equivalence: the sf0.001 documents corpus streamed
    in 3 micro-batches must produce the SAME cluster partition as the
    batch chunk_alias_map (the streamed pair set contains every batch
    pair; on this corpus the df-cut never binds mid-stream, so the
    partitions are equal — only canonical NAMING may differ:
    first-seen vs global lexicographic min). Also pins first-seen:
    every streamed canonical is the (first_batch, fp)-minimal member."""
    from pyspark.sql import functions as F

    from ballcone_spark.operators.packing import chunk_alias_map
    from ballcone_spark.queries import load_table
    from ballcone_spark.streaming.alias_stream import (
        process_alias_batch,
        read_alias_map,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    n = docs.count()
    cuts = [0, n // 3, 2 * n // 3, n]
    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]
    for b in range(3):
        batch = docs.where(
            (F.col("doc_id") >= cuts[b]) & (F.col("doc_id") < cuts[b + 1])
        )
        process_alias_batch(spark, batch, *dirs, batch_id=b)

    got = read_alias_map(spark, dirs[2]).collect()
    want = chunk_alias_map(docs).collect()
    assert _alias_partition(got) == _alias_partition(want)

    # fixture guard: the equivalence is only interesting if some
    # cluster spans batches — check via the chunk index's first_batch
    seen = {
        r["chunk_fp"]: r["batch_id"]
        for r in spark.read.option("basePath", dirs[0])
        .parquet(dirs[0] + "/batch_id=*")
        .select("chunk_fp", "batch_id")
        .collect()
    }
    clusters = _alias_partition(got)
    assert any(len({seen[fp] for fp in c}) > 1 for c in clusters)

    # first-seen-wins election: canonical == min (first_batch, fp)
    canon = {r["chunk_fp"]: r["canonical_fp"] for r in got}
    for c in clusters:
        first = min((seen[fp], fp) for fp in c)[1]
        assert all(canon[fp] == first for fp in c)


def test_alias_stream_cross_batch_merge_rewrites(spark, tmp_path):
    """Planted cross-batch merge through the REAL stream: batch0 forms
    cluster {A, A2} (A2 = A with the tail pair swapped — same token bag
    → cosine exactly 1.0, shared head 5-gram → candidate); batch1 forms
    the disjoint cluster {C, C2} (C = reversed A: same bag but NO
    shared 5-gram with A, so no candidate edge yet); batch2's bridge B
    (A's bag ordered to share a forward gram with A and a backward gram
    with C) merges everything. The final redirect table must point all
    five chunks at batch0's canonical (first-seen-wins), REWRITING the
    batch1 rows that pointed at the retired canonical."""
    import json as _json

    from ballcone_spark.streaming.alias_stream import (
        read_alias_map,
        start_chunk_alias_stream,
    )

    toks = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliett", "kilo", "lima",
    ]
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    c = " ".join(reversed(toks))
    # reversed(toks) ends "... bravo alpha"; swap that tail pair (the
    # same-bag trick as a2 — appending [bravo, alpha] would rebuild c)
    c2 = " ".join(list(reversed(toks))[:-2] + [toks[0], toks[1]])
    b = " ".join(toks[:6] + list(reversed(toks[6:])))

    spool = tmp_path / "alias_spool"
    spool.mkdir()
    batches = [[(1, a), (2, a2)], [(3, c), (4, c2)], [(5, b)]]

    def write(i):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for did, text in batches[i]:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]
    ck = str(tmp_path / "ckpt")

    def run():
        q = start_chunk_alias_stream(
            spark, str(spool), *dirs, ck, available_now=True
        )
        q.awaitTermination(180)

    write(0); run()
    m0 = {r["chunk_fp"]: r for r in read_alias_map(spark, dirs[2]).collect()}
    assert len(m0) == 2  # {A, A2} paired
    a_star = next(r["canonical_fp"] for r in m0.values())
    assert all(r["canonical_fp"] == a_star for r in m0.values())

    write(1); run()
    m1 = {r["chunk_fp"]: r for r in read_alias_map(spark, dirs[2]).collect()}
    assert len(m1) == 4  # {C, C2} formed, DISJOINT from {A, A2}
    c_star = next(
        r["canonical_fp"] for fp, r in m1.items() if fp not in m0
    )
    assert c_star != a_star

    write(2); run()
    m2 = {r["chunk_fp"]: r for r in read_alias_map(spark, dirs[2]).collect()}
    assert len(m2) == 5  # all five chunks aliased into ONE cluster
    assert {r["canonical_fp"] for r in m2.values()} == {a_star}
    assert [fp for fp, r in m2.items() if r["is_canonical"]] == [a_star]
    # the batch1 row for C2 pointed at c_star and MUST have been
    # rewritten by the merge
    assert m2[c_star]["canonical_fp"] == a_star


def test_alias_state_fold_preserves_reads(spark, tmp_path):
    """compact_alias_state folds per-batch state dirs behind the
    manifest pointer; read_alias_map and the history reads must be
    bit-identical before and after, and a post-fold batch must still
    merge correctly against folded history."""
    import json as _json
    import os as _os

    from ballcone_spark.streaming.alias_stream import (
        read_alias_map,
        start_chunk_alias_stream,
    )

    toks = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliett", "kilo", "lima",
    ]
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    c = " ".join(reversed(toks))
    c2 = " ".join(list(reversed(toks))[:-2] + [toks[0], toks[1]])
    b = " ".join(toks[:6] + list(reversed(toks[6:])))

    spool = tmp_path / "spool"
    spool.mkdir()
    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]
    ck = str(tmp_path / "ckpt")
    batches = [[(1, a), (2, a2)], [(3, c), (4, c2)], [(5, b)]]

    def run():
        q = start_chunk_alias_stream(
            spark, str(spool), *dirs, ck, available_now=True
        )
        q.awaitTermination(180)

    for i, rows in enumerate(batches[:2]):
        with open(spool / f"b{i}.jsonl", "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        run()  # one micro-batch per spool file → two live batch dirs
    before = sorted(
        map(tuple, read_alias_map(spark, dirs[2]).collect())
    )
    assert len(before) == 4

    # fold ALL THREE state dirs (every=2 folds batch 0, keeps batch 1);
    # the alias dir folds latest-wins (superseded rows dropped)
    for d in dirs[:2]:
        assert state.fold(spark, d, every=2, sort_col=None)
    assert state.fold(
        spark, dirs[2], every=2, sort_col=None, latest_wins_key="chunk_fp"
    )
    after = sorted(map(tuple, read_alias_map(spark, dirs[2]).collect()))
    assert after == before
    for d in dirs:
        names = {e.name for e in _os.scandir(d)}
        assert any(n.startswith("fold-") for n in names)

    # a post-fold batch still merges against the folded history
    with open(spool / "b2.jsonl", "w") as f:
        for did, text in batches[2]:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
    run()
    m = {r["chunk_fp"]: r for r in read_alias_map(spark, dirs[2]).collect()}
    assert len(m) == 5
    assert len({r["canonical_fp"] for r in m.values()}) == 1


def test_semantic_stream_compacts_index_inline(spark, tmp_path):
    """r12: the semantic stream folds its own index inline
    (compact_every), and the manifest-aware read_semantic_index serves
    bit-identical history through the fold — decisions AND canonicals
    must equal an uncompacted twin, including a post-fold batch whose
    only match lives in FOLDED history (the A←B←C chain forces the
    canonical to propagate through the fold)."""
    import json as _json
    import math
    import os as _os

    from ballcone_spark.streaming.semantic_stream import (
        read_semantic_decisions,
        start_semantic_dedup_stream,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0))]
    arrivals = [(10, 0), (20, 20), (30, 40), (40, 60)]
    # 20 dups 10; 30 dups 20 (chain→10); 40 dups 30 (chain→10, with
    # 10/20/30 all in folded history by then at compact_every=2)

    def run(tag, compact_every):
        spool = tmp_path / f"sspool_{tag}"
        spool.mkdir()
        dec = str(tmp_path / f"sdec_{tag}")
        for i, (vid, deg) in enumerate(arrivals):
            with open(spool / f"b{i}.jsonl", "w") as f:
                f.write(_json.dumps({"vec_id": vid, "e": rot(deg)}) + "\n")
            q = start_semantic_dedup_stream(
                spark, str(spool), str(tmp_path / f"sidx_{tag}"), dec,
                str(tmp_path / f"sck_{tag}"), centroids, tau=0.9,
                compact_every=compact_every,
            )
            q.awaitTermination(120)
        # the decisions dir folds too (r12) — read through the
        # manifest-aware reader, never plain parquet on the root
        return {
            r["vec_id"]: (r["is_dup"], r["canonical"])
            for r in read_semantic_decisions(spark, dec).collect()
        }

    folded = run("fold", compact_every=2)
    plain = run("plain", compact_every=None)
    want = {10: (False, 10), 20: (True, 10), 30: (True, 10),
            40: (True, 10)}
    assert folded == plain == want
    m = state.read_manifest(spark, str(tmp_path / "sidx_fold"))
    assert m["fold_dir"] is not None
    live = [e.name for e in _os.scandir(str(tmp_path / "sidx_fold"))
            if e.name.startswith("batch_id=")]
    assert len(live) <= 2


def test_semantic_decisions_fold_preserves_canonical_through_upgrade(
    spark, tmp_path
):
    """r12: the decisions fold reads with mergeSchema — a deployment
    upgraded mid-stream has pre-alias partitions WITHOUT the
    ``canonical`` column, and a single-footer schema pick at fold time
    would silently drop the column for every post-upgrade row (the
    review r11 #3 class moved into the fold). After folding a pre-alias
    batch together with post-alias batches: the column survives, old
    rows read canonical=null (the decide paths' coalesce falls back to
    self), new rows keep their exact values, and the canonical chain
    reader serves the same map as before the fold."""
    from ballcone_spark.streaming.semantic_stream import (
        _read_decision_canon,
        read_semantic_decisions,
    )

    dec = str(tmp_path / "up_dec")
    pre = spark.createDataFrame(
        [(1, 0, False, 0), (2, 0, True, 1)],
        "vec_id long, cluster_id long, is_dup boolean, n_matches long",
    )
    state.write_batch(pre, dec, 0)  # pre-alias deployment's batch
    post = spark.createDataFrame(
        [(3, 0, True, 1, 1)],
        "vec_id long, cluster_id long, is_dup boolean, n_matches long, "
        "canonical long",
    )
    state.write_batch(post, dec, 1)
    state.write_batch(
        post.selectExpr("CAST(4 AS BIGINT) AS vec_id", "cluster_id", "is_dup",
                        "n_matches", "canonical"), dec, 2,
    )

    before = {
        r["vec_id"]: r["canonical"]
        for r in _read_decision_canon(spark, dec, 99).collect()
    }
    assert state.fold(
        spark, dec, every=2, sort_col=None, merge_schema=True
    )
    after_all = read_semantic_decisions(spark, dec)
    assert "canonical" in after_all.columns
    got = {r["vec_id"]: r["canonical"] for r in after_all.collect()}
    assert got == {1: None, 2: None, 3: 1, 4: 1}
    assert {
        r["vec_id"]: r["canonical"]
        for r in _read_decision_canon(spark, dec, 99).collect()
    } == before
    # a second fold generation unions the old fold (which has the
    # merged schema) with new live dirs without dropping the column
    state.write_batch(
        post.selectExpr("CAST(5 AS BIGINT) AS vec_id", "cluster_id", "is_dup",
                        "n_matches", "canonical"), dec, 3,
    )
    assert state.fold(
        spark, dec, every=2, sort_col=None, merge_schema=True
    )
    got2 = {
        r["vec_id"]: r["canonical"]
        for r in read_semantic_decisions(spark, dec).collect()
    }
    assert got2 == {1: None, 2: None, 3: 1, 4: 1, 5: 1}


def test_dedup_stream_compacts_index_inline(spark, tmp_path):
    """r12: the production loop FOLDS its own state. Previously
    compact_index existed (kill-point-tested) but start_dedup_stream
    never called it, so a 5 s-trigger deployment minted one batch_id=
    dir per trigger forever. With compact_every=2, three single-file
    batches must leave a committed fold behind AND decide identically
    to an uncompacted twin stream over the same spool."""
    import os as _os

    from ballcone_spark.streaming import dedup_stream as ds

    docs_by_batch = [
        [(1, BASE), (2, OTHER)],
        [(3, BASE)],          # dups 1 via (folded) history
        [(4, THIRD), (5, THIRD)],
    ]

    def run(tag, compact_every):
        spool = tmp_path / f"spool_{tag}"
        for docs in docs_by_batch:
            _write_docs(spool, docs)
            q = ds.start_dedup_stream(
                spark, str(spool),
                str(tmp_path / f"index_{tag}"),
                str(tmp_path / f"dec_{tag}"),
                str(tmp_path / f"ckpt_{tag}"),
                available_now=True,
                compact_every=compact_every,
            )
            q.awaitTermination(120)
        return {
            r["doc_id"]: r["is_dup"]
            for r in state.read(
                spark, str(tmp_path / f"dec_{tag}")
            ).collect()
        }

    folded = run("fold", compact_every=2)
    plain = run("plain", compact_every=None)
    assert folded == plain == {1: False, 2: False, 3: True,
                               4: False, 5: True}
    m = state.read_manifest(spark, str(tmp_path / "index_fold"))
    assert m["fold_dir"] is not None  # the loop really folded
    assert state.read_manifest(spark, str(tmp_path / "index_plain"))["fold_dir"] is None
    # the folded index still answers a fresh history probe correctly
    idx = state.read(spark, str(tmp_path / "index_fold"))
    assert idx.select("doc_id").distinct().count() == 5
    live = [
        e.name for e in _os.scandir(str(tmp_path / "index_fold"))
        if e.name.startswith("batch_id=")
    ]
    assert len(live) <= 2  # folded dirs retired (newest + at most one)


def test_alias_stream_compacts_state_inline(spark, tmp_path):
    """r12: same wiring gate for the alias stream — with
    compact_every=2 the three state dirs fold during the stream's own
    batch loop, and the redirect table equals an uncompacted twin."""
    import json as _json
    import os as _os

    from ballcone_spark.streaming.alias_stream import (
        read_alias_map,
        start_chunk_alias_stream,
    )

    toks = _ALIAS_TOKS
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    c = " ".join(reversed(toks))
    c2 = " ".join(list(reversed(toks))[:-2] + [toks[0], toks[1]])
    batches = [[(1, a), (2, a2)], [(3, c), (4, c2)], [(5, " ".join(
        [toks[1], toks[0]] + toks[2:]))]]

    def run(tag, compact_every):
        spool = tmp_path / f"aspool_{tag}"
        spool.mkdir()
        dirs = [str(tmp_path / f"{d}_{tag}")
                for d in ("chunks", "grams", "alias")]
        for i, rows in enumerate(batches):
            with open(spool / f"b{i}.jsonl", "w") as f:
                for did, text in rows:
                    f.write(
                        _json.dumps({"doc_id": did, "text": text}) + "\n"
                    )
            q = start_chunk_alias_stream(
                spark, str(spool), *dirs, str(tmp_path / f"ack_{tag}"),
                available_now=True, compact_every=compact_every,
            )
            q.awaitTermination(180)
        return dirs, sorted(
            map(tuple, read_alias_map(spark, dirs[2]).collect())
        )

    fdirs, folded = run("fold", compact_every=2)
    _, plain = run("plain", compact_every=None)
    assert folded == plain
    assert len(folded) == 5
    for d in fdirs:
        assert state.read_manifest(spark, d)["fold_dir"] is not None, d
        live = [e.name for e in _os.scandir(d)
                if e.name.startswith("batch_id=")]
        assert len(live) <= 2, (d, live)


_ALIAS_TOKS = [
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
    "golf", "hotel", "india", "juliett", "kilo", "lima",
]


def _alias_kill_batches():
    """Four micro-batches with planted near-dups: two clusters seeded in
    b0/b1, then one more member each in b2/b3 — every batch writes real
    alias updates, and b2/b3 exercise the rewrite path against history."""
    toks = _ALIAS_TOKS
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    a3 = " ".join([toks[1], toks[0]] + toks[2:])
    c = " ".join(reversed(toks))
    c2 = " ".join(list(reversed(toks))[:-2] + [toks[0], toks[1]])
    c3 = " ".join(list(reversed(toks))[2:] + [toks[-1], toks[-2]])
    return [[(1, a), (2, a2)], [(3, c), (4, c2)], [(5, a3)], [(6, c3)]]


@pytest.mark.parametrize(
    "crash_at",
    ["before_fold_rename", "before_manifest_swap", "mid_garbage_sweep",
     "partial_batch_overwrite"],
)
def test_compact_alias_state_crash_recovery(
    spark, tmp_path, monkeypatch, crash_at
):
    """VERDICT r11 #2: kill-point durability for the alias stream's
    state folds. ``compact_alias_state`` reuses dedup_stream's
    manifest-pointer protocol, but the alias dir folds LATEST-WINS
    (superseded redirect rows dropped) — a crash after each fold write
    step, and a replay after a partial ``batch_id=`` overwrite, must
    leave ``read_alias_map`` bit-identical to the never-crashed state
    (the 5484fde replay-data-loss bug proves this operator's crash
    surface is real). Fold crash points mirror
    ``test_compact_index_crash_recovery``; the partial-overwrite case
    is alias-specific: Spark's overwrite clears the dir before writing,
    so a kill mid-write leaves an empty/_temporary-only partition the
    replay must repopulate from ``batch_id < current`` history."""
    import os as _os
    import shutil as _shutil

    from ballcone_spark.streaming import alias_stream as als

    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]
    batches = _alias_kill_batches()

    def run(b):
        df = spark.createDataFrame(batches[b], "doc_id long, text string")
        als.process_alias_batch(spark, df, *dirs, batch_id=b)

    for b in range(len(batches)):
        run(b)

    def snapshot():
        spark.catalog.clearCache()
        alias = sorted(map(tuple, als.read_alias_map(spark, dirs[2]).collect()))
        chunks = sorted(
            r["chunk_fp"]
            for r in state.read(spark, dirs[0])
            .select("chunk_fp").distinct().collect()
        )
        grams = state.read(spark, dirs[1]).count()
        return alias, chunks, grams

    clean = snapshot()
    assert len(clean[0]) >= 6  # two clusters × three members

    class Boom(RuntimeError):
        pass

    if crash_at == "before_fold_rename":
        real_rename = _os.rename

        def rename_hook(src, dst):
            if _os.path.basename(dst).startswith("fold-"):
                raise Boom()
            real_rename(src, dst)

        monkeypatch.setattr(state.os, "rename", rename_hook)
        with pytest.raises(Boom):
            state.fold(
                spark, dirs[2], every=3, sort_col=None,
                latest_wins_key="chunk_fp",
            )
        monkeypatch.undo()
        assert _os.path.isdir(_os.path.join(dirs[2], ".fold-2.tmp"))
    elif crash_at == "before_manifest_swap":
        def manifest_hook(spark_, index_dir_, manifest):
            raise Boom()

        monkeypatch.setattr(state, "write_manifest", manifest_hook)
        with pytest.raises(Boom):
            state.fold(
                spark, dirs[2], every=3, sort_col=None,
                latest_wins_key="chunk_fp",
            )
        monkeypatch.undo()
        # fold dir in place but unreferenced — discarded on recovery
        assert _os.path.isdir(_os.path.join(dirs[2], "fold-2"))
    elif crash_at == "mid_garbage_sweep":
        assert state.fold(
            spark, dirs[2], every=3, sort_col=None, latest_wins_key="chunk_fp"
        )
        real_rmtree = _shutil.rmtree
        seen = {"n": 0}

        def rmtree_hook(p, **kw):
            if _os.path.basename(p).startswith("batch_id="):
                seen["n"] += 1
                if seen["n"] == 2:
                    raise Boom()
            real_rmtree(p, **kw)

        monkeypatch.setattr(state.shutil, "rmtree", rmtree_hook)
        with pytest.raises(Boom):
            state.fold(
                spark, dirs[2], every=999, sort_col=None,
                latest_wins_key="chunk_fp",
            )
        monkeypatch.undo()
    elif crash_at == "partial_batch_overwrite":
        # a replay of the LAST batch killed mid-overwrite: the dir is
        # cleared (only _temporary residue) before any part file commits
        last = len(batches) - 1
        part = _os.path.join(dirs[2], f"batch_id={last}")
        _shutil.rmtree(part)
        _os.makedirs(_os.path.join(part, "_temporary"))
        run(last)  # the replay repopulates from batch_id < last history

    # recovery = the next compaction pass over all three state dirs
    # (sweep runs first); alias folds latest-wins like production
    spark.catalog.clearCache()
    for d in dirs[:2]:
        state.fold(spark, d, every=3, sort_col=None)
    state.fold(
        spark, dirs[2], every=3, sort_col=None, latest_wins_key="chunk_fp"
    )
    assert snapshot() == clean, crash_at
    # one more no-fold pass: sweeps the garbage the recovery fold
    # retired (deleted at the START of the next run, by contract)
    state.fold(
        spark, dirs[2], every=999, sort_col=None, latest_wins_key="chunk_fp"
    )
    assert snapshot() == clean, crash_at

    m = state.read_manifest(spark, dirs[2])
    assert m["garbage"] == []
    strays = [
        e.name
        for e in _os.scandir(dirs[2])
        if (e.name.startswith("fold-") or e.name.startswith(".fold-"))
        and e.name != (m["fold_dir"] or "")
    ]
    assert strays == []

    # a post-recovery batch still merges against the recovered state:
    # a bridge doc near cluster A keeps exactly one canonical there
    bridge = " ".join([_ALIAS_TOKS[1], _ALIAS_TOKS[0]] + _ALIAS_TOKS[2:-2]
                      + [_ALIAS_TOKS[-1], _ALIAS_TOKS[-2]])
    df = spark.createDataFrame([(9, bridge)], "doc_id long, text string")
    als.process_alias_batch(spark, df, *dirs, batch_id=len(batches))
    spark.catalog.clearCache()
    final = als.read_alias_map(spark, dirs[2]).collect()
    assert len({r["canonical_fp"] for r in final}) == 2  # still 2 clusters


def test_semantic_stream_alias_chain_transitive(spark, tmp_path):
    """r11 alias emission: A←B←C chains collapse to the first-seen root
    even when the newest link does NOT match the root directly.
    Rotations in the first plane: B = rot(A, 20°) (cos ≈ 0.94 ≥ τ),
    C = rot(A, 40°) (cos(C,B) ≈ 0.94 ≥ τ but cos(C,A) ≈ 0.77 < τ) —
    C's only match is B, whose canonical is A; C must inherit A."""
    import json as _json
    import math

    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0))]
    spool = tmp_path / "chain_spool"
    spool.mkdir()
    dec = str(tmp_path / "chain_dec")

    def run():
        q = start_semantic_dedup_stream(
            spark, str(spool), str(tmp_path / "chain_idx"), dec,
            str(tmp_path / "chain_ckpt"), centroids, tau=0.9,
        )
        q.awaitTermination(120)

    for i, (vid, deg) in enumerate([(10, 0), (20, 20), (30, 40)]):
        with open(spool / f"b{i}.jsonl", "w") as f:
            f.write(_json.dumps({"vec_id": vid, "e": rot(deg)}) + "\n")
        run()

    got = {
        r["vec_id"]: (r["is_dup"], r["canonical"])
        for r in spark.read.parquet(dec).collect()
    }
    assert got == {10: (False, 10), 20: (True, 10), 30: (True, 10)}


def test_semantic_stream_canonical_exact_above_2_53(spark, tmp_path):
    """ADVICE r11 (medium): nullable long columns crossing the Arrow
    boundary became float64 in pandas, silently rounding vec_ids above
    2^53 before the int() casts in ``_decide`` / ``_decide_compressed``
    — an alias row would point at a NONEXISTENT vec_id for
    snowflake-scale 64-bit ids. 2^53+1 is the smallest integer float64
    cannot represent (it rounds to 2^53); the chain here roots at it,
    and the canonical must survive bit-exact through BOTH decision
    paths — including the history-canon join of a later batch, where
    the pre-fix code read the corrupted value back."""
    import json as _json
    import math

    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )

    BIG = 2**53
    v1, v2, v3 = BIG + 1, BIG + 3, BIG + 5  # none float64-representable
    assert int(float(v1)) != v1  # the premise of the bug

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0))]
    # B matches A (cos 20° ≈ .94); C matches only B (cos(C,A) ≈ .77 <
    # τ) — the chain forces canonical propagation THROUGH hist_canon
    arrivals = [(v1, 0), (v2, 20), (v3, 40)]
    books = [
        [[1, 0, 0, 0], [0, 1, 0, 0], [0.7, 0.7, 0, 0], [0.94, 0.34, 0, 0]],
        [[0, 0, 0, 0], [0, 1, 0, 0], [1, 0, 0, 0], [0, 0, 1, 0]],
    ]

    for tag, kw in [
        ("exact", {}),
        ("pq", {"compressed": True, "books": books, "eps": 0.3}),
    ]:
        spool = tmp_path / f"big_spool_{tag}"
        spool.mkdir()
        dec = str(tmp_path / f"big_dec_{tag}")
        for i, (vid, deg) in enumerate(arrivals):
            with open(spool / f"b{i}.jsonl", "w") as f:
                f.write(_json.dumps({"vec_id": vid, "e": rot(deg)}) + "\n")
            q = start_semantic_dedup_stream(
                spark, str(spool), str(tmp_path / f"big_idx_{tag}"), dec,
                str(tmp_path / f"big_ckpt_{tag}"), centroids, tau=0.9, **kw,
            )
            q.awaitTermination(120)
        got = {
            r["vec_id"]: (r["is_dup"], r["canonical"])
            for r in spark.read.parquet(dec).collect()
        }
        assert got == {
            v1: (False, v1), v2: (True, v1), v3: (True, v1),
        }, (tag, got)


def test_alias_stream_batch_replay_idempotent(spark, tmp_path):
    """Review r11 #1: a crashed-and-replayed micro-batch must see
    history WITHOUT its own prior attempt's alias rows. Before the fix,
    the replay mapped its re-verified pair through its own output,
    collapsed it to a self-edge, and overwrote the partition EMPTY —
    silently losing the redirect. Replaying batch 1 must leave the
    redirect table and every state dir's row counts bit-identical."""
    import os as _os

    from pyspark.sql import functions as F

    from ballcone_spark.streaming.alias_stream import (
        process_alias_batch,
        read_alias_map,
    )

    toks = [
        "alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
        "golf", "hotel", "india", "juliett", "kilo", "lima",
    ]
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    c = " ".join(reversed(toks))
    c2 = " ".join(list(reversed(toks))[:-2] + [toks[0], toks[1]])
    batches = [[(1, a), (2, a2)], [(3, c), (4, c2)]]
    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]

    def run(b):
        df = spark.createDataFrame(batches[b], "doc_id long, text string")
        process_alias_batch(spark, df, *dirs, batch_id=b)

    run(0)
    run(1)
    before = sorted(map(tuple, read_alias_map(spark, dirs[2]).collect()))
    counts_before = [
        spark.read.parquet(_os.path.join(d, "batch_id=*")).count()
        for d in dirs
    ]
    assert len(before) == 4

    run(1)  # the replay: same batch_id, same input, prior output on disk
    after = sorted(map(tuple, read_alias_map(spark, dirs[2]).collect()))
    counts_after = [
        spark.read.parquet(_os.path.join(d, "batch_id=*")).count()
        for d in dirs
    ]
    assert after == before
    assert counts_after == counts_before


def test_semantic_stream_canonical_negative_64bit_ids(spark, tmp_path):
    """Review r12 #4: the compressed path's resolve kernel used the
    SIGN of cross_canon/intra_first as the hit test, so a legitimate
    negative 64-bit vec_id (half of all 64-bit hash ids) read as "no
    match" — the compressed path silently diverged from the exact
    path. Hit tests must read the count columns (intra/cross), whose
    domain really is non-negative. The chain here is all-negative ids;
    both decision paths must elect the same negative canonical."""
    import json as _json
    import math

    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )

    v1, v2, v3 = -(2**62) - 7, -(2**61) - 5, -(2**60) - 3
    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0))]
    # v1 arrives first (most negative — arrival order is by batch,
    # election by min vec_id within matches); v2 matches v1, v3
    # matches only v2 → canonical must chain to v1 through hist_canon
    arrivals = [(v1, 0), (v2, 20), (v3, 40)]
    books = [
        [[1, 0, 0, 0], [0, 1, 0, 0], [0.7, 0.7, 0, 0], [0.94, 0.34, 0, 0]],
        [[0, 0, 0, 0], [0, 1, 0, 0], [1, 0, 0, 0], [0, 0, 1, 0]],
    ]

    for tag, kw in [
        ("exact", {}),
        ("pq", {"compressed": True, "books": books, "eps": 0.3}),
    ]:
        spool = tmp_path / f"neg_spool_{tag}"
        spool.mkdir()
        dec = str(tmp_path / f"neg_dec_{tag}")
        for i, (vid, deg) in enumerate(arrivals):
            with open(spool / f"b{i}.jsonl", "w") as f:
                f.write(_json.dumps({"vec_id": vid, "e": rot(deg)}) + "\n")
            q = start_semantic_dedup_stream(
                spark, str(spool), str(tmp_path / f"neg_idx_{tag}"), dec,
                str(tmp_path / f"neg_ckpt_{tag}"), centroids, tau=0.9, **kw,
            )
            q.awaitTermination(120)
        got = {
            r["vec_id"]: (r["is_dup"], r["canonical"])
            for r in spark.read.parquet(dec).collect()
        }
        assert got == {
            v1: (False, v1), v2: (True, v1), v3: (True, v1),
        }, (tag, got)


def test_compact_index_fold_cadence_defers_sweep(spark, tmp_path):
    """Review r12 #2: the stream loops call compact_index EVERY
    trigger, so the default sweep-at-start-of-call cadence deleted a
    fold's retired dirs one trigger (~5 s) later — an external reader
    mid-scan on the old manifest snapshot lost its inputs. With
    sweep_when="fold" (what the loops now pass), retired dirs survive
    every no-fold call and are swept only by the NEXT fold — a full
    compaction interval of grace."""
    import os as _os

    from ballcone_spark.streaming import dedup_stream as ds

    index_dir = str(tmp_path / "index")
    _index_batches(spark, index_dir, 3)
    assert state.fold(spark, index_dir, every=3, sweep_when="fold")
    m = state.read_manifest(spark, index_dir)
    assert sorted(m["garbage"]) == ["batch_id=0", "batch_id=1"]

    # no-fold calls (one per trigger in production) must NOT sweep
    for _ in range(3):
        assert not state.fold(
            spark, index_dir, every=999, sweep_when="fold"
        )
    assert _os.path.isdir(_os.path.join(index_dir, "batch_id=0"))
    assert sorted(state.read_manifest(spark, index_dir)["garbage"]) == [
        "batch_id=0", "batch_id=1",
    ]

    # ... the next actual fold sweeps the previous generation
    for b in (3, 4):
        docs = spark.createDataFrame(
            [(b * 10 + i, f"{BASE} b{b} i{i}") for i in range(3)],
            "doc_id long, text string",
        )
        state.write_batch(
            ds._bands(ds.batch_signatures(docs)), index_dir, b
        )
    assert state.fold(spark, index_dir, every=3, sweep_when="fold")
    assert not _os.path.isdir(_os.path.join(index_dir, "batch_id=0"))
    assert not _os.path.isdir(_os.path.join(index_dir, "batch_id=1"))
    # the old fold + newly absorbed dirs are this fold's garbage now
    m = state.read_manifest(spark, index_dir)
    assert m["fold_dir"] == "fold-3"
    assert sorted(m["garbage"]) == ["batch_id=2", "batch_id=3", "fold-1"]
    # and the default cadence still sweeps on a no-fold call (the
    # interval-spaced manual-compaction contract, unchanged)
    assert not state.fold(spark, index_dir, every=999)
    assert state.read_manifest(spark, index_dir)["garbage"] == []


def test_semantic_index_topk_serves_the_stream_state(spark, tmp_path):
    """§6ak: the semantic stream's read side — top-k serving over the
    resident index. Exhaustive routing (nprobe = all cells) must equal
    a numpy brute-force over every ingested vector; canonical dedup
    must collapse alias chains to one row naming the chain root; and
    the read must span folded history (compact_every small enough to
    fold mid-test)."""
    import json as _json
    import math

    import numpy as np

    from ballcone_spark.streaming.semantic_stream import (
        semantic_index_topk,
        start_semantic_dedup_stream,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    # two well-separated cells; vectors 1..6 near cell 0, 7..9 near 90°
    centroids = [(0, rot(0)), (1, rot(90))]
    vecs = {
        1: rot(0), 2: rot(5), 3: rot(6),      # 2↔3 dup pair (cos≈1)
        4: rot(30), 5: rot(35), 6: rot(40),
        7: rot(85), 8: rot(95), 9: rot(100),
    }
    spool = tmp_path / "serve_spool"
    spool.mkdir()
    idx, dec = str(tmp_path / "serve_idx"), str(tmp_path / "serve_dec")
    items = sorted(vecs.items())
    for b in range(3):  # 3 batches of 3 → compact_every=2 folds mid-run
        with open(spool / f"b{b}.jsonl", "w") as f:
            for vid, e in items[b * 3:(b + 1) * 3]:
                f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")
        q = start_semantic_dedup_stream(
            spark, str(spool), idx, dec,
            str(tmp_path / "serve_ckpt"), centroids, tau=0.9995,
            compact_every=2,
        )
        q.awaitTermination(120)
    import os as _os
    assert _os.path.exists(_os.path.join(idx, "_manifest.json"))  # folded

    queries = spark.createDataFrame(
        [(100, rot(3)), (200, rot(92))],
        "query_id long, e array<double>",
    )

    # exhaustive routing == numpy brute force over ALL ingested vectors
    got = semantic_index_topk(
        spark, idx, queries, centroids, k=3, nprobe=2
    ).collect()
    V = np.array([vecs[i] for i in sorted(vecs)])
    Vn = V / np.linalg.norm(V, axis=1)[:, None]
    ids = np.array(sorted(vecs))
    for qid, qe in [(100, rot(3)), (200, rot(92))]:
        qn = np.array(qe) / np.linalg.norm(qe)
        sims = Vn @ qn
        order = sorted(zip(-sims, ids))[:3]
        want = [int(i) for _, i in order]
        have = [r["neighbor_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid),
            key=lambda r: r["rank"],
        )]
        assert have == want, (qid, have, want)

    # canonical dedup: 3 duplicates 2 and ONLY 2 (tau=0.9995:
    # cos(5°,6°)≈0.99985 ≥ tau, cos(0°,5°)≈0.9962 < tau) —
    # with decisions_dir, any hit on 3 must surface canonical 2, and a
    # query near both must return ONE row for the pair
    got2 = semantic_index_topk(
        spark, idx, queries, centroids, k=5, nprobe=2,
        decisions_dir=dec,
    ).collect()
    q100 = [r for r in got2 if r["query_id"] == 100]
    canons = [r["canonical"] for r in q100]
    assert 2 in canons and 3 not in canons  # chain collapsed to root
    assert len(canons) == len(set(canons))  # one row per canonical

    # nprobe=1: query 100 routes to cell 0 only — results ⊆ cell 0 ids
    got1 = semantic_index_topk(
        spark, idx, queries, centroids, k=3, nprobe=1
    ).collect()
    assert {r["neighbor_id"] for r in got1 if r["query_id"] == 100} <= {
        1, 2, 3, 4, 5, 6,
    }

    # list-form queries (r13, §6au: the serving daemon's direct path —
    # no createDataFrame/collect round-trip) are row-identical to the
    # DataFrame form, with and without the decisions redirect
    direct = [(100, rot(3)), (200, rot(92))]
    for dd in (None, dec):
        a = sorted(
            tuple(r) for r in semantic_index_topk(
                spark, idx, queries, centroids, k=3, nprobe=2,
                decisions_dir=dd,
            ).collect()
        )
        b = sorted(
            tuple(r) for r in semantic_index_topk(
                spark, idx, direct, centroids, k=3, nprobe=2,
                decisions_dir=dd,
            ).collect()
        )
        assert a == b and len(b) > 0, (dd, a, b)


def test_resident_index_cache_serves_fresh(spark, tmp_path, monkeypatch):
    """r13: ResidentIndexCache serves the SAME frame across requests
    (no re-read) while the state is unchanged, invalidates the moment
    a new batch commits or a fold rewrites the snapshot, and topk
    results through the cache are row-identical to the uncached read
    at every step."""
    import math
    import os as _os

    import pandas as pd

    from ballcone_spark.streaming.semantic_stream import (
        ResidentIndexCache,
        semantic_index_topk,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0)), (1, rot(90))]
    idx = str(tmp_path / "idx")

    def write_batch(b, rows):
        pdf = pd.DataFrame(
            {"vec_id": [v for v, _ in rows],
             "cluster_id": [0 if e[0] > 0.7 else 1 for _, e in rows],
             "e": [e for _, e in rows],
             "nrm": [1.0] * len(rows)}
        )
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            _os.path.join(idx, f"batch_id={b}")
        )

    write_batch(0, [(1, rot(0)), (2, rot(10))])
    write_batch(1, [(3, rot(85))])
    cache = ResidentIndexCache(spark, idx)
    queries = [(100, rot(5)), (200, rot(88))]

    def serve(use_cache):
        return sorted(
            tuple(r) for r in semantic_index_topk(
                spark, idx, queries, centroids, k=2, nprobe=1,
                index_cache=cache if use_cache else None,
            ).collect()
        )

    assert serve(True) == serve(False) and len(serve(True)) > 0
    # unchanged state -> the very same cached frame (no re-read)
    assert cache.get() is cache.get()
    frame0 = cache.get()

    # a new batch commits -> invalidated, new vector served
    write_batch(2, [(4, rot(4))])
    assert cache.get() is not frame0
    with_cache = serve(True)
    assert with_cache == serve(False)
    assert any(r[1] == 4 for r in with_cache)  # the new vec_id surfaces

    # a fold rewrites the snapshot -> key changes, content identical
    before = serve(True)
    assert state.fold(spark, idx, every=2, sort_col="cluster_id")
    assert serve(True) == before == serve(False)

    # invalidate() with UNCHANGED state re-reads and re-caches a fresh
    # frame (r14, VERDICT r13 #2 pin): the old frame is dropped, the
    # next get() builds a new one, and that one is cached again
    stale = cache.get()
    cache.invalidate()
    fresh = cache.get()
    assert fresh is not None and fresh is not stale
    assert cache.get() is fresh  # re-caches, not a cache that stopped
    assert serve(True) == before

    # an IN-PLACE batch replay (same dir NAME, new content — the
    # 5484fde overwrite convention) must invalidate too (r14, ADVICE
    # r13 #3): pre-fix the name-only key kept serving the pre-replay
    # frame and later re-scans hit the deleted part files
    replay_stale = cache.get()
    write_batch(2, [(4, rot(4)), (5, rot(7))])  # batch 2 replayed +vec 5
    assert cache.get() is not replay_stale
    with_replay = serve(True)
    assert with_replay == serve(False)
    assert any(r[1] == 5 for r in with_replay)  # replay's new vector

    # staleness window (r14): inside min_check_interval_s a get() is
    # FS-free and may serve a frame the window allows to be stale; the
    # window elapsing picks up the new state, and invalidate() resets
    # the clock for out-of-band notification. The clock is driven via a
    # monotonic OFFSET (r15, ADVICE r14 #2): the old 2 s window raced
    # wall-clock — a loaded box could spend >2 s in the first get()'s
    # Spark read plus write_batch, eroding the inside-window assertions
    # (the VERDICT r13 #6 flake class). A 300 s window with an
    # offset-shifted time.monotonic keeps every branch deterministic
    # under any load, and the shifted clock stays monotonic for any
    # other reader.
    import time as _time

    real_monotonic = _time.monotonic
    offset = [0.0]
    monkeypatch.setattr(_time, "monotonic", lambda: real_monotonic() + offset[0])
    lazy = ResidentIndexCache(spark, idx, min_check_interval_s=300.0)
    f0 = lazy.get()
    write_batch(3, [(6, rot(2))])
    assert lazy.get() is f0  # inside the window: stale by contract
    lazy.invalidate()  # out-of-band notify -> immediate re-check
    f1 = lazy.get()
    assert f1 is not f0
    assert any(r["vec_id"] == 6 for r in f1.select("vec_id").collect())
    write_batch(4, [(7, rot(40))])
    assert lazy.get() is f1  # window restarted at the re-check
    offset[0] = 301.0
    f2 = lazy.get()  # window elapsed -> re-check finds batch 4
    assert f2 is not f1
    assert any(r["vec_id"] == 7 for r in f2.select("vec_id").collect())


def test_resident_index_cache_single_flights_key_check(
    spark, tmp_path, monkeypatch
):
    """r15 (VERDICT r14 what's-wrong #2): N concurrent ``get()``s must
    coalesce the ~245 ms snapshot listing into ONE in-flight check —
    requests arriving mid-flight piggyback on its result (bounded-
    staleness: at most one check duration, vs the interval knob's
    unbounded window) instead of each paying their own listing — the
    §6az route-phase serialization. Sequential callers still always
    run a fresh check (the exact contract, pinned separately)."""
    import threading
    import time as _time

    from ballcone_spark.streaming.semantic_stream import (
        ResidentIndexCache,
    )

    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [(1, 0, [1.0, 0.0], 1.0, None, 0)],
        "vec_id long, cluster_id long, e array<double>, nrm double, "
        "codes array<int>, batch_id long",
    ).coalesce(1).write.parquet(idx + "/batch_id=0")

    calls = []
    release = threading.Event()
    real = state.snapshot

    def gated(*a, **k):
        if not k.get("signature"):
            # the re-read path's own internal listing — not a key check
            return real(*a, **k)
        calls.append(_time.monotonic())
        if len(calls) == 1:
            # hold the FIRST check open until every peer has arrived
            # and parked — the interleaving is then deterministic, not
            # a thread-scheduling race
            assert release.wait(timeout=30)
        return real(*a, **k)

    monkeypatch.setattr(state, "snapshot", gated)
    cache = ResidentIndexCache(spark, idx)
    results = [None] * 8
    errs = []

    def client(i):
        try:
            results[i] = cache.get()
        except Exception as e:  # pragma: no cover - surface in assert
            errs.append(repr(e))

    threads = [
        threading.Thread(target=client, args=(i,)) for i in range(8)
    ]
    threads[0].start()
    deadline = _time.monotonic() + 30
    while not calls and _time.monotonic() < deadline:
        _time.sleep(0.01)
    assert calls, "first check never started"
    for t in threads[1:]:
        t.start()
    # wait until all 7 peers are parked on the in-flight check (their
    # arrivals are then all AFTER the first check's start — the
    # worst case for coalescing)
    while (
        len(cache._cv._waiters) < 7 and _time.monotonic() < deadline
    ):
        _time.sleep(0.01)
    assert len(cache._cv._waiters) == 7, len(cache._cv._waiters)
    release.set()
    for t in threads:
        t.join(timeout=60)
    assert not errs, errs
    # single-flight: the 7 mid-flight arrivals piggyback on the one
    # in-flight check — ONE listing serves all 8 requests, never 8
    assert len(calls) == 1, f"{len(calls)} listings for 8 requests"
    assert all(r is results[0] and r is not None for r in results)
    # a sequential request after the burst finds no flight and runs
    # its own fresh check — the exact contract for solo callers
    assert cache.get() is results[0]
    assert len(calls) == 2


def test_dir_signature_vanished_dir_returns_unique_sentinel(spark, tmp_path):
    """r15 (ADVICE r14 #1): a state dir deleted between the snapshot's
    listStatus and the per-dir signature listing (a racing fold sweep)
    must yield a process-unique sentinel, not raise — the resident
    cache's key then mismatches ANY cached key and the caller re-reads
    from a fresh snapshot instead of crashing the serving request."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(str(tmp_path))
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    missing = str(tmp_path / "never_existed" / "batch_id=0")
    s1 = state._dir_signature(fs, jvm, missing)
    s2 = state._dir_signature(fs, jvm, missing)
    assert s1[0] == "__vanished__" and s2[0] == "__vanished__"
    assert s1 != s2  # unique per call: the cache key can never re-match
    # a real dir still yields a plain content signature
    d = tmp_path / "real"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"x")
    s3 = state._dir_signature(fs, jvm, str(d))
    assert s3 and s3[0] != "__vanished__"


def test_semantic_index_topk_dedup_before_truncation(spark, tmp_path):
    """Review r12-b #1/#3: canonical dedup must happen BEFORE the
    per-cluster top-k truncation. A query whose two nearest raw
    vectors are one alias chain must still return k DISTINCT
    canonicals, and each row's neighbor_id must be the argmax vector
    of its canonical group (the vector whose sim is reported)."""
    import json as _json
    import math

    from ballcone_spark.streaming.semantic_stream import (
        semantic_index_topk,
        start_semantic_dedup_stream,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0))]
    # 2↔3 is the only dup pair at tau=0.9995 (1° apart); 1 sits 5° off
    vecs = {1: rot(0), 2: rot(5), 3: rot(6)}
    spool = tmp_path / "trunc_spool"
    spool.mkdir()
    idx, dec = str(tmp_path / "trunc_idx"), str(tmp_path / "trunc_dec")
    with open(spool / "b0.jsonl", "w") as f:
        for vid, e in sorted(vecs.items()):
            f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")
    q = start_semantic_dedup_stream(
        spark, str(spool), idx, dec, str(tmp_path / "trunc_ckpt"),
        centroids, tau=0.9995,
    )
    q.awaitTermination(120)

    # query at 5.5°: raw nearest two are {2, 3} — one chain. k=2 must
    # surface TWO canonicals: 2 (the chain, via its argmax member) and 1
    queries = spark.createDataFrame(
        [(7, rot(5.5))], "query_id long, e array<double>"
    )
    got = sorted(
        semantic_index_topk(
            spark, idx, queries, centroids, k=2, nprobe=1,
            decisions_dir=dec,
        ).collect(),
        key=lambda r: r["rank"],
    )
    assert [r["canonical"] for r in got] == [2, 1]
    # the chain row reports its argmax member (2 or 3 — whichever is
    # closer to 5.5° wins; both are 0.5° away, ties break to lower id)
    assert got[0]["neighbor_id"] in (2, 3)
    import numpy as np
    qn = np.array(rot(5.5)); qn /= np.linalg.norm(qn)
    for r in got:
        v = np.array(vecs[r["neighbor_id"]]); v /= np.linalg.norm(v)
        assert abs(r["sim"] - float(qn @ v)) < 1e-9  # sim belongs to the row


def test_decon_stream_retro_flags_and_matches_batch(spark, tmp_path):
    """Streaming decontamination (decon_stream.py): benchmarks arriving
    AFTER a document must retro-flag it; forward flags come from
    benchmark history; the final flag set equals the string-exact batch
    operator over the full corpora; flagged_batch records the EARLIEST
    flagging batch and survives folds; replay is idempotent."""
    import json as _json

    from ballcone_spark.operators.dedup import decontamination_flags
    from ballcone_spark.streaming import decon_stream as dcs

    leak = "alpha bravo charlie delta echo foxtrot golf hotel"  # 8 words
    other = "one two three four five six seven eight nine ten"
    docs = {
        1: f"clean doc {other}",
        2: f"contaminated early {leak} trailing words here",
        3: f"same batch as bench {leak} more tail",
        4: f"later arrival {leak} yet more tail",
        5: f"also clean {other} indeed",
    }
    bench = {100: f"eval item {leak} question answer"}
    # b0: docs 1,2 (no benchmarks exist yet — nothing flags)
    # b1: bench 100 (retro-flags 2) + doc 3 (forward, same batch)
    # b2: doc 4 (forward, from history) + doc 5 (clean)
    batches = [
        ({1: docs[1], 2: docs[2]}, {}),
        ({3: docs[3]}, bench),
        ({4: docs[4], 5: docs[5]}, {}),
    ]

    def run(root, compact_every):
        dirs = [str(root / d) for d in ("dg", "bg", "fl")]
        dspool, bspool = root / "dsp", root / "bsp"
        dspool.mkdir(), bspool.mkdir()
        for b, (ds_, bs_) in enumerate(batches):
            if ds_:
                with open(dspool / f"d{b}.jsonl", "w") as f:
                    for i, t in ds_.items():
                        f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
            if bs_:
                with open(bspool / f"b{b}.jsonl", "w") as f:
                    for i, t in bs_.items():
                        f.write(_json.dumps({"bench_id": i, "text": t})
                                + "\n")
            q = dcs.start_decon_stream(
                spark, str(dspool), str(bspool), *dirs,
                str(root / "ckpt"), available_now=True,
                compact_every=compact_every,
            )
            q.awaitTermination(120)
        return dirs

    root = tmp_path / "plain"
    root.mkdir()
    dirs = run(root, compact_every=None)
    got = {
        r["doc_id"]: r["flagged_batch"]
        for r in dcs.read_contaminated(spark, dirs[2]).collect()
    }
    # equality with the batch operator over the full corpora
    all_docs = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    all_bench = spark.createDataFrame(
        list(bench.items()), "doc_id long, text string"
    )
    want = {r["doc_id"] for r in
            decontamination_flags(all_docs, all_bench).collect()}
    assert set(got) == want == {2, 3, 4}
    # retro flag carries the BENCHMARK's batch; forward flags theirs
    assert got == {2: 1, 3: 1, 4: 2}

    # replay: re-running the last batch leaves state bit-identical
    last_docs = spark.createDataFrame(
        [(4, docs[4]), (5, docs[5])], "doc_id long, text string"
    )
    dcs.process_decon_batch(spark, last_docs, None, *dirs, batch_id=2)
    got2 = {
        r["doc_id"]: r["flagged_batch"]
        for r in dcs.read_contaminated(spark, dirs[2]).collect()
    }
    assert got2 == got

    # folded twin (every state dir folds mid-run) reads identically
    froot = tmp_path / "folded"
    froot.mkdir()
    fdirs = run(froot, compact_every=2)
    import os as _os
    assert _os.path.exists(_os.path.join(fdirs[0], "_manifest.json"))
    fgot = {
        r["doc_id"]: r["flagged_batch"]
        for r in dcs.read_contaminated(spark, fdirs[2]).collect()
    }
    assert fgot == got


def test_decon_stream_arrival_matches_registry(spark, tmp_path):
    """The REAL decon stream, fed the sf0.001 corpus in the registry
    query's arrival order (corpus docs at batch doc_id%3, src0 as the
    benchmark set arriving at batch 1), must converge to exactly the
    rows docs_decon_arrival computes — the oracle-checked batch replay
    anchors the stream end-to-end on real data."""
    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs
    from ballcone_spark.streaming.decon_stream import docs_decon_arrival

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    corpus = docs.where(F.col("source") != "src0").select("doc_id", "text")
    bench = docs.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    dirs = [str(tmp_path / d) for d in ("dg", "bg", "fl")]
    for b in range(3):
        dcs.process_decon_batch(
            spark,
            corpus.where(F.col("doc_id") % 3 == b),
            bench if b == 1 else None,
            *dirs,
            batch_id=b,
        )
    got = sorted(
        (r["doc_id"], r["flagged_batch"])
        for r in dcs.read_contaminated(spark, dirs[2]).collect()
    )
    want = sorted(
        (r["doc_id"], r["flagged_batch"])
        for r in docs_decon_arrival(spark, sf).collect()
    )
    assert got == want and len(got) > 0  # non-vacuous: planted
    # cross-source near-dups exist at sf0.001


def test_decon_retro_scan_bucket_pruned(spark, tmp_path):
    """r13 (VERDICT r12 #3): the doc-gram history is hash-bucket
    partitioned (hb = pmod(h, N)), a benchmark arrival's retro probe
    pushes ``hb IN (bench's own buckets)`` into the history scan as a
    PARTITION filter (plan-gated), bench-only batches' empty
    partitioned placeholders (zero data files) don't break readers,
    the bucket count is frozen by the dir's _geometry.json against a
    changed constructor arg, and the pruned probe still flags exactly
    the colliding docs."""
    import os as _os

    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs

    dg, bg, fl = (str(tmp_path / d) for d in ("dg", "bg", "fl"))
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india"
    docs = spark.createDataFrame(
        [(1, f"clean one two three four five six seven eight nine"),
         (2, f"dirty prefix {leak} suffix words")],
        "doc_id long, text string",
    )
    dcs.process_decon_batch(
        spark, docs, None, dg, bg, fl, batch_id=0, hash_buckets=4
    )
    # geometry frozen at first write; a different later arg is ignored
    assert dcs._read_geometry(spark, dg) == 4
    bench = spark.createDataFrame(
        [(100, f"eval {leak} question")], "bench_id long, text string"
    )
    # a crashed prior attempt left an uncommitted batch_id=1 dir: the
    # bench-only replay must still OVERWRITE it (replay hygiene), which
    # commits the file-less placeholder readers must tolerate (r13)
    b1 = _os.path.join(dg, "batch_id=1")
    _os.makedirs(b1)
    with open(_os.path.join(b1, "part-stale.parquet"), "wb") as fh:
        fh.write(b"not parquet")
    dcs.process_decon_batch(
        spark, None, bench, dg, bg, fl, batch_id=1, hash_buckets=32
    )
    assert dcs._read_geometry(spark, dg) == 4
    got = {r["doc_id"] for r in
           dcs.read_contaminated(spark, fl).collect()}
    assert got == {2}
    # the overwrite committed a file-less doc-gram placeholder (stale
    # attempt's file cleared, zero data files, _SUCCESS present)
    assert _os.path.exists(_os.path.join(b1, "_SUCCESS"))
    assert not any(
        f for _r, _d, fs_ in _os.walk(b1) for f in fs_
        if not f.startswith(("_", "."))
    )
    # placeholder-write skip (r15): a side-less batch with NO prior
    # attempt writes nothing at all — one FS probe instead of a job
    bench2 = spark.createDataFrame(
        [(101, "totally unrelated benchmark prompt")],
        "bench_id long, text string",
    )
    dcs.process_decon_batch(
        spark, None, bench2, dg, bg, fl, batch_id=2, hash_buckets=4
    )
    assert not _os.path.exists(_os.path.join(dg, "batch_id=2"))
    assert {r["doc_id"] for r in
            dcs.read_contaminated(spark, fl).collect()} == {2}
    # plan gate: the retro probe's history side carries the hb
    # partition filter, and it prunes to ≤ the bench's own buckets
    bench_g = dcs._grams(
        bench.select(F.col("bench_id").alias("doc_id"), "text"), 8
    )
    hist = dcs._pruned_doc_history(spark, dg, 2, bench_g)
    plan = hist._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "hb" in plan.split(
        "PartitionFilters", 1
    )[1][:200]
    bench_hbs = {
        r["hb"]
        for r in bench_g.select(
            F.pmod("h", F.lit(4)).cast("int").alias("hb")
        ).distinct().collect()
    }
    hist_hbs = {r["hb"] for r in hist.select("hb").distinct().collect()}
    assert hist_hbs <= bench_hbs
    # the pruned probe loses nothing: doc 2's colliding grams survive
    hit = hist.join(F.broadcast(bench_g.select("h")), "h", "semi")
    assert {r["doc_id"] for r in hit.select("doc_id").collect()} == {2}


def test_decon_legacy_dir_freezes_unbucketed(spark, tmp_path):
    """Upgrade path (r13 review): a doc-gram dir that predates
    bucketing (batch dirs exist, no geometry file) must freeze as
    UNBUCKETED on first geometry-aware contact — writing bucketed dirs
    beside the legacy unpartitioned ones would give one basePath read
    two conflicting directory depths. The stream keeps working, just
    without pruning."""
    import os as _os

    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs

    dg, bg, fl = (str(tmp_path / d) for d in ("dg", "bg", "fl"))
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india"
    # legacy batch 0: written by a pre-bucketing deployment (no hb,
    # no geometry file)
    legacy = dcs._grams(
        spark.createDataFrame(
            [(7, f"old doc {leak} tail")], "doc_id long, text string"
        ),
        8,
    )
    state.write_batch(legacy, dg, 0)
    assert dcs._read_geometry(spark, dg) is dcs._GEOM_ABSENT
    # post-upgrade batch asks for 16 buckets — must freeze null instead
    bench = spark.createDataFrame(
        [(100, f"eval {leak} q")], "bench_id long, text string"
    )
    dcs.process_decon_batch(
        spark, None, bench, dg, bg, fl, batch_id=1, hash_buckets=16
    )
    assert dcs._read_geometry(spark, dg) is None
    docs2 = spark.createDataFrame(
        [(8, f"new doc {leak} more")], "doc_id long, text string"
    )
    dcs.process_decon_batch(
        spark, docs2, None, dg, bg, fl, batch_id=2, hash_buckets=16
    )
    # new dirs stay UNpartitioned (consistent with the legacy layout)
    assert not any(
        d.startswith("hb=")
        for d in _os.listdir(_os.path.join(dg, "batch_id=2"))
    )
    hist = state.read(spark, dg, before=99)
    assert "hb" not in hist.columns
    # both the retro flag (doc 7, legacy) and forward flag (doc 8) land
    got = {
        r["doc_id"]: r["flagged_batch"]
        for r in dcs.read_contaminated(spark, fl).collect()
    }
    assert got == {7: 1, 8: 2}


def test_decon_forward_broadcast_gate(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #1 / ADVICE r13): the forward probe broadcasts
    the batch's doc grams only below FORWARD_BROADCAST_MAX_GRAMS; a
    bigger batch gets a hint-free join the planner sizes from real
    stats. Plan-asserted at the logical level (physical strategy on
    tiny test data is legitimately broadcast either way)."""
    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs

    doc_g = dcs._grams(
        spark.createDataFrame(
            [(1, "alpha bravo charlie delta echo foxtrot golf hotel x")],
            "doc_id long, text string",
        ),
        8,
    ).localCheckpoint(eager=True)
    bench_side = doc_g.select("h")

    def _hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    assert _hinted(dcs._forward_flags(bench_side, doc_g))
    monkeypatch.setattr(dcs, "FORWARD_BROADCAST_MAX_GRAMS", 0)
    big = dcs._forward_flags(bench_side, doc_g)
    assert not _hinted(big)
    # the gate changes strategy, never results
    assert {r["doc_id"] for r in big.distinct().collect()} == {1}


def test_decon_retro_broadcast_gate(spark, tmp_path, monkeypatch):
    """r15 (VERDICT r14 what's-wrong #1): the retro probe's benchmark
    gram broadcast gets the same ceiling as its forward twin — a
    backfill of LARGE benchmark files is the same driver-OOM class.
    Same shape as the forward test: hint present below the ceiling,
    absent above it, flags identical either way."""
    from ballcone_spark.streaming import decon_stream as dcs

    dg, bg, fl = (str(tmp_path / d) for d in ("dg", "bg", "fl"))
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india"
    docs = spark.createDataFrame(
        [(1, "clean one two three four five six seven eight nine"),
         (2, f"dirty prefix {leak} suffix words")],
        "doc_id long, text string",
    )
    dcs.process_decon_batch(
        spark, docs, None, dg, bg, fl, batch_id=0, hash_buckets=4
    )
    bench_g = dcs._grams(
        spark.createDataFrame(
            [(100, f"eval {leak} question")], "doc_id long, text string"
        ),
        8,
    ).select("h").distinct().localCheckpoint(eager=True)
    doc_hist = dcs._pruned_doc_history(spark, dg, 1, bench_g)

    def _hinted(df):
        return "ResolvedHint" in df._jdf.queryExecution().analyzed().toString()

    small = dcs._retro_flags(doc_hist, bench_g)
    assert _hinted(small)
    monkeypatch.setattr(dcs, "FORWARD_BROADCAST_MAX_GRAMS", 0)
    big = dcs._retro_flags(doc_hist, bench_g)
    assert not _hinted(big)
    # the gate changes strategy, never results
    assert (
        {r["doc_id"] for r in small.distinct().collect()}
        == {r["doc_id"] for r in big.distinct().collect()}
        == {2}
    )


def test_decon_batch_loop_memoizes_frozen_state(spark, tmp_path, monkeypatch):
    """r15 (VERDICT r14 #1): the state module's memos must make the
    frozen facts one-time costs — geometry is read from disk at most
    once per dir (not once per batch), and a committed history dir's
    _SUCCESS/has-data checks are paid once per dir (not once per
    trigger). Driven through process_decon_batch, which passes no
    caches, counting the underlying helpers; results must equal the
    uncached run exactly."""
    import collections
    import functools

    from ballcone_spark.streaming import decon_stream as dcs

    calls = collections.Counter()

    def counted(mod, name, key=None, only=lambda *a: True):
        fn = getattr(mod, name)

        @functools.wraps(fn)
        def w(*a, **k):
            if only(*a):
                calls[key or name] += 1
            return fn(*a, **k)

        monkeypatch.setattr(mod, name, w)

    counted(state, "read_json", key="_read_geometry",
            only=lambda _spark, path: path.endswith(dcs._GEOMETRY))
    counted(state, "_contents")

    dg, bg, fl = (str(tmp_path / d) for d in ("dg", "bg", "fl"))
    leak = "alpha bravo charlie delta echo foxtrot golf hotel india"

    def batch(i, docs=None, bench=None):
        dcs.process_decon_batch(
            spark, docs, bench, dg, bg, fl, batch_id=i, hash_buckets=4,
        )

    mk = lambda rows, schema: spark.createDataFrame(rows, schema)
    batch(0, docs=mk(
        [(1, "one two three four five six seven eight nine"),
         (2, f"dirty {leak} tail")], "doc_id long, text string"))
    batch(1, bench=mk(
        [(100, f"eval {leak} q")], "bench_id long, text string"))
    g0 = calls["_read_geometry"]
    h0 = calls["_contents"]
    # two more doc batches against the now-populated histories
    batch(2, docs=mk([(3, f"late {leak} echo")],
                     "doc_id long, text string"))
    batch(3, docs=mk([(4, "clean alpha beta gamma delta words here ok")],
                     "doc_id long, text string"))
    # geometry: frozen per dir — NEVER re-read once the memo holds it
    assert calls["_read_geometry"] == g0
    # committed-dir checks: each dir verified at most once across the
    # whole run — batches 2 and 3 re-read the same histories but may
    # only pay for dirs they had not seen yet (uncached this grows by
    # >= 2 per history re-read, one per live dir)
    new_dirs = calls["_contents"] - h0
    assert new_dirs <= 4, calls
    assert {r["doc_id"] for r in
            dcs.read_contaminated(spark, fl).collect()} == {2, 3}


def test_decon_backlog_defaults_bounded(spark, tmp_path, monkeypatch):
    """r14 (VERDICT r13 #1): a multi-file spool backlog driven through
    start_decon_stream DEFAULTS must split into bounded micro-batches —
    the stated cold-start use case (corpus exists before the stream
    starts) must not become one giant batch. Monkeypatches the bound
    down to 2 files so 5 backlog files → ≥3 batches without writing 65
    real files; the default itself is pinned non-None."""
    import inspect
    import json as _json
    import os as _os

    from ballcone_spark.streaming import decon_stream as dcs
    from ballcone_spark.streaming import spool

    sig = inspect.signature(dcs.start_decon_stream)
    assert (
        sig.parameters["max_files_per_trigger"].default
        == spool.SPOOL_MAX_FILES_PER_TRIGGER
        and spool.SPOOL_MAX_FILES_PER_TRIGGER is not None
    )

    monkeypatch.setattr(spool, "SPOOL_MAX_FILES_PER_TRIGGER", 2)
    dirs = [str(tmp_path / d) for d in ("dg", "bg", "fl")]
    dspool, bspool = tmp_path / "dsp", tmp_path / "bsp"
    dspool.mkdir(), bspool.mkdir()
    for i in range(5):  # the backlog EXISTS before the stream starts
        with open(dspool / f"d{i}.jsonl", "w") as f:
            f.write(_json.dumps(
                {"doc_id": i, "text": f"doc {i} w1 w2 w3 w4 w5 w6 w7 w8"}
            ) + "\n")
    q = dcs.start_decon_stream(
        spark, str(dspool), str(bspool), *dirs,
        str(tmp_path / "ckpt"), available_now=True, compact_every=None,
        max_files_per_trigger=spool.SPOOL_MAX_FILES_PER_TRIGGER,
    )
    q.awaitTermination(120)
    batch_dirs = [
        d for d in _os.listdir(dirs[0]) if d.startswith("batch_id=")
    ]
    assert len(batch_dirs) >= 3  # 5 files / ≤2 per trigger
    # every backlog doc was still indexed exactly once
    hist = state.read(spark, dirs[0], before=99)
    assert hist.select("doc_id").distinct().count() == 5


def test_all_spool_streams_bound_backpressure_by_default():
    """r14 (VERDICT r13 #1 follow-through): every analytical spool
    stream starter bounds maxFilesPerTrigger by default, at the one
    shared constant — their probe plans broadcast batch-derived frames
    (decon doc grams, alias batch gram keys / candidate fps) or build
    O(b·(h+b)) decision grams under a 'trigger-bounded' invariant that
    an unbounded cold-start backlog violates. None must be an explicit
    opt-out, never the default."""
    import inspect

    from ballcone_spark.streaming.alias_stream import (
        start_chunk_alias_stream,
    )
    from ballcone_spark.streaming.decon_stream import start_decon_stream
    from ballcone_spark.streaming.dedup_stream import start_dedup_stream
    from ballcone_spark.streaming.semantic_stream import (
        start_semantic_dedup_stream,
    )
    from ballcone_spark.streaming.spool import SPOOL_MAX_FILES_PER_TRIGGER

    assert SPOOL_MAX_FILES_PER_TRIGGER is not None
    for fn in (
        start_dedup_stream,
        start_chunk_alias_stream,
        start_semantic_dedup_stream,
        start_decon_stream,
    ):
        default = inspect.signature(fn).parameters[
            "max_files_per_trigger"
        ].default
        assert default == SPOOL_MAX_FILES_PER_TRIGGER, fn.__name__


def test_decon_legacy_fold_only_dir_freezes_unbucketed(spark, tmp_path):
    """r14 (ADVICE r13 #2): a pre-bucketing dir holding only a fold +
    _manifest.json (batch dirs swept/hand-pruned) must ALSO freeze
    unbucketed — misfrozen bucketed, later reads would union the
    fold's rows with hb=null and the retro probe's hb filter would
    silently drop them (missed contamination in a safety gate). Also
    pins the belt: even under a forced bucketed geometry, the pruned
    history KEEPS hb-null fold rows."""
    import json as _json
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from ballcone_spark.streaming import decon_stream as dcs

    leak = "alpha bravo charlie delta echo foxtrot golf hotel india"

    def _fold_only_legacy_dir(name):
        dg = str(tmp_path / name)
        legacy = dcs._grams(
            spark.createDataFrame(
                [(7, f"old doc {leak} tail")], "doc_id long, text string"
            ),
            8,
        )
        state.write_batch(legacy, dg, 0)
        state.write_batch(legacy.limit(0), dg, 1)
        assert state.fold(spark, dg, every=2, sort_col="h")
        # simulate the swept/hand-pruned state ADVICE r13 #2 describes:
        # only fold-0 + _manifest.json remain
        _shutil.rmtree(_os.path.join(dg, "batch_id=0"))
        _shutil.rmtree(_os.path.join(dg, "batch_id=1"))
        assert sorted(
            d for d in _os.listdir(dg) if not d.startswith(".")
        ) == ["_manifest.json", "fold-0"]
        return dg

    dg = _fold_only_legacy_dir("dg")
    bg, fl = str(tmp_path / "bg"), str(tmp_path / "fl")
    assert dcs._read_geometry(spark, dg) is dcs._GEOM_ABSENT
    bench = spark.createDataFrame(
        [(100, f"eval {leak} q")], "bench_id long, text string"
    )
    dcs.process_decon_batch(
        spark, None, bench, dg, bg, fl, batch_id=2, hash_buckets=16
    )
    # frozen UNBUCKETED (pre-fix this froze hash_buckets=16) and the
    # legacy fold row retro-flags
    assert dcs._read_geometry(spark, dg) is None
    got = {r["doc_id"] for r in dcs.read_contaminated(spark, fl).collect()}
    assert got == {7}

    # belt: force the misfrozen-bucketed state on a fresh legacy dir
    # (geometry written by hand, bypassing _ensure_geometry's braces),
    # add one genuinely bucketed batch beside the unbucketed fold —
    # _pruned_doc_history's union then carries hb=null on the fold's
    # rows, and the isNull-keep must surface doc 7 anyway
    dg2 = _fold_only_legacy_dir("dg2")
    bg2, fl2 = str(tmp_path / "bg2"), str(tmp_path / "fl2")
    with open(_os.path.join(dg2, "_geometry.json"), "w") as f:
        _json.dump({"hash_buckets": 4}, f)
    docs2 = spark.createDataFrame(
        [(8, "clean w1 w2 w3 w4 w5 w6 w7 w8 w9")],
        "doc_id long, text string",
    )
    dcs.process_decon_batch(
        spark, docs2, None, dg2, bg2, fl2, batch_id=2
    )
    bench_g = dcs._grams(
        bench.select(F.col("bench_id").alias("doc_id"), "text"), 8
    ).select("h").distinct()
    hist = dcs._pruned_doc_history(spark, dg2, 3, bench_g)
    assert "hb" in hist.columns  # the mixed union the belt exists for
    assert {r["doc_id"] for r in
            hist.join(F.broadcast(bench_g), "h", "semi")
            .select("doc_id").distinct().collect()} == {7}


def test_decon_doc_gram_fold_keeps_bucketing(spark, tmp_path):
    """The doc-gram fold (compact_index partition_col='hb') preserves
    the bucket dirs, so retro-probe pruning survives compaction; reads
    before and after the fold agree."""
    import os as _os

    from ballcone_spark.streaming import decon_stream as dcs

    dg, bg, fl = (str(tmp_path / d) for d in ("dg", "bg", "fl"))
    for b in range(4):
        docs = spark.createDataFrame(
            [(b * 10 + i,
              f"doc{b}x{i} w1 w2 w3 w4 w5 w6 w7 w8 tail{b} t{i}")
             for i in range(3)],
            "doc_id long, text string",
        )
        dcs.process_decon_batch(
            spark, docs, None, dg, bg, fl, batch_id=b, hash_buckets=4
        )
    before = sorted(
        (r["doc_id"], r["h"]) for r in
        state.read(spark, dg, before=99).select("doc_id", "h").collect()
    )
    assert state.fold(
        spark, dg, every=2, sort_col="h", partition_col="hb"
    )
    fold_dirs = [d for d in _os.listdir(dg) if d.startswith("fold-")]
    assert len(fold_dirs) == 1
    assert any(
        d.startswith("hb=")
        for d in _os.listdir(_os.path.join(dg, fold_dirs[0]))
    )
    after = sorted(
        (r["doc_id"], r["h"]) for r in
        state.read(spark, dg, before=99).select("doc_id", "h").collect()
    )
    assert after == before and len(after) > 0


def test_semantic_index_topk_compressed_matches_exact(spark, tmp_path):
    """Compressed-domain serving (books=): codes-only scan + ADC screen
    + exact rerank must return exactly the uncompressed path's rows on
    a compressed-mode index (the stream's own test geometry, where ADC
    error < eps), including canonical dedup through the decisions."""
    import json as _json
    import math

    from ballcone_spark.streaming.semantic_stream import (
        semantic_index_topk,
        start_semantic_dedup_stream,
    )

    dim = 8

    def rot(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)] + [0.0] * (dim - 2)

    centroids = [(0, rot(0)), (1, rot(90))]
    books = [
        [[1, 0, 0, 0], [0, 1, 0, 0], [0.7, 0.7, 0, 0], [0.94, 0.34, 0, 0]],
        [[0, 0, 0, 0], [0, 1, 0, 0], [1, 0, 0, 0], [0, 0, 1, 0]],
    ]
    vecs = {1: rot(0), 2: rot(5), 3: rot(6), 4: rot(30), 5: rot(40),
            7: rot(85), 8: rot(95)}
    spool = tmp_path / "cs_spool"
    spool.mkdir()
    idx, dec = str(tmp_path / "cs_idx"), str(tmp_path / "cs_dec")
    with open(spool / "b0.jsonl", "w") as f:
        for vid, e in sorted(vecs.items()):
            f.write(_json.dumps({"vec_id": vid, "e": e}) + "\n")
    q = start_semantic_dedup_stream(
        spark, str(spool), idx, dec, str(tmp_path / "cs_ckpt"),
        centroids, tau=0.9995, compressed=True, books=books, eps=0.3,
    )
    q.awaitTermination(120)

    queries = spark.createDataFrame(
        [(10, rot(4)), (20, rot(91))], "query_id long, e array<double>"
    )
    for dec_dir in (None, dec):
        exact = sorted(
            tuple(r) for r in semantic_index_topk(
                spark, idx, queries, centroids, k=3, nprobe=2,
                decisions_dir=dec_dir,
            ).collect()
        )
        comp = sorted(
            tuple(r) for r in semantic_index_topk(
                spark, idx, queries, centroids, k=3, nprobe=2,
                decisions_dir=dec_dir, books=books, eps=0.5,
            ).collect()
        )
        # ids/canonicals/ranks must be EXACTLY the uncompressed path's;
        # sim tolerates summation reordering only — the exact rerank
        # runs the same kernel but over the screened candidate subset,
        # and numpy matmul blocking over a different matrix shape
        # legitimately reorders the d-term dot product (observed once
        # in ~20 runs). A reordered float64 sum of d terms moves the
        # result by at most ~d·eps ≈ d·2.2e-16 relative, so for any
        # d ≤ ~500 the legitimate drift is < 1e-13 — the tolerance is
        # pinned there (ADVICE r12: 1e-9 would also pass a genuinely
        # wrong kernel off in the 1e-10..1e-13 range)
        assert [(r[0], r[1], r[2], r[4]) for r in comp] == [
            (r[0], r[1], r[2], r[4]) for r in exact
        ], (dec_dir, comp, exact)
        for c, e in zip(comp, exact):
            assert math.isclose(c[3], e[3], rel_tol=1e-13, abs_tol=1e-13), (
                dec_dir, c, e,
            )
        assert len(comp) > 0


def test_resolve_chunk_aliases_broadcasts_and_defaults_self(spark, tmp_path):
    """The alias map's read side: a refs frame gets canonical_fp
    (redirect when stored, self otherwise) with the SMALL alias side
    broadcast — the refs side never shuffles. Works before any alias
    state exists too."""
    from pyspark.sql import functions as F

    from ballcone_spark.streaming.alias_stream import (
        process_alias_batch,
        resolve_chunk_aliases,
    )

    refs0 = spark.createDataFrame(
        [("fp_x", 1)], "chunk_fp string, hit int"
    )
    out0 = resolve_chunk_aliases(
        spark, str(tmp_path / "nothing"), refs0
    ).collect()
    assert out0[0]["canonical_fp"] == "fp_x"
    assert out0[0]["is_redirected"] is False

    # real state: two near-dup docs → one alias pair
    toks = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
            "golf", "hotel", "india", "juliett", "kilo", "lima"]
    a = " ".join(toks)
    a2 = " ".join(toks[:-2] + [toks[-1], toks[-2]])
    dirs = [str(tmp_path / d) for d in ("chunks", "grams", "alias")]
    df = spark.createDataFrame([(1, a), (2, a2)],
                               "doc_id long, text string")
    process_alias_batch(spark, df, *dirs, batch_id=0)

    from ballcone_spark.streaming.alias_stream import read_alias_map
    m = read_alias_map(spark, dirs[2])
    assert m is not None
    aliased = [r for r in m.collect() if not r["is_canonical"]]
    assert aliased  # the near-dup pair produced a redirect
    fp, canon = aliased[0]["chunk_fp"], aliased[0]["canonical_fp"]

    refs = spark.createDataFrame(
        [(fp, 1), ("fp_unknown", 2)], "chunk_fp string, hit int"
    )
    resolved = resolve_chunk_aliases(spark, dirs[2], refs)
    got = {r["chunk_fp"]: (r["canonical_fp"], r["is_redirected"])
           for r in resolved.collect()}
    assert got[fp] == (canon, True)
    assert got["fp_unknown"] == ("fp_unknown", False)
    # plan: the alias side broadcasts; the refs side has no Exchange
    plan = resolved._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
