"""Plan-quality gate: the physical-plan properties that decide whether
these operators survive a 100x scale-up. Every assertion here failed or
regressed at least conceptually during development — they are the
.explain() iteration loop, frozen."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from ballcone_spark.plans.explain import (
    broadcast_join_count,
    has_partition_filters,
    has_pushed_filters,
    plan_str,
    read_schema_columns,
    uses_python,
)
from ballcone_spark.queries import load_table
from tests.conftest import DAY1, DAY2

SF = "/root/testdata/sf0.01"


#: Driver entries allowed to carry Arrow-batched Python stages — each is
#: BLAS-shaped dense vector math where the JVM expression evaluates
#: interpreted (HOF CodegenFallback, ~6 µs/dot) and the Arrow kernel is
#: the faster-at-any-scale path; every one is hash-checked against its
#: DuckDB oracle. Anything NOT
#: on this list must still be 100% JVM-side — additions need a measured
#: justification like VERDICT r6 #1's.
ARROW_ALLOWED = {
    "embeddings_knn_bruteforce_vectorized",  # corpus×query matmul
    "embeddings_pq_ann_recall_vectorized",   # ADC lookup tables
    "docs_semantic_dedup",                   # route matmul + cluster gram
    "dedup_minhash_lsh_vectorized",          # numpy permutation minima
    "docs_token_stats_vectorized",           # one-pass token kernel
    #   (99.0 → 20.9 s cold at sf10 vs the seven-scan JVM projection)
    # r7: both recall gates' brute-force TRUTH side is the Arrow matmul
    # (the HOF side cost 5×corpus interpreted dots at sf10)
    "embeddings_ann_lsh_recall",
    "embeddings_ann_ivf_recall",
    "docs_curation_pipeline",                # one-pass quality kernel
    #   (the JVM projection tokenized each doc ~5×)
    "docs_decon_arrival",                    # gram-rows kernel replaces
    #   the lead-window token shuffle on both semi-join sides (r14: the
    #   arrival replay took docs_decontamination's driver slot; the
    #   demoted query keeps the same kernel in EXTRA)
    "docs_repetition_flags_vectorized",      # promoted r8: shuffle-free
    #   per-batch gram counting (139.1 → 12.1 s cold at sf10 vs the
    #   zip_with/concat HOF + two gram-row groupBy shuffles)
    # NOT listed although it signs with the same Arrow kernel (r7):
    # dedup_incremental_minhash materializes its signature frame behind
    # a localCheckpoint barrier, so its visible plan is an RDD scan with
    # zero Python markers — the gate sees (correctly) no Python stage.
    # Same class since r16: docs_corpus_report's merged quality+LM
    # kernel AND its gram kernel both live inside the query's two
    # checkpoints (test_multi_consumer_queries_scan_once pins the
    # barrier), so its visible plan carries no Python marker either.
}


def test_no_rowwise_python_in_any_registered_query(spark):
    """No driver-contract query may contain per-row Python
    (BatchEvalPython / F.udf / .rdd) — the anti-pattern tier. Arrow
    stages are banned too UNLESS the entry is on the measured
    ARROW_ALLOWED list (VERDICT r6 #1: the original all-Python ban also
    caught the legitimate Arrow-batched BLAS class and kept 5-23×
    slower HOF twins registered)."""
    from ballcone_spark.plans.explain import uses_rowwise_python

    offenders = []
    for name, fn in entry_mod.queries().items():
        df = fn(spark, SF)
        if uses_rowwise_python(df):
            offenders.append((name, "rowwise"))
        elif uses_python(df) and name not in ARROW_ALLOWED:
            offenders.append((name, "arrow-not-allowlisted"))
    assert offenders == []


def test_arrow_allowlist_is_tight(spark):
    """Every ARROW_ALLOWED entry actually needs its exception — if one
    stops planning Python stages, it must leave the list."""
    qs = entry_mod.queries()
    for name in ARROW_ALLOWED:
        assert name in qs, f"{name} allowlisted but not registered"
        assert uses_python(qs[name](spark, SF)), name


def test_ensure_sorted_writes_once_and_rewrites_on_source_change(
    spark, tmp_path
):
    """The ts-sorted events copy (VERDICT r6 #6) is write-once: a second
    call must reuse the files (same mtimes); a source regeneration must
    trigger a rewrite (the r5 stale-bucket lesson applies identically)."""
    import glob
    import os
    import shutil
    import time

    from ballcone_spark.plans.bucketing import ensure_sorted

    sf = str(tmp_path / "sfX")
    os.makedirs(sf)
    shutil.copyfile(
        "/root/testdata/sf0.001/events.parquet",
        os.path.join(sf, "events.parquet"),
    )

    df1 = ensure_sorted(spark, sf, "events", "ts", n_files=2)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    copies = glob.glob(
        os.path.join(repo_root, "spark-warehouse", "srt_events_sfX_ts_f2", "*.parquet")
    )
    assert copies
    mtimes = {p: os.path.getmtime(p) for p in copies}

    df2 = ensure_sorted(spark, sf, "events", "ts", n_files=2)
    assert {p: os.path.getmtime(p) for p in copies} == mtimes  # reused
    assert df1.count() == df2.count()

    time.sleep(0.01)
    os.utime(os.path.join(sf, "events.parquet"))  # regenerated source
    ensure_sorted(spark, sf, "events", "ts", n_files=2)
    assert {
        p: os.path.getmtime(p) for p in glob.glob(copies[0].rsplit("/", 1)[0] + "/*.parquet")
    } != mtimes  # rewritten

    # cleanup: the sfX copy is test-local
    shutil.rmtree(
        os.path.join(repo_root, "spark-warehouse", "srt_events_sfX_ts_f2")
    )


def test_fingerprint_plan_cache_reuses_and_invalidates(spark, tmp_path):
    """VERDICT r6 #4: queries whose build bakes data-dependent literals
    (the jaccard df-cut) cache the built plan keyed on the source
    parquet's fingerprint — repeat calls on unchanged data return the
    SAME plan object (skipping the build-time corpus scans that made
    steady ≈ cold), and a source change re-derives everything."""
    import os
    import shutil
    import time

    from ballcone_spark.queries import QUERIES

    sf = str(tmp_path)
    src = "/root/testdata/sf0.001/documents.parquet"
    dst = os.path.join(sf, "documents.parquet")
    shutil.copyfile(src, dst)

    fn = QUERIES["dedup_ngram_jaccard"].fn
    df1 = fn(spark, sf)
    assert fn(spark, sf) is df1  # cache hit: plan + baked cut reused
    # count BEFORE invalidation: replacement now RELEASES the superseded
    # plan's checkpoint blocks (r16, ADVICE r15 #2) — a replaced frame
    # is dead, by design, not merely shadowed
    n1 = df1.count()

    time.sleep(0.01)
    os.utime(dst)  # new mtime_ns = new fingerprint = stale literals
    df3 = fn(spark, sf)
    assert df3 is not df1  # rebuilt: the cut was re-derived
    assert df3.count() == n1  # same data → same result
    assert fn(spark, sf) is df3  # and the rebuild is itself cached


def test_warehouse_date_filter_prunes_partitions(seeded_dao):
    import datetime

    df = seeded_dao.select_count_df("test", start=datetime.date(2020, 1, 2))
    assert has_partition_filters(df, "date")


def test_bounded_dao_reads_sort_without_range_partitioning(seeded_dao, monkeypatch):
    """The per-day aggregates return at most days × groups rows, so their
    final sort runs in one partition: no range-partition exchange and no
    sampling job for it. ``select_df`` has no such bound and keeps the
    global sort, which a limit turns into TakeOrderedAndProject."""
    from ballcone_spark.app import Ballcone

    collected = []
    cls = type(seeded_dao.select_count_df("test"))
    collect = cls.collect

    def spy(df):
        collected.append(df)
        return collect(df)

    monkeypatch.setattr(cls, "collect", spy)
    app = Ballcone(seeded_dao)
    seeded_dao.select_count("test", field="ip")
    seeded_dao.select_average("test", "generation_time")
    seeded_dao.select_count_group("test", "ip", "path")
    seeded_dao.select_count_group("test", "ip", "path", ascending=False, limit=1)
    app.dashboard(DAY1)
    app.overview("test", stop=DAY2)
    assert len(collected) == 6
    for df in collected:
        assert "rangepartitioning" not in plan_str(df).lower()
    assert "TakeOrderedAndProject" in plan_str(seeded_dao.select_df("test", limit=2))


def test_events_filter_pushed_to_scan(spark):
    df = load_table(spark, SF, "events").where(
        F.col("event_type") == "purchase"
    ).select("event_id")
    assert has_pushed_filters(df, "event_type")


def test_column_pruning_token_stats(spark):
    df = entry_mod.queries()["docs_token_stats_vectorized"](spark, SF)
    cols = read_schema_columns(df)
    assert "doc_id" in cols and "text" in cols
    assert "lang" not in cols and "source" not in cols and "n_chars" not in cols


def test_dimension_joins_broadcast(spark):
    # q5 demoted to EXTRA r10 (slot went to docs_chunk_semantic_pairs);
    # its plan gate stays — the snowflake shape is the broadcast witness
    from ballcone_spark.queries import EXTRA_QUERIES

    df = EXTRA_QUERIES["tpch_q5_regional_revenue"].fn(spark, SF)
    assert broadcast_join_count(df) >= 4  # nation/region/supplier/customer
    # with all dims broadcast the only shuffle join keys are fact-fact


def test_topn_uses_window_group_limit(spark):
    from tests.conftest import window_group_limit_expected

    if not window_group_limit_expected(spark):
        pytest.skip("WindowGroupLimit rewrite requires Spark >= 3.5")
    df = entry_mod.queries()["events_top_types_daily"](spark, SF)
    assert "WindowGroupLimit" in plan_str(df)


def test_scan_limit_is_take_ordered(spark):
    df = entry_mod.queries()["events_scan_window"](spark, SF)
    assert "TakeOrderedAndProject" in plan_str(df)


def test_knn_broadcasts_queries_not_corpus(spark):
    """The pure-JVM exact k-NN (the brute-force side of the driver's PQ
    recall gate) must broadcast the tiny query side against one corpus
    scan with zero Python."""
    from ballcone_spark.operators.similarity import knn_bruteforce

    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    df = knn_bruteforce(emb, emb.where(F.col("vec_id") < 5), 5)
    p = plan_str(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert not uses_python(df)  # dot products in codegen


def test_partial_aggregation_before_shuffle(spark):
    """Daily aggregates must partial-aggregate map-side: two HashAggregate
    nodes around the exchange."""
    from ballcone_spark.queries import EXTRA_QUERIES

    df = EXTRA_QUERIES["events_daily_visits"].fn(spark, SF)  # demoted r4
    p = plan_str(df)
    assert p.count("HashAggregate") >= 2


def test_star_joins_all_broadcast(spark):
    """Fact⋈dim joins in the deep TPC-H shapes must broadcast every
    dimension — zero sort-merge joins (at 100 TB only the fact side
    scales; dims stay broadcastable)."""
    from ballcone_spark.plans.explain import sort_merge_join_count
    from ballcone_spark.queries import EXTRA_QUERIES

    for name in [
        "tpch_q5_regional_revenue",
        "tpch_q7_nation_volume",
        "tpch_q8_market_share",
        "tpch_q9_product_profit",
        "tpch_q10_returned_items",
    ]:
        spec = entry_mod.queries().get(name) or EXTRA_QUERIES[name].fn
        df = spec(spark, SF)
        assert sort_merge_join_count(df) == 0, name


def test_broadcast_hints_survive_without_auto_threshold(spark):
    """The VERDICT r1 regression gate: with autoBroadcastJoinThreshold=-1
    (the stand-in for dims outgrowing the threshold at real scale), the
    alias-named BROADCAST hints alone must still produce the intended
    broadcast joins. Round 1 shipped hints naming base tables while every
    relation was aliased — Spark silently dropped them and q5 planned five
    SortMergeJoins the moment auto-broadcast was off."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        from ballcone_spark.queries import EXTRA_QUERIES

        expected = {
            "tpch_q3_unshipped_orders": 1,   # customer
            "tpch_q5_regional_revenue": 4,   # nation/region/supplier/customer
            "tpch_q10_returned_items": 2,    # customer/nation
            "tpch_q14_promo_effect": 1,      # part
            "tpch_q7_nation_volume": 4,      # the r1 template (now EXTRA)
        }
        for name, n_dims in expected.items():
            fn = entry_mod.queries().get(name) or EXTRA_QUERIES[name].fn
            df = fn(spark, SF)
            assert broadcast_join_count(df) >= n_dims, name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_ivf_routing_is_map_side(spark):
    """IVF cell assignment must be map-side: no Exchange keyed on
    vec_id, no window partitioned by vec_id (the r1 formulation
    shuffled corpus×n_cells rows through a row_number window). Since r7
    the registered path routes+scores in one Arrow kernel (the JVM
    argmax fold is ~30 s of interpreted cosines at sf10 once the
    routing column is actually consumed), so the gate checks the Arrow
    stage instead of the fold."""
    df = entry_mod.queries()["embeddings_ann_ivf_recall"](spark, SF)
    p = plan_str(df)
    assert "MapInPandas" in p                   # the fused route+score kernel
    assert "hashpartitioning(vec_id" not in p   # corpus never shuffles to route
    assert "windowspecdefinition(vec_id" not in p


def test_decile_has_no_global_window(spark):
    """lineitem_decile_revenue must not contain a partition-less Window
    (single-task global sort of the fact table). The distributed exact
    ntile keeps every window bucketed."""
    from ballcone_spark.plans.explain import global_window_count

    df = entry_mod.queries()["lineitem_decile_revenue"](spark, SF)
    assert global_window_count(df) == 0


def test_range_join_is_equi_join_not_nlj(spark):
    """The bulk (short×short) overlap path must plan as an equi-join on
    the bin key (hash-partitionable). BroadcastNestedLoopJoin may appear
    ONLY on the two rare-long-row guard branches (intervals over the
    7-day threshold are broadcast instead of bin-exploded) — never as
    the main candidate join."""
    df = entry_mod.queries()["events_session_overlaps"](spark, SF)
    p = plan_str(df)
    # bin equi-join present: the candidate join carries the _bin key
    assert "_bin" in p
    # at most the two long-row guard branches plan as BNLJ, and each
    # must broadcast a long-filtered side (tiny by contract)
    assert p.count("BroadcastNestedLoopJoin") <= 2


def test_sampling_windows_use_group_limit(spark):
    """Both dataset-mixing samplers must plan their rank windows with
    WindowGroupLimit (limit pushed below the shuffle): the quota
    sample's top-N, and the token-budget sample's lossless
    rank<=budget pre-prune that bounds the exact cumsum window at
    `budget` rows per source however large the hot source is."""
    from ballcone_spark.queries import EXTRA_QUERIES

    from tests.conftest import window_group_limit_expected

    if not window_group_limit_expected(spark):
        pytest.skip("WindowGroupLimit rewrite requires Spark >= 3.5")
    for name in (
        "docs_source_quota_sample",
        "docs_token_budget_mix",
        # temperature mix: the lossless rank<=total literal pre-prune
        # (targets are ≤ total by construction) makes the rank window
        # group-limit-eligible before the data-dependent target filter
        "docs_temperature_mix",
    ):
        df = EXTRA_QUERIES[name].fn(spark, SF)
        assert "WindowGroupLimit" in plan_str(df), name


def test_pack_prefix_sum_is_bucketed(spark):
    """Sequence packing's global token offset must NOT plan as one
    corpus-wide single-partition window: the only single-partition
    window allowed is the ≤256-row bucket-totals prefix (global by
    design, bounded by the hex alphabet forever); the corpus-sized
    cumsum must partition by the hash bucket."""
    from ballcone_spark.queries import QUERIES

    df = QUERIES["docs_pack_sequences"].fn(spark, SF)  # promoted r8
    p = plan_str(df)
    assert p.count("Exchange SinglePartition") == 1
    # the corpus cumsum window carries the bucket in its partition spec
    assert "windowspecdefinition(_bucket" in p


def test_registered_bucketed_join_is_exchange_free(spark):
    """The REGISTERED bucketed fact⋈fact query (not just the raw
    bucketize helper): SortMergeJoin over co-located sorted buckets,
    zero Exchange/Sort below the join — the only exchange in the plan is
    the final groupBy's."""
    df = entry_mod.queries()["orders_lineitem_bucketed_revenue"](spark, SF)
    p = plan_str(df)
    assert "SortMergeJoin" in p
    # every Exchange in the plan is the final tiny groupBy/orderBy on
    # o_orderpriority — the fact-fact join-key shuffle is gone entirely
    # (AQE may render initial+final plans after execution; check lines)
    for line in p.splitlines():
        if "Exchange" in line:
            assert "o_orderpriority" in line, line
    assert "hashpartitioning(o_orderkey" not in p
    assert "hashpartitioning(l_orderkey" not in p


def test_ingest_replay_is_jvm_only(spark):
    """The driver-checked ingest replay runs the full S1-S5 parse+enrich
    pipeline with zero Python evaluation (regex/JSON/casts in codegen)."""
    df = entry_mod.queries()["ingest_replay_stats"](spark, SF)
    assert not uses_python(df)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """orders⋈lineitem bucketed on the join key at write time: the join
    plans with ZERO Exchange (and zero Sort — sortBy buckets) — the
    write-once shuffle that makes every later fact⋈fact join co-located."""
    from ballcone_spark.plans.explain import plan_str
    from ballcone_spark.plans.bucketing import bucketize

    sf = "/root/testdata/sf0.001"
    bucketize(
        load_table(spark, sf, "orders"), "orders_b", ["o_orderkey"], 4,
        path=str(tmp_path / "orders_b"),
    )
    bucketize(
        load_table(spark, sf, "lineitem"), "lineitem_b", ["l_orderkey"], 4,
        path=str(tmp_path / "lineitem_b"),
    )
    try:
        joined = (
            spark.table("orders_b")
            .hint("merge")
            .join(
                spark.table("lineitem_b"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan_str(joined)
        assert "SortMergeJoin" in p
        # the join itself is exchange-free; the only exchange allowed in
        # the whole plan is the final groupBy's
        assert p.count("Exchange") <= 1
        n = joined.count()
        assert n > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_ensure_bucketed_reregisters_without_rewrite(spark):
    """A fresh session must reuse existing bucketized files by
    re-creating external-table metadata, not re-paying the bucketize
    shuffle — and the reused table still joins exchange-free."""
    import os

    from ballcone_spark.plans.bucketing import ensure_bucketed

    sf = "/root/testdata/sf0.001"
    name = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    # resolve the data path from the catalog
    loc = [r for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
           if r["col_name"] == "Location"][0]["data_type"]
    path = loc.replace("file:", "")
    mtimes = {f: os.path.getmtime(os.path.join(path, f))
              for f in os.listdir(path) if f.endswith(".parquet")}
    assert mtimes
    n_before = spark.table(name).count()
    # simulate a fresh session: metadata gone, data retained (external)
    spark.sql(f"DROP TABLE {name}")
    assert os.path.isdir(path)
    name2 = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    assert name2 == name
    after = {f: os.path.getmtime(os.path.join(path, f))
             for f in os.listdir(path) if f.endswith(".parquet")}
    assert after == mtimes  # no rewrite
    assert spark.table(name).count() == n_before
    # bucketing metadata survived the round-trip: still exchange-free
    joined = (
        spark.table(name).hint("merge")
        .join(spark.table(name).selectExpr("o_orderkey AS k"),
              F.col("o_orderkey") == F.col("k"))
        .groupBy("o_orderpriority").count()
    )
    p = plan_str(joined)
    assert "SortMergeJoin" in p
    assert "hashpartitioning(o_orderkey" not in p


def test_ensure_bucketed_rewrites_on_source_change(spark, tmp_path):
    """r5 lesson: the driver regenerated the testdata under a persisted
    warehouse. Re-registering buckets written from a previous source
    generation would silently serve stale rows — a changed source
    (size/mtime fingerprint) must force a rewrite."""
    import os
    import shutil
    import time

    from ballcone_spark.plans.bucketing import ensure_bucketed

    sf = str(tmp_path / "sfx")
    os.makedirs(sf)
    shutil.copy(
        "/root/testdata/sf0.001/orders.parquet", os.path.join(sf, "orders.parquet")
    )
    name = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    loc = [r for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
           if r["col_name"] == "Location"][0]["data_type"]
    path = loc.replace("file:", "")
    before = {f: os.path.getmtime(os.path.join(path, f))
              for f in os.listdir(path) if f.endswith(".parquet")}
    spark.sql(f"DROP TABLE {name}")
    # simulate driver regeneration: same path, new mtime
    now = time.time_ns()
    os.utime(os.path.join(sf, "orders.parquet"), ns=(now, now))
    name2 = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    assert name2 == name
    after = {f: os.path.getmtime(os.path.join(path, f))
             for f in os.listdir(path) if f.endswith(".parquet")}
    assert after != before  # rewritten from the new generation
    spark.sql(f"DROP TABLE {name}")


def test_ensure_bucketed_rejects_partial_commit(spark):
    """ADVICE r3: a bucketize that crashed mid-commit (parquet files
    present but no _SUCCESS marker) must NOT be re-registered as
    authoritative — ensure_bucketed discards the partial dir and
    rewrites."""
    import os
    import shutil

    from ballcone_spark.plans.bucketing import ensure_bucketed

    sf = "/root/testdata/sf0.001"
    name = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    loc = [r for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
           if r["col_name"] == "Location"][0]["data_type"]
    path = loc.replace("file:", "")
    n_full = spark.table(name).count()
    spark.sql(f"DROP TABLE {name}")
    # simulate the crash: delete _SUCCESS and half the part files
    os.remove(os.path.join(path, "_SUCCESS"))
    parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    for f in parts[: len(parts) // 2]:
        os.remove(os.path.join(path, f))
    name2 = ensure_bucketed(spark, sf, "orders", ["o_orderkey"], 4)
    assert name2 == name
    # the partial set was discarded and rewritten: full rows, marker back
    assert spark.table(name).count() == n_full
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_aqe_skew_join_split_activates(spark):
    """100x-scale resilience gate (VERDICT r3 #5): the fact-fact join
    claim rests on AQE splitting skewed partitions at runtime. Build a
    join where one key holds ~90% of the left side, force a sort-merge
    join, and assert AQE's skew handling actually fires (the SMJ node
    carries skew=true and the stage splits the hot partition into
    multiple tasks)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pad = "x" * 64
        left = spark.range(0, 120_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(1))
            .otherwise(F.col("id"))
            .alias("k"),
            F.concat(F.col("id").cast("string"), F.lit(pad)).alias("pay"),
        )
        right = spark.range(0, 2_000).select(
            F.col("id").alias("k"),
            F.concat(F.lit("r"), F.col("id").cast("string")).alias("rpay"),
        )
        # two observed suppressors, both kept out deliberately: (1) a
        # single-partition aggregate above the join prevents the split
        # (decided when the join stage is the result stage), and (2)
        # projecting `pay` away lets column pruning shrink the shuffled
        # hot partition below the (compressed-bytes) skew threshold —
        # constant keys compress brutally. Consume the join directly
        # with the payload aboard.
        joined = left.join(right, "k")
        rows = joined.collect()
        expect = 108_000 + sum(
            1 for i in range(120_000) if i % 10 == 9 and i < 2_000
        )
        assert len(rows) == expect
        p = plan_str(joined)
        assert "SortMergeJoin(skew=true)" in p, p[:4000]
        # the hot side's shuffle read must carry the skewed marker
        # (exact wording varies with coalesce interplay)
        assert any(
            "AQEShuffleRead" in line and "skewed" in line
            for line in p.splitlines()
        ), p[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lm_quality_and_semdedup_plan_shapes(spark):
    """Round-6 corpus operators keep their scale shapes: zero Python,
    zero corpus-wide global windows; the LM score's only
    single-partition exchange is the 1-row vocab scalar; boilerplate
    detection probes frequent grams with a semi join; SemDeDup pairs
    within clusters through an equi-join on the cluster key (never a
    nested-loop over the corpus)."""
    from ballcone_spark.queries import EXTRA_QUERIES
    from ballcone_spark.plans.explain import global_window_count, uses_python

    for name in ("docs_bigram_lm_score", "docs_boilerplate_spans"):
        df = EXTRA_QUERIES[name].fn(spark, SF)
        assert not uses_python(df), name
        assert global_window_count(df) == 0, name

    lm = plan_str(EXTRA_QUERIES["docs_bigram_lm_score"].fn(spark, SF))
    assert lm.count("Exchange SinglePartition") == 1  # the 1-row vocab agg

    bp = plan_str(EXTRA_QUERIES["docs_boilerplate_spans"].fn(spark, SF))
    assert "LeftSemi" in bp
    assert bp.count("Exchange SinglePartition") == 0

    # SemDeDup is the documented Arrow exception (BLAS-shaped dense
    # vector math: interpreted HOF dots measured ~6 µs each — 3 orders
    # off a numpy matmul; same legitimate-Python class as the multimodal
    # codecs). The gate pins: per-cluster pairing via grouped Arrow
    # (FlatMapGroupsInPandas), no global windows, no nested-loop joins.
    sd_fn = entry_mod.queries()["docs_semantic_dedup"]  # driver since r7
    sd = plan_str(sd_fn(spark, SF))
    assert "FlatMapGroupsInPandas" in sd
    assert global_window_count(sd_fn(spark, SF)) == 0
    assert sd.count("Exchange SinglePartition") == 0
    assert sd.count("BroadcastNestedLoopJoin") == 0


def test_hot_keys_profile_plan(spark):
    """The skew profile must itself be skew-proof: top-k via
    TakeOrderedAndProject (never a global sort), the totals scalar as a
    broadcast (never a shuffled join), zero Python."""
    from ballcone_spark.queries import EXTRA_QUERIES
    from ballcone_spark.plans.explain import uses_python

    df = EXTRA_QUERIES["events_hot_keys"].fn(spark, SF)
    p = plan_str(df)
    assert "TakeOrderedAndProject" in p
    assert "BroadcastNestedLoopJoin" in p  # the 1-row totals crossJoin
    assert not uses_python(df)


def test_widen_reaches_default_parallelism(spark):
    """widen() must give a compute-bound kernel one partition per core
    regardless of scan granularity: a single-file parquet scan arrives
    as few partitions (sized by bytes), and the round-robin exchange
    takes it to defaultParallelism. Checked via a mapInPandas stage
    that reports its partition count."""
    from pyspark.sql import functions as F

    from ballcone_spark.plans.parallelism import widen

    docs = load_table(spark, SF, "documents").select("doc_id")
    wide = widen(docs)

    def count_parts(batches):
        import pandas as pd

        n = sum(len(p) for p in batches)
        yield pd.DataFrame({"rows": [n]})

    parts = wide.mapInPandas(count_parts, "rows long").count()
    assert parts == spark.sparkContext.defaultParallelism
    # and the un-widened scan really is narrower (the premise)
    narrow = docs.mapInPandas(count_parts, "rows long").count()
    assert narrow < parts


def test_iterative_loops_read_checkpointed_input(spark):
    """The driver-loop trainers (BPE, k-means) are contractually
    iterative with bounded per-round collects — fine — but each round's
    job must read the CHECKPOINTED input, not re-run the caller's
    upstream lineage (the r4 CollapseProject lesson: one refactor away
    from iters× pipeline re-runs and broadcast rebuilds). Gate both
    loops (VERDICT r7 #6)."""
    import ballcone_spark.operators.kmeans as km
    from ballcone_spark.operators.bpe import train_bpe, word_freqs

    # --- BPE: the returned encoded frame IS the last round's state;
    # its plan must be rooted at the checkpoint RDD with the upstream
    # lineage (parquet scan + words_of explode/groupBy) gone
    docs = load_table(spark, SF, "documents")
    words = word_freqs(docs)
    _, encoded = train_bpe(words, n_merges=2)
    p = plan_str(encoded)
    assert "ExistingRDD" in p or "LogicalRDD" in p
    assert "parquet" not in p.lower()  # raw corpus lineage severed
    assert "HashAggregate" not in p  # word_freqs' groupBy not re-inlined

    # --- k-means: capture what each Lloyd round actually reads by
    # wrapping assign_cells; hand the trainer marker lineage (a filter
    # over parquet) and require rounds ≥ 2 to read the checkpoint RDD,
    # not the marker pipeline
    emb = (
        load_table(spark, SF, "embeddings")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
        .filter("vec_id >= 0")  # marker upstream lineage
    )
    captured = []
    orig = km.assign_cells

    def spy(e, centroids, vec_col="embedding"):
        captured.append(plan_str(e))
        return orig(e, centroids, vec_col)

    km.assign_cells = spy
    try:
        km.train_ivf_codebook(spark, emb, k=4, iters=3)
    finally:
        km.assign_cells = orig
    assert len(captured) == 3
    for plan in captured[1:]:  # round 1 may still show the lazy plan
        assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
        assert "parquet" not in plan.lower(), plan


def test_span_coverage_final_join_not_broadcast(spark):
    """The coverage query's per-doc left join must build per-partition
    (ShuffledHashJoin), never broadcast the aggregate-topped coverage
    frame — its size estimate is bogus-small behind two aggregates and
    a window, and at sf10 the broadcast build executed the whole span
    pipeline inside the broadcast thread (driver OOM; BASELINE §6j)."""
    from ballcone_spark.queries import QUERIES

    # promoted to the driver registry in r9
    df = QUERIES["docs_dup_span_coverage"].fn(spark, SF)
    p = plan_str(df)
    # the hint pins the final join shape at EVERY scale; other joins in
    # the pipeline may legitimately broadcast at oracle SFs where their
    # honestly-estimated sides are tiny
    assert "ShuffledHashJoin" in p


def test_percentile_filter_no_whole_source_window(spark):
    """The percentile curation filter must never run a window
    partitioned by source alone — that sorts the dominant source's
    ENTIRE score set in one task at production skew (VERDICT r8 #1).
    The bucketed rebuild ranks over (source, _bucket) windows with
    exact offsets; gate the executed plan: a Window node exists, its
    partition spec carries _bucket, and percent_rank (the whole-
    partition construct) is gone."""
    from ballcone_spark.operators.lm_quality import quality_percentile_filter

    docs = load_table(spark, SF, "documents")
    df = quality_percentile_filter(docs)
    p = plan_str(df)
    assert "percent_rank" not in p
    # every Window node's partition spec must include the bucket key
    win_lines = [ln for ln in p.splitlines() if "Window" in ln and "rank" in ln]
    assert win_lines, p
    for ln in win_lines:
        assert "_bucket" in ln, ln

def test_chunk_semantic_pairs_all_joins_merge(spark):
    """Every join side in the chunk-semantic pipeline is corpus-scale
    (gram bags, rare-gram df cut, per-chunk embeddings — each topped by
    aggregates/distincts whose size estimates are bogus-small): an sf10
    run picked them as broadcast BUILDs and executed whole pipelines
    inside the broadcast thread (the §6g class). merge hints pin
    SortMergeJoin — unlike a per-partition hash map, a merge join
    spills gracefully when a partition outgrows memory."""
    from ballcone_spark.operators.packing import chunk_semantic_pairs

    docs = load_table(spark, SF, "documents")
    p = plan_str(chunk_semantic_pairs(docs))
    assert "BroadcastHashJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p


def test_span_deduped_corpus_no_broadcast(spark):
    """The deletion transform's doc_id joins (tail, pieces, removed,
    assembled) all sit atop the span pipeline's aggregates/windows —
    the same bogus-small-estimate class that OOMed dup_span_coverage's
    final join at sf10 (BASELINE §6j). shuffle_hash hints pin the shape
    at every scale; their build sides are per-doc aggregates, bounded
    by the doc count, never the pair fan-out."""
    from ballcone_spark.operators.span_dedup import span_deduped_corpus

    docs = load_table(spark, SF, "documents")
    p = plan_str(span_deduped_corpus(docs))
    assert p.count("ShuffledHashJoin") >= 3, p
    assert "BroadcastHashJoin" not in p
    assert "BroadcastNestedLoopJoin" not in p

def test_span_gram_self_join_not_broadcast(spark):
    """The span family's gram self-join must never broadcast: both
    sides are the corpus's rare gram rows behind a checkpointed
    LogicalRDD that propagates a window/generate-topped (bogus-small)
    estimate — at sf10 the planner built a hashed relation over ~43 M
    gram rows in the broadcast thread (driver OOM once the deletion
    transform ran several such builds concurrently). The merge hint
    pins SortMergeJoin; the only legitimate broadcasts left are the
    explicit hot-gram anti-joins (bounded key sets)."""
    from ballcone_spark.operators.span_dedup import exact_span_pairs

    docs = load_table(spark, SF, "documents")
    p = plan_str(exact_span_pairs(docs))
    assert "SortMergeJoin" in p, p
    # every remaining broadcast join must be a LeftAnti (the hot-gram
    # cuts) — an Inner broadcast would be the corpus-scale self-join
    for ln in p.splitlines():
        if "BroadcastHashJoin" in ln:
            assert "LeftAnti" in ln, ln


def test_keep_best_argmax_has_no_window(spark):
    """Keep-best's per-cluster argmax must stay a plain aggregate
    (max over a (score, -doc_id) struct with map-side combine) — a
    row_number window partitioned by cluster_id would sort a degenerate
    giant cluster (web boilerplate merging millions of docs) in ONE
    task, the same skew class as the percentile filter (VERDICT r8 #1).
    The window belongs only in the ORACLE's SQL, where O(cluster²) is
    fine."""
    from ballcone_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1)], "doc_id long, cluster_id long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9)], "doc_id long, score long"
    )
    p = plan_str(dedup_keep_best(clusters, scores))
    assert "Window" not in p, p
    assert "HashAggregate" in p or "SortAggregate" in p

def test_classifier_gd_reads_checkpointed_input(spark):
    """Every GD round of the quality-classifier trainer must aggregate
    over the CHECKPOINTED feature frame, never re-run the caller's
    upstream lineage (the r7 #6 iterative-loop class — 200 rounds ×
    a re-inlined corpus projection would be 200 parquet scans of the
    documents table instead of 200 scans of a 4-column RDD)."""
    import ballcone_spark.operators.quality_classifier as qc
    from ballcone_spark.operators.quality_classifier import (
        quality_features,
        train_quality_classifier,
    )

    feats = quality_features(
        load_table(spark, SF, "documents").filter("doc_id >= 0")  # marker
    )
    captured = []
    orig = qc._round_input

    def spy(d):
        captured.append(plan_str(d))
        return orig(d)

    qc._round_input = spy
    try:
        train_quality_classifier(feats, iters=3)
    finally:
        qc._round_input = orig
    assert len(captured) == 3
    for p in captured:
        assert "ExistingRDD" in p or "LogicalRDD" in p, p
        assert "parquet" not in p.lower(), p


def test_semantic_serving_scan_pushes_cluster_filter(spark, tmp_path):
    """§6ak scan claim, mechanically: the serving path's probed-cluster
    filter must reach the parquet scan as a PushedFilter on BOTH the
    fold and the live dirs (the fold's cluster_id sort then prunes row
    groups), and the projection must exclude codes/batch_id."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ballcone_spark.streaming import state
    from ballcone_spark.streaming.semantic_stream import (
        read_semantic_index,
    )

    idx = str(tmp_path / "idx")
    rng = np.random.default_rng(3)
    for b in range(3):
        pdf = pd.DataFrame({
            "vec_id": np.arange(b * 50, b * 50 + 50, dtype=np.int64),
            "cluster_id": (np.arange(50) % 4).astype(np.int64),
            "e": list(rng.normal(size=(50, 8))),
            "nrm": np.ones(50),
        })
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            f"{idx}/batch_id={b}"
        )
    assert state.fold(spark, idx, every=2, sort_col="cluster_id")

    hist = read_semantic_index(spark, idx)
    side = hist.where(F.col("cluster_id").isin([1])).select(
        "cluster_id", "vec_id", "e", "nrm"
    )
    plan = side._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) >= 2  # fold + live dirs both scan
    for ln in scans:
        assert "EqualTo(cluster_id,1)" in ln or "In(cluster_id" in ln, ln
        assert "codes" not in ln.split("ReadSchema")[-1]


def test_multi_consumer_queries_scan_once(spark):
    """r15 lineage barriers: queries whose shared upstream frame feeds
    several consumers must materialize it ONCE (localCheckpoint), not
    re-inline the scan pipeline per consumer. Before the barriers the
    visible plans re-scanned the same parquet 2-10x (fuzzy decon: 10;
    session overlaps / the SQL funnel: 6; TF-IDF: 3; packing: 2, as
    counted at the time the barriers went in). Pin the ceiling on visible parquet scans
    and require the checkpoint RDD to be present, so a refactor that
    drops a barrier fails here instead of silently multiplying corpus
    I/O at scale."""
    max_parquet_scans = {
        # every consumer reads the checkpointed frame
        "docs_tfidf_top_terms": 0,
        "docs_fuzzy_decontamination": 0,
        "events_session_overlaps": 0,
        "docs_pack_sequences": 0,
        # r16: quality+LM signals come out of ONE merged kernel pass and
        # the boilerplate denominator reads it too — every consumer reads
        # one of the two checkpoints (merged kernel, 5-gram rows)
        "docs_corpus_report": 0,
        # view/click stages are checkpointed; the purchase stage scans
        "events_conversion_funnel": 1,
        # r16: the candidate front half's shingle frame and the JVM
        # verify's shingle-set frame are both checkpointed — the four
        # references (hot-shingle agg, inverted index, verify a/b sides)
        # read blocks
        "dedup_ngram_jaccard": 0,
        # r16: the split-text base spine is checkpointed — tail/piece/
        # rollup references read blocks instead of re-splitting the
        # corpus
        "docs_span_deduped_corpus": 0,
    }
    queries = entry_mod.queries()
    for name, ceiling in max_parquet_scans.items():
        p = plan_str(queries[name](spark, SF))
        n_scans = sum(
            1 for ln in p.splitlines() if "Scan parquet" in ln
        )
        assert n_scans <= ceiling, f"{name}: {n_scans} parquet scans\n{p}"
        assert "ExistingRDD" in p or "LogicalRDD" in p, name
