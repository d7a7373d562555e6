"""Build-cache hygiene (``plans/stages.py``): directory-style parquet
fingerprints see per-file changes; a fingerprint miss or an eviction
releases exactly the checkpoint blocks a build took; and every cached
thing — table frames, temp views, plans, the shared chunk-cluster stage
and the on-disk layout copies — follows an in-session source change."""

from __future__ import annotations

import glob
import os
import shutil
import time

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ballcone_spark.queries import (
    EXTRA_QUERIES,
    QUERIES,
    _plan_cached,
    _register_views,
    evict_plan,
    load_table,
)
from test_oracle_diff import _norm_pdf

SRC = "/root/testdata/sf0.001"
ALL = {**QUERIES, **EXTRA_QUERIES}
WAREHOUSE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "spark-warehouse"
)


def test_directory_fingerprint_sees_nested_file_change(tmp_path):
    from ballcone_spark.plans.stages import fingerprint

    d = tmp_path / "documents.parquet"
    d.mkdir()
    part = d / "part-0000.snappy.parquet"
    part.write_bytes(b"a" * 64)
    fp1 = fingerprint(str(tmp_path), ("documents",))
    # same-size in-place rewrite with a bumped mtime — the case the dir
    # entry's own stat misses entirely
    time.sleep(0.01)
    part.write_bytes(b"b" * 64)
    os.utime(part)
    fp2 = fingerprint(str(tmp_path), ("documents",))
    assert fp1 != fp2
    # a new part file changes it too
    (d / "part-0001.snappy.parquet").write_bytes(b"c")
    assert fingerprint(str(tmp_path), ("documents",)) != fp2


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def test_replacement_unpersists_superseded_checkpoints(spark, tmp_path):
    from ballcone_spark.plans import stages
    from ballcone_spark.plans.barriers import checkpoint

    src = tmp_path / "t.parquet"
    pq.write_table(pa.table({"id": [1, 2, 3]}), src)

    def build(sp, sf_dir):
        load_table(sp, sf_dir, "t")  # the build's recorded source
        df = checkpoint(sp.range(100), eager=False)
        df.count()  # materialize the blocks
        return df

    fn = _plan_cached("_hygiene_probe", build)
    base = _n_persistent(spark)
    fn(spark, str(tmp_path))
    assert _n_persistent(spark) == base + 1
    # unchanged fingerprint: cache hit, no new RDD
    fn(spark, str(tmp_path))
    assert _n_persistent(spark) == base + 1
    # data change: the superseded checkpoint must be RELEASED, not
    # merely superseded — one live RDD after, not two
    time.sleep(0.01)
    pq.write_table(pa.table({"id": [1, 2, 3, 4]}), src)
    fn(spark, str(tmp_path))
    assert _n_persistent(spark) == base + 1
    # explicit eviction releases the rest
    assert evict_plan("_hygiene_probe") == 1
    assert _n_persistent(spark) == base
    assert not [k for k in stages._MEMO if k[2] == "_hygiene_probe"]


def test_eviction_without_checkpoints_releases_nothing(spark, tmp_path):
    # a plain scan-backed frame took no checkpoints — evicting it must
    # release nothing, never error, and leave the frame usable
    fn = _plan_cached("_hygiene_plain", lambda sp, sf_dir: sp.range(10))
    df = fn(spark, str(tmp_path))
    base = _n_persistent(spark)
    assert evict_plan("_hygiene_plain") == 1
    assert _n_persistent(spark) == base
    assert df.count() == 10


def _matches_oracle(spark, sf: str, con, name: str) -> bool:
    spec = ALL[name]
    got = _norm_pdf(spec.fn(spark, sf).toPandas())
    return got == _norm_pdf(con.execute(spec.oracle).df())


def _duck(views: dict[str, str]):
    con = duckdb.connect()
    for t, path in views.items():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def test_dir_table_growth_reaches_tables_views_and_plans(spark, tmp_path):
    """A part file appended to a directory-style table: ``load_table``,
    the temp views and a cached plan all see the new rows."""
    sf = tmp_path / "sfgrow"
    docs_dir = sf / "documents.parquet"
    docs_dir.mkdir(parents=True)
    docs = pq.read_table(f"{SRC}/documents.parquet")
    pq.write_table(docs, docs_dir / "part-00000.parquet")
    con = _duck({"documents": f"{docs_dir}/*.parquet"})

    n0 = load_table(spark, str(sf), "documents").count()
    assert _matches_oracle(spark, str(sf), con, "docs_tfidf_top_terms")
    _register_views(spark, str(sf), ["documents"])

    grown = docs.slice(0, 7)
    grown = grown.set_column(
        0, "doc_id", pc.add(grown["doc_id"], pc.max(docs["doc_id"]).as_py() + 1)
    )
    pq.write_table(grown, docs_dir / "part-00001.parquet")
    fresh = spark.read.parquet(str(docs_dir)).count()
    assert fresh == n0 + 7
    assert load_table(spark, str(sf), "documents").count() == fresh
    _register_views(spark, str(sf), ["documents"])
    assert spark.table("documents").count() == fresh
    assert _matches_oracle(spark, str(sf), con, "docs_tfidf_top_terms")


def _copy_state(name: str) -> tuple[str, dict]:
    path = os.path.join(WAREHOUSE, name)
    with open(os.path.join(path, "_SOURCE_FP")) as f:
        fp = f.read()
    files = glob.glob(os.path.join(path, "*.parquet"))
    return fp, {p: os.stat(p).st_mtime_ns for p in files}


def _bump_mtime(path) -> None:
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))


def test_layout_copies_follow_in_session_source_rewrite(spark, tmp_path):
    """The bucketed and sorted copies are rewritten when their source
    changes within the session — same bytes under a new mtime, then an
    in-place part rewrite under a directory-style source — without the
    caller dropping any table, and the queries over them keep matching
    their oracles."""
    sf = tmp_path / "sflayout"
    sf.mkdir()
    shutil.copy(f"{SRC}/orders.parquet", sf / "orders.parquet")
    parts = {}
    for t in ("lineitem", "events"):
        (sf / f"{t}.parquet").mkdir()
        parts[t] = sf / f"{t}.parquet" / "part-00000.parquet"
        pq.write_table(pq.read_table(f"{SRC}/{t}.parquet"), parts[t])
    con = _duck(
        {
            "orders": f"{sf}/orders.parquet",
            "lineitem": f"{sf}/lineitem.parquet/*.parquet",
            "events": f"{sf}/events.parquet/*.parquet",
        }
    )
    bucketed, scan = "orders_lineitem_bucketed_revenue", "events_scan_window"
    copies = ("bkt_orders_sflayout_b8", "srt_events_sflayout_ts_f8")
    try:
        assert _matches_oracle(spark, str(sf), con, bucketed)
        assert _matches_oracle(spark, str(sf), con, scan)
        states = [_copy_state(c) for c in copies]

        # same bytes, new mtime: both copies are rewritten
        _bump_mtime(sf / "orders.parquet")
        _bump_mtime(parts["events"])
        assert _matches_oracle(spark, str(sf), con, bucketed)
        assert _matches_oracle(spark, str(sf), con, scan)
        for c, (fp, files) in zip(copies, states):
            fp2, files2 = _copy_state(c)
            assert fp2 != fp, c
            assert files2 != files, c

        # in-place part rewrites with different rows: the directory
        # entries' own stats do not change
        for t, keep in (("lineitem", 4000), ("events", 600)):
            dir_mtime = os.stat(parts[t].parent).st_mtime_ns
            pq.write_table(pq.read_table(f"{SRC}/{t}.parquet").slice(0, keep), parts[t])
            assert os.stat(parts[t].parent).st_mtime_ns == dir_mtime
        assert _matches_oracle(spark, str(sf), con, bucketed)
        assert _matches_oracle(spark, str(sf), con, scan)
    finally:
        for q in (bucketed, scan):
            evict_plan(q)
        for t in ("orders", "lineitem"):
            spark.sql(f"DROP TABLE IF EXISTS bkt_{t}_sflayout_b8")
            shutil.rmtree(os.path.join(WAREHOUSE, f"bkt_{t}_sflayout_b8"), True)
        shutil.rmtree(os.path.join(WAREHOUSE, copies[1]), True)


def test_alias_trio_eviction_releases_its_checkpoints(spark, tmp_path):
    """The three alias queries share one chunk-cluster stage: evicting
    one query keeps the stage for the other two, and evicting all three
    leaves no checkpoint of theirs pinned."""
    sf = str(tmp_path / "sfalias")
    os.makedirs(sf)
    shutil.copy(f"{SRC}/documents.parquet", sf)
    names = [
        "docs_chunk_alias_map",
        "docs_chunk_alias_arrival",
        "docs_chunk_alias_resolve",
    ]
    for n in names:
        evict_plan(n)  # entries for other sf dirs would count below
    before = _persistent_ids(spark)
    frames = {n: ALL[n].fn(spark, sf) for n in names}
    rows = {n: sorted(df.collect()) for n, df in frames.items()}
    assert all(rows.values())

    assert evict_plan(names[0]) == 1
    for n in names[1:]:
        again = ALL[n].fn(spark, sf)
        assert again is frames[n]
        assert sorted(again.collect()) == rows[n]
    rebuilt = ALL[names[0]].fn(spark, sf)
    assert rebuilt is not frames[names[0]]
    assert sorted(rebuilt.collect()) == rows[names[0]]

    for n in names:
        assert evict_plan(n) == 1
    assert not _persistent_ids(spark) - before


def test_memo_builds_once_under_concurrent_callers(tmp_path):
    """One build per source generation however many threads ask at
    once: every caller gets the same object."""
    import sys
    import threading
    from types import SimpleNamespace

    from ballcone_spark.plans import stages

    (tmp_path / "t.parquet").write_bytes(b"x")
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="_stress_app", _jsc=None)
    )
    builds, got = [], []

    def build():
        stages.source(str(tmp_path), "t")
        builds.append(1)
        time.sleep(0.001)
        return object()

    def caller():
        for _ in range(50):
            got.append(stages.memo(spark, str(tmp_path), "_stress", build))

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(switch)
    assert len(builds) == 1
    assert len(got) == 16 * 50 and len({id(v) for v in got}) == 1
    assert evict_plan("_stress") == 1
