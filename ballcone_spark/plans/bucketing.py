"""Bucketed co-located joins — the write-time shuffle that pays for
itself on every subsequent join.

At 100 TB the orders⋈lineitem join is the one shuffle the star-schema
queries cannot broadcast away. Bucketing both fact tables on the join
key at write time (`bucketBy(n, key)` + `sortBy`) makes every later
equi-join on that key **exchange-free**: Spark matches the two tables'
bucket specs and plans a SortMergeJoin directly over co-located buckets
(and with `sortBy`, skips the per-task sort too). The shuffle is paid
once at ingest, not once per query — the same trade the reference makes
by batching inserts (reference ballcone/dao.py:222-234), applied to
join locality instead of transaction overhead.

Sizing rule: buckets ≈ target parallelism at the largest consumer SF;
both sides of a co-located join must use the SAME bucket count (Spark
4 can coalesce mismatched counts when one divides the other —
``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).
"""

from __future__ import annotations

import os
import re
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ballcone_spark.plans import stages

__all__ = ["bucketize", "ensure_bucketed", "ensure_sorted"]

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def bucketize(
    df: DataFrame,
    name: str,
    keys: list[str],
    n_buckets: int,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (+ sorted) table named ``name``.
    Joining two tables bucketized on the same keys with the same count
    plans with zero Exchange (asserted in tests/test_plans.py)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *keys).sortBy(*keys)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(name)


def _layout_copy(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    name: str,
    write: Callable[[str], None],
) -> str:
    """Path of the on-disk copy ``name`` of a testdata table, (re)written
    by ``write(path)`` unless it holds the current source generation.
    Memoized in the build cache (``plans/stages.py``), so an in-session
    source change reaches the copy like any other build. On disk, the
    committer's ``_SUCCESS`` marks a complete write (ADVICE r3: a crash
    mid-commit leaves a partial file set that is not authoritative) and
    ``_SOURCE_FP`` the source fingerprint it was written from (r5: the
    driver regenerated the testdata under a persisted warehouse, so a
    copy from a previous generation would silently serve stale rows).
    Anything else is discarded and rewritten, never inherited."""

    def build() -> str:
        fp = stages.source(sf_dir, table)
        path = os.path.join(_REPO_ROOT, "spark-warehouse", name)
        fp_file = os.path.join(path, "_SOURCE_FP")
        if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            fp_file
        ):
            with open(fp_file) as f:
                if f.read().strip() == fp:
                    return path
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        with open(fp_file, "w") as f:
            f.write(fp)
        return path

    return stages.memo(spark, sf_dir, name, build)


def _sf_key(sf_dir: str) -> str:
    return re.sub(r"[^0-9A-Za-z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    keys: list[str],
    n_buckets: int,
) -> str:
    """Idempotently materialize a bucketed copy of a testdata table and
    return its catalog name (``bkt_<table>_<sf>``). The write-once
    shuffle runs only when no copy of the current source generation
    exists — every later equi-join on ``keys`` against another table
    bucketed with the same count is exchange-free."""
    from ballcone_spark.queries import load_table

    # bucket count is part of the identity: re-registration binds
    # CLUSTERED BY metadata to existing files, which is only sound when
    # the spec matches what was written — a different count must land in
    # a different table/path, never inherit stale buckets
    name = f"bkt_{table}_{_sf_key(sf_dir)}_b{n_buckets}"

    def write(path: str) -> None:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        bucketize(load_table(spark, sf_dir, table), name, keys, n_buckets, path=path)

    exists = spark.catalog.tableExists(name)
    if not exists:
        # the catalog forgot the table (a fresh session, or a drop):
        # re-check the files on disk instead of trusting the memo
        stages.evict_plan(name)
    path = _layout_copy(spark, sf_dir, table, name, write)
    if not exists and not spark.catalog.tableExists(name):
        # A previous session already paid the bucketize shuffle — the
        # default in-memory catalog forgot the metadata, not the data.
        # Re-register an external bucketed table over the existing files
        # (bucket ids live in the part-file names, so the spec must match
        # what bucketize wrote: same keys, same count). Saves the ~6 s
        # rewrite per fresh session; _layout_copy pins the files to the
        # exact source generation they were written from.
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in load_table(spark, sf_dir, table).schema.fields
        )
        key_list = ", ".join(f"`{k}`" for k in keys)
        spark.sql(
            f"CREATE TABLE {name} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key_list}) SORTED BY ({key_list}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{path}'"
        )
    return name


def ensure_sorted(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    col: str,
    n_files: int | None = None,
) -> DataFrame:
    """Idempotently materialize a ``col``-sorted copy of a testdata
    table (range-partitioned into ``n_files`` files, sorted within
    each) and return a DataFrame over it — the time-ordered zone-map
    layout every at-scale deployment writes at ingest (VERDICT r6 #6).

    Why it pays: parquet keeps min/max stats per row group and page;
    on data laid out randomly in ``col`` every row group spans the full
    value range and a pushed range filter prunes NOTHING — the scan
    decodes the whole table to return a 6-day window. Sorted, the same
    pushed filter skips every non-overlapping file/row-group/page, so
    a time-window top-k reads only the window (measured at sf3:
    0.296 s → 0.195 s steady for `events_scan_window`; the sort+write
    is ~6 s once). This is the single-column analog of
    :func:`ensure_bucketed` — write-once layout work amortized over
    every later query — behind the same copy guard."""
    from ballcone_spark.queries import load_table

    if n_files is None:
        # Granularity rule (sf10 lesson): a range query only parallelizes
        # over the files its range OVERLAPS — 8 files over a month means
        # a 6-day window runs 2-3 tasks on 32 cores. Target ~5 MB of
        # source per file (sf10 A/B, interleaved 7-run medians: 32 files
        # 0.16-0.21 s steady vs 8 files 0.43 s and 21 files 0.24-0.33 s),
        # floored at 8 so small SFs don't pay per-file overhead, capped
        # at 32 where task scheduling starts to dominate (64 files
        # measured slower than 32).
        st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
        n_files = min(32, max(8, st.st_size // (5 << 20)))
    # file count is part of the copy's identity: a granularity change
    # must land in a new path, never inherit the old layout
    name = f"srt_{table}_{_sf_key(sf_dir)}_{col}_f{n_files}"

    def write(path: str) -> None:
        (
            load_table(spark, sf_dir, table)
            .repartitionByRange(n_files, col)
            .sortWithinPartitions(col)
            .write.mode("overwrite")
            .parquet(path)
        )

    return spark.read.parquet(_layout_copy(spark, sf_dir, table, name, write))
