"""Structured Streaming ingest — S6 of SURVEY.md §2.1.

Replaces the reference's deque + 5-second flush timer
(reference ballcone/core.py:31-51 → dao.py:222-234) with a checkpointed
micro-batch stream:

    readStream (file/socket source)
      → parse_datagrams → enrich            (same transforms as batch)
      → foreachBatch: append Parquet partitioned by (service, date)
      → trigger(processingTime='5 seconds') — the reference's period

Durability upgrade, documented deliberately (SURVEY.md §3.1): the
reference buffers in memory and loses the buffer on crash
(at-most-once); checkpointed file-source streaming is exactly-once to
the sink. The reference's UDP transport is itself lossy, so a tiny
UDP→spool-file bridge (:mod:`ballcone_spark.sources.udp_bridge`) feeds
the file source — Spark has no UDP source and a bridge keeps the lossy
boundary outside the engine, where it was in the reference too.

Small-files note (SURVEY.md §7 hard part d): 5-second batches ×
(service, date) partitioning produce many small parquet files; each
micro-batch coalesces to 1 file per partition, and
:func:`compact_warehouse` rewrites a partition to target-sized files —
run it periodically (the reference has an analogous maintenance step in
tools/duck-upgrade.sh).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.sources.enrich import enrich
from ballcone_spark.sources.syslog import parse_datagrams
from ballcone_spark.streaming import spool

__all__ = [
    "ingest_pipeline",
    "start_file_ingest",
    "compact_warehouse",
    "expire_partitions",
]

#: ``hot_partition_rows="auto"`` floor: below this many rows, one
#: writer task drains a key well inside a 5 s trigger (parquet encode
#: runs ~10⁵–10⁶ rows/s/core on rows this shape), so spreading would
#: only mint small files the compactor then has to fold for nothing.
_HOT_AUTO_FLOOR = 100_000

_FACT_ORDER = [
    "service",
    "datetime",
    "host",
    "path",
    "status",
    "length",
    "generation_time",
    "referer",
    "ip",
    "country_iso_code",
    "platform_name",
    "platform_version",
    "browser_name",
    "browser_version",
    "is_robot",
]


def ingest_pipeline(
    raw: DataFrame, geoip_ranges: DataFrame | None = None
) -> DataFrame:
    """datagram lines → enriched fact rows (+ ``date`` partition col).
    Works identically on a batch or streaming DataFrame."""
    parsed = parse_datagrams(raw)
    enriched = enrich(parsed, geoip_ranges=geoip_ranges)
    return enriched.select(*_FACT_ORDER).withColumn(
        "date", F.to_date("datetime")
    )


def start_file_ingest(
    spark: SparkSession,
    spool_dir: str,
    warehouse_data_dir: str,
    checkpoint_dir: str,
    geoip_ranges: DataFrame | None = None,
    trigger_seconds: int = 5,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    hot_partition_rows: int | str | None = None,
    hot_task_cap: int = 64,
    clean_source: str | None = "delete",
    archive_dir: str | None = None,
    query_name: str = "ballcone_ingest",
    service_shard: str | None = None,
):
    """Start the micro-batch ingest from a spool directory of datagram
    text files (written by the UDP bridge or any log shipper).

    Returns the StreamingQuery. ``available_now=True`` drains whatever
    is in the spool and stops — the test/backfill mode.

    ``clean_source`` (``"delete"`` by default, ``"archive"`` under
    ``archive_dir``, or ``None`` to keep the files) and
    ``max_files_per_trigger`` (the backpressure bound, unbounded by
    default) are the spool source's options; their rationale is in
    :mod:`~ballcone_spark.streaming.spool`. Pass ``clean_source=None``
    if the spool doubles as an archive someone else reads.

    ``hot_partition_rows`` is the hot-partition escape hatch (BASELINE
    §6r / VERDICT r10 #2): the 1-file-per-partition-per-batch invariant
    routes each (service, date) through ONE writer task, so a single
    dominant key caps that key's drain rate at one core's worth of
    encode+write. When set, each micro-batch counts rows per key (over
    the persisted batch — one extra map-side-combinable aggregate, no
    re-parse) and any key above the threshold drops the invariant for
    that batch: its rows spread round-robin over up to ``hot_task_cap``
    writer tasks (⌈rows/threshold⌉ of them), producing extra files that
    :func:`compact_warehouse` folds later. Cold keys keep the 1-file
    path. ``None`` (default) preserves the old behavior exactly.

    ``hot_partition_rows="auto"`` (r12, VERDICT r11 #5) derives the
    threshold from the batch itself, so a deployment never has to know
    the constant: ``max(_HOT_AUTO_FLOOR, batch_rows //
    defaultParallelism)``. The rationale: the funnel only binds when
    one key holds more than a fair per-core share of the batch AND
    that share is big enough that a single writer's encode time is a
    material fraction of the trigger — the floor guards the second
    condition (below it, spreading would only mint small files; at
    100 k rows a single writer drains the key in well under a second
    on this box). The per-batch counts the hatch already collects
    supply ``batch_rows`` for free. An explicit int stays available
    as the override."""
    if isinstance(hot_partition_rows, str) and hot_partition_rows != "auto":
        raise ValueError(
            "hot_partition_rows must be an int, None, or 'auto' "
            f"(got {hot_partition_rows!r})"
        )
    if service_shard is not None:
        import re

        # same charset the parser enforces on every ingested service
        # (sources/syslog.py) — anything else would need partition-value
        # escaping to match what partitionBy('service') writes ('/', '%'
        # etc. break or silently diverge from partition discovery), so
        # reject instead of guessing (review r12-b #2)
        if not re.fullmatch(r"\w+", service_shard):
            raise ValueError(
                f"service_shard must match ^\\w+$ (got {service_shard!r})"
            )
    raw = spool.read(
        spark, spool_dir, max_files_per_trigger, clean_source, archive_dir
    )
    facts = ingest_pipeline(raw, geoip_ranges=geoip_ranges)

    # ``service_shard`` (r12, §6aj): one ingest stream PER SERVICE into
    # a shared warehouse. Two streams appending to the same sink root
    # is NOT safe — Hadoop's FileOutputCommitter stages every job under
    # <root>/_temporary/0/, so one stream's job commit deletes the
    # other's staging mid-write (measured: FileNotFoundException in
    # commitJob, the second stream dies). With a shard set, this stream
    # OWNS <data>/service=<shard>/ — its own _temporary, zero contact
    # with other shards — partitions by date only, and the directory
    # name restores the service column on any basePath read, so the
    # warehouse layout (and every reader) is unchanged. Rows whose
    # service differs from the shard are dropped (a sharded deployment
    # routes one service per spool; mislabeling a stray row into this
    # shard's directory would silently corrupt reads).
    part_cols = ["service", "date"]
    if service_shard is not None:
        # observe BEFORE the filter: stray rows of OTHER services are
        # dropped, and the count surfaces per batch in the query's
        # observedMetrics so the drop is never silent (review r12-b #4
        # — e.g. two shard streams mispointed at one spool). Each shard
        # must OWN its spool dir: clean_source='delete' under a shared
        # spool deletes files the other stream hasn't read yet.
        facts = facts.observe(
            "shard",
            F.count(F.when(F.col("service") != service_shard, 1)).alias(
                "stray_rows"
            ),
            F.count(F.lit(1)).alias("input_rows"),
        )
        facts = facts.where(F.col("service") == service_shard).drop(
            "service"
        )
        warehouse_data_dir = os.path.join(
            warehouse_data_dir, f"service={service_shard}"
        )
        part_cols = ["date"]

    def _write_invariant(df: DataFrame) -> None:
        # repartition BY THE PARTITION COLUMNS, not coalesce(1): coalesce
        # has no shuffle boundary, so it collapsed the entire upstream
        # parse+enrich into ONE task — the whole micro-batch ran
        # single-threaded (measured r10: 12.5k rows/s at 500k rows; the
        # repartition form parallelizes the scan/parse/enrich across the
        # cluster and the shuffle routes each (service, date) to exactly
        # one task, preserving the one-file-per-partition-per-batch
        # property the small-file budget depends on).
        (
            df.repartition(*part_cols)
            .write.mode("append")
            .partitionBy(*part_cols)
            .parquet(warehouse_data_dir)
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if hot_partition_rows is None:
            _write_invariant(batch_df)
            return
        # Escape hatch armed: persist so the per-key count and the
        # write(s) share one parse+enrich execution (the batch is
        # trigger-bounded, so the cache is too).
        batch_df.persist()
        try:
            counts = (
                batch_df.groupBy(*part_cols).count().collect()
            )  # bounded: #(service,date) keys live in a 5 s batch is tiny
            if hot_partition_rows == "auto":
                total = sum(r["count"] for r in counts)
                threshold = max(
                    _HOT_AUTO_FLOOR,
                    total
                    // batch_df.sparkSession.sparkContext.defaultParallelism,
                )
            else:
                threshold = hot_partition_rows
            hot = [r for r in counts if r["count"] > threshold]
            if not hot:
                _write_invariant(batch_df)
                return
            cond = None
            for r in hot:
                c = F.col("date") == F.lit(r["date"])
                if "service" in part_cols:
                    c = c & (F.col("service") == r["service"])
                cond = c if cond is None else (cond | c)
            # Hot keys drop the invariant for this batch — spread over
            # ⌈rows/threshold⌉ writer tasks (capped), plain multi-file
            # append; compact_warehouse folds the extra files. Round-robin
            # repartition(N) beats a hash-salt column here: the keys all
            # land in the same partitionBy directory regardless of which
            # task writes them, so co-location buys nothing, round-robin
            # balances perfectly, and the explicit partition count is
            # exempt from AQE shuffle-coalescing (a column-salt repartition
            # gets coalesced right back into one task at these sizes —
            # observed in the e2e test). Retry-safe: Spark locally sorts
            # before round-robin (sortBeforeRepartition, default on).
            # ONE write job for both branches: Union concatenates its
            # children's partitions untouched, so the cold branch's
            # one-task-per-key layout and the hot branch's N-task spread
            # survive into a single writer stage (two jobs doubled the
            # fixed job/commit overhead — measured in the §6w A/B).
            max_rows = max(r["count"] for r in hot)
            n_tasks = int(min(hot_task_cap, -(-max_rows // threshold)))
            cold_part = batch_df.filter(~cond).repartition(*part_cols)
            hot_part = batch_df.filter(cond).repartition(n_tasks)
            (
                cold_part.unionByName(hot_part)
                .write.mode("append")
                .partitionBy(*part_cols)
                .parquet(warehouse_data_dir)
            )
        finally:
            batch_df.unpersist()

    return spool.start(
        facts, write_batch, checkpoint_dir, query_name, trigger_seconds,
        available_now,
    )


def compact_warehouse(
    spark: SparkSession,
    warehouse_data_dir: str,
    target_file_mb: int = 128,
) -> None:
    """Rewrite each (service, date) partition into target-sized files.
    Run periodically to fold micro-batch files together.

    Guarantee (and its limits, stated honestly): the swap is atomic **per
    partition directory** and **never discards an appended file**. Order
    of operations (fixing the ADVICE r2 TOCTOU — a list-then-rename race
    could move a mid-compaction append into the doomed dir):

    1. snapshot the partition's parquet files and rewrite them compacted
       into a sibling tmp dir;
    2. ``os.rename(part_dir, old)`` FIRST — from this instant no writer
       can add to the doomed dir unseen: anything that landed between
       the snapshot and this rename travelled into ``old`` and is found
       by the post-rename re-listing;
    3. re-list ``old``: every file NOT in the snapshot (a mid-compaction
       append) is moved into the new compacted dir before anything is
       deleted;
    4. ``os.rename(tmp, part_dir)``; if a writer re-created ``part_dir``
       in the gap, fall back to moving the compacted files in one by one
       (Spark part-file names are globally unique, so merging is safe);
    5. delete ``old`` — at this point it holds only snapshot files,
       every byte of which lives compacted in the new dir.

    A reader can see the partition momentarily absent between the two
    renames (unavoidable with plain dirs; a table format with a
    transaction log removes even that window — documented trade).

    Reader isolation (ADVICE r3): helper dirs live in the SAME parent as
    the partition but with a ``.``-prefixed basename
    (``.date=<d>._compact_tmp`` / ``._compact_old``), so Hadoop's
    hidden-file filter excludes them from partition discovery — a
    concurrent read mid-swap can never see the tmp/old copies as extra
    partitions (the old naming ``date=<d>._compact_tmp`` was discovered
    as a real string-typed partition, returning duplicate rows).

    Crash recovery: each run begins by sweeping leftover helper dirs via
    :func:`_recover_partition`. A ``_compact_manifest`` file written
    into tmp BEFORE the partition rename records the compacted snapshot,
    so recovery can always tell rescued mid-compaction appends apart
    from snapshot files and resume the swap exactly where it died —
    no crash point loses a row or leaves a helper dir behind."""
    if not os.path.isdir(warehouse_data_dir):
        return
    root = warehouse_data_dir.rstrip("/")
    target_bytes = target_file_mb * 1024 * 1024

    for svc_entry in sorted(os.scandir(root), key=lambda e: e.path):
        if not svc_entry.is_dir() or not svc_entry.name.startswith("service="):
            continue
        _sweep_compaction_leftovers(svc_entry.path)
        for date_entry in sorted(os.scandir(svc_entry.path), key=lambda e: e.path):
            if not date_entry.is_dir() or not date_entry.name.startswith("date="):
                continue
            part_dir = date_entry.path
            snapshot = sorted(
                f for f in os.listdir(part_dir) if f.endswith(".parquet")
            )
            if len(snapshot) <= 1:
                continue  # already compact
            part_bytes = sum(
                os.path.getsize(os.path.join(part_dir, f)) for f in snapshot
            )
            n_files = max(1, part_bytes // target_bytes)
            tmp, old = _helper_dirs(part_dir)
            (
                spark.read.parquet(
                    *[os.path.join(part_dir, f) for f in snapshot]
                )
                .coalesce(int(n_files))
                .write.mode("overwrite")
                .parquet(tmp)
            )
            # manifest before the rename: from here recovery knows the
            # snapshot set even if we die between any two steps below
            _write_manifest(tmp, snapshot)
            os.rename(part_dir, old)  # appends after this are impossible;
            # appends before it travelled INTO old and are rescued below
            snap_set = set(snapshot)
            extras = [
                f
                for f in os.listdir(old)
                if f.endswith(".parquet") and f not in snap_set
            ]
            for f in extras:
                os.rename(os.path.join(old, f), os.path.join(tmp, f))
                crc = os.path.join(old, f".{f}.crc")
                if os.path.exists(crc):
                    os.rename(crc, os.path.join(tmp, f".{f}.crc"))
            os.remove(os.path.join(tmp, _MANIFEST))
            try:
                os.rename(tmp, part_dir)
            except OSError:
                # a writer re-created part_dir in the rename gap: merge the
                # compacted files in (part-file names are globally unique)
                for f in os.listdir(tmp):
                    os.rename(os.path.join(tmp, f), os.path.join(part_dir, f))
                os.rmdir(tmp)
            shutil.rmtree(old)  # only snapshot files remain — all compacted


_MANIFEST = "_compact_manifest"


def _helper_dirs(part_dir: str) -> tuple[str, str]:
    """Hidden-basename helper dirs for a partition dir, in the same
    parent (same filesystem → atomic renames) but invisible to Hadoop
    partition discovery (basename starts with ``.``)."""
    parent, base = os.path.split(part_dir.rstrip("/"))
    return (
        os.path.join(parent, f".{base}._compact_tmp"),
        os.path.join(parent, f".{base}._compact_old"),
    )


def _write_manifest(tmp: str, snapshot: list[str]) -> None:
    p = os.path.join(tmp, _MANIFEST)
    with open(p + ".part", "w") as fh:
        fh.write("\n".join(snapshot))
    os.rename(p + ".part", p)


def _read_manifest(tmp: str) -> set[str] | None:
    p = os.path.join(tmp, _MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return {line for line in fh.read().splitlines() if line}


def _sweep_compaction_leftovers(svc_dir: str) -> None:
    """Crash recovery: finish or roll back any interrupted compaction in
    this service dir before compacting anew. Covers every crash point of
    :func:`compact_warehouse` (see the proof table in each branch)."""
    for entry in sorted(os.scandir(svc_dir), key=lambda e: e.path):
        name = entry.name
        if not entry.is_dir() or not name.startswith(".date="):
            continue
        for suffix in ("._compact_tmp", "._compact_old"):
            if name.endswith(suffix):
                part_dir = os.path.join(svc_dir, name[1 : -len(suffix)])
                _recover_partition(part_dir)
                break


def _recover_partition(part_dir: str) -> None:
    tmp, old = _helper_dirs(part_dir)
    snap = _read_manifest(tmp) if os.path.isdir(tmp) else None
    if os.path.isdir(old):
        if snap is None:
            # manifest gone: either it was never written (crash before
            # the partition rename never creates `old`, so this branch
            # means the manifest was already consumed — crash during the
            # fallback merge) or a legacy run. `old` holds only snapshot
            # files whose data lives compacted in tmp/part_dir.
            if not os.path.isdir(part_dir) and os.path.isdir(tmp):
                os.rename(tmp, part_dir)
            elif os.path.isdir(tmp):
                for f in os.listdir(tmp):
                    if not os.path.exists(os.path.join(part_dir, f)):
                        os.rename(os.path.join(tmp, f), os.path.join(part_dir, f))
                shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.isdir(part_dir):
                os.rename(old, part_dir)  # last resort: originals intact
            else:
                shutil.rmtree(old)
            return
        # manifest present: crash between the partition rename and the
        # manifest removal. tmp = compacted snapshot (+ already-moved
        # extras); old = snapshot files (+ not-yet-moved extras).
        if not os.path.isdir(part_dir):
            os.remove(os.path.join(tmp, _MANIFEST))
            os.rename(tmp, part_dir)
        else:
            # writer re-created part_dir mid-crash: merge tmp in
            for f in os.listdir(tmp):
                if f == _MANIFEST:
                    continue
                if not os.path.exists(os.path.join(part_dir, f)):
                    os.rename(os.path.join(tmp, f), os.path.join(part_dir, f))
            shutil.rmtree(tmp)
        for f in os.listdir(old):
            if f.endswith(".parquet") and f not in snap:
                dst = os.path.join(part_dir, f)
                if not os.path.exists(dst):
                    os.rename(os.path.join(old, f), dst)
                    crc = os.path.join(old, f".{f}.crc")
                    if os.path.exists(crc):
                        os.rename(crc, os.path.join(part_dir, f".{f}.crc"))
        shutil.rmtree(old)
    elif os.path.isdir(tmp):
        # no `old`: the partition rename never happened, so part_dir is
        # intact and tmp is a doomed partial/complete rewrite — discard.
        shutil.rmtree(tmp)


def expire_partitions(
    warehouse_data_dir: str,
    older_than: "datetime.date",
    service: str | None = None,
) -> list[str]:
    """Retention maintenance: delete ``date=<d>`` partition dirs with
    ``d < older_than`` (optionally for one service). Returns the removed
    relative partition paths.

    The reference has no retention story at all (DuckDB tables grow
    forever); with a date-partitioned warehouse, retention is a pure
    file-listing operation — no engine involvement, no rewrite, and
    partition pruning means queries never read expired data even
    mid-delete. Deletion per partition dir is atomic from a reader's
    perspective in the same sense as compaction's swap (a dir either
    lists or it doesn't); a date dir that fails to parse is left alone
    rather than guessed about."""
    import datetime as _dt
    import shutil as _shutil

    removed: list[str] = []
    root = warehouse_data_dir.rstrip("/")
    if not os.path.isdir(root):
        return removed
    for svc_entry in sorted(os.scandir(root), key=lambda e: e.path):
        if not svc_entry.is_dir() or not svc_entry.name.startswith("service="):
            continue
        if service is not None and svc_entry.name != f"service={service}":
            continue
        for date_entry in sorted(os.scandir(svc_entry.path), key=lambda e: e.path):
            if not date_entry.is_dir() or not date_entry.name.startswith("date="):
                continue
            try:
                d = _dt.date.fromisoformat(date_entry.name.split("=", 1)[1])
            except ValueError:
                continue  # not ours to delete
            if d < older_than:
                _shutil.rmtree(date_entry.path)
                removed.append(f"{svc_entry.name}/{date_entry.name}")
    return removed
