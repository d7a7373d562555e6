"""The one launcher every spool stream starts through: the ingest stream
and the four analytical streams (dedup, alias, semantic, decon).

A spool is a directory of text files that a producer (the UDP bridge,
a log shipper, a corpus loader) publishes whole, by rename. A stream
reads it with Spark's text file source (:func:`read`) and runs its own
batch body per micro-batch under one trigger rule (:func:`start`):
``available_now=True`` drains what the spool holds and stops (tests,
backfills); otherwise a ``processingTime`` trigger fires every
``trigger_seconds``, the reference's flush period (reference
ballcone/core.py:39-51).

**Backpressure.** ``maxFilesPerTrigger`` bounds the files one
micro-batch takes. After a stall (restart, long GC, compaction pause)
or on a cold start over an existing backlog, the file source would
otherwise take every waiting file into one catch-up batch. The
analytical streams' probe plans broadcast batch-derived frames (decon
doc grams, alias gram keys, dedup band keys) or build decision grams
quadratic in the batch size (semantic), all under a "trigger-bounded"
invariant that one backlog-sized batch breaks. So they default to
:data:`SPOOL_MAX_FILES_PER_TRIGGER`, which keeps cold-start batches the
same order as steady-state ones; ``availableNow`` honours the bound
too and drains a backlog in bounded bites. ``None`` opts out, and is
the ingest default: its batch body broadcasts nothing batch-derived.

**Clean source.** ``clean_source`` says what happens to a spool file
once its micro-batch commits: ``"delete"``, ``"archive"`` (moved under
``archive_dir``) or ``None`` (kept). Spark cleans only the files of
committed batches, so a crash-replayed batch still finds its input.
Only the ingest stream cleans (``"delete"`` by default): the warehouse
holds its rows, and an uncleaned spool grows by ~17 k files a day that
the file source re-lists every trigger. The analytical streams keep
their spools, which may be the only copy of the raw text: they persist
signatures, grams and vectors, not the text.

**Per-trigger folds.** The analytical streams' state dirs grow one
``batch_id=`` dir per trigger (~17 k a day at 5 s), and every history
read pays the listing. :func:`start` folds each listed dir through
:func:`~ballcone_spark.streaming.state.fold` after every batch that
wrote, with ``sweep_when="fold"`` so retired dirs keep a full
compaction interval of reader grace.

**Scheduler pools and job groups.** The stream-execution thread is
created inside ``writer.start()`` and inherits the calling thread's
local properties, so :func:`start` calls it on the caller's thread. A
caller that wants every job of the query in a FAIR pool sets
``spark.scheduler.pool`` with ``sc.setLocalProperty`` on its own thread
before calling a starter (and restores it after, if it must); a job
group set the same way reaches the query's jobs too. Under the default
FIFO scheduler the pool property is inert.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.streaming import state

__all__ = ["SPOOL_MAX_FILES_PER_TRIGGER", "read", "parse_docs", "start"]

#: default files-per-trigger bound of the analytical streams (see the
#: module docstring's backpressure note)
SPOOL_MAX_FILES_PER_TRIGGER = 64


def read(
    spark: SparkSession,
    spool_dir: str,
    max_files_per_trigger: int | None,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """The spool as a streaming ``(value)`` frame of text lines."""
    if clean_source not in (None, "delete", "archive"):
        raise ValueError(
            f"clean_source must be None, 'delete', or 'archive' "
            f"(got {clean_source!r})"
        )
    if clean_source == "archive" and archive_dir is None:
        raise ValueError("clean_source='archive' requires archive_dir")
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if clean_source is not None:
        reader = reader.option("cleanSource", clean_source)
        if archive_dir is not None:
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.load(spool_dir)


def parse_docs(raw: DataFrame, id_field: str = "doc_id") -> DataFrame:
    """JSON lines ``{"<id_field>": ..., "text": ...}`` → ``(<id_field>
    long, text)``; lines missing either field are dropped."""
    return raw.select(
        F.get_json_object("value", f"$.{id_field}").cast("long")
        .alias(id_field),
        F.get_json_object("value", "$.text").alias("text"),
    ).where(F.col(id_field).isNotNull() & F.col("text").isNotNull())


def start(
    source: DataFrame,
    body: Callable[[DataFrame, int], bool | None],
    checkpoint_dir: str,
    query_name: str,
    trigger_seconds: int,
    available_now: bool,
    compact_every: int | None = None,
    folds: Sequence[tuple[str, dict]] = (),
):
    """Run ``body(batch_df, batch_id)`` on each micro-batch of
    ``source`` and return the started StreamingQuery.

    After each batch, unless ``body`` returned False (an empty batch it
    skipped), every ``(state_dir, options)`` in ``folds`` is folded in
    list order with ``state.fold(spark, state_dir, every=compact_every,
    sweep_when="fold", **options)``. ``compact_every=None`` disables
    the folds."""
    spark = source.sparkSession

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if body(batch_df, batch_id) is False or compact_every is None:
            return
        for state_dir, options in folds:
            # looked up on the module at call time, so a wrapper set on
            # state.fold (tools/trigger_profile.py counts calls) applies
            state.fold(
                spark, state_dir, every=compact_every, sweep_when="fold",
                **options,
            )

    writer = (
        source.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
