"""Lineage barriers with SANE statistics — the r10 fix for the
doubly-exponential stats-compounding class.

``Dataset.localCheckpoint`` truncates lineage but SNAPSHOTS the origin
plan's ``sizeInBytes`` estimate into the resulting ``LogicalRDD``. In an
iterative algorithm whose per-round plan joins the previous round's
checkpoint with itself (connected components' pointer jumping), the
size estimates MULTIPLY: round k+1's estimate ≈ (round k's)², so the
BigInt's digit count doubles every round — measured on a planted
40-node chain: 20 → 77 → 191 → 418 → 873 → 1 784 → 3 604 digits over
seven rounds, after which Catalyst's stats visitor (BigInteger
Toom-Cook multiplication, recomputed per join per planning pass)
becomes the DRIVER bottleneck: the sf1 chunk-alias graph pinned one
core for 30+ minutes inside ``SizeInBytesOnlyStatsPlanVisitor`` before
any task ran. Join-strategy hints do NOT help — the checkpoint itself
snapshots the stats.

This is the third member of the checkpoint-estimate family: §6g
(bogus-small estimates choosing corpus-scale broadcast builds), §6n
(the same via LogicalRDD propagation), and now compounding estimates
whose ARITHMETIC is the cost.

:func:`checkpoint_fresh_stats` materializes like ``localCheckpoint``
and then rewraps the InternalRow RDD in a fresh ``LogicalRDD`` carrying
NO inherited stats — sizeInBytes falls back to the conservative default
(effectively "unknown/huge"), which also can never re-introduce a §6g
broadcast of an iteration frame. The rewrap is pure JVM metadata
(``queryExecution().toRdd()`` on an already-materialized checkpoint;
no Python round-trip — ``df.rdd`` would deserialize every row through
the Python worker). ``internalCreateDataFrame`` is Spark's own internal
constructor (SparkSession.scala; stable across 3.x/4.x — public
source), reached through the py4j handle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ballcone_spark.plans import stages

__all__ = ["checkpoint", "checkpoint_fresh_stats"]


def checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``df.localCheckpoint(eager)``, pinned to the build running on
    this thread so the build cache releases its blocks with the entry
    (``plans/stages.py``). Lazy by default: most barriers here only stop
    a frame's consumers from re-running its lineage."""
    ck = df.localCheckpoint(eager=eager)
    stages.pin(ck)
    return ck


def checkpoint_fresh_stats(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` (localCheckpoint) and return a frame
    over the same cached partitions whose plan stats are RESET instead
    of inherited — use for every checkpoint that a later iteration
    joins against itself or multiplies into its own successor.

    The rewrap reaches through py4j internals (``_jsparkSession`` /
    ``_jdf``) that Spark Connect and future py4j-surface changes may
    remove (ADVICE r10), so it degrades gracefully: if the handles are
    absent or the JVM call fails, return the plain localCheckpoint —
    correct, just carrying the snapshotted stats (slower planning on
    deep iteration, never wrong results)."""
    ck = checkpoint(df, eager=True)
    spark = df.sparkSession
    if not hasattr(spark, "_jsparkSession") or not hasattr(ck, "_jdf"):
        return ck  # Spark Connect / no py4j surface: stats stay inherited
    try:
        jdf = spark._jsparkSession.internalCreateDataFrame(
            ck._jdf.queryExecution().toRdd(), ck._jdf.schema(), False
        )
        return DataFrame(jdf, spark)
    except Exception:
        return ck
