"""Distributed Lloyd's k-means — the real IVF codebook trainer.

:mod:`embedding_dedup.ivf_ann` routes against any ``(cell_id, centroid)``
codebook; so far the driver-checked queries use label centroids as a
stand-in. This module trains a proper codebook with the standard
Spark-shaped Lloyd's iteration (the same loop MLlib's KMeans runs):

    per iteration:
      1. broadcast the k×d codebook onto every row (one-row collect_list
         DataFrame, exactly the ivf_ann routing trick) and assign each
         vector to its nearest centroid MAP-SIDE — zero pre-shuffle;
      2. new centroids = per-cell elementwise mean: ONE partial-aggregated
         groupBy whose shuffle volume is O(k × d), independent of corpus
         size;
      3. collect the k×d result to the driver (bounded: k·d doubles —
         the same bounded-materialization class as an API envelope) and
         feed it to the next iteration as literals.

This is an inherently iterative algorithm — each iteration's plan depends
on the previous iteration's DATA — so it cannot be a single SQL statement
and is exposed as a rows-only registry entry (the driver's weaker check);
its semantics are pinned by property tests instead: cells partition the
corpus, inertia is monotonically non-increasing, empty cells keep their
previous centroid (the standard Lloyd's convention).

Scale: per iteration one scan + one O(k·d) shuffle; driver state k·d.
At 100 TB with k=65k cells and d=1024 the codebook is ~0.5 GB — still
broadcastable; beyond that, mini-batch k-means over a deterministic
hash-bucket sample (operators/text_analysis.py's sampler) is the
documented path.

Determinism note: seeds are the k lowest vec_ids (no RNG), so routing is
reproducible given the input; centroid doubles can differ in the last
ulp across partition orders (floating addition is non-associative),
which is why the registry entry rounds and why tests assert properties,
not exact values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.operators.similarity import cosine
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = ["train_ivf_codebook", "assign_cells", "kmeans_inertia"]

_DIM = 64


def _codebook_df(spark: SparkSession, cents: list[tuple[int, list[float]]]) -> DataFrame:
    return spark.createDataFrame(
        cents, "cell_id int, centroid array<double>"
    )


def assign_cells(emb: DataFrame, centroids: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Map-side nearest-centroid assignment (cosine, ties to the lowest
    cell_id) — the ivf_ann routing fold, reused for training."""
    cells = centroids.agg(
        F.collect_list(F.struct("cell_id", "centroid")).alias("_cells")
    )
    best = F.array_max(
        F.transform(
            "_cells",
            lambda c: F.struct(
                cosine(F.col(vec_col), c["centroid"]).alias("sim"),
                (-c["cell_id"]).alias("neg_cell"),
            ),
        )
    )
    return (
        emb.join(F.broadcast(cells))
        .withColumn("cell_id", -best["neg_cell"])
        .withColumn("_sim", best["sim"])
        .drop("_cells")
    )


def train_ivf_codebook(
    spark: SparkSession,
    emb: DataFrame,
    k: int = 10,
    iters: int = 3,
    dim: int = _DIM,
) -> DataFrame:
    """Lloyd's k-means over ``emb(vec_id, embedding array<double>)``.
    Returns ``(cell_id, centroid array<double>)`` with exactly ``k``
    rows. Deterministic seeding: the k lowest vec_ids. Raises
    ``ValueError`` when the corpus has fewer than ``k`` rows — the
    'exactly k' contract is otherwise unsatisfiable (ADVICE r3)."""
    seeds = (
        emb.orderBy("vec_id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(
            f"k={k} exceeds corpus size {len(seeds)}: cannot seed k cells"
        )
    cents: list[tuple[int, list[float]]] = [
        (i, [float(x) for x in r["embedding"]]) for i, r in enumerate(seeds)
    ]
    # pin the input behind a lineage barrier: every Lloyd round reads
    # the materialized corpus, not the caller's upstream pipeline —
    # without this, iters× re-runs of whatever lineage the caller hands
    # in (and iters× rebuilds of any broadcast inside it; the r4
    # CollapseProject / r7 sf10 loop lessons). Gated by
    # test_iterative_loops_read_checkpointed_input.
    emb = checkpoint(emb)
    for _ in range(iters):
        assigned = assign_cells(emb, _codebook_df(spark, cents))
        new_rows = (
            assigned.groupBy("cell_id")
            .agg(
                *[
                    F.avg(F.element_at("embedding", d + 1)).alias(f"c{d}")
                    for d in range(dim)
                ]
            )
            .collect()
        )
        by_cell = {
            r["cell_id"]: [float(r[f"c{d}"]) for d in range(dim)]
            for r in new_rows
        }
        # empty cells keep their previous centroid (Lloyd's convention)
        cents = [(cid, by_cell.get(cid, c)) for cid, c in cents]
    return _codebook_df(spark, cents)


def kmeans_inertia(emb: DataFrame, centroids: DataFrame) -> float:
    """Mean cosine similarity of each vector to its assigned centroid —
    the (maximization-form) objective Lloyd's improves each iteration."""
    return assign_cells(emb, centroids).agg(F.avg("_sim")).first()[0]


@_query("embeddings_ivf_codebook_trained", None, driver=False)
def embeddings_ivf_codebook_trained(spark, sf_dir):
    """Cell-size profile of a trained (k=10, 3-iteration) codebook —
    rows-only by necessity: the iterative trainer collects data-dependent
    centroids between iterations, so no single SQL statement expresses
    it. Property tests in tests/test_operators.py pin the semantics."""
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    book = train_ivf_codebook(spark, emb, k=10, iters=3)
    return (
        assign_cells(emb, book)
        .groupBy("cell_id")
        .agg(F.count("*").alias("n"), F.round(F.avg("_sim"), 3).alias("avg_sim"))
        .orderBy("cell_id")
    )
