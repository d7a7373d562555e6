"""SemDeDup — semantic deduplication via cluster-then-pair (Abbas et
al. 2023, "SemDeDup: Data-efficient learning at web-scale through
semantic deduplication"; beyond-reference: the reference has no
embedding operators).

The web-scale trick is the clustering: all-pairs cosine over n vectors
is O(n²) and dead at 100 TB, but k-means-style clustering first makes
the pairing within-cluster only — O(Σ cᵢ²), which with k sized so that
cᵢ ≈ n/k is n²/k, and in practice (k ~ √n or larger) near-linear.
Spark shape:

1. route every vector to its nearest seed centroid — a broadcast of
   the K centroid rows against one corpus scan, map-side argmax (the
   same IVF routing the ANN family uses; zero shuffle beyond the tiny
   broadcast);
2. self-join ON the cluster key (hash-partitioned equi-join; each
   shuffle partition holds whole clusters, so skew is bounded by the
   largest cluster — exactly the knob k controls);
3. greedy keep-lowest-id: a vector is removed when any same-cluster
   neighbor with a LOWER vec_id sits at cosine >= TAU (the standard
   greedy approximation of SemDeDup's keep-one-per-group).

The oracle-able variant uses deterministic seed centroids (the K
lowest vec_ids, the same iters=0 derivation trick as the PQ recall
gate) so DuckDB replays the identical route→pair→remove pipeline;
the trained path swaps in :mod:`kmeans` codebooks unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballcone_spark.operators.similarity import _dot, _norm
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = [
    "semantic_dedup_report",
    "semantic_dedup_trained",
    "semantic_dedup_keep",
    "adaptive_k",
]

#: floor on the number of deterministic seed centroids (vec_id < K)
K_SEEDS = 8
#: target mean cluster size the adaptive K aims for — within-cluster
#: pairing costs O(Σ cᵢ²) ≈ n·TARGET, so pinning TARGET keeps the pair
#: stage LINEAR in n instead of n²/K_fixed
TARGET_CLUSTER = 256
#: within-cluster cosine at-or-above which a pair is a semantic dup —
#: 0.45 matches the non-vacuous threshold the embedding-cosine recall
#: gate already uses on this corpus (pairs exist at every SF)
TAU = 0.45


def adaptive_k(n_rows: int) -> int:
    """Seed count that pins mean cluster size ≈ TARGET_CLUSTER, so the
    within-cluster pair stage stays linear in corpus size (fixed K would
    make it n²/K — the same trap the hyperplane-LSH family fixed with
    its adaptive plane count). Floor K_SEEDS keeps small corpora — and
    with them every oracle-checked SF (500 vecs at sf0.01, 2 000 at
    sf0.1) — on the static oracle's exact K=8 replica; above
    K_SEEDS·TARGET_CLUSTER = 2 048 vectors K grows and the static
    oracle becomes an approximation of the same exact semantics (the
    dedup_embedding_cosine validity-domain class)."""
    return max(K_SEEDS, -(-n_rows // TARGET_CLUSTER))


def _assign(emb: DataFrame, k: int = K_SEEDS) -> DataFrame:
    """(vec_id, cluster_id, e, nrm): nearest-seed routing as a pure
    MAP — the folded-literal pattern (quantization._books_literal):
    the k seed vectors are collected once at plan build (bounded k×d,
    the kmeans/PQ contract), PRE-NORMALIZED in Python, and embedded as
    one nested array literal; each row then takes argmax over k dot
    products via a single transform + array_min, no crossJoin and no
    row_number shuffle. Ties break to the lowest cluster_id (the
    struct's index field). Dividing by the row's own norm is skipped in
    the argmax (constant across candidates); the norm rides along as a
    column so the pair stage pays ONE norm per row, not per pair.

    Retained as the pure-JVM cross-check twin of :func:`_assign_np`, not
    the default: HOF dots evaluate interpreted (CodegenFallback, ~6 µs
    each measured), so at scale this formulation is bounded by dot count
    however it is expressed — five reformulations measured 8.5 to 23.6 s
    for 1.58 M routing dots at sf1; the Arrow matmul does the same work
    in milliseconds."""
    rows = (
        emb.where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("vec_id", "e")
        .collect()
    )
    ids = F.array(*[F.lit(int(r["vec_id"])) for r in rows])
    seeds = F.array(
        *[
            F.array(
                *[
                    F.lit(float(x) / (sum(v * v for v in r["e"]) ** 0.5))
                    for x in r["e"]
                ]
            )
            for r in rows
        ]
    )
    scored = F.transform(
        F.sequence(F.lit(0), F.lit(len(rows) - 1)),
        lambda c: F.struct(
            (-_dot(F.col("e"), F.element_at(seeds, c + 1))).alias("d"),
            c.alias("i"),
        ),
    )
    return emb.select(
        "vec_id",
        F.element_at(ids, F.array_min(scored)["i"] + 1).alias("cluster_id"),
        "e",
        _norm(F.col("e")).alias("nrm"),
    )


def _route_np(emb: DataFrame, ids, cmat) -> DataFrame:
    """Routing kernel shared by seeded and trained paths: ``cmat`` is a
    64×k numpy matrix of NORMALIZED centroid columns, ``ids`` the
    cluster label per column; one b×64 @ 64×k matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    def route(batches):
        for pdf in batches:
            e = np.array(pdf["e"].tolist(), dtype=np.float64)
            am = np.argmax(e @ cmat, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "cluster_id": ids[am],
                    "e": pdf["e"],
                    "nrm": np.sqrt((e * e).sum(axis=1)),
                }
            )

    # deliberately NOT widen()-ed (r7): the route output feeds an
    # immediate cluster_id-keyed applyInPandas shuffle, which
    # re-parallelizes the expensive per-cluster gram work anyway —
    # measured at sf10, widening added an exchange for nothing
    # (16.1 s → 21.2 s cold)
    return emb.mapInPandas(
        route, "vec_id long, cluster_id long, e array<double>, nrm double"
    )


def _assign_np(emb: DataFrame, k: int = K_SEEDS) -> DataFrame:
    """Vectorized twin of :func:`_assign` — Arrow-batched ``mapInPandas``
    over a broadcast numpy centroid matrix (one b×64 @ 64×k matmul per
    batch). Dense vector math is BLAS-shaped: Spark's higher-order
    functions EXPRESS the dot product but evaluate it interpreted at
    ~6 µs per 64-dim dot (measured; HOFs are CodegenFallback), which is
    3 orders slower than a matmul. This is the same legitimate-Python
    exception class as the multimodal codecs: Arrow batches, columnar
    kernels, no per-row Python. Tie-break parity with the JVM path:
    ``np.argmax`` returns the FIRST maximal index = lowest cluster_id,
    exactly the struct-min tie rule; equality is pinned by
    ``test_semantic_dedup_vectorized_matches_jvm``."""
    import numpy as np

    rows = (
        emb.where(F.col("vec_id") < k)
        .orderBy("vec_id")
        .select("vec_id", "e")
        .collect()
    )
    ids = np.array([int(r["vec_id"]) for r in rows])
    cmat = np.array([r["e"] for r in rows], dtype=np.float64)
    cmat = (cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]).T  # 64×k
    return _route_np(emb, ids, cmat)


def _removed_np(assign: DataFrame) -> DataFrame:
    """Vectorized within-cluster pairing: ``applyInPandas`` per cluster,
    one c×c normalized gram matrix each; a vector is removed when any
    LOWER-vec_id clustermate sits at cosine >= TAU (identical rule to
    the JVM join). Per-group work is (cluster size)² — the quantity
    :func:`adaptive_k` bounds."""
    import numpy as np
    import pandas as pd

    def pair(key, pdf):
        pdf = pdf.sort_values("vec_id")
        e = np.array(pdf["e"].tolist(), dtype=np.float64)
        n = e / pdf["nrm"].values[:, None]
        sim = n @ n.T
        iu = np.triu(sim >= TAU, k=1)  # [i, j]: i<j (vec_id order) and dup
        removed = pdf["vec_id"].values[iu.any(axis=0)]
        return pd.DataFrame(
            {"cluster_id": key[0], "vec_id": removed.astype("int64")}
        )

    return assign.groupBy("cluster_id").applyInPandas(
        pair, "cluster_id long, vec_id long"
    )


def _report_from_assign(assign: DataFrame) -> DataFrame:
    """(cluster_id, n_vecs, n_removed, n_kept, removed_checksum) from a
    materialized vectorized assignment."""
    removed = (
        _removed_np(assign)
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_removed"),
            F.sum("vec_id").alias("removed_sum"),
        )
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n_vecs"))
    return sizes.join(removed, "cluster_id", "left").select(
        "cluster_id",
        "n_vecs",
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        (F.col("n_vecs") - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
        F.coalesce("removed_sum", F.lit(0)).alias("removed_checksum"),
    )


def semantic_dedup_trained(
    spark, emb: DataFrame, k: int = K_SEEDS, iters: int = 3
) -> DataFrame:
    """The production SemDeDup composition: Lloyd's-trained k-means
    codebook (:func:`~ballcone_spark.operators.kmeans.train_ivf_codebook`
    — Abbas et al. cluster with real k-means, not raw seeds) → the same
    vectorized route → pair → greedy-remove report. Iterative training
    puts this beyond a SQL oracle (the kmeans class); the seeded
    :func:`semantic_dedup_report` is the oracle-checked path sharing
    every kernel downstream of the centroid source."""
    import numpy as np

    from ballcone_spark.operators.kmeans import train_ivf_codebook

    cents = train_ivf_codebook(
        spark, emb.select("vec_id", F.col("e").alias("embedding")), k, iters
    ).collect()
    cents = sorted(cents, key=lambda r: r["cell_id"])
    ids = np.array([int(r["cell_id"]) for r in cents])
    cmat = np.array([r["centroid"] for r in cents], dtype=np.float64)
    cmat = (cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]).T
    return _report_from_assign(checkpoint(_route_np(emb, ids, cmat), eager=True))


def semantic_dedup_report(
    emb: DataFrame, k: int = K_SEEDS, vectorized: bool = True
) -> DataFrame:
    """Per-cluster SemDeDup report: (cluster_id, n_vecs, n_removed,
    n_kept, removed_checksum). ``emb`` needs (vec_id, e: array<double>).

    removed_checksum = Σ removed vec_id — a value-level witness that the
    *same* vectors (not merely the same count) were removed.

    ``vectorized=True`` (default, and the registered query's path) runs
    routing and pairing as Arrow/numpy kernels — measured 30.5 s → 1.7 s
    at 20 k vectors; ``vectorized=False`` keeps the pure-JVM expression
    formulation, retained as the cross-check twin (the unit test pins
    both paths to identical output, and the DuckDB oracle checks the
    vectorized path row-for-row)."""
    if vectorized:
        return _report_from_assign(checkpoint(_assign_np(emb, k), eager=True))
    # materialize the routing once: three consumers (sizes + both pair
    # legs) would otherwise re-run the n×k argmax map each
    assign = checkpoint(_assign(emb, k), eager=True)
    a = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("a_id"),
        F.col("e").alias("a_e"),
        F.col("nrm").alias("a_nrm"),
    )
    b = assign.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("b_id"),
        F.col("e").alias("b_e"),
        F.col("nrm").alias("b_nrm"),
    )
    removed = (
        a.join(b, "cluster_id")
        .where(F.col("a_id") < F.col("b_id"))
        .where(
            _dot(F.col("a_e"), F.col("b_e"))
            / (F.col("a_nrm") * F.col("b_nrm"))
            >= TAU
        )
        .select("cluster_id", F.col("b_id").alias("vec_id"))
        .distinct()
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_removed"),
            F.sum("vec_id").alias("removed_sum"),
        )
    )
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n_vecs"))
    return sizes.join(removed, "cluster_id", "left").select(
        "cluster_id",
        "n_vecs",
        F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
        (F.col("n_vecs") - F.coalesce("n_removed", F.lit(0))).alias("n_kept"),
        F.coalesce("removed_sum", F.lit(0)).alias("removed_checksum"),
    )


_SEM_ORACLE = f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
-- adaptive k replayed IN SQL (r7: the old literal {K_SEEDS} made the
-- oracle exact only below K_SEEDS*TARGET_CLUSTER vectors; an sf1 sweep
-- tripped it) — the same max(K_SEEDS, ceil(n/TARGET_CLUSTER)) formula
-- as adaptive_k, derived from the data so the oracle tracks any SF
kval AS (SELECT GREATEST({K_SEEDS},
                         CAST(CEIL(count(*) / {TARGET_CLUSTER}.0) AS BIGINT))
                AS k FROM v),
seeds AS (SELECT vec_id AS cluster_id, e AS c FROM v
          WHERE vec_id < (SELECT k FROM kval)),
scored AS (SELECT v.vec_id, s.cluster_id,
                  list_cosine_similarity(v.e, s.c) AS cos
           FROM v CROSS JOIN seeds s),
assign AS (
    SELECT vec_id, cluster_id FROM (
        SELECT vec_id, cluster_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos DESC, cluster_id) AS rn
        FROM scored) WHERE rn = 1
),
av AS (SELECT a.vec_id, a.cluster_id, v.e FROM assign a JOIN v USING (vec_id)),
rem AS (
    -- CAST: DuckDB SUM(BIGINT) is HUGEINT, which the driver's pandas
    -- hash path renders as float64 while Spark stays int64 (equal
    -- values, divergent hash input) — the CORRECTNESS_r07 red
    SELECT cluster_id, count(*) AS n_removed,
           CAST(sum(vec_id) AS BIGINT) AS removed_sum
    FROM (SELECT DISTINCT a.cluster_id, b.vec_id
          FROM av a JOIN av b
            ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(a.e, b.e) >= {TAU})
    GROUP BY cluster_id
)
SELECT n.cluster_id, n.n_vecs,
       COALESCE(r.n_removed, 0) AS n_removed,
       n.n_vecs - COALESCE(r.n_removed, 0) AS n_kept,
       CAST(COALESCE(r.removed_sum, 0) AS BIGINT) AS removed_checksum
FROM (SELECT cluster_id, count(*) AS n_vecs FROM assign GROUP BY cluster_id) n
LEFT JOIN rem r USING (cluster_id)
ORDER BY n.cluster_id
"""


@_query(
    "docs_semantic_dedup",
    _SEM_ORACLE,
    # promoted to driver r7 (VERDICT r6 #5): the published web-scale
    # semantic-dedup method (Abbas et al.), vectorized route/pair
    # kernels; slot freed by demoting the tpch_q8 echo
)
def docs_semantic_dedup(spark, sf_dir):
    """SemDeDup over the embeddings table with deterministic seed
    centroids: route → within-cluster cosine pairs → greedy
    keep-lowest-id, reported per cluster with a removed-id checksum.
    DuckDB replays the identical pipeline INCLUDING the adaptive
    cluster count (replayed in SQL from the data, r7 — the old
    K=8-literal oracle was exact only ≤ 2 048 vectors and an sf1 sweep
    tripped it); oracle-checked green at sf0.01 / 0.1 / 1."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    return semantic_dedup_report(emb, adaptive_k(emb.count())).orderBy(
        "cluster_id"
    )


def semantic_dedup_keep(
    emb: DataFrame, k: int = K_SEEDS
) -> DataFrame:
    """The materialization consumers actually want: the corpus with the
    removed vectors dropped — (vec_id, cluster_id, e) of survivors.
    Same vectorized route/pair kernels; the removed set anti-joins the
    assignment (hash join on vec_id, no second scoring pass)."""
    assign = checkpoint(_assign_np(emb, k), eager=True)
    removed = _removed_np(assign).select("vec_id")
    return assign.join(removed, "vec_id", "left_anti").select(
        "vec_id", "cluster_id", "e"
    )
