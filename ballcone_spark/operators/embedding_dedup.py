"""Embedding-space near-duplicate detection + IVF-routed ANN — the
vector twins of the text dedup operators.

- :func:`embedding_near_dup_pairs` — pairs with cosine ≥ threshold.
  Scale path mirrors MinHash-LSH: multi-probe hyperplane-LSH buckets
  generate candidates (Hamming-≤1 bucket expansion — the classic
  multi-probe trick: each vector also probes the 8 buckets one bit-flip
  away, lifting recall without shrinking the bucket space), exact cosine
  verifies. Candidates stay bucket-bounded: expansion multiplies probe
  cost by (planes+1), never degenerates toward all-pairs.
- :func:`ivf_ann` — IVF coarse quantization: k-means-style cells (here:
  the labeled centroids as a stand-in codebook), route each query to its
  nearest cell, exact-rerank only that cell. The standard trade: recall
  bounded by cell routing, cost divided by n_cells.

Driver-checked quality gates (VERDICT r2 #1/#2): both approximate paths
are verified through **recall queries** with full DuckDB oracles —
``dedup_embedding_cosine_recall`` (LSH-found pairs vs the exact
all-pairs truth at cosine ≥ 0.45) and ``embeddings_ann_ivf_recall``
(IVF top-5 vs brute-force top-5). The hyperplanes are md5-derived
literals shared verbatim with the oracle SQL, so DuckDB reproduces the
exact bucketing/routing and every number is hash-comparable. The
corpus has no planted high-cosine pairs (max pair ≈ 0.51 at sf0.01), so
0.45 is the highest threshold with a non-trivial truth set — the old
0.9-threshold driver check was vacuously green (0 rows vs 0 rows).
"""

from __future__ import annotations

import hashlib
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ballcone_spark.operators.similarity import _dot, cosine
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = [
    "embedding_near_dup_pairs",
    "embedding_candidate_pairs",
    "ivf_ann",
    "ivf_ann_np",
    "PROBE_PLANES",
]

_COS_THRESHOLD = 0.9
_RECALL_THRESHOLD = 0.45
_N_PROBES = 4
_N_PLANES = 8
_DIM = 64
_K = 5
_N_QUERIES = 5


def _plane_weight_py(probe: int, p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1): first 8 md5 hex
    digits of "probe{probe}_plane_{p}_dim_{d}" → int, folded to ‰
    precision. Computed once in Python and embedded as literals in BOTH
    the Spark plan and the oracle SQL (same pattern as
    similarity.PLANES) — any engine reproduces the same planes."""
    h = int(
        hashlib.md5(f"probe{probe}_plane_{p}_dim_{d}".encode()).hexdigest()[:8],
        16,
    )
    return (h % 2001 - 1000) / 1000.0


#: PROBE_PLANES[probe][p] = 64 weights of hyperplane p in probe table
#: ``probe`` (exact multiples of 0.001 — parse identically as doubles in
#: Spark and DuckDB).
PROBE_PLANES: list[list[list[float]]] = [
    [[_plane_weight_py(t, p, d) for d in range(_DIM)] for p in range(_N_PLANES)]
    for t in range(_N_PROBES)
]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )


_TARGET_OCCUPANCY = 8


def _adaptive_n_planes(n_rows: int) -> int:
    """Corpus-adaptive hyperplane count (round-6 scale fix, same class
    as the jaccard adaptive df-cut): a FIXED plane count means a fixed
    bucket space (2^planes per probe), so expected bucket occupancy —
    and with it candidate pairs — grows as O(n²/2^planes): quadratic in
    density. Found by measuring `dedup_embedding_cosine` at sf1/sf3
    (20 k vecs → ~56 M candidates at 8 planes, a 50-minute verify).
    Growing planes with log2(n/target) pins occupancy ≈
    _TARGET_OCCUPANCY, making candidate volume ≈
    n · (planes+2) · occupancy · probes — linear in n with a small
    constant (occupancy is single-digit because the multi-probe key fan
    (planes+2 keys/row) and 4 probe tables multiply it). Floor
    _N_PLANES keeps every corpus the driver oracle-checks (≤2 k vectors
    at sf≤0.1) on the EXACT plane set the static oracle SQL replicates;
    cap 30 keeps bucket ids in a 32-bit int. Cost of more planes is a
    per-probe recall drop (sign-LSH bit-agreement p^planes — ≈0.92
    across the 4 Hamming-1 probes at 12 planes for 0.9-cosine pairs) —
    at extreme scale raise _N_PROBES / the Hamming radius alongside,
    the standard bands-vs-rows trade (documented, not auto-tuned)."""
    import math

    if n_rows <= 0:
        return _N_PLANES
    return min(30, max(_N_PLANES, math.ceil(math.log2(max(1.0, n_rows / _TARGET_OCCUPANCY)))))


def _planes_for(probe: int, n_planes: int) -> list[list[float]]:
    """First ``n_planes`` hyperplanes of a probe table — the md5-derived
    sequence extends PROBE_PLANES deterministically for any count."""
    if n_planes <= _N_PLANES:
        return PROBE_PLANES[probe][:n_planes]
    return PROBE_PLANES[probe] + [
        [_plane_weight_py(probe, p, d) for d in range(_DIM)]
        for p in range(_N_PLANES, n_planes)
    ]


def _probe_bucket_col(vec, probe: int, n_planes: int = _N_PLANES):
    """Sign-bit bucket id of ``vec`` in probe table ``probe``."""
    bits = [
        F.when(
            _dot(vec, F.array(*[F.lit(w) for w in _planes_for(probe, n_planes)[p]]))
            >= 0,
            F.lit(1 << p),
        ).otherwise(F.lit(0))
        for p in range(n_planes)
    ]
    return reduce(lambda a, b: a + b, bits)


def _signatures(emb: DataFrame, n_planes: int = _N_PLANES) -> DataFrame:
    """(vec_id, probe, bucket) — one scan, buckets for all probe tables
    via posexplode (pure per-row map, zero shuffle)."""
    return emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    _probe_bucket_col(F.col("embedding"), t, n_planes)
                    for t in range(_N_PROBES)
                ]
            )
        ).alias("probe", "bucket"),
    )


def embedding_candidate_pairs(
    emb: DataFrame, hamming: int = 1, n_planes: int | None = None
) -> DataFrame:
    """Unordered candidate pairs (a_id, b_id) whose bucket signatures
    differ by ≤ ``hamming`` bits in at least one probe table.

    One side expands each vector's bucket to itself + all ``planes``
    one-bit flips (Hamming-1 multi-probe), the other keeps the exact
    bucket; an equi-join on (probe, bucket) then catches exactly the
    Hamming-≤1 collisions. Everything is an equi-join on a bounded key
    space — no all-pairs path at any corpus size, and with the default
    adaptive ``n_planes`` (one count() at build) the key space grows
    with the corpus so bucket occupancy — hence candidate volume per
    row — stays bounded (see _adaptive_n_planes)."""
    if n_planes is None:
        n_planes = _adaptive_n_planes(emb.count())
    sigs = _signatures(emb, n_planes)
    if hamming == 0:
        keys = sigs.select("vec_id", "probe", F.col("bucket").alias("key"))
    else:
        keys = sigs.select(
            "vec_id",
            "probe",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(n_planes)
                    ],
                )
            ).alias("key"),
        )
    exact = sigs.select(
        F.col("vec_id").alias("b_id"), "probe", F.col("bucket").alias("key")
    )
    return (
        keys.join(exact, ["probe", "key"])
        .where(F.col("vec_id") != F.col("b_id"))
        .select(
            F.least("vec_id", "b_id").alias("a_id"),
            F.greatest("vec_id", "b_id").alias("b_id"),
        )
        .distinct()
    )


def _verified_pairs(emb: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-cosine verification on candidates only (two equi-joins on
    vec_id — AQE broadcasts the small side at runtime)."""
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = _COS_THRESHOLD,
    n_planes: int | None = None,
) -> DataFrame:
    """(a_id, b_id, cos) for cosine ≥ threshold via Hamming-1 multi-probe
    LSH candidates + exact verification on candidates only. At the 0.9
    near-dup threshold a pair collides in ≥1 of the 4 probe tables with
    p ≈ 0.99 (vs 0.75 for exact-bucket probing — the r2 configuration)
    at the 8-plane floor; ``n_planes=None`` adapts the plane count to
    the corpus so candidate volume stays linear (see
    _adaptive_n_planes for the recall trade at extreme scale)."""
    return (
        _verified_pairs(
            emb, embedding_candidate_pairs(emb, n_planes=n_planes), threshold
        )
        .select("a_id", "b_id", F.round("cos", 4).alias("cos"))
        .orderBy("a_id", "b_id")
    )


@_query(
    "dedup_embedding_cosine",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                     list_cosine_similarity(a.e, b.e) AS cos
              FROM v a JOIN v b ON a.vec_id < b.vec_id)
    SELECT a_id, b_id, round(cos, 4) AS cos
    FROM pairs WHERE cos >= {_COS_THRESHOLD}
    ORDER BY a_id, b_id
    """,
    driver=False,  # vacuous at sf0.01 (no pairs ≥0.9 exist); the driver-
    # checked quality gate is dedup_embedding_cosine_recall below
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup pairs (cos ≥ 0.9): the production API, with
    the corpus-adaptive plane count. The static oracle SQL replicates
    the 8-plane floor exactly, which the adaptive count equals for every
    corpus ≤ 2^8·8 = 2 048 vectors — covering all oracle-checked SFs
    (200 at sf0.01, 2 000 at sf0.1); above that
    the plane set grows (log2) and the oracle's fixed replica is a
    recall-differing approximation of the same exact-verified semantics
    (same validity-domain class as the jaccard df-cut budget). The
    testdata plants no pairs ≥0.9, so the driver gate is the recall
    query; the planted-dup unit test (tests/test_operators.py) pins
    recall on synthetic near-identical vectors."""
    return embedding_near_dup_pairs(_emb(spark, sf_dir))


def _duck_probe_bucket_expr(vec: str, probe: int) -> str:
    terms = []
    for p in range(_N_PLANES):
        arr = "[" + ", ".join(repr(w) for w in PROBE_PLANES[probe][p]) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product({vec}, {arr}) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


def _duck_sigs_sql() -> str:
    return "\nUNION ALL\n".join(
        f"SELECT vec_id, {t} AS probe, {_duck_probe_bucket_expr('e', t)} AS bucket FROM v"
        for t in range(_N_PROBES)
    )


_DUCK_HAMMING_KEYS = ", ".join(
    ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(_N_PLANES)]
)


@_query(
    "dedup_embedding_cosine_recall",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sigs AS ({_duck_sigs_sql()}),
    keys AS (SELECT vec_id, probe, unnest([{_DUCK_HAMMING_KEYS}]) AS key
             FROM sigs),
    cand AS (SELECT DISTINCT least(k.vec_id, s.vec_id) AS a_id,
                    greatest(k.vec_id, s.vec_id) AS b_id
             FROM keys k JOIN sigs s
               ON k.probe = s.probe AND k.key = s.bucket
              AND k.vec_id != s.vec_id),
    found AS (SELECT c.a_id, c.b_id FROM cand c
              JOIN v va ON va.vec_id = c.a_id
              JOIN v vb ON vb.vec_id = c.b_id
              WHERE list_cosine_similarity(va.e, vb.e) >= {_RECALL_THRESHOLD}),
    truth AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id
              FROM v a JOIN v b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.e, b.e) >= {_RECALL_THRESHOLD})
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT count(*) FROM found) AS BIGINT) AS n_found,
           round((SELECT count(*) FROM found) * 1.0
                 / (SELECT count(*) FROM truth), 4) AS recall
    """,
    driver=False,  # demoted r11: 1-row recall echo whose guarantee the
    # three embeddings_ann_*_recall entries already carry; slot freed for
    # docs_chunk_alias_map (still oracle-checked via test_oracle_diff)
)
def dedup_embedding_cosine_recall(spark, sf_dir):
    """Recall of the multi-probe LSH near-dup path vs the exact all-pairs
    truth at cosine ≥ 0.45 (the highest threshold with a non-trivial
    truth set in this corpus) — the non-vacuous driver gate VERDICT r2
    asked for. Every LSH-found pair is exact-verified, so false
    positives are impossible and recall = found/true. The all-pairs side
    is the measurement harness (the same bounded role
    knn_bruteforce plays for ANN), not a production path; the probe
    planes are literals shared with the oracle, so the bucketing is
    bit-reproducible in DuckDB and the single result row hash-matches.
    The plane count is PINNED at the 8-plane floor (not adaptive) so
    the static oracle stays exact at every SF — the gate's cost at
    scale is its all-pairs truth side anyway."""
    emb = _emb(spark, sf_dir)
    found = _verified_pairs(
        emb,
        embedding_candidate_pairs(emb, n_planes=_N_PLANES),
        _RECALL_THRESHOLD,
    )
    a = emb.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("eb"))
    truth = (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .where(cosine(F.col("ea"), F.col("eb")) >= _RECALL_THRESHOLD)
        .select("a_id", "b_id")
    )
    n_found = found.agg(F.count("*").cast("long").alias("n_found"))
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    return n_true.crossJoin(n_found).select(
        "n_true",
        "n_found",
        F.round(F.col("n_found") / F.col("n_true"), 4).alias("recall"),
    )


def ivf_ann(
    emb: DataFrame, queries: DataFrame, centroids: DataFrame, k: int
) -> DataFrame:
    """IVF search: assign corpus + queries to nearest centroid (broadcast
    codebook), exact-rerank inside the query's cell only.

    ``centroids``: (cell_id, centroid array<double>). Cost per query is
    corpus/n_cells; recall is bounded by routing (probe more cells for
    higher recall). Returns (query_id, neighbor_id, sim, rank).

    Routing is a **map-side argmax**: the codebook collapses to one row
    holding an array<struct(cell_id, centroid)>, broadcast onto every
    corpus row, and the nearest cell is ``array_max`` over a ``transform``
    fold — struct comparison is lexicographic, so max(sim, -cell_id)
    gives highest-similarity cell with ties to the lowest cell_id. Zero
    Exchange before the cell join (gated in tests/test_plans.py); the old
    formulation crossJoined corpus×cells then picked argmax with a
    row_number window partitioned by vec_id, shuffling corpus×n_cells
    rows — exactly the shuffle IVF exists to avoid."""
    cells = centroids.agg(
        F.collect_list(F.struct("cell_id", "centroid")).alias("_cells")
    )

    def assign(df, vec_col):
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
            df.join(F.broadcast(cells))
            .withColumn("cell_id", -best["neg_cell"])
            .drop("_cells")
        )

    # Lineage barrier on the corpus assignment: without it, the
    # interpreted argmax fold is re-inlined into the cell join and
    # re-evaluates ~per candidate row — measured at sf10 (200 k × 10
    # cells): scoring 59.7 s fused vs 0.4 s behind the barrier, with
    # the barrier'd corpus side at 2.0 s. Materializing the assignment
    # is also what a production IVF does — the cell index IS the
    # materialized routing. The lazy checkpoint keeps plan-build free; the
    # query-side assign (a handful of rows) stays inline so the plan
    # gate still sees the fold.
    corpus = checkpoint(assign(emb, "embedding"))
    q = assign(
        queries.select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
        ),
        "qe",
    )
    cand = corpus.join(F.broadcast(q), "cell_id").where(
        F.col("query_id") != F.col("vec_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("qe"), F.col("embedding")).alias("sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
        .orderBy("query_id", "rank")
    )


def ivf_ann_np(
    emb: DataFrame, queries: DataFrame, centroids: DataFrame, k: int
) -> DataFrame:
    """Arrow twin of :func:`ivf_ann` — route + score in ONE kernel pass.

    The JVM fold's real cost only shows when the routing column is
    consumed: a ``count()`` over the assignment prunes the fold
    entirely (Catalyst), which is why the r7 profile first blamed the
    window tail. Measured with the projection kept: 200 k corpus rows ×
    10 cells ≈ 30 s of interpreted cosines (each ``cosine`` is THREE
    CodegenFallback folds over 64 elements) — and without a lineage
    barrier the fused plan re-evaluated it ~2× (59.7 s). Here the
    codebook and the (assigned) queries broadcast as numpy matrices;
    each Arrow batch pays one b×k routing matmul plus one b×nq scoring
    matmul, masked to same-cell candidates. Top-k keeps the JVM
    WindowGroupLimit tail like every ANN peer.

    Tie parity with the JVM twin: centroid columns are sorted by
    cell_id, so ``np.argmax``'s first-maximum rule equals the
    ``max(struct(sim, -cell_id))`` rule; equality at the oracle SF is
    pinned by ``test_ivf_ann_np_matches_jvm``. Residual ulp risk
    (matmul vs sequential fold flipping a near-tie) is the same
    accepted class as the PQ encode ties."""
    import numpy as np

    crows = centroids.orderBy("cell_id").collect()
    cids = np.array([int(r["cell_id"]) for r in crows])
    cmat = np.array([r["centroid"] for r in crows], dtype=np.float64)
    cn = cmat / np.sqrt((cmat * cmat).sum(axis=1))[:, None]
    qrows = (
        queries.select("vec_id", "embedding").orderBy("vec_id").collect()
    )
    qids = np.array([int(r["vec_id"]) for r in qrows])
    qmat = np.array([r["embedding"] for r in qrows], dtype=np.float64)
    qn = qmat / np.sqrt((qmat * qmat).sum(axis=1))[:, None]
    qcell = cids[np.argmax(qn @ cn.T, axis=1)]

    def score(batches):
        import pandas as pd

        for pdf in batches:
            e = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            en = e / np.sqrt((e * e).sum(axis=1))[:, None]
            cell = cids[np.argmax(en @ cn.T, axis=1)]
            sim = en @ qn.T  # (b, nq)
            vid = pdf["vec_id"].values
            out_q, out_n, out_s = [], [], []
            for j, (qid, qc) in enumerate(zip(qids, qcell)):
                m = (cell == qc) & (vid != qid)
                out_q.append(np.full(int(m.sum()), qid, dtype=np.int64))
                out_n.append(vid[m])
                out_s.append(sim[m, j])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "sim": np.concatenate(out_s),
                }
            )

    from ballcone_spark.plans.parallelism import widen

    scored = widen(emb.select("vec_id", "embedding")).mapInPandas(
        score, "query_id long, neighbor_id long, sim double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rank")
        .orderBy("query_id", "rank")
    )


def _label_centroids(emb: DataFrame) -> DataFrame:
    """(cell_id, centroid): per-label elementwise mean — the stand-in
    codebook (k-means assignments would slot in identically)."""
    return emb.groupBy(F.col("label").alias("cell_id")).agg(
        F.array(
            *[
                F.avg(F.element_at("embedding", i + 1)).alias(f"c{i}")
                for i in range(_DIM)
            ]
        ).alias("centroid")
    )


@_query(
    "embeddings_ann_ivf_recall",
    f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
    dims AS (SELECT label, t.d AS dim, avg(e[t.d]) AS m
             FROM v, range(1, {_DIM + 1}) t(d) GROUP BY label, t.d),
    cent AS (SELECT label AS cell_id, list(m ORDER BY dim) AS c
             FROM dims GROUP BY label),
    scored_cells AS (SELECT v.vec_id, v.e, c.cell_id,
                            list_cosine_similarity(v.e, c.c) AS sim
                     FROM v CROSS JOIN cent c),
    assign AS (SELECT vec_id, e, cell_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY sim DESC, cell_id) AS rn
        FROM scored_cells) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, e AS qe, cell_id FROM assign
          WHERE vec_id < {_N_QUERIES}),
    ivf_scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                          list_cosine_similarity(q.qe, c.e) AS sim
                   FROM q JOIN assign c
                     ON q.cell_id = c.cell_id AND c.vec_id != q.query_id),
    ivf AS (SELECT query_id, neighbor_id FROM (
               SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, neighbor_id) AS rank FROM ivf_scored)
            WHERE rank <= {_K}),
    bf_scored AS (SELECT q.query_id, c.vec_id AS neighbor_id,
                         list_cosine_similarity(q.qe, c.e) AS sim
                  FROM q JOIN v c ON c.vec_id != q.query_id),
    bf AS (SELECT query_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rank FROM bf_scored)
           WHERE rank <= {_K})
    SELECT b.query_id, CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           round(count(a.neighbor_id) / {_K}.0, 4) AS recall
    FROM bf b LEFT JOIN ivf a
      ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id
    GROUP BY b.query_id ORDER BY b.query_id
    """,
)
def embeddings_ann_ivf_recall(spark, sf_dir):
    """recall@5 of IVF ANN vs the exact brute-force top-5, per query —
    the missing oracle VERDICT r2 #1 asked for, mirroring
    embeddings_ann_lsh_recall (operators/similarity.py). Centroids
    (per-label AVG per dim) and argmax routing with the (sim, -cell_id)
    tie-break are both reproduced in DuckDB SQL, so the driver
    hash-verifies the full IVF path; recall counts neighbor-ID
    membership only, immune to last-ulp similarity noise."""
    from ballcone_spark.operators.similarity import knn_bruteforce_np

    emb = _emb(spark, sf_dir)
    q = emb.where(F.col("vec_id") < _N_QUERIES)
    # r7: Arrow matmul truth side (output pinned identical to the HOF
    # twin; the interpreted path cost 5×corpus dots at ~6 µs each)
    bf = knn_bruteforce_np(emb, q, _K).select("query_id", "neighbor_id")
    # r7: the Arrow routing/scoring twin is the shipped path (output
    # pinned identical to the JVM fold by test_ivf_ann_np_matches_jvm)
    ivf = (
        ivf_ann_np(emb, q, _label_centroids(emb), _K)
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        bf.join(ivf, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("hits"),
            F.round(F.count("_hit") / float(_K), 4).alias("recall"),
        )
        .orderBy("query_id")
    )
