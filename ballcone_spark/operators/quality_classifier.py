"""In-Spark trained quality classifier — logistic regression fit by
batch gradient descent over aggregates, the FineWeb-style *learned*
quality filter (their educational-quality classifier distills labels
into a smooth scorer; here the hand-written curation gate is the label
source being distilled). Beyond-reference (the reference has no corpus
operators).

Why distill a rule the pipeline already has: a hard gate is brittle at
its thresholds and unrankable inside the kept set; the distilled scorer
gives a calibrated, SMOOTH score that (a) ranks docs for budgeted
selection (compose with `docs_token_budget_mix`) and (b) generalizes
when the label source is upgraded (human labels, LLM judgments) with
zero pipeline changes — swap the label column, retrain.

Scale contract (the kmeans/BPE iterative pattern):

- the ONLY corpus-scale work per iteration is one aggregate producing
  d+1 partial sums (map-side combined — the shuffle is d+1 doubles per
  partition, not rows);
- the feature frame is ``localCheckpoint``-ed ONCE and every round
  reads the checkpoint (`tests/test_plans.py::
  test_iterative_loops_read_checkpointed_input` pattern) — without the
  barrier each round re-runs the upstream feature projection;
- weights live on the driver: d+1 floats, bounded by construction —
  the k×d kmeans-centroid collect license.

Determinism: with fixed iterations/learning rate and Spark's stable
partition order the training is reproducible; the pytest replica
re-runs the identical GD in numpy from the collected (X, y) and the
weights must agree to float tolerance (summation order is the only
difference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = [
    "quality_features",
    "train_quality_classifier",
    "score_quality",
    "learned_budget_sample",
    "curation_budget_mix",
]

#: GD rounds × learning rate — picked empirically on the real corpus
#: (unstandardized feature norms ~8 put the stable step near 0.2; at
#: lr 1.0 the descent oscillates and the loss RISES): lr 0.2 × 200
#: rounds takes the log-loss 0.693 → 0.255 with clean class separation
N_ITERS = 200
#: learning rate for the (1/n)-scaled batch gradient
LR = 0.2
#: feature column names in training order (bias is implicit w[0])
FEATURES = ["f_log_tok", "f_uniq_ratio", "f_log_chars"]


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, source, lang, n_tokens, f_log_tok, f_uniq_ratio,
    f_log_chars, label) — JVM-expression features plus the weak label being
    distilled: 1 iff the doc passes the curation pipeline's quality
    gate (n_chars ≥ 100, n_tokens ≥ 20, uniq_ratio ≥ 0.3). One scan,
    no shuffle.

    NULL convention (ADVICE r9): rows with NULL ``n_chars`` are
    filtered alongside NULL text — otherwise f_log_chars is NULL,
    ``F.sum`` silently skips the row in every GD gradient while
    ``n = d.count()`` still includes it (scaling bias), and the NULL
    score lands in a NULL decile group in the report."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_tok = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    uniq_ratio = n_uniq / n_tok
    return docs.where(
        F.col(text_col).isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        "doc_id",
        "source",
        "lang",
        n_tok.alias("n_tokens"),
        F.log1p(n_tok.cast("double")).alias("f_log_tok"),
        uniq_ratio.alias("f_uniq_ratio"),
        F.log1p(F.col("n_chars").cast("double")).alias("f_log_chars"),
        F.when(
            (F.col("n_chars") >= 100)
            & (n_tok >= 20)
            & (uniq_ratio >= 0.3),
            1.0,
        )
        .otherwise(0.0)
        .alias("label"),
    )


def _z(w: list[float]):
    """w·x as a codegen expression (bias + FEATURES dot)."""
    z = F.lit(w[0])
    for j, c in enumerate(FEATURES):
        z = z + F.lit(w[j + 1]) * F.col(c)
    return z


def _round_input(d: DataFrame) -> DataFrame:
    """Seam for the iterative-loop plan gate (the kmeans spy pattern):
    tests patch this to assert each GD round reads the CHECKPOINTED
    feature frame, never the caller's upstream lineage."""
    return d


def train_quality_classifier(
    feats: DataFrame, iters: int = N_ITERS, lr: float = LR
) -> list[float]:
    """Fit [bias, w_f1, ...] by full-batch GD: per round ONE aggregate
    of the per-row gradient components (map-side combined), a bounded
    (d+1)-float collect, a driver-side weight update. ``feats`` is
    checkpointed once up front; every round's aggregate reads the
    checkpoint, never the upstream projection."""
    d = checkpoint(feats.select("label", *FEATURES), eager=True)
    n = d.count()
    if n == 0:
        raise ValueError("empty feature frame")
    w = [0.0] * (len(FEATURES) + 1)
    for _ in range(iters):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(w)))
        err = p - F.col("label")
        row = _round_input(d).agg(
            F.sum(err).alias("g0"),
            *[
                F.sum(err * F.col(c)).alias(f"g{j + 1}")
                for j, c in enumerate(FEATURES)
            ],
        ).first()
        w = [w[j] - lr * row[f"g{j}"] / n for j in range(len(w))]
    return w


def score_quality(
    docs: DataFrame, w: list[float], text_col: str = "text"
) -> DataFrame:
    """The APPLY half: per-doc sigmoid score under trained weights —
    a pure projection (scan → codegen math), no shuffle, composable
    with any downstream rank/sample/mix stage."""
    feats = quality_features(docs, text_col)
    return feats.select(
        "doc_id",
        "source",
        "lang",
        "label",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(w)))).alias("score"),
    )


def quality_classifier_report(
    docs: DataFrame, train_sample_pct: int = 100
) -> DataFrame:
    """(score_decile, n_docs, n_gate_pass) — train on the corpus, score
    the corpus, bucket scores into deciles against the gate label: the
    calibration view that shows the distilled scorer separates (pass
    mass concentrates in high deciles). Integer outputs only — stable
    under float scoring as long as no doc's score sits ON a decile
    boundary, which the margin assertions in the pytest pin.

    ``train_sample_pct`` is the production-scale knob: at 100 TB you
    train the 4-weight model on a deterministic hash sample (GD cost is
    iters × sample passes, and a distillation this small saturates far
    below the corpus size) and still SCORE the full corpus — scoring is
    the one-pass projection. The registered query keeps 100 so the
    pytest replica sees the exact training set."""
    feats = quality_features(docs)
    train = feats
    if train_sample_pct < 100:
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long")
            % 100
        )
        train = feats.where(bucket < train_sample_pct)
    w = train_quality_classifier(train)
    scored = score_quality(docs, w)
    decile = F.least(F.floor(F.col("score") * 10).cast("int"), F.lit(9))
    return (
        scored.groupBy(decile.alias("score_decile"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("label").cast("long").alias("n_gate_pass"),
        )
        .orderBy("score_decile")
    )


@_query(
    "docs_quality_classifier_report",
    None,  # weights come from iterative GD — not SQL-expressible; the
    # pytest replays the identical descent in numpy from the collected
    # (X, y) and pins the weights to float tolerance, plus separation
    # and loss-decrease properties
    driver=False,
)
def docs_quality_classifier_report(spark, sf_dir):
    """Learned quality filter, end to end: distill the curation gate
    into a logistic scorer (aggregate-based GD, one bounded collect per
    round) and report per-decile calibration against the gate label."""
    return quality_classifier_report(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------------ #
# Budgeted selection by learned score (VERDICT r9 #5)                #
# ------------------------------------------------------------------ #

#: One real train run's weights (train_quality_classifier on the
#: sf0.01 corpus, 200 rounds × lr 0.2), FROZEN as literals — the
#: data-derived-literal pattern: the oracle replays the identical
#: linear score from the same constants, so selection is deterministic
#: and cross-engine checkable without re-running GD in SQL.
FROZEN_W = [-0.501825, 0.770918, -0.947434, 0.077805]

#: per-source token allowance for the registered demo query
_LEARNED_BUDGET = 800


def learned_budget_sample(
    docs: DataFrame, w: list[float], budget: int, text_col: str = "text"
) -> DataFrame:
    """(source, doc_id, n_tokens, score_key) — the classifier's stated
    purpose (a): fill each source's token budget HIGHEST-LEARNED-SCORE
    first, replacing the blanket hash-order greedy fill
    (:func:`ballcone_spark.operators.sampling.token_budget_sample`)
    with quality-ranked selection.

    Ranking key: sigmoid is strictly monotone in z = w·x, so ranking
    on z gives the identical order without exp — ``score_key`` is
    round(z, 4) (the repo's cross-engine transcendental convention,
    proven on the bigram-LM family) with doc_id as the deterministic
    tie-break.

    Scale shape (the token_budget_sample lesson): n_tokens ≥ 1 for
    every surviving row, so the cumulative sum at rank r is ≥ r and a
    rank-> budget row can never fit — the row_number pre-prune bounds
    the exact-cumsum window to ≤ budget rows per source and is
    WindowGroupLimit-eligible; no whole-source sort materializes more
    than the budget frontier."""
    from pyspark.sql import Window

    feats = quality_features(docs, text_col)
    win = Window.partitionBy("source").orderBy(
        F.desc("score_key"), "doc_id"
    )
    pruned = (
        feats.withColumn("score_key", F.round(_z(w), 4))
        .withColumn("_rn", F.row_number().over(win))
        .where(F.col("_rn") <= budget)
    )
    cum = F.sum("n_tokens").over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pruned.withColumn("_cum", cum)
        .where(F.col("_cum") <= budget)
        .select("source", "doc_id", "n_tokens", "score_key")
    )


def _learned_budget_oracle(w: list[float], budget: int) -> str:
    """SQL replay: identical features (same NULL convention), identical
    left-associated linear score, identical round(·,4) key, identical
    greedy window. The rank<=budget pre-prune is omitted — DuckDB does
    not need it, and its losslessness is the n_tokens>=1 argument in
    :func:`learned_budget_sample`'s docstring."""
    return f"""
    WITH t AS (
        SELECT doc_id, source, n_chars,
               string_split_regex(trim(text), '\\s+') AS toks
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ), f AS (
        SELECT doc_id, source, len(toks) AS n_tokens,
               round({w[0]}
                     + {w[1]} * ln(1 + len(toks))
                     + {w[2]} * (CAST(len(list_distinct(toks)) AS DOUBLE)
                                 / len(toks))
                     + {w[3]} * ln(1 + n_chars), 4) AS score_key
        FROM t
    ), r AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY source
            ORDER BY score_key DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM f
    )
    SELECT source, doc_id, n_tokens, score_key
    FROM r WHERE cum <= {budget}
    ORDER BY source, doc_id
    """


@_query(
    "docs_learned_budget_mix",
    _learned_budget_oracle(FROZEN_W, _LEARNED_BUDGET),
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_learned_budget_mix(spark, sf_dir):
    """Budgeted selection by learned quality score (VERDICT r9 #5):
    each source's 800-token allowance fills highest-score-first under
    the frozen classifier weights, so WHICH docs ship — not just how
    many — is verified by the independent engine."""
    docs = load_table(spark, sf_dir, "documents")
    return learned_budget_sample(
        docs, FROZEN_W, _LEARNED_BUDGET
    ).orderBy("source", "doc_id")


# ------------------------------------------------------------------ #
# The production composition: gate → dedup keep-best → budget fill   #
# ------------------------------------------------------------------ #

def curation_budget_mix(
    docs: DataFrame, w: list[float], budget: int, text_col: str = "text"
) -> DataFrame:
    """(source, doc_id, n_tokens, score_key) — the full production
    curation order in ONE verified pipeline: quality gate → MinHash-LSH
    near-dup clusters over the passing docs → keep the highest-quality
    member per cluster → fill each source's token budget with the
    SURVIVORS, highest learned score first. Extends
    :func:`ballcone_spark.operators.dedup.curation_keep_best` (which
    stops at the yield report) with the selection stage the corpus
    actually ships through.

    Scale shape: inherits every stage's bounds (df-cut + banding,
    O(log diameter) propagation, windowless argmax, WindowGroupLimit
    budget frontier); the dropped-ids anti-join is merge-pinned —
    its build side tops checkpointed cluster RDDs whose size estimates
    are bogus-small (§6g/§6n class), same pin as curation_keep_best."""
    from ballcone_spark.operators.dedup import (
        dedup_clusters,
        dedup_keep_best,
        minhash_lsh_pairs,
    )

    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    passing = (
        docs.where(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            "source",
            "lang",
            F.col(text_col).alias("text"),
            "n_chars",
            F.size(toks).alias("n_tok"),
            F.size(F.array_distinct(toks)).alias("n_uniq"),
        )
        .where(
            (F.col("n_chars") >= 100)
            & (F.col("n_tok") >= 20)
            & ((F.col("n_uniq") / F.col("n_tok")) >= 0.3)
        )
    )
    pairs = minhash_lsh_pairs(
        passing.select("doc_id", "text"), vectorized=True
    ).select("a_id", "b_id")
    clusters = dedup_clusters(pairs)
    kb = dedup_keep_best(
        clusters, passing.select("doc_id", F.col("n_uniq").alias("score"))
    )
    dropped = clusters.join(
        kb.select(F.col("kept_doc_id").alias("doc_id")).hint("merge"),
        "doc_id",
        "left_anti",
    ).select("doc_id")
    kept = passing.join(dropped.hint("merge"), "doc_id", "left_anti")
    return learned_budget_sample(
        kept.select("doc_id", "source", "lang", "text", "n_chars"),
        w,
        budget,
        text_col="text",
    )


def _curation_budget_oracle(w: list[float], budget: int) -> str:
    # dedup has no import back into this module, so the closure CTE
    # builder is safe to import at registration time
    from ballcone_spark.operators.dedup import _cluster_labels_cte

    return f"""
    WITH RECURSIVE
    q0 AS (SELECT doc_id, source, lang, n_chars, text,
                  string_split_regex(trim(text), '\\s+') AS t
           FROM documents WHERE text IS NOT NULL),
    q AS (SELECT doc_id, source, lang, text, n_chars,
                 len(t) AS n_tok, len(list_distinct(t)) AS n_uniq
          FROM q0
          WHERE n_chars >= 100 AND len(t) >= 20
            AND len(list_distinct(t)) * 1.0 / len(t) >= 0.3),
    {_cluster_labels_cte(src="q")},
    ranked AS (
        SELECT l.id, l.cluster_id,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY q.n_uniq DESC, l.id ASC) AS rn
        FROM labels l JOIN q ON q.doc_id = l.id),
    dropped AS (SELECT id AS doc_id FROM ranked WHERE rn > 1),
    kept AS (SELECT q.* FROM q LEFT JOIN dropped d USING (doc_id)
             WHERE d.doc_id IS NULL),
    f AS (
        SELECT doc_id, source, n_tok AS n_tokens,
               round({w[0]}
                     + {w[1]} * ln(1 + n_tok)
                     + {w[2]} * (CAST(n_uniq AS DOUBLE) / n_tok)
                     + {w[3]} * ln(1 + n_chars), 4) AS score_key
        FROM kept),
    r AS (
        SELECT *, sum(n_tokens) OVER (
            PARTITION BY source
            ORDER BY score_key DESC, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM f)
    SELECT source, doc_id, n_tokens, score_key
    FROM r WHERE cum <= {budget}
    ORDER BY source, doc_id
    """


@_query(
    "docs_curation_budget_mix",
    _curation_budget_oracle(FROZEN_W, _LEARNED_BUDGET),
    # promoted r11 (VERDICT r10 #1): the full production curation order in
    # one oracle-replayed query; docs_simhash demoted to make the slot
)
def docs_curation_budget_mix(spark, sf_dir):
    """The production pipeline END-TO-END: gate → near-dup cluster →
    keep-best → learned-score budget fill, one oracle replaying every
    stage (gate thresholds, recursive-closure clusters, quality argmax,
    frozen-weight ranking, greedy cumsum) so WHICH docs ship through
    the whole composition is verified by the independent engine."""
    return curation_budget_mix(
        load_table(spark, sf_dir, "documents"), FROZEN_W, _LEARNED_BUDGET
    )
