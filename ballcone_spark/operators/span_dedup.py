"""Exact duplicated-span detection between document pairs — the
substring-level duplicate signal of Lee et al. 2021 ("Deduplicating
Training Data Makes Language Models Better": near-duplicate *documents*
are only half the problem; verbatim *spans* repeated across otherwise
different documents measurably hurt LMs). Beyond-reference (the
reference has no corpus operators); completes the dedup family's
coverage matrix: exact-doc (md5), set-level (Jaccard/containment/
MinHash/SimHash), vector-level (cosine/SemDeDup) — and now span-level.

The published method builds a corpus-wide suffix array — inherently
single-machine. The same signal is relational: two documents share a
verbatim span of ≥ S tokens iff they agree on S−k+1 *consecutive*
k-gram positions along one alignment diagonal (pos_a − pos_b
constant). That makes it four codegen-friendly stages:

  gram rows (doc_id, pos, g)   posexplode + lead windows (codegen;
                               the measured-fastest gram assembly)
  df-cut on hot grams          anti-join, the jaccard/decontamination
                               trick — bounds the join fan-out
  self-join on the gram key    ONE gram-keyed shuffle, skew bounded
                               by the df-cut
  diagonal gaps-and-islands    row_number window per (pair, diagonal);
                               run of R matches = span of R+k−1 tokens

Scale notes (the 100 TB lens): the only corpus-sized shuffles are the
gram self-join (keyed on an injectivity-checked xxhash64 of the gram —
8-byte payloads, the `_rare_shingle_candidates` pattern) and the
islands window (keyed on (a_id, b_id, diagonal) — partition size is
bounded by one pair's matched positions ≤ the shorter doc's length).
Hot-gram pairs are cut before the join, so fan-out per gram is
≤ max_df² instance pairs, linear overall under a fixed cut.

Recall envelope (documented, deterministic): a span survives exactly
as its *surviving* gram positions run consecutively — a corpus-hot
k-gram inside an otherwise-rare span splits (or, if the whole span is
boilerplate repeated > max_df times, drops) the island. Both engines
apply the identical cut, so the oracle is exact, and the dropped class
is precisely the corpus-wide boilerplate that `docs_boilerplate_spans`
flags through its own frequency lens.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ballcone_spark.operators.lm_quality import _gram_rows
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = [
    "exact_span_pairs",
    "dup_span_coverage",
    "qualifying_spans",
    "span_deduped_corpus",
]

#: k-gram width: wide enough that random token collisions are
#: negligible, narrow enough that spans only slightly longer than the
#: report threshold still contribute many consecutive positions
SPAN_K = 8
#: minimum verbatim span length (tokens) a pair must share to be
#: reported — the Lee et al. threshold is 50 BPE tokens ≈ 20-25 words
MIN_SPAN = 20
#: corpus-frequency cut: gram instances above this are treated as
#: boilerplate and never joined (fan-out bound, see module docstring)
SPAN_MAX_DF = 64
#: linear candidate budget (the jaccard family's constants): the
#: adaptive cut lowers SPAN_MAX_DF until Σ C(df,2) fits this
_SPAN_BUDGET_FLOOR = 2_000_000
_SPAN_BUDGET_PER_DOC = 64


def exact_span_pairs(
    docs: DataFrame,
    k: int = SPAN_K,
    min_span: int = MIN_SPAN,
    max_df: int = SPAN_MAX_DF,
    text_col: str = "text",
    pair_budget: int | None = None,
) -> DataFrame:
    """(a_id, b_id, n_spans, max_span, dup_tokens) for every doc pair
    sharing ≥ 1 verbatim token span of ≥ ``min_span`` tokens built from
    sub-cut k-grams. ``dup_tokens`` sums qualifying span lengths per
    pair (per-diagonal; overlapping diagonals each count — it is a
    duplication *mass* signal, not a coverage measure)."""
    spans = _qualifying_spans(docs, k, min_span, max_df, text_col, pair_budget)
    return (
        spans.groupBy("a_id", "b_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.max("span").alias("max_span"),
            F.sum("span").alias("dup_tokens"),
        )
        .orderBy("a_id", "b_id")
    )


def _qualifying_spans(
    docs: DataFrame,
    k: int,
    min_span: int,
    max_df: int,
    text_col: str,
    pair_budget: int | None = None,
) -> DataFrame:
    """(a_id, b_id, d, start_a, span): every maximal verbatim span of
    ≥ ``min_span`` tokens between a doc pair — one row per (pair,
    diagonal, island). ``start_a`` is the span's first token position
    in doc a; in doc b it starts at ``start_a − d``. The shared back
    half of :func:`exact_span_pairs` and :func:`dup_span_coverage`.

    ``pair_budget`` (default ``max(2 M, 64·n_docs)`` — the jaccard
    family's linear budget) bounds the self-join fan-out on corpora
    where even sub-``max_df`` grams are dense (worst case Σ C(df,2) ≈
    32·gram instances at df ≡ 64): :func:`adaptive_df_cut` lowers the
    cut until candidate rows fit. Unlike jaccard there is NO sketch
    fallback — MinHash can propose a *pair* but locating its span
    positions needs the positional gram join this budget is bounding —
    so a binding budget narrows recall to spans containing at least
    one sub-cut gram. The cut is data-derived by formula, and the
    oracle replays the identical formula in SQL (histogram → running
    pair sum → first overflowing df), so the oracle stays EXACT at any
    scale, binding or not."""
    if pair_budget is None:
        pair_budget = max(_SPAN_BUDGET_FLOOR, _SPAN_BUDGET_PER_DOC * docs.count())
    g = _gram_rows(docs, text_col, k)
    # 8-byte join keys when xxhash64 is injective on this corpus's
    # grams (the _rare_shingle_candidates license: a collision anywhere
    # degrades to the string path, exactness never rests on odds)
    inj = g.agg(
        (F.countDistinct("g") == F.countDistinct(F.xxhash64("g"))).alias("ok")
    ).first()["ok"]
    # materialize the (hashed) gram rows ONCE: without the barrier the
    # posexplode+lead assembly re-runs for the hot-gram build and once
    # per self-join side (4 assemblies total). Measured cost-neutral at
    # sf10 (the pair self-join dominates — BASELINE §6j), kept because
    # it deletes three corpus-wide window shuffles from the plan, the
    # term that grows with document length
    gi = checkpoint(
        g.select("doc_id", "pos", F.xxhash64("g").alias("g")) if inj else g
    )
    from ballcone_spark.operators.dedup import adaptive_df_cut

    cut, _collapsed = adaptive_df_cut(
        gi.select(F.col("g").alias("s")), max_df, pair_budget
    )
    hot = (
        gi.groupBy("g")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > cut)
        .select("g")
    )
    rare = gi.join(F.broadcast(hot), "g", "left_anti")
    a = rare.select(
        F.col("doc_id").alias("a_id"), F.col("pos").alias("pos_a"), "g"
    )
    b = rare.select(
        F.col("doc_id").alias("b_id"), F.col("pos").alias("pos_b"), "g"
    )
    # MERGE-pin the gram self-join: both sides are the corpus's rare
    # gram rows, but their static estimate is bogus-small — `gi` is a
    # checkpointed LogicalRDD that PROPAGATES the original window/
    # generate-topped plan's estimate (the §6g class), so at sf10 the
    # planner picked BuildRight and tried to build a hashed relation
    # over ~43 M gram rows in the broadcast thread (8 GiB driver OOM
    # once more than one such build ran concurrently in the deletion
    # transform). SMJ spills gracefully at any corpus size.
    m = (
        a.join(b.hint("merge"), "g")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            (F.col("pos_a") - F.col("pos_b")).alias("d"),
            "pos_a",
        )
    )
    # gaps-and-islands: on one diagonal pos_a values are unique, so
    # (pos_a − row_number) is constant exactly along consecutive runs
    w = Window.partitionBy("a_id", "b_id", "d").orderBy("pos_a")
    return (
        m.withColumn("_grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("a_id", "b_id", "d", "_grp")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.count("*") + (k - 1)).alias("span"),
        )
        .where(F.col("span") >= min_span)
        .drop("_grp")
    )


def qualifying_spans(
    docs: DataFrame,
    k: int = SPAN_K,
    min_span: int = MIN_SPAN,
    max_df: int = SPAN_MAX_DF,
    text_col: str = "text",
    pair_budget: int | None = None,
) -> DataFrame:
    """Public form of :func:`_qualifying_spans` with the family's
    defaults — the materialization point for a checkpointed release
    pipeline (the gram self-join is the expensive stage; persist this
    frame, then feed it to ``span_deduped_corpus(docs, spans=...)``)."""
    return _qualifying_spans(docs, k, min_span, max_df, text_col,
                             pair_budget)


def dup_span_coverage(
    docs: DataFrame,
    k: int = SPAN_K,
    min_span: int = MIN_SPAN,
    max_df: int = SPAN_MAX_DF,
    text_col: str = "text",
    pair_budget: int | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, covered_tokens, covered_frac) — per document,
    how many of its tokens sit inside ≥ 1 qualifying cross-document
    verbatim span (either side of any pair). This is the *deletion*
    signal of Lee et al. 2021: their pipeline removes one occurrence of
    every duplicated span; ``covered_frac`` is the per-doc duplication
    exposure a curator thresholds on.

    Interval union is relational gaps-and-islands again — sort a doc's
    span intervals by start, clamp each to start after the running max
    end of its predecessors, sum the clamped widths. No per-token
    explode: the window partitions by doc_id (bounded by one doc's span
    count) and everything stays in codegen.

    NOTE (measured, do not "fix"): the a-side/b-side interval union
    does NOT re-run the span pipeline — the two branches share its
    shuffles via ReusedExchange, and a pre-union ``spans`` checkpoint
    measured 2× SLOWER at sf10 (76.9 → 155.4 s: it forces a full
    materialization the reused-exchange plan never pays, and blocks
    downstream stage pipelining)."""
    spans = _qualifying_spans(docs, k, min_span, max_df, text_col, pair_budget)
    iv = spans.select(
        F.col("a_id").alias("doc_id"),
        F.col("start_a").alias("s"),
        (F.col("start_a") + F.col("span") - 1).alias("e"),
    ).unionAll(
        spans.select(
            F.col("b_id").alias("doc_id"),
            (F.col("start_a") - F.col("d")).alias("s"),
            (F.col("start_a") - F.col("d") + F.col("span") - 1).alias("e"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cov = (
        iv.withColumn("_pmax", F.max("e").over(w))
        .select(
            "doc_id",
            F.greatest(
                F.lit(0),
                F.col("e")
                - F.greatest(F.col("s"), F.coalesce(F.col("_pmax") + 1, F.col("s")))
                + 1,
            ).alias("_w"),
        )
        .groupBy("doc_id")
        .agg(F.sum("_w").alias("covered_tokens"))
    )
    # NULL text -> no row (the engine-wide convention; un-filtered,
    # Spark's size(split(NULL)) is -1 while the oracle's len(NULL) is a
    # NULL row — a two-sided divergence latent until a corpus ships a
    # NULL-text doc)
    base = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    # SHUFFLE_HASH: cov sits behind two aggregates and a window, so its
    # size estimate is bogus-small and the planner chose it as a
    # BROADCAST build at sf10 — building it means executing the whole
    # span pipeline inside the broadcast thread (driver OOM at 500 k
    # docs; the §6g size-estimate-blindness class). Its true size is
    # bounded by n_docs rows — a per-partition hash build is safe at
    # any scale.
    return (
        base.join(cov.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            # plain double round is cross-engine safe here: a 4-dp tie
            # (.xxxx5 exactly) requires n_tokens divisible by 2⁵·5⁴ —
            # impossible below 20 000-token docs (see oracle comment)
            F.round(
                F.coalesce("covered_tokens", F.lit(0)) * 1.0
                / F.col("n_tokens"),
                4,
            ).alias("covered_frac"),
        )
        .orderBy("doc_id")
    )


def _gram_concat(k: int) -> str:
    return " || ' ' || ".join(f"w[i+{j}]" for j in range(k))


def _span_cte(budget_expr: str) -> str:
    """Shared CTE chain up to the qualifying spans (with their start
    position and diagonal — the exact relational replay of
    `_qualifying_spans`). ``budget_expr`` is the candidate-budget SQL
    evaluated over a single-row frame exposing ``n`` = corpus document
    count (the production formula below uses it; tests inject a small
    literal to exercise the binding branch against the Spark path)."""
    return f"""
ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       WHERE text IS NOT NULL),
gk AS (
    SELECT doc_id,
           unnest(generate_series(1, len(w) - {SPAN_K - 1})) - 1 AS pos,
           unnest(list_transform(generate_series(1, len(w) - {SPAN_K - 1}),
                  i -> {_gram_concat(SPAN_K)})) AS g
    FROM ws
),
hist AS (
    SELECT df, count(*) AS n FROM (
        SELECT g, count(*) AS df FROM gk GROUP BY g)
    WHERE df > 1 AND df <= {SPAN_MAX_DF} GROUP BY df
),
cum AS (
    -- inclusive running candidate-pair count in df order — the exact
    -- replay of adaptive_df_cut's histogram walk (integer //, as in
    -- the Python n * df * (df - 1) // 2)
    SELECT df, sum((n * df * (df - 1)) // 2) OVER (ORDER BY df) AS cumpairs
    FROM hist
),
-- single-row by construction: the aggregate subquery collapses
-- documents to one row, so '(SELECT b FROM budget)' stays a scalar
-- even when tests inject a plain literal budget_expr (a bare
-- 'FROM documents' would yield one row per document — accepted by
-- DuckDB 1.0.0 but rejected by versions that enforce single-row
-- scalar subqueries)
budget AS (SELECT {budget_expr} AS b
           FROM (SELECT count(*) AS n FROM documents)),
cutv AS (
    SELECT COALESCE((SELECT min(df) - 1 FROM cum
                     WHERE cumpairs > (SELECT b FROM budget)),
                    {SPAN_MAX_DF}) AS cut
),
hot AS (SELECT g FROM gk GROUP BY g
        HAVING count(*) > (SELECT cut FROM cutv)),
rare AS (SELECT * FROM gk WHERE g NOT IN (SELECT g FROM hot)),
m AS (
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           a.pos - b.pos AS d, a.pos AS pos_a
    FROM rare a JOIN rare b ON a.g = b.g AND a.doc_id < b.doc_id
),
isl AS (
    SELECT a_id, b_id, d, pos_a,
           pos_a - row_number() OVER (PARTITION BY a_id, b_id, d
                                      ORDER BY pos_a) AS grp
    FROM m
),
spans AS (
    SELECT a_id, b_id, d,
           CAST(min(pos_a) AS BIGINT) AS start_a,
           CAST(count(*) + {SPAN_K - 1} AS BIGINT) AS span
    FROM isl GROUP BY a_id, b_id, d, grp
    HAVING count(*) + {SPAN_K - 1} >= {MIN_SPAN}
)
"""


_SPAN_CTE = _span_cte(
    f"greatest({_SPAN_BUDGET_FLOOR}, {_SPAN_BUDGET_PER_DOC} * n)"
)

_SPAN_ORACLE = f"""
WITH {_SPAN_CTE}
SELECT a_id, b_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(max(span) AS BIGINT) AS max_span,
       CAST(sum(span) AS BIGINT) AS dup_tokens
FROM spans GROUP BY a_id, b_id ORDER BY a_id, b_id
"""

_COVERAGE_ORACLE = f"""
WITH {_SPAN_CTE},
iv AS (
    SELECT a_id AS doc_id, start_a AS s, start_a + span - 1 AS e
    FROM spans
    UNION ALL
    SELECT b_id, start_a - d, start_a - d + span - 1 FROM spans
),
u AS (
    SELECT doc_id, s, e,
           max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS pmax
    FROM iv
),
cov AS (
    SELECT doc_id,
           CAST(sum(greatest(0, e - greatest(s, COALESCE(pmax + 1, s)) + 1))
                AS BIGINT) AS covered_tokens
    FROM u GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_tokens,
       COALESCE(covered_tokens, 0) AS covered_tokens,
       -- plain double round is tie-free here: an exact .xxxx5 ratio
       -- needs n_tokens divisible by 2^5 * 5^4 = 20 000 (covered/n in
       -- lowest terms must have a denominator dividing 2*10^4 with an
       -- odd numerator); docs are far shorter, so both engines round
       -- the same decimal
       round(COALESCE(covered_tokens, 0) * 1.0 / len(w.w), 4)
           AS covered_frac
FROM ws w LEFT JOIN cov USING (doc_id)
ORDER BY w.doc_id
"""


@_query(
    "docs_exact_span_dups",
    _SPAN_ORACLE,
    # promoted to driver r8: span-level (ExactSubstr) dedup — verified
    # by oracle at sf0.01 + sf1, brute-force fuzz, a binding-budget SQL
    # replay test, and an sf10 measurement; slot freed by demoting the
    # tpch_q10 echo
)
def docs_exact_span_dups(spark, sf_dir):
    """Span-level (ExactSubstr) duplicate report over the documents
    table: every pair sharing a verbatim ≥ 20-token span from sub-cut
    8-grams, with span count, longest span, and duplicated-token mass —
    checked row-for-row against the oracle's replay of the identical
    diagonal gaps-and-islands construction."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_span_pairs(docs)


@_query(
    "docs_dup_span_coverage",
    _COVERAGE_ORACLE,
    # promoted to driver r9 (VERDICT r8 #2): the Lee et al. deletion
    # signal — the actionable per-doc output of the span family; slot
    # freed by demoting the events_dashboard echo
)
def docs_dup_span_coverage(spark, sf_dir):
    """Per-document duplicated-span exposure: tokens inside ≥ 1
    qualifying cross-doc verbatim span, as count and fraction — the
    Lee et al. deletion signal a curator thresholds on. The interval
    union is the same relational gaps-and-islands as the span finder;
    checked row-for-row (every doc, zero-covered included) against the
    oracle's identical replay."""
    docs = load_table(spark, sf_dir, "documents")
    return dup_span_coverage(docs)


_SPAN_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SPAN_CTE},
vp AS (SELECT DISTINCT a_id, b_id FROM spans),
edges AS (SELECT a_id AS src, b_id AS dst FROM vp
          UNION SELECT b_id, a_id FROM vp),
reach(id, r) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, count(*) AS sz FROM labels
          GROUP BY cluster_id)
SELECT CAST(sz AS INTEGER) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(cluster_id) AS BIGINT) AS label_checksum
FROM sizes GROUP BY 1 ORDER BY 1
"""


@_query(
    "docs_span_dedup_clusters",
    _SPAN_CLUSTERS_ORACLE,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_span_dedup_clusters(spark, sf_dir):
    """Cluster resolution over the SPAN pair list — the span family
    plugged into the generic connected-components machinery (min-label
    propagation + pointer jumping), proving any pair source composes:
    per-cluster-size histogram with a min-label checksum, against the
    oracle's recursive-CTE closure over the identical span pairs. Docs
    chained by overlapping spans (A~B, B~C without A~C) merge into one
    keep-group here, which pairwise reports cannot express."""
    from ballcone_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = exact_span_pairs(docs).select("a_id", "b_id")
    clusters = dedup_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    return (
        sizes.groupBy(F.col("sz").cast("int").alias("cluster_size"))
        .agg(
            F.count("*").alias("n_clusters"),
            F.sum("cluster_id").cast("bigint").alias("label_checksum"),
        )
        .orderBy("cluster_size")
    )


def span_deduped_corpus(
    docs: DataFrame,
    k: int = SPAN_K,
    min_span: int = MIN_SPAN,
    max_df: int = SPAN_MAX_DF,
    text_col: str = "text",
    pair_budget: int | None = None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, removed_tokens, kept_tokens, new_text) — the
    corpus AFTER the Lee et al. deletion transform: for every
    qualifying cross-doc verbatim span, the LATER document (larger
    doc_id — the engine-wide keep-first rule) loses its covered
    tokens; the earlier document keeps its copy. This is the stage
    that ACTS on `dup_span_coverage`'s exposure signal — a curation
    pipeline drops duplicated mass instead of merely reporting it.

    Shape: b-side deletion intervals → per-doc interval MERGE
    (gaps-and-islands over one doc's intervals — bounded window, no
    per-token explode) → complement pieces via lag + a tail piece →
    JVM `slice` per piece → ordered reassembly (array_sort over ≤
    pieces-per-doc structs). The only corpus-keyed shuffles are the
    span pipeline's own; everything downstream keys on doc_id.

    Conservation holds by construction (kept = n − Σ merged widths,
    merged intervals disjoint) and is independently pinned by test
    against interval arithmetic and a planted construction.

    ``spans`` (r12): pass the `_qualifying_spans` frame precomputed —
    the natural super-stage boundary for a checkpointed release
    pipeline (plans/pipeline.py): the gram self-join is the expensive
    disk-heavy stage, so materializing it lets a killed release resume
    into the deletion transform without re-pairing. Schema must be
    `_qualifying_spans`'s (b_id, start_a, d, span, ...); None computes
    it inline (identical result, pinned by test)."""
    if spans is None:
        spans = _qualifying_spans(
            docs, k, min_span, max_df, text_col, pair_budget
        )
    iv = spans.select(
        F.col("b_id").alias("doc_id"),
        (F.col("start_a") - F.col("d")).alias("s"),
        (F.col("start_a") - F.col("d") + F.col("span") - 1).alias("e"),
    ).distinct()

    # merge overlapping/adjacent intervals (strict gap starts an island)
    w_ord = Window.partitionBy("doc_id").orderBy("s", "e")
    pmax = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    is_new = F.when(pmax.isNull() | (F.col("s") > pmax + 1), 1).otherwise(0)
    # materialize ONCE: merged feeds before/tail/removed/assembled —
    # without the barrier the whole span pipeline (gram self-join +
    # islands) re-executes once per derived join side (~3×; the
    # iterative-loop checkpoint lesson). Size is bounded by the
    # merged-interval count ≪ span pairs.
    merged = checkpoint(
        iv.withColumn(
            "_g",
            F.sum(is_new).over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "_g")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )

    # materialize ONCE (r16): base is referenced THREE ways below (the
    # tail join, the piece join, and the final rollup spine) — the
    # projection is shuffle-free, so without a barrier each reference
    # re-scanned the corpus and re-split every text (plan: 3 parquet
    # scans; now 0 visible). Registered caller is fingerprint-cached.
    base = checkpoint(
        docs.where(F.col(text_col).isNotNull()).select(
            "doc_id",
            F.split(F.col(text_col), " ").alias("_w"),
        )
    )
    n_in = F.size("_w").cast("long")

    # kept pieces: before each merged interval (from prev end+1 to s-1)
    # plus one tail piece (last end+1 to n-1)
    w_m = Window.partitionBy("doc_id").orderBy("s")
    before = merged.select(
        "doc_id",
        F.coalesce(F.lag("e").over(w_m) + 1, F.lit(0)).alias("ks"),
        (F.col("s") - 1).alias("ke"),
    )
    # SHUFFLE_HASH: tail and the piece union sit atop the span
    # pipeline's aggregates/windows — bogus-small size estimates made
    # the planner pick them as broadcast BUILDs at sf1+ (driver OOM,
    # the §6g class); their true size is corpus-scale.
    tail = merged.groupBy("doc_id").agg((F.max("e") + 1).alias("ks"))
    tail = tail.hint("shuffle_hash").join(base, "doc_id").select(
        "doc_id", "ks", (n_in - 1).alias("ke")
    )
    pieces = (
        before.unionByName(tail)
        .where(F.col("ke") >= F.col("ks"))
        .hint("shuffle_hash")
        .join(base, "doc_id")
        .select(
            "doc_id",
            "ks",
            F.concat_ws(
                " ",
                F.slice("_w", F.col("ks") + 1, F.col("ke") - F.col("ks") + 1),
            ).alias("_p"),
        )
    )
    assembled = pieces.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ks", "_p"))),
                lambda x: x["_p"],
            ),
            " ",
        ).alias("_new")
    )
    removed = merged.groupBy("doc_id").agg(
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("removed_tokens")
    )
    # SHUFFLE_HASH on both aggregate-topped sides: same §6g size-
    # estimate blindness as dup_span_coverage's final join — a
    # broadcast build would execute the span pipeline in the broadcast
    # thread.
    return (
        base.join(removed.hint("shuffle_hash"), "doc_id", "left")
        .join(assembled.hint("shuffle_hash"), "doc_id", "left")
        .select(
            "doc_id",
            n_in.alias("n_tokens"),
            F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
            (n_in - F.coalesce("removed_tokens", F.lit(0))).alias(
                "kept_tokens"
            ),
            # untouched doc -> original text; fully-covered doc -> ''
            # (removed non-null but no kept pieces)
            F.when(
                F.col("removed_tokens").isNull(),
                F.concat_ws(" ", F.col("_w")),
            )
            .otherwise(F.coalesce("_new", F.lit("")))
            .alias("new_text"),
        )
        .orderBy("doc_id")
    )


_DEDUPED_CORPUS_ORACLE = f"""
WITH {_SPAN_CTE},
iv AS (SELECT DISTINCT b_id AS doc_id, start_a - d AS s,
              start_a - d + span - 1 AS e
       FROM spans),
mrk AS (
    SELECT doc_id, s, e,
           CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) IS NULL
                  OR s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) + 1
                THEN 1 ELSE 0 END AS isn
    FROM iv),
mg AS (
    SELECT doc_id, s, e,
           sum(isn) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS g
    FROM mrk),
merged AS (SELECT doc_id, min(s) AS s, max(e) AS e
           FROM mg GROUP BY doc_id, g),
before AS (
    SELECT doc_id,
           COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s) + 1, 0)
               AS ks,
           s - 1 AS ke
    FROM merged),
tails AS (
    SELECT m.doc_id, max(m.e) + 1 AS ks, len(w.w) - 1 AS ke
    FROM merged m JOIN ws w USING (doc_id)
    GROUP BY m.doc_id, len(w.w)),
pieces AS (
    SELECT p.doc_id, p.ks,
           list_aggregate(w.w[p.ks + 1 : p.ke + 1], 'string_agg', ' ')
               AS piece
    FROM (SELECT * FROM before UNION ALL SELECT * FROM tails) p
    JOIN ws w USING (doc_id)
    WHERE p.ke >= p.ks),
assembled AS (
    SELECT doc_id, string_agg(piece, ' ' ORDER BY ks) AS new_text
    FROM pieces GROUP BY doc_id),
rem AS (SELECT doc_id, sum(e - s + 1) AS removed FROM merged
        GROUP BY doc_id)
SELECT w.doc_id,
       CAST(len(w.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(r.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(w.w) - COALESCE(r.removed, 0) AS BIGINT) AS kept_tokens,
       CASE WHEN r.removed IS NULL
            THEN md5(list_aggregate(w.w, 'string_agg', ' '))
            ELSE md5(COALESCE(a.new_text, '')) END AS new_fp
FROM ws w
LEFT JOIN rem r USING (doc_id)
LEFT JOIN assembled a USING (doc_id)
ORDER BY w.doc_id
"""


@_query(
    "docs_span_deduped_corpus",
    _DEDUPED_CORPUS_ORACLE,
    # promoted r10 (VERDICT r9 #1): the span family's ACTIONABLE output
    # (Lee-style deletion transform, conservation-checked, md5 of the
    # rewritten bytes oracle-pinned); the freed slot came from
    # events_running_visits (frame-spec window shape covered by
    # events_day_over_day)
)
def docs_span_deduped_corpus(spark, sf_dir):
    """The deduped-corpus writer's audit view (VERDICT r8 #6): per doc
    after Lee et al. span deletion — token counts in/removed/kept and
    the md5 of the REWRITTEN text, so the oracle pins the actual
    output bytes, not just the bookkeeping. Keep-first: the lower
    doc_id of every pair keeps its span occurrence."""
    docs = load_table(spark, sf_dir, "documents")
    out = span_deduped_corpus(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "removed_tokens",
        "kept_tokens",
        F.md5("new_text").alias("new_fp"),
    )
