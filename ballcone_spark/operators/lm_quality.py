"""Statistical-LM quality scoring and boilerplate-span detection —
the CCNet / RefinedWeb corpus-curation family (beyond-reference; the
reference has no corpus operators).

- :func:`bigram_lm_scores` — CCNet-style quality signal (Wenzek et al.
  2020 score documents by LM perplexity; here the LM is an add-one-
  smoothed bigram model trained ON the corpus itself, entirely
  relationally): per-doc mean log-probability and its perplexity. Docs
  far from the corpus distribution (rare word transitions) score low —
  the standard "keep the head of the quality distribution" filter
  signal.
- :func:`boilerplate_spans` — RefinedWeb-style repeated-span removal
  signal: exact word 5-grams shared by >= MIN_DOCS distinct documents
  are "boilerplate spans"; each doc reports the fraction of its token
  positions covered by at least one such span. On this corpus the
  shared spans are exactly the planted near-duplicate families, so the
  signal is non-vacuous at every SF.

Scale design, both operators:

- The LM "training" is one explode (linear in corpus tokens) + one
  groupBy on the gram key with map-side combine; the model table is
  O(distinct bigrams), far smaller than the corpus. Scoring joins
  doc-grams to the model on the gram key — a hash join whose hot keys
  (frequent bigrams) are exactly what AQE skew-split handles; no
  driver collect anywhere, the vocab size and context totals ride
  along as 1-row / per-key aggregates.
- Boilerplate span coverage explodes each qualifying gram into its 5
  covered positions — a bounded ×5 blowup on the *matched* grams only
  (the corpus-frequent subset), then a distinct on (doc_id, pos) that
  shuffles at most 5× the matched-gram count, partitioned by doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballcone_spark.operators.repetition import _ngrams
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = ["bigram_lm_scores", "boilerplate_spans"]

#: boilerplate span length (words) — the 5-gram strikes the standard
#: balance: long enough that cross-doc collisions mean real shared text,
#: short enough to catch partial-overlap near-dups.
SPAN_N = 5
#: a span is boilerplate when >= this many DISTINCT docs contain it
MIN_DOCS = 2
#: coverage fraction above which the doc is flagged
COVER_T = 0.30


def bigram_model(
    docs: DataFrame, text_col: str = "text", vectorized: bool = False
) -> DataFrame:
    """(g, logp): the add-one-smoothed bigram LM trained on ``docs``,
    P(w2|w1) = (c(w1 w2)+1)/(c(w1·)+|V|) — one explode + one gram
    groupBy; the model table is O(distinct bigrams). Reused by the
    batch quality scorer below and the streaming drift monitor
    (:mod:`ballcone_spark.streaming.drift`). ``vectorized`` swaps the
    gram source for the Arrow kernel (see :func:`_gram_rows_np`)."""
    bg = _grams(docs, text_col, 2, vectorized).select("g")
    counts = (
        bg.groupBy("g")
        .agg(F.count("*").alias("c"))
        .withColumn("w1", F.substring_index("g", " ", 1))
    )
    ctx = counts.groupBy("w1").agg(F.sum("c").alias("cc"))
    vocab = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("t")
    ).agg(F.countDistinct("t").alias("v"))
    return (
        counts.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "g",
            F.log(
                (F.col("c") + 1).cast("double") / (F.col("cc") + F.col("v"))
            ).alias("logp"),
        )
    )


def bigram_lm_scores(
    docs: DataFrame, text_col: str = "text", vectorized: bool = False
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logp, ppl) — each doc scored by the mean
    natural-log probability of its bigram transitions under the
    corpus-trained :func:`bigram_model`, and the corresponding
    perplexity exp(-avg_logp).

    Every doc bigram is in the model by construction (the model is
    trained on the same corpus), so the inner join loses nothing;
    docs with < 2 tokens have no transitions and drop out by contract.
    """
    bg = _grams(docs, text_col, 2, vectorized).select("doc_id", "g")
    # SHUFFLE_HASH with the model as the (hinted) build side: the
    # window-shaped gram frame carries a bogus small size estimate, and
    # at sf10 the planner chose the 26 M-row DOC-GRAM side as a
    # broadcast build (driver OOM). The model side is O(distinct
    # bigrams) — per-partition hash builds of it are bounded at any
    # corpus scale; AQE's skew split still owns hot grams.
    return (
        bg.join(
            bigram_model(docs, text_col, vectorized).hint("shuffle_hash"), "g"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("logp"), 4).alias("avg_logp"),
            F.round(F.exp(-F.avg("logp")), 4).alias("ppl"),
        )
    )


#: model entries above which the map-side scorer refuses to broadcast
#: and falls back to the shuffle-hash join (open-vocabulary corpora)
BROADCAST_MODEL_MAX = 2_000_000


def _collect_model(docs: DataFrame, text_col: str = "text") -> dict | None:
    """The trained bigram model as a plain (g → logp) dict when it fits
    the ``BROADCAST_MODEL_MAX`` ceiling, else None (open-vocabulary
    corpora — callers fall back to the shuffle-join scorer). Factored
    out (r16) so the merged quality+LM kernel shares the same
    plan-build collect and the same ceiling decision as the standalone
    scorer."""
    model = bigram_model(docs, text_col)
    rows = model.limit(BROADCAST_MODEL_MAX + 1).collect()
    if len(rows) > BROADCAST_MODEL_MAX:
        return None
    return {r["g"]: r["logp"] for r in rows}


def bigram_lm_scores_np(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Map-side twin of :func:`bigram_lm_scores` for corpora whose
    bigram model fits memory: the trained (g → logp) table broadcasts
    into a per-batch kernel as a plain dict, and each document is
    scored in ONE pass — no gram rows are ever materialized, so neither
    the lead-window assembly nor the 25 M-row gram⋈model shuffle join
    exists in the plan. One row in, one row out (the row-expansion
    serialization trap measured on `_gram_rows_np` doesn't apply).

    The model is collected at plan build; above
    ``BROADCAST_MODEL_MAX`` entries this falls back to the
    open-vocabulary shuffle join (`bigram_lm_scores`) — the same
    broadcast-vs-shuffle threshold decision Spark itself makes for
    joins, made explicit because the build side crosses into Python.
    Values are identical: the kernel sums the same model doubles the
    join would (`avg` order is arbitrary in both engines), docs with
    < 2 tokens drop out, and the round(·, 4) finish matches."""
    logp = _collect_model(docs, text_col)
    if logp is None:
        return bigram_lm_scores(docs, text_col)

    import math

    import pandas as pd

    def kern(batches):
        for pdf in batches:
            ids, nbg, avg, ppl = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                t = text.split(" ")
                if len(t) < 2:
                    continue
                # OOV grams are DROPPED from both sum and count,
                # mirroring the JVM twin's inner join (which silently
                # drops unmatched grams) — same-corpus training makes
                # this a no-op today, but the kernel must not KeyError
                # the stage if handed foreign text (ADVICE r7)
                s, n = 0.0, 0
                for i in range(len(t) - 1):
                    v = logp.get(t[i] + " " + t[i + 1])
                    if v is None:
                        continue
                    s += v
                    n += 1
                if n == 0:
                    # all grams OOV → the join yields no rows for the
                    # doc → no output row, same as the JVM groupBy
                    continue
                a = s / n
                ids.append(doc_id)
                nbg.append(n)
                avg.append(a)
                ppl.append(math.exp(-a))
            yield pd.DataFrame(
                {"doc_id": ids, "n_bigrams": nbg, "avg_logp": avg, "ppl": ppl}
            )

    from ballcone_spark.plans.parallelism import widen

    scored = widen(docs.select("doc_id", text_col)).mapInPandas(
        kern, "doc_id long, n_bigrams long, avg_logp double, ppl double"
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        F.round("avg_logp", 4).alias("avg_logp"),
        F.round("ppl", 4).alias("ppl"),
    )


def quality_lm_signals_np(
    docs: DataFrame,
    logp: dict,
    extra_cols: tuple[str, ...] = (),
    text_col: str = "text",
) -> DataFrame:
    """ONE Arrow pass emitting BOTH signal families the corpus report
    consumes per doc (r16, VERDICT r15 #1 — previously two kernels each
    shipped the full corpus text across the Python boundary):

    - the quality-gate subset of :func:`~ballcone_spark.operators
      .text_analysis.quality_signals_np` — ``n_tokens`` /
      ``n_uniq_tokens`` / ``fp`` over the ws-regex tokenization of
      trimmed text, value-identical (null text → nulls);
    - ``n_tokens_sp`` — the PLAIN-space token count, parity with
      ``F.size(F.split(text, ' '))`` (Python ``str.split(' ')`` keeps
      empties exactly like Spark's limit=-1 split; null text → null) —
      the denominator :func:`boilerplate_spans` needs;
    - the LM columns of :func:`bigram_lm_scores_np` under the
      already-collected ``logp`` model — ``n_bigrams`` / ``avg_logp`` /
      ``ppl``, NULL exactly where the standalone kernel emits no row
      (< 2 plain-space tokens, or every gram OOV), so a left join of
      the standalone scorer is value-identical to reading the columns.

    One row in, one row out; ``extra_cols`` echo through. The round(·,4)
    finish on the LM columns is applied JVM-side, as in the standalone
    scorer. Pinned against the two standalone kernels by
    ``tests/test_corpus_report_merged.py``."""
    import hashlib
    import math
    import re

    import pandas as pd

    ws_re = re.compile(r"\s+", re.ASCII)
    extra = list(extra_cols)
    sig_cols = [
        "n_tokens", "n_uniq_tokens", "fp", "n_tokens_sp",
        "n_bigrams", "avg_logp", "ppl",
    ]

    def stats(batches):
        for pdf in batches:
            out: dict = {c: [] for c in ["doc_id", *extra, *sig_cols]}
            for row in zip(pdf["doc_id"], *[pdf[c] for c in extra], pdf[text_col]):
                doc_id, text = row[0], row[-1]
                out["doc_id"].append(doc_id)
                for c, v in zip(extra, row[1:-1]):
                    out[c].append(v)
                if text is None:
                    for c in sig_cols:
                        out[c].append(None)
                    continue
                st = text.strip(" ")
                toks = ws_re.split(st)
                out["n_tokens"].append(len(toks))
                out["n_uniq_tokens"].append(len(set(toks)))
                out["fp"].append(
                    hashlib.md5(
                        ws_re.sub(" ", st.lower()).encode("utf-8")
                    ).hexdigest()
                )
                t = text.split(" ")
                out["n_tokens_sp"].append(len(t))
                # OOV grams dropped from sum AND count — mirrors the
                # standalone kernel (and the JVM twin's inner join)
                s, n = 0.0, 0
                for i in range(len(t) - 1):
                    v = logp.get(t[i] + " " + t[i + 1])
                    if v is None:
                        continue
                    s += v
                    n += 1
                if n == 0:
                    out["n_bigrams"].append(None)
                    out["avg_logp"].append(None)
                    out["ppl"].append(None)
                else:
                    a = s / n
                    out["n_bigrams"].append(n)
                    out["avg_logp"].append(a)
                    out["ppl"].append(math.exp(-a))
            yield pd.DataFrame(out)

    from ballcone_spark.plans.parallelism import widen

    dtypes = dict(docs.dtypes)
    schema_extra = "".join(f"{c} {dtypes[c]}, " for c in extra)
    schema = (
        f"doc_id long, {schema_extra}"
        "n_tokens int, n_uniq_tokens int, fp string, n_tokens_sp int, "
        "n_bigrams long, avg_logp double, ppl double"
    )
    scored = widen(docs.select("doc_id", *extra, text_col)).mapInPandas(
        stats, schema
    )
    return scored.withColumn(
        "avg_logp", F.round("avg_logp", 4)
    ).withColumn("ppl", F.round("ppl", 4))


def _gram_rows(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """(doc_id, pos, g) — every word-n-gram of ``split(text, ' ')`` with
    its 0-based start position, duplicates and empty tokens preserved:
    the row form of :func:`~ballcone_spark.operators.repetition._ngrams`
    (same split, same space-join — pinned equal by
    ``test_gram_rows_matches_ngrams_hof``).

    Exists for the shingle_rows reason: ``posexplode(_ngrams(...))``
    evaluates the zip_with/concat chain INTERPRETED per row
    (CodegenFallback — the gram pass alone measured 60 s at 500 k docs),
    while posexplode + ``lead`` windows stay in codegen. The window
    shuffles by doc_id with a per-doc sort — bounded doc sizes make
    that safe at any corpus scale."""
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id", F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "t")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("t", i).over(win).alias(f"_t{i}") for i in range(1, n)]
    out = tok.select("doc_id", "pos", F.col("t").alias("_t0"), *leads)
    # concat_ws skips NULLs, so a tail position with a null lead would
    # silently emit a shorter gram — filter to full-width windows first
    out = out.where(F.col(f"_t{n - 1}").isNotNull())
    g = F.concat_ws(" ", *[F.col(f"_t{i}") for i in range(n)])
    return out.select("doc_id", "pos", g.alias("g"))


def _gram_rows_np(docs: DataFrame, text_col: str, n: int) -> DataFrame:
    """Arrow twin of :func:`_gram_rows` — same (doc_id, pos, g) rows
    (duplicates, empty tokens and 0-based positions preserved; pinned
    row-for-row by ``test_gram_rows_np_matches_jvm``) emitted from a
    per-batch kernel instead of posexplode + a lead window.
    ``split(text, ' ')`` parity: Python ``str.split(' ')`` keeps
    leading/trailing/interior empties exactly like Spark's regex split
    with limit -1; null text yields no rows (posexplode of null).

    MEASURED NEGATIVE for the LM/boilerplate consumers (r7, interleaved
    A/B at sf10): ~30% slower than the window path (77.7 vs 59.4 s for
    the pair) — emitting 25 M gram strings from Python through Arrow
    costs more than the lead-window shuffle it removes when the gram
    stream feeds gram-keyed aggregates that dominate either way. The
    kernel wins only when gram construction IS the dominant cost
    (decontamination's one-semi-join shape: 2.3×, see
    ``operators/dedup.shingle_rows_np``). Kept with the ``vectorized``
    flag plumbed so the next profiling round doesn't re-derive this."""
    import pandas as pd

    def kern(batches):
        for pdf in batches:
            ids, poss, grams = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                t = text.split(" ")
                for i in range(len(t) - n + 1):
                    ids.append(doc_id)
                    poss.append(i)
                    grams.append(" ".join(t[i : i + n]))
            yield pd.DataFrame({"doc_id": ids, "pos": poss, "g": grams})

    from ballcone_spark.plans.parallelism import widen

    return widen(docs.select("doc_id", text_col)).mapInPandas(
        kern, "doc_id long, pos int, g string"
    )


def _grams(docs: DataFrame, text_col: str, n: int, vectorized: bool) -> DataFrame:
    return (
        _gram_rows_np(docs, text_col, n)
        if vectorized
        else _gram_rows(docs, text_col, n)
    )


def boilerplate_spans(
    docs: DataFrame,
    text_col: str = "text",
    vectorized: bool = False,
    ntokens: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, covered_tokens, covered_frac, boilerplate) —
    token positions covered by corpus-frequent exact 5-gram spans.

    A position is covered when any span occurrence [pos, pos+4] that
    appears in >= MIN_DOCS distinct docs contains it; overlapping spans
    count once (distinct on position). Docs with no boilerplate span
    report 0 coverage (left join back to the corpus).

    ``ntokens`` (r16): a precomputed (doc_id, n_tokens) frame with the
    plain-space token count per doc — callers that already materialized
    it (the corpus report's merged kernel checkpoint) pass it in so the
    coverage denominator does not cost a second corpus scan. Must be
    1-row-per-doc with ``F.size(F.split(text, ' '))`` parity; default
    None recomputes from ``docs`` (unchanged behavior)."""
    w = F.split(F.col(text_col), " ")
    # one codegen gram pass, materialized lazily: both consumers below
    # (the frequency aggregate and the occurrence semi-join) reference
    # it — un-checkpointed, each re-ran the gram construction
    grams = checkpoint(_grams(docs, text_col, SPAN_N, vectorized))
    frequent = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= MIN_DOCS)
        .select("g")
    )
    # union of fixed-length intervals per doc WITHOUT materializing the
    # positions (r7 sf10 fix): the explode-to-positions + corpus-wide
    # distinct formulation blew up to ~SPAN_N× the gram volume (750 M
    # rows at 500 k docs — 397 s, the whole corpus-report budget).
    # Identity: occurrence positions are unique per doc, so
    # |⋃ [pᵢ, pᵢ+N-1]| = N + Σ_{i>0} min(N, pᵢ − pᵢ₋₁) over sorted pᵢ —
    # one doc_id-partitioned window over the occurrence rows only.
    # Same values (the oracle still replays the explode+distinct form).
    from pyspark.sql import Window

    # SHUFFLE_HASH, not broadcast (r7 sf10 fix #2): `frequent` grows
    # with the corpus — 6.9 M five-gram strings (~270 MB built) at
    # 500 k docs — and letting AQE broadcast it OOMed the driver
    # ("Not enough memory to build and broadcast") once the report ran
    # it concurrently with the LM join. A partitioned hash build is
    # bounded per task at any corpus size; at small SFs the difference
    # is noise.
    occ = grams.join(
        frequent.hint("shuffle_hash"), "g", "left_semi"
    ).select("doc_id", "pos")
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    contrib = F.coalesce(
        F.least(F.lit(SPAN_N), F.col("pos") - F.lag("pos").over(wspec)),
        F.lit(SPAN_N),
    )
    covered = (
        occ.select("doc_id", contrib.alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("covered_tokens"))
    )
    base = (
        ntokens
        if ntokens is not None
        else docs.select("doc_id", F.size(w).alias("n_tokens"))
    )
    out = base.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
    )
    frac = F.round(
        F.col("covered_tokens").cast("double") / F.col("n_tokens"), 4
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "covered_tokens",
        frac.alias("covered_frac"),
        (frac > COVER_T).alias("boilerplate"),
    )


_WS_CTE = """
ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
"""

_LM_ORACLE = f"""
WITH {_WS_CTE},
bg AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS g
    FROM ws
),
model AS (
    SELECT g, string_split(g, ' ')[1] AS w1, count(*) AS c
    FROM bg GROUP BY g
),
ctx AS (SELECT w1, sum(c) AS cc FROM model GROUP BY w1),
vocab AS (SELECT count(DISTINCT t) AS v
          FROM (SELECT unnest(w) AS t FROM ws)),
scored AS (
    SELECT m.g, ln(CAST(m.c + 1 AS DOUBLE) / (x.cc + vocab.v)) AS logp
    FROM model m JOIN ctx x USING (w1), vocab
)
SELECT doc_id, count(*) AS n_bigrams,
       round(avg(logp), 4) AS avg_logp,
       round(exp(-avg(logp)), 4) AS ppl
FROM bg JOIN scored USING (g)
GROUP BY doc_id ORDER BY doc_id
"""


@_query(
    "docs_bigram_lm_score",
    _LM_ORACLE,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_bigram_lm_score(spark, sf_dir):
    """CCNet-style LM quality scores: corpus-trained add-one bigram LM,
    per-doc mean log-prob + perplexity, hash-checked against the same
    model trained and applied in DuckDB SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return bigram_lm_scores(docs).orderBy("doc_id")


_BP_ORACLE = f"""
WITH {_WS_CTE},
g5 AS (
    SELECT doc_id, pos, g FROM (
        SELECT doc_id,
               unnest(generate_series(1, len(w) - {SPAN_N - 1})) AS pos,
               unnest(list_transform(generate_series(1, len(w) - {SPAN_N - 1}),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                           || ' ' || w[i+3] || ' ' || w[i+4])) AS g
        FROM ws)
),
freq AS (SELECT g FROM g5 GROUP BY g
         HAVING count(DISTINCT doc_id) >= {MIN_DOCS}),
cov AS (
    SELECT doc_id, count(*) AS covered_tokens FROM (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(generate_series(pos, pos + {SPAN_N - 1})) AS p
              FROM g5 WHERE g IN (SELECT g FROM freq)))
    GROUP BY doc_id
)
SELECT doc_id, len(w) AS n_tokens,
       COALESCE(covered_tokens, 0) AS covered_tokens,
       round(CAST(COALESCE(covered_tokens, 0) AS DOUBLE) / len(w), 4)
           AS covered_frac,
       round(CAST(COALESCE(covered_tokens, 0) AS DOUBLE) / len(w), 4)
           > {COVER_T} AS boilerplate
FROM ws LEFT JOIN cov USING (doc_id)
ORDER BY doc_id
"""


@_query(
    "docs_boilerplate_spans",
    _BP_ORACLE,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_boilerplate_spans(spark, sf_dir):
    """RefinedWeb-style boilerplate-span coverage: fraction of each
    doc's tokens inside an exact 5-gram shared by >= 2 distinct docs
    (on this corpus: the planted near-dup families), flag at > 30%."""
    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_spans(docs).orderBy("doc_id")


#: percentile-threshold curation: keep the best 60% of each source by
#: LM perplexity — the CCNet/FineWeb practice of thresholding quality
#: at a per-bucket PERCENTILE rather than a fixed cutoff (a fixed ppl
#: bar calibrated on one source over- or under-filters every other)
_KEEP_FRAC = 0.6


def quality_percentile_filter(
    docs: DataFrame,
    keep_frac: float = _KEEP_FRAC,
    text_col: str = "text",
    num_buckets: int = 32,
) -> DataFrame:
    """(source, n_docs, n_kept, ppl_cutoff) — per source, how many docs
    survive keeping the lowest-perplexity ``keep_frac`` quantile, and
    the realized ppl cutoff (max kept ppl). rank()-with-ties shares a
    rank in both engines, and ppl is the round(·,4) value both engines
    compute identically, so the kept set is engine-exact — no
    tie-break literal needed.

    Skew-safe percent_rank (VERDICT r8 #1): a bare ``percent_rank()
    OVER (PARTITION BY source ORDER BY ppl)`` sorts each source's
    ENTIRE score set in one task — fatal when one source dominates the
    corpus (real corpora are 80-95% one web crawl). Instead, the
    bucketed exact-rank pattern from :mod:`..ranking`: global
    approx-quantile boundaries split ppl into ``num_buckets``
    value-ranges, a bounded per-(source,bucket) count pass yields exact
    within-source offsets, and rank() runs over (source, bucket)
    windows only — each ≈ N/num_buckets rows even for a dominant
    source (global boundaries track the dominant source's distribution
    by construction). Ties never straddle buckets (bucketing is by
    value), so offset + in-bucket rank() IS the exact per-source
    rank-with-ties, and pr = (rank−1)/(n−1) is the same single IEEE
    division percent_rank performs in both engines.

    Cost SLA (same as ranking._ranked_with_total): two driver-blocking
    jobs at plan-build (quantile probe, bucket-count pass; the collect
    is bounded by #sources × num_buckets rows) + the final execution.
    The scored (source, ppl) projection is checkpointed so the
    Arrow LM kernel runs ONCE, not once per pass."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    scores = bigram_lm_scores_np(docs, text_col)
    r = checkpoint(
        scores.join(docs.select("doc_id", "source"), "doc_id").select("source", "ppl"),
        eager=True,
    )

    fracs = [i / num_buckets for i in range(1, num_buckets)]
    brow = r.select(F.percentile_approx("ppl", fracs, 10_000).alias("b")).first()
    bounds: list = []
    for v in brow["b"] or []:
        if v is not None and (not bounds or v > bounds[-1]):
            bounds.append(float(v))
    bucket = F.lit(0)
    for b in bounds:
        bucket = bucket + F.when(F.col("ppl") > F.lit(b), 1).otherwise(0)
    d = r.withColumn("_bucket", bucket.cast("int"))

    per_source: dict = {}
    for row in d.groupBy("source", "_bucket").agg(
        F.count("*").alias("_c")
    ).collect():
        per_source.setdefault(row["source"], {})[row["_bucket"]] = row["_c"]
    off_rows = []
    for s, bks in per_source.items():
        running = 0
        total = sum(bks.values())
        for bk in sorted(bks):
            off_rows.append((s, bk, running, total))
            running += bks[bk]
    odf = spark.createDataFrame(
        off_rows, "source string, _bucket int, _off long, _n long"
    )

    w = Window.partitionBy("source", "_bucket").orderBy("ppl")
    rank_g = F.rank().over(w) + F.col("_off")
    pr = F.when(
        F.col("_n") > 1,
        (rank_g - F.lit(1)).cast("double") / (F.col("_n") - F.lit(1)),
    ).otherwise(F.lit(0.0))
    kept = F.col("_pr") <= keep_frac
    # eqNullSafe on source: a NULL-source group must survive the offset
    # join (a bare ["source", ...] equi-join drops it — NULL keys never
    # match — while the oracle's percent_rank keeps NULL as a partition)
    dd, oo = d.alias("d"), odf.alias("o")
    joined = dd.join(
        F.broadcast(oo),
        F.col("d.source").eqNullSafe(F.col("o.source"))
        & (F.col("d._bucket") == F.col("o._bucket")),
    ).select(
        F.col("d.source").alias("source"),
        F.col("d.ppl").alias("ppl"),
        F.col("d._bucket").alias("_bucket"),
        F.col("o._off").alias("_off"),
        F.col("o._n").alias("_n"),
    )
    return (
        joined
        .withColumn("_pr", pr)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(kept.cast("long")).alias("n_kept"),
            F.round(F.max(F.when(kept, F.col("ppl"))), 4).alias("ppl_cutoff"),
        )
        .orderBy("source")
    )


@_query(
    "docs_quality_percentile_filter",
    f"""
    WITH lm AS ({_LM_ORACLE}),
    r AS (
        SELECT d.source, l.ppl,
               percent_rank() OVER (PARTITION BY d.source
                                    ORDER BY l.ppl) AS pr
        FROM lm l JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN pr <= {_KEEP_FRAC} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           round(max(CASE WHEN pr <= {_KEEP_FRAC} THEN ppl END), 4)
               AS ppl_cutoff
    FROM r GROUP BY source ORDER BY source NULLS FIRST
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_quality_percentile_filter(spark, sf_dir):
    """Percentile-threshold quality curation per source (keep the
    lowest-ppl 60%): kept counts and the realized per-source ppl
    cutoff — the CCNet-style calibration a fixed threshold can't give,
    checked row-for-row against the oracle's replay over the identical
    LM scores."""
    docs = load_table(spark, sf_dir, "documents")
    return quality_percentile_filter(docs)
