"""Dataset card — the per-source corpus report a curation pipeline
publishes alongside its training shards (the "dataset card" practice:
doc counts, token mass, duplication rate, language mix, lexical
quality, LM perplexity, boilerplate share, per feed). Beyond-reference;
composes this repo's existing signals rather than recomputing them:

- exact-dup membership from the md5 content fingerprint (the
  `dedup_exact_*` key),
- mean perplexity from :func:`~ballcone_spark.operators.lm_quality
  .bigram_lm_scores` (corpus-trained model),
- boilerplate-doc share from :func:`~ballcone_spark.operators
  .lm_quality.boilerplate_spans`,
- dominant declared language via an explicit argmax (count desc, lang
  asc — deterministic across engines, unlike mode()).

Scale shape: three per-doc signal pipelines (each already linear, see
their modules) joined on doc_id — co-partitioned hash joins — then one
partial-aggregated groupBy on the low-cardinality source key. The
report costs roughly the sum of its inputs and shuffles one row per
doc per join, never widening beyond the per-doc signal columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ballcone_spark.operators.lm_quality import (
    _BP_ORACLE,
    _LM_ORACLE,
    _collect_model,
    bigram_lm_scores_np,
    boilerplate_spans,
    quality_lm_signals_np,
)
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = ["corpus_report"]


def corpus_report(docs: DataFrame) -> DataFrame:
    """One row per source: the dataset-card summary."""
    # r16 (VERDICT r15 #1): quality signals AND LM score come out of ONE
    # merged Arrow kernel pass (plus the plain-space token count the
    # boilerplate denominator needs) — previously the quality kernel and
    # the LM kernel each shipped the full corpus text across the Python
    # boundary, and boilerplate_spans paid a THIRD corpus scan just for
    # F.size(F.split(text)). Per-execution corpus passes: 4 → 2 (merged
    # kernel + the 5-gram pass); the (doc_id)-keyed lm join disappears
    # outright (ppl is a base column now). Falls back to the r15 shape
    # when the bigram model exceeds the broadcast ceiling.
    logp = _collect_model(docs)
    if logp is not None:
        # Lineage barrier (r15): base feeds the dup-fp aggregate, the
        # per-doc join spine, the dominant-language count, AND (r16)
        # the boilerplate denominator — without it the merged kernel
        # would re-tokenize the corpus once per consumer.
        base = checkpoint(
            quality_lm_signals_np(
                docs, logp, extra_cols=("source", "lang", "n_chars")
            ).select(
                "doc_id",
                "source",
                "lang",
                "n_chars",
                "n_tokens",
                F.round(
                    F.col("n_uniq_tokens").cast("double") / F.col("n_tokens"), 4
                ).alias("uniq_ratio"),
                "fp",
                "n_tokens_sp",
                "ppl",
            )
        )
        lm = None  # ppl rides base — identical values, no join
        bp = boilerplate_spans(
            docs,
            vectorized=True,
            ntokens=base.select(
                "doc_id", F.col("n_tokens_sp").alias("n_tokens")
            ),
        ).select("doc_id", F.col("boilerplate").cast("int").alias("bp"))
    else:
        # open-vocabulary fallback — the r15 structure: quality kernel
        # base + shuffle-join LM scorer + boilerplate's own denominator
        from ballcone_spark.operators.text_analysis import quality_signals_np

        base = checkpoint(
            quality_signals_np(
                docs, extra_cols=("source", "lang", "n_chars")
            ).select(
                "doc_id",
                "source",
                "lang",
                "n_chars",
                "n_tokens",
                F.round(
                    F.col("n_uniq_tokens").cast("double") / F.col("n_tokens"), 4
                ).alias("uniq_ratio"),
                "fp",
            )
        )
        lm = bigram_lm_scores_np(docs).select("doc_id", "ppl")
        bp = boilerplate_spans(docs).select(
            "doc_id", F.col("boilerplate").cast("int").alias("bp")
        )
    dup_fps = (
        base.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") > 1)
        .select("fp")
    )
    flagged = base.join(dup_fps, "fp", "left_semi").select(
        "doc_id", F.lit(1).alias("is_dup")
    )
    per_doc = base.join(flagged, "doc_id", "left")
    if lm is not None:
        per_doc = per_doc.join(lm, "doc_id", "left")
    per_doc = per_doc.join(bp, "doc_id", "left")
    agg = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.coalesce("is_dup", F.lit(0))).alias("exact_dup_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("uniq_ratio"), 4).alias("avg_uniq_ratio"),
        F.round(F.avg("ppl"), 4).alias("avg_ppl"),
        F.sum(F.coalesce("bp", F.lit(0))).alias("boilerplate_docs"),
    )
    # (source, lang) counts from the checkpointed per-doc frame — the
    # kernel is 1 row in → 1 row out, so the counts are identical to a
    # fourth scan of the raw docs, minus the scan (r15)
    lang_counts = base.groupBy("source", "lang").agg(
        F.count("*").alias("lc")
    )
    w = Window.partitionBy("source").orderBy(F.desc("lc"), F.asc("lang"))
    top_lang = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    return agg.join(top_lang, "source").select(
        "source",
        "n_docs",
        "total_tokens",
        "avg_chars",
        "exact_dup_docs",
        "top_lang",
        "n_langs",
        "avg_uniq_ratio",
        "avg_ppl",
        "boilerplate_docs",
    )


_DUCK_TOKENS = "string_split_regex(trim(text), '\\s+')"

# the LM and boilerplate oracles are full SELECT statements; wrap them
# as CTE bodies so the report's oracle composes the same per-doc values
_REPORT_ORACLE = f"""
WITH lm AS ({_LM_ORACLE}),
bp AS ({_BP_ORACLE}),
base AS (
    SELECT doc_id, source, lang, n_chars,
           len({_DUCK_TOKENS}) AS n_tokens,
           round(len(list_distinct({_DUCK_TOKENS}))
                 * 1.0 / len({_DUCK_TOKENS}), 4) AS uniq_ratio,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
),
dups AS (SELECT fp FROM base GROUP BY fp HAVING count(*) > 1),
agg AS (
    SELECT source, count(*) AS n_docs,
           -- CASTs: DuckDB SUM(int) is HUGEINT → float64 through the
           -- driver's pandas hash path while Spark stays int64; cast to
           -- keep the hash input representation-identical (r07 red)
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(CASE WHEN fp IN (SELECT fp FROM dups) THEN 1 ELSE 0 END)
                AS BIGINT) AS exact_dup_docs,
           count(DISTINCT lang) AS n_langs,
           round(avg(uniq_ratio), 4) AS avg_uniq_ratio,
           round(avg(lm.ppl), 4) AS avg_ppl,
           CAST(sum(CASE WHEN bp.boilerplate THEN 1 ELSE 0 END) AS BIGINT)
               AS boilerplate_docs
    FROM base
    LEFT JOIN (SELECT doc_id, ppl FROM lm) lm USING (doc_id)
    LEFT JOIN (SELECT doc_id, boilerplate FROM bp) bp USING (doc_id)
    GROUP BY source
),
tl AS (
    SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY count(*) DESC, lang) AS rn
        FROM documents GROUP BY source, lang) WHERE rn = 1
)
SELECT a.source, n_docs, total_tokens, avg_chars, exact_dup_docs,
       top_lang, n_langs, avg_uniq_ratio, avg_ppl, boilerplate_docs
FROM agg a JOIN tl USING (source)
ORDER BY a.source
"""


@_query(
    "docs_corpus_report",
    _REPORT_ORACLE,
    # promoted to driver r7 (VERDICT r6 #5): the dataset card a curator
    # ships — the most production-shaped composition in the corpus
    # family; slot freed by demoting the tpch_q14 echo
)
def docs_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: per-source doc/token mass, exact-dup count,
    language mix with deterministic dominant language, lexical quality,
    corpus-LM perplexity, and boilerplate share — one composed plan,
    hash-checked against the same composition in DuckDB."""
    return corpus_report(load_table(spark, sf_dir, "documents")).orderBy(
        "source"
    )
