"""Repetition-based quality filters — the Gopher-rule family (Rae et
al. 2021, §A1.1: drop documents dominated by a single repeated n-gram
or by duplicated n-gram spans) re-expressed as token-fraction rules
over this corpus's whitespace tokens (beyond-reference; the reference
has no corpus operators).

Two signals per document:

- ``top_bigram_frac`` — occurrences of the doc's most frequent word
  bigram over all its bigram positions (Gopher's "fraction of
  characters in the most common 2-gram", token-denominated);
- ``dup_trigram_frac`` — fraction of trigram positions whose trigram
  occurs more than once in the doc (Gopher's duplicate-n-gram family
  at n=3).

Also home of :func:`_ngrams`, the JVM word-n-gram column the LM scorer
and the drift monitor build on. Its n-grams come from ``zip_with`` over
shifted ``slice``\\s of the token array — not
``transform(sequence(...))``, whose ``sequence(0, -1)`` on a one-token
doc silently yields ``[0, -1]`` (descending) instead of empty; the
slice length is clamped at 0 so degenerate docs produce empty gram
arrays.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ballcone_spark.queries import _query, load_table

__all__ = ["repetition_flags_np"]

#: flag thresholds — chosen mid-distribution for the test corpus
#: (p90 of top_bigram_frac ≈ 0.069, p99 of dup_trigram_frac ≈ 0.036)
#: so both rules fire on a real minority of docs, not 0% or 100%.
TOP_BIGRAM_T = 0.06
DUP_TRIGRAM_T = 0.02


def _ngrams(words: Column, n: int) -> Column:
    """Word n-grams as space-joined strings; empty array when the doc
    has < n tokens (slice length clamped at 0)."""
    ln = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.slice(words, 1, ln)
    for k in range(1, n):
        nxt = F.slice(words, k + 1, ln)
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    return grams


def repetition_flags_np(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, top_bigram_frac, dup_trigram_frac, repetitive) — the
    per-doc repetition profile plus the drop decision, from per-doc
    gram counting in a ``mapInPandas`` kernel with division + ``round``
    left JVM-side.

    A JVM formulation pays twice at scale: gram construction is a
    ``zip_with``/``concat_ws`` higher-order chain that evaluates
    interpreted (CodegenFallback, the measured ~6 µs/element class),
    and two (doc_id, gram) groupBys shuffle one string row per corpus
    gram position. But the signal is per-document — no cross-document
    state — so a shuffle-free per-batch kernel computes the integers:
    ``Counter`` over token-tuple n-grams (zip is C-level; no string
    concat needed for counting). The kernel emits raw counts and the
    ``F.round(num/den, 4)`` finish runs in the JVM, so no float
    formatting can diverge from the DuckDB oracle. Docs with < 3 tokens
    have no trigram positions and drop, like the oracle's inner join
    (``text IS NULL`` likewise yields no gram rows there).
    Measured at sf10 (500 k docs): 139 s cold for the JVM formulation
    → see BASELINE §6d.
    """
    from collections import Counter

    import pandas as pd

    def count_grams(batches):
        for pdf in batches:
            out = {"doc_id": [], "top_bg": [], "bg_n": [], "dup_tg": [], "tg_n": []}
            for doc_id, text in zip(pdf["doc_id"], pdf[text_col]):
                if text is None:
                    continue
                words = text.split(" ")
                if len(words) < 3:
                    continue
                bg = Counter(zip(words, words[1:]))
                tg = Counter(zip(words, words[1:], words[2:]))
                out["doc_id"].append(doc_id)
                out["top_bg"].append(max(bg.values()))
                out["bg_n"].append(len(words) - 1)
                out["dup_tg"].append(sum(c for c in tg.values() if c > 1))
                out["tg_n"].append(len(words) - 2)
            yield pd.DataFrame(out)

    from ballcone_spark.plans.parallelism import widen

    counted = widen(docs.select("doc_id", text_col)).mapInPandas(
        count_grams, "doc_id long, top_bg long, bg_n long, dup_tg long, tg_n long"
    )
    top = F.round(F.col("top_bg").cast("double") / F.col("bg_n"), 4)
    dup = F.round(F.col("dup_tg").cast("double") / F.col("tg_n"), 4)
    return counted.select(
        "doc_id",
        top.alias("top_bigram_frac"),
        dup.alias("dup_trigram_frac"),
        ((top > TOP_BIGRAM_T) | (dup > DUP_TRIGRAM_T)).alias("repetitive"),
    )


_REP_ORACLE = f"""
WITH ws AS (
    SELECT doc_id, string_split(text, ' ') AS w FROM documents
),
bg AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i + 1])) AS g
    FROM ws
),
tg AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                  i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
    FROM ws
),
bstat AS (
    SELECT doc_id,
           round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_bigram_frac
    FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g)
    GROUP BY doc_id
),
tstat AS (
    SELECT doc_id,
           round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
                 / sum(c), 4) AS dup_trigram_frac
    FROM (SELECT doc_id, g, count(*) AS c FROM tg GROUP BY doc_id, g)
    GROUP BY doc_id
)
SELECT doc_id, top_bigram_frac, dup_trigram_frac,
       (top_bigram_frac > {TOP_BIGRAM_T}
        OR dup_trigram_frac > {DUP_TRIGRAM_T}) AS repetitive
FROM bstat JOIN tstat USING (doc_id)
ORDER BY doc_id
"""


@_query(
    "docs_repetition_flags_vectorized",
    _REP_ORACLE,  # the kernel emits raw integer counts and the
    # round(num/den, 4) finish is a JVM expression, so no cross-engine
    # float divergence is possible
    # promoted to driver r8 (VERDICT r7 #4): Gopher-rule repetition
    # filters, 12.1 s at sf10; slot freed by demoting the tpch_q11 echo
)
def docs_repetition_flags_vectorized(spark, sf_dir):
    """Gopher-style repetition quality gate: per-doc top-bigram and
    duplicate-trigram token fractions plus the flag decision
    (:func:`repetition_flags_np`, shuffle-free per-batch gram counting),
    checked row-for-row against the oracle's list-comprehension
    replay."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_flags_np(docs).orderBy("doc_id")
