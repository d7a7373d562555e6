"""BPE tokenizer training — byte-pair-encoding merge learning (Sennrich
et al. 2016), the tokenizer-training stage of an LLM data pipeline
(beyond-reference; the reference has no corpus operators).

Scale design, the same contract as :mod:`kmeans` (iterative, driver-
coordinated, bounded collects):

- the ONLY corpus-scale work is the initial word-frequency groupBy (one
  shuffle with map-side combine). Training then iterates on the
  distinct-word table, which Zipf's law keeps tiny relative to the
  corpus (~10⁶–10⁷ rows for web-scale text) — exactly how production
  BPE trainers (HuggingFace tokenizers, SentencePiece in word mode)
  structure it;
- each merge round is: adjacent-pair explode over the word table →
  groupBy(pair) sum(freq) → a ONE-ROW TakeOrderedAndProject argmax
  (deterministic tie-break: freq desc, then pair lexicographic) →
  per-row fold that greedily merges that pair left-to-right in every
  word. One bounded 1-row driver collect per round;
- the word table is ``localCheckpoint``-ed every round so plan depth
  stays O(1) across merges instead of O(rounds) (the dedup_clusters
  pattern).

The greedy left-to-right single-pass fold is the standard BPE apply
rule; because training keeps every distinct word's final symbol
sequence, the corpus tokenization under the learned vocab falls out as
a free join — no per-document re-encode pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = ["word_freqs", "train_bpe", "bpe_corpus_stats", "encode_docs"]

#: merges trained by the registered query
N_MERGES = 24


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, freq) over whitespace tokens — the one corpus-scale
    shuffle of BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )


def _chars(word):
    """Word → array of single characters (split('') is edge-case-prone
    across engines; substring enumeration is unambiguous)."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: word.substr(i, F.lit(1)),
    )


def _merge_fold(syms, a: str, b: str, ab: str):
    """Greedy left-to-right single-pass merge of adjacent (a, b) → ab —
    the standard BPE apply rule, as a codegen fold (no Python)."""
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(ab))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def train_bpe(
    words: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.

    Returns (merges, encoded): ``merges`` is the learned rule list
    [(rank, left, right, merged, pair_freq)] in training order (the
    driver-side result is n_merges rows — bounded by construction, like
    the k×d kmeans centroid collect); ``encoded`` is the word table with
    its final symbol sequences (word, freq, syms) — the corpus
    tokenization under the learned vocab, still distributed."""
    cur = checkpoint(
        words.select("word", "freq", _chars(F.col("word")).alias("syms")), eager=True
    )

    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(n_merges):
        pairs = cur.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("syms"),
                        1,
                        F.greatest(F.size("syms") - 1, F.lit(0)),
                    ),
                    F.slice(
                        F.col("syms"),
                        2,
                        F.greatest(F.size("syms") - 1, F.lit(0)),
                    ),
                    lambda x, y: F.struct(
                        x.alias("left"), y.alias("right")
                    ),
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("c"))
            .orderBy(
                F.desc("c"), F.asc("p.left"), F.asc("p.right")
            )
            .limit(1)  # TakeOrderedAndProject: the 1-row argmax
            .collect()
        )
        if not best:
            break
        a, b = best[0]["p"]["left"], best[0]["p"]["right"]
        c = best[0]["c"]
        ab = a + b
        merges.append((rank, a, b, ab, c))
        cur = checkpoint(
            cur.withColumn("syms", _merge_fold(F.col("syms"), a, b, ab)), eager=True
        )
    return merges, cur


def bpe_corpus_stats(words: DataFrame, encoded: DataFrame) -> dict:
    """Compression summary: corpus char count vs token count under the
    learned vocab (one aggregate over the word table each)."""
    row = (
        encoded.join(words.select("word"), "word")
        .agg(
            F.sum(F.col("freq") * F.length("word")).alias("chars"),
            F.sum(F.col("freq") * F.size("syms")).alias("tokens"),
        )
        .collect()[0]
    )
    return {"chars": row["chars"], "tokens": row["tokens"]}


def encode_docs(
    docs: DataFrame,
    encoded: DataFrame,
    merges: list[tuple[int, str, str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_words, n_bpe_tokens, token_fp) — the corpus
    re-encoded under a trained vocab, completing the tokenizer story
    (train → APPLY). ``encoded`` is :func:`train_bpe`'s word table
    (word, syms): because training keeps every distinct word's final
    symbol sequence, applying the tokenizer to the corpus is a JOIN on
    the word key, never a per-document re-run of the merge rules — the
    pattern production word-level BPE pipelines use at scale.

    Out-of-vocabulary words (the point of an apply API: encoding a
    corpus the vocab was NOT trained on) take the exact BPE apply rule
    in-line: char-split + the ordered greedy merge fold (the same
    codegen :func:`_merge_fold` training uses), via a LEFT join +
    coalesce — never a silent drop. For in-vocab words the fold result
    equals the table entry by construction, so the join is purely the
    fast path.

    ``token_fp`` is the md5 of the doc's full token stream (symbols
    joined '+' within a word, words joined ' ' in document order), so a
    test can pin the EXACT tokenization, not just counts.

    Scale shape: one corpus-scale explode (doc → positioned words), one
    word-keyed join — MERGE-pinned, because ``encoded`` is a
    checkpointed LogicalRDD whose propagated estimate is bogus-small
    (the §6g class) while its true size is the distinct-word table
    (Zipf-bounded but far beyond broadcast at web scale) — and one
    doc_id groupBy whose per-doc ordered reassembly is bounded by the
    doc's own word count."""
    words = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).where(F.col("word") != "")
    fallback = _chars(F.col("word"))
    for _, a, b, ab, _ in merges:
        fallback = _merge_fold(fallback, a, b, ab)
    joined = words.join(
        encoded.select("word", "syms").hint("merge"), "word", "left"
    ).withColumn("syms", F.coalesce("syms", fallback))
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum(F.size("syms")).cast("long").alias("n_bpe_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    F.col("pos"),
                                    F.array_join("syms", "+").alias("w"),
                                )
                            )
                        ),
                        lambda x: x["w"],
                    ),
                    " ",
                )
            ).alias("token_fp"),
        )
        .orderBy("doc_id")
    )


@_query(
    "docs_bpe_encoded_corpus",
    None,  # the vocab is learned by iterative argmax training — not
    # SQL-expressible; pytest pins the FULL per-doc tokenization (count
    # + md5 of the token stream) against an independent pure-Python
    # BPE train+apply on the same corpus
    driver=False,
)
def docs_bpe_encoded_corpus(spark, sf_dir):
    """Corpus tokenized under the corpus-trained BPE vocab: per doc,
    word count, token count, and the md5 of the exact token stream —
    the apply half of `docs_bpe_train_merges`."""
    docs = load_table(spark, sf_dir, "documents")
    merges, encoded = train_bpe(word_freqs(docs), N_MERGES)
    return encode_docs(docs, encoded, merges)


@_query(
    "docs_bpe_train_merges",
    None,  # iterative argmax training — not SQL-expressible; the pytest
    # cross-checks the full merge list against an independent pure-Python
    # BPE reference on the same corpus (tests/test_operators.py)
    driver=False,
)
def docs_bpe_train_merges(spark, sf_dir):
    """BPE merge table learned from the documents corpus: (rank, left,
    right, merged, pair_freq) for N_MERGES rounds, deterministic under
    the freq-then-lexicographic tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = train_bpe(word_freqs(docs), N_MERGES)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, merged string, pair_freq bigint"
    )
