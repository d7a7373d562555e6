"""r16 merged quality+LM kernel: pin the single-pass
``quality_lm_signals_np`` against the two standalone kernels it
replaces in the corpus report (``quality_signals_np`` for the
quality-gate columns, ``bigram_lm_scores_np`` for the LM columns) and
the JVM plain-space token count it provides for the boilerplate
denominator. Any divergence here is a silent corpus-report value
change, which the oracle hash gate would catch later and slower."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ballcone_spark.operators.lm_quality import (
    _collect_model,
    bigram_lm_scores_np,
    quality_lm_signals_np,
)
from ballcone_spark.operators.text_analysis import quality_signals_np
from ballcone_spark.queries import load_table

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def merged(spark, docs):
    logp = _collect_model(docs)
    assert logp is not None, "test corpus must fit the model ceiling"
    return (
        quality_lm_signals_np(docs, logp, extra_cols=("source", "lang"))
        .orderBy("doc_id")
        .collect()
    )


def test_quality_columns_match_standalone_kernel(docs, merged):
    """n_tokens / n_uniq_tokens / fp (and echoed extras) identical to
    quality_signals_np's one-pass output."""
    solo = (
        quality_signals_np(docs, extra_cols=("source", "lang"))
        .orderBy("doc_id")
        .collect()
    )
    assert len(solo) == len(merged) > 0
    for s, m in zip(solo, merged):
        for c in ("doc_id", "source", "lang", "n_tokens", "n_uniq_tokens", "fp"):
            assert s[c] == m[c], (c, s["doc_id"])


def test_lm_columns_match_standalone_kernel(docs, merged):
    """n_bigrams / avg_logp / ppl equal the standalone scorer's rows;
    docs the scorer drops (< 2 tokens / all-OOV) are NULL in the merged
    output — exactly the left-join semantics the report used."""
    lm = {
        r["doc_id"]: r
        for r in bigram_lm_scores_np(docs).collect()
    }
    n_scored = 0
    for m in merged:
        s = lm.get(m["doc_id"])
        if s is None:
            assert m["n_bigrams"] is None and m["ppl"] is None, m["doc_id"]
            continue
        n_scored += 1
        assert m["n_bigrams"] == s["n_bigrams"], m["doc_id"]
        assert m["avg_logp"] == s["avg_logp"], m["doc_id"]
        assert m["ppl"] == s["ppl"], m["doc_id"]
    assert n_scored == len(lm) > 0


def test_plain_space_token_count_matches_jvm(docs, merged):
    """n_tokens_sp == F.size(F.split(text, ' ')) — the boilerplate
    coverage denominator the merged kernel now provides."""
    jvm = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.size(F.split(F.col("text"), " ")).alias("n")
        ).collect()
    }
    for m in merged:
        assert m["n_tokens_sp"] == jvm[m["doc_id"]], m["doc_id"]
