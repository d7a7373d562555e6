"""Text-analysis operators over ``documents``: per-doc token statistics,
corpus quality profile, n-gram language-ID, and a binary-column pass
(multimodal plumbing smoke). All pure ``pyspark.sql.functions`` — no
Python UDFs; every query has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.functions.text import (
    LANG_LEXICONS,
    avg_token_len,
    distinct_tokens,
    fingerprint,
    token_count,
    tokens,
    uniq_token_ratio,
)
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

_DUCK_TOKENS = "string_split_regex(trim(text), '\\s+')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# BPE-ish pre-tokenizer regex (GPT-2 shape, simplified to the subset the
# Java AND RE2 engines treat identically — no lookahead, explicit classes)
_BPE_RE = r" ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"

_FP_P = 2147483647


_TOKEN_STATS_ORACLE = f"""
    WITH tokp AS (
        SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
              FROM documents)
    ),
    posfp AS (
        SELECT doc_id,
               CAST(sum((CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) * pos)
                        % {_FP_P}) % {_FP_P} AS BIGINT) AS positional_fp
        FROM tokp GROUP BY doc_id
    )
    SELECT d.doc_id,
           len({_DUCK_TOKENS}) AS n_tokens,
           len(list_distinct({_DUCK_TOKENS})) AS n_uniq_tokens,
           round(length(regexp_replace(trim(text), '\\s+', '', 'g'))
                 * 1.0 / len({_DUCK_TOKENS}), 4) AS avg_token_len,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
           round(len(regexp_extract_all(text, '{_BPE_RE}'))
                 * 1.0 / len({_DUCK_TOKENS}), 4) AS tokens_per_word,
           p.positional_fp
    FROM documents d JOIN posfp p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id
    """


@_query(
    "docs_token_stats",
    _TOKEN_STATS_ORACLE,
    driver=False,  # r7: the one-pass Arrow twin is the registered entry
    # (same oracle verbatim, 99.0 → 20.9 s cold at sf10); this JVM
    # seven-scan projection stays as the EXTRA cross-check
)
def docs_token_stats(spark, sf_dir):
    """Per-doc token statistics in ONE narrow, shuffle-free projection:
    whitespace token count, distinct count, mean token length, md5
    content fingerprint (order-insensitive after normalization), BPE-style
    pre-tokenizer count (GPT-2-shaped regex — the LLM cost-estimation
    signal; same regex text runs in Spark's Java engine and DuckDB's RE2),
    and an order-SENSITIVE positional fingerprint Σ pos·h(token) mod P —
    the cheap structural signature for reordered-near-identical detection.
    The positional fp is a per-row higher-order-function fold (transform
    with index + aggregate), so even it costs no explode and no shuffle —
    the whole query is a pure map over the corpus scan."""
    t = F.col("text")
    h = lambda tok: F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")  # noqa: E731
    # positional fp via posexplode + partial-aggregated groupBy (r7
    # sf10 fix): the old transform-with-index + aggregate fold is a
    # CodegenFallback HOF — ~150 M interpreted md5·mul·mod steps at
    # 500 k docs made this query 150 s where every family peer is ~24 s.
    # posexplode + SUM stays in codegen and map-side combine reduces the
    # exchange to one partial row per doc (measured cold at sf10:
    # 150.9 → 99.0 s; the fp column alone 24 s vs ~90 s interpreted —
    # the residual is the multi-column text scan, 5-10 s per derived
    # column at 500 k docs). Same value as the fold: the per-element
    # mods are summed then reduced mod P in both formulations.
    docs = _docs(spark, sf_dir)
    tok = docs.select("doc_id", F.posexplode(tokens(t)).alias("pos", "tok"))
    posfp = (
        tok.select(
            "doc_id",
            ((h(F.col("tok")) * (F.col("pos") + 1)) % F.lit(_FP_P)).alias("c"),
        )
        .groupBy("doc_id")
        .agg((F.sum("c") % F.lit(_FP_P)).alias("positional_fp"))
    )
    bpe = F.size(F.regexp_extract_all(t, F.lit(_BPE_RE), F.lit(0)))
    ws = token_count(t)
    base = docs.select(
        "doc_id",
        ws.alias("n_tokens"),
        F.size(distinct_tokens(t)).alias("n_uniq_tokens"),
        F.round(avg_token_len(t), 4).alias("avg_token_len"),
        fingerprint(t).alias("fp"),
        bpe.alias("bpe_tokens"),
        F.round(bpe.cast("double") / ws, 4).alias("tokens_per_word"),
    )
    return (
        base.join(posfp, "doc_id", "left")
        .withColumn(
            "positional_fp", F.coalesce("positional_fp", F.lit(0))
        )
        .orderBy("doc_id")
    )


def token_stats_np(docs: DataFrame) -> DataFrame:
    """Arrow twin of the `docs_token_stats` projection — ONE pass over
    each document instead of seven independent JVM regex scans plus an
    md5-per-token posexplode (each derived column re-scans the text:
    measured 5-10 s per column at 500 k docs, 99 s total at sf10).

    Engine-parity notes (each pinned by the twin-equality edge test):
    - Spark ``trim`` strips only 0x20 → ``str.strip(' ')``;
    - Java ``\\s`` is the ASCII class [ \\t\\n\\x0b\\f\\r] → Python
      ``re.ASCII`` gives the identical set (``\\v`` = 0x0b);
    - ``re.split(r'\\s+', '')`` → ``['']`` exactly like Java split, so
      a whitespace-only doc has ONE empty token on both engines (and a
      positional fp seeded by md5(''), not 0);
    - md5 over UTF-8 bytes is bit-identical across Spark, DuckDB and
      hashlib — the `fingerprint` portability contract;
    - the division + round(·, 4) finish stays JVM-side, so float
      formatting can't diverge from the JVM twin.
    Non-ASCII case/length edge cases (astral-plane lengths, locale
    lowercasing) are out of contract — the DuckDB oracle already pins
    the JVM twin to code-point semantics on this corpus.
    Token md5s are memoized per batch: natural-language corpora repeat
    tokens heavily, so the cache converts the dominant cost (25 M
    hashlib calls at sf10) into dict hits.
    """
    import hashlib
    import re

    import pandas as pd

    ws_re = re.compile(r"\s+", re.ASCII)
    bpe_re = re.compile(_BPE_RE)

    def stats(batches):
        h_cache: dict[str, int] = {}

        def h32(tok: str) -> int:
            v = h_cache.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:8], 16)
                h_cache[tok] = v
            return v

        for pdf in batches:
            out = {
                "doc_id": [], "n_tokens": [], "n_uniq_tokens": [],
                "non_ws": [], "fp": [], "bpe_tokens": [], "positional_fp": [],
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                out["doc_id"].append(doc_id)
                if text is None:
                    for c in ("n_tokens", "n_uniq_tokens", "non_ws", "fp",
                              "bpe_tokens"):
                        out[c].append(None)
                    out["positional_fp"].append(0)  # the left-join coalesce
                    continue
                st = text.strip(" ")
                toks = ws_re.split(st)
                out["n_tokens"].append(len(toks))
                out["n_uniq_tokens"].append(len(set(toks)))
                out["non_ws"].append(len(ws_re.sub("", st)))
                out["fp"].append(
                    hashlib.md5(ws_re.sub(" ", st.lower()).encode("utf-8")).hexdigest()
                )
                out["bpe_tokens"].append(len(bpe_re.findall(text)))
                out["positional_fp"].append(
                    sum(h32(t) * p % _FP_P for p, t in enumerate(toks, 1)) % _FP_P
                )
            yield pd.DataFrame(out)

    from ballcone_spark.plans.parallelism import widen

    counted = widen(docs.select("doc_id", "text")).mapInPandas(
        stats,
        "doc_id long, n_tokens int, n_uniq_tokens int, non_ws long, "
        "fp string, bpe_tokens int, positional_fp long",
    )
    return counted.select(
        "doc_id",
        "n_tokens",
        "n_uniq_tokens",
        F.round(F.col("non_ws").cast("double") / F.col("n_tokens"), 4).alias(
            "avg_token_len"
        ),
        "fp",
        "bpe_tokens",
        F.round(F.col("bpe_tokens").cast("double") / F.col("n_tokens"), 4).alias(
            "tokens_per_word"
        ),
        "positional_fp",
    )


def quality_signals_np(
    docs: DataFrame, extra_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(doc_id, *extra_cols, n_tokens, n_uniq_tokens, fp) in one Arrow
    pass — the quality-gate subset of :func:`token_stats_np` (same
    tokenization-parity rules, fuzz-pinned there) WITHOUT the BPE regex
    and positional-fp work the curation/report consumers don't need.
    ``extra_cols`` echo through the kernel so downstream grouping needs
    no join back to the corpus — the whole signal stage stays
    shuffle-free."""
    import hashlib
    import re

    import pandas as pd

    ws_re = re.compile(r"\s+", re.ASCII)
    extra = list(extra_cols)

    def stats(batches):
        for pdf in batches:
            out = {c: [] for c in ["doc_id", *extra, "n_tokens", "n_uniq_tokens", "fp"]}
            for row in zip(pdf["doc_id"], *[pdf[c] for c in extra], pdf["text"]):
                doc_id, text = row[0], row[-1]
                out["doc_id"].append(doc_id)
                for c, v in zip(extra, row[1:-1]):
                    out[c].append(v)
                if text is None:
                    out["n_tokens"].append(None)
                    out["n_uniq_tokens"].append(None)
                    out["fp"].append(None)
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
            yield pd.DataFrame(out)

    from ballcone_spark.plans.parallelism import widen

    schema_extra = ", ".join(
        f"{c} {dict(docs.dtypes)[c]}" for c in extra
    )
    schema = "doc_id long, " + (schema_extra + ", " if schema_extra else "") + (
        "n_tokens int, n_uniq_tokens int, fp string"
    )
    return widen(docs.select("doc_id", *extra, "text")).mapInPandas(stats, schema)


@_query(
    "docs_token_stats_vectorized",
    _TOKEN_STATS_ORACLE,  # the SAME oracle as the JVM twin, verbatim
)
def docs_token_stats_vectorized(spark, sf_dir):
    """Arrow twin of `docs_token_stats`: one-pass per-doc kernel with
    the round(·, 4) finish JVM-side, hash-checked against the identical
    DuckDB oracle. sf10: 99.0 s JVM → see BASELINE §6d."""
    return token_stats_np(_docs(spark, sf_dir)).orderBy("doc_id")


@_query(
    "docs_quality_by_source",
    f"""
    SELECT source,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len({_DUCK_TOKENS})), 4) AS avg_tokens,
           round(avg(len(list_distinct({_DUCK_TOKENS}))
                     * 1.0 / len({_DUCK_TOKENS})), 4) AS avg_uniq_ratio,
           CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
               AS short_docs
    FROM documents GROUP BY source ORDER BY source
    """,
    driver=False,  # quality signals + per-source report covered by curation
)
def docs_quality_by_source(spark, sf_dir):
    """Corpus quality profile per source: length, token, repetition and
    short-doc signals — the filter-threshold inputs of a training-data
    quality pipeline. Partial-aggregated groupBy on a low-card key."""
    t = F.col("text")
    return (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg(token_count(t)), 4).alias("avg_tokens"),
            F.round(F.avg(uniq_token_ratio(t)), 4).alias("avg_uniq_ratio"),
            F.sum(F.when(F.col("n_chars") < 200, 1).otherwise(0)).alias("short_docs"),
        )
        .orderBy("source")
    )


def _duck_lang_scores() -> str:
    parts = []
    for lang, words in LANG_LEXICONS.items():
        arr = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"len(list_intersect(list_distinct({_DUCK_TOKENS}), [{arr}])) AS s_{lang}"
        )
    return ", ".join(parts)


def _duck_lang_case() -> str:
    langs = list(LANG_LEXICONS)
    clauses = []
    for i, lang in enumerate(langs[:-1]):
        rest = ", ".join(f"s_{o}" for o in langs[i + 1 :])
        greatest = f"greatest({rest})" if "," in rest else f"s_{langs[-1]}"
        clauses.append(f"WHEN s_{lang} >= {greatest} THEN '{lang}'")
    return "CASE " + " ".join(clauses) + f" ELSE '{langs[-1]}' END"


@_query(
    "docs_lang_id_confusion",
    f"""
    WITH scored AS (SELECT doc_id, lang, {_duck_lang_scores()} FROM documents),
    pred AS (SELECT lang, {_duck_lang_case()} AS predicted FROM scored)
    SELECT lang, predicted, count(*) AS n
    FROM pred GROUP BY lang, predicted ORDER BY lang, predicted
    """,
)
def docs_lang_id_confusion(spark, sf_dir):
    """Language-ID heuristic: score each doc against tiny per-language
    stopword lexicons (distinct-token ∩ lexicon), argmax with a fixed
    priority tie-break, then confusion matrix against the labeled lang.
    Lexicons are shared verbatim with the oracle."""
    t = F.col("text")
    langs = list(LANG_LEXICONS)
    df = _docs(spark, sf_dir).select(
        "lang",
        *[
            F.size(
                F.array_intersect(
                    distinct_tokens(t), F.array(*[F.lit(w) for w in LANG_LEXICONS[l]])
                )
            ).alias(f"s_{l}")
            for l in langs
        ],
    )
    pred = None
    for i, lang in enumerate(langs[:-1]):
        rest = [F.col(f"s_{o}") for o in langs[i + 1 :]]
        greatest = F.greatest(*rest) if len(rest) > 1 else rest[0]
        cond = F.col(f"s_{lang}") >= greatest
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    pred = pred.otherwise(langs[-1])
    return (
        df.withColumn("predicted", pred)
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "predicted")
    )


@_query(
    "docs_bpe_token_estimate",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_RE}')) AS bpe_tokens,
           len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
           round(len(regexp_extract_all(text, '{_BPE_RE}'))
                 * 1.0 / len(string_split_regex(trim(text), '\\s+')), 4)
               AS tokens_per_word
    FROM documents ORDER BY doc_id
    """,
    driver=False,  # merged into docs_token_stats (bpe_tokens column)
)
def docs_bpe_token_estimate(spark, sf_dir):
    """Token-count estimation with a BPE-style pre-tokenizer regex
    (split points ≈ GPT-2's) next to plain whitespace counts — the
    cost-estimation signal of an LLM data pipeline. Same regex text runs
    in Spark's Java engine and DuckDB's RE2."""
    t = F.col("text")
    bpe = F.size(F.regexp_extract_all(t, F.lit(_BPE_RE), F.lit(0)))
    ws = token_count(t)
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            bpe.alias("bpe_tokens"),
            ws.alias("ws_tokens"),
            F.round(bpe.cast("double") / ws, 4).alias("tokens_per_word"),
        )
        .orderBy("doc_id")
    )


_FP_CTE = """
tok AS (SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts
              FROM documents)),
contrib AS (SELECT doc_id,
                   (CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) * pos)
                       % 2147483647 AS c
            FROM tok)
"""


@_query(
    "docs_positional_fingerprint",
    f"""
    WITH {_FP_CTE}
    SELECT doc_id, CAST(sum(c) % 2147483647 AS BIGINT) AS fingerprint
    FROM contrib GROUP BY doc_id ORDER BY doc_id
    """,
    driver=False,  # merged into docs_token_stats (positional_fp column)
)
def docs_positional_fingerprint(spark, sf_dir):
    """Order-sensitive rolling-hash-style fingerprint: Σ pos·h(token)
    mod P. Unlike the md5 fingerprint (order-insensitive after
    normalization), token *reordering* changes this one — the cheap
    structural signature for near-identical-but-reordered detection.
    One posexplode + one aggregate, map-side combinable."""
    from ballcone_spark.functions.text import tokens

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "t")
    )
    h = F.conv(F.substring(F.md5("t"), 1, 8), 16, 10).cast("long")
    c = (h * (F.col("pos") + 1)) % F.lit(_FP_P)
    return (
        tok.select("doc_id", c.alias("c"))
        .groupBy("doc_id")
        .agg((F.sum("c") % F.lit(_FP_P)).alias("fingerprint"))
        .orderBy("doc_id")
    )


@_query("events_daily_unique_approx", None, driver=False)  # HLL opt-in;
# exact twin events_daily_unique_users is the driver-checked surface
def events_daily_unique_approx(spark, sf_dir):
    """HyperLogLog uniques per day (approx_count_distinct, rsd=1%) — the
    documented opt-in for interactive dashboards at extreme scale where
    the exact expand+aggregate distinct (events_daily_unique_users) is
    too expensive (SURVEY.md §2 Q4 note)."""
    from ballcone_spark.queries import load_table as _lt

    return (
        _lt(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("date"))
        .agg(F.approx_count_distinct("user_id", 0.01).alias("approx_uniques"))
        .orderBy("date")
    )


@_query(
    "docs_binary_meta",
    """
    SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS content_md5
    FROM documents ORDER BY doc_id
    """,
)
def docs_binary_meta(spark, sf_dir):
    """Opaque-binary column pass (multimodal plumbing smoke): treat the
    UTF-8 encoding of text as a binary payload, compute size + content
    hash — the same schema/plan shape used for image/audio bytes
    (see ballcone_spark.operators.multimodal for the decode stubs)."""
    b = F.encode(F.col("text"), "UTF-8")
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.length(b).cast("long").alias("n_bytes"),
            F.md5(b).alias("content_md5"),
        )
        .orderBy("doc_id")
    )


_TFIDF_TOPK = 3
_TFIDF_MAX_DOC = 100

_TFIDF_CTE = f"""
tok AS (SELECT doc_id, unnest({_DUCK_TOKENS}) AS term FROM documents),
n_docs AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
tf AS (SELECT doc_id, term, count(*) AS f,
              count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY doc_id) AS tf
       FROM tok GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
scored AS (SELECT t.doc_id, t.term,
                  t.tf * (ln((n.n + 1.0) / (d.df + 1.0)) + 1.0) AS tfidf
           FROM tf t JOIN df d ON t.term = d.term CROSS JOIN n_docs n)
"""


@_query(
    "docs_tfidf_top_terms",
    f"""
    WITH {_TFIDF_CTE},
    ranked AS (SELECT doc_id, term, tfidf,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY tfidf DESC, term) AS rank
               FROM scored WHERE doc_id < {_TFIDF_MAX_DOC})
    SELECT doc_id, term, round(tfidf, 4) AS tfidf, rank
    FROM ranked WHERE rank <= {_TFIDF_TOPK}
    ORDER BY doc_id, rank
    """,
)
def docs_tfidf_top_terms(spark, sf_dir):
    """Top-3 TF-IDF terms per document (smoothed IDF:
    ln((N+1)/(df+1)) + 1 — sklearn's convention). The keyword-extraction
    primitive of a text pipeline, all JVM-side:

    - TF: one shuffle on (doc_id, term) with map-side partial counts;
    - DF: the (term → doc count) table, re-aggregated from TF output —
      at 100 TB this stays one extra shuffle of the *distinct* term
      space, not the token stream;
    - top-k per doc via WindowGroupLimit (rank pushed below the
      shuffle).

    Restricted to doc_id < 100 only to bound the *result* (the scoring
    itself runs corpus-wide; the filter applies after TF so IDF matches
    the oracle's corpus-wide statistics)."""
    from pyspark.sql import Window

    from ballcone_spark.functions.text import tokens

    tok = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    # ONE corpus-wide token explode + (doc_id, term) aggregate feeds all
    # three statistics (r15). Before, TF / DF / N each re-derived it —
    # three scans and three explodes of the corpus per execution (the
    # doc_id<100 result bound pruned only the TF branch; DF and N are
    # corpus-wide by definition). The lineage barrier is the family's
    # standard fix (exact_jaccard_on_pairs, lm_quality grams): DF and N
    # now read the materialized aggregate, and TF's per-doc filter runs
    # over it too — same rows, since TF of a doc never depends on other
    # docs. Plan: 3 parquet scans → 1.
    tf_counts = checkpoint(tok.groupBy("doc_id", "term").agg(F.count("*").alias("f")))
    w_doc = Window.partitionBy("doc_id")
    tf = tf_counts.withColumn("tf", F.col("f") / F.sum("f").over(w_doc))
    df = tf_counts.groupBy("term").agg(F.count("*").alias("df"))
    # N from the same aggregate as DF — a doc with ≥1 token survives the
    # (doc_id, term) grouping with ≥1 row, so countDistinct(doc_id) over
    # it is identical to countDistinct over the raw token stream.
    n_docs = tf_counts.select(F.countDistinct("doc_id").alias("n"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            ).alias("tfidf"),
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.where(F.col("doc_id") < _TFIDF_MAX_DOC)
        .withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= _TFIDF_TOPK)
        .select("doc_id", "term", F.round("tfidf", 4).alias("tfidf"), "rank")
        .orderBy("doc_id", "rank")
    )


_SAMPLE_PCT = 10
_TRAIN_PCT = 80  # curation pipeline's train-split share


@_query(
    "docs_deterministic_sample",
    f"""
    SELECT doc_id, source,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 100 < {_SAMPLE_PCT}
    ORDER BY doc_id
    """,
    driver=False,  # the hash-bucket sample primitive is driver-checked as
    # the sampling stage of docs_curation_pipeline
)
def docs_deterministic_sample(spark, sf_dir):
    """Reproducible ~10% sample via content-independent key hashing
    (md5(doc_id) mod 100) — the split primitive of a training pipeline:
    the same doc lands on the same side of a train/eval split on every
    engine, every run, at every scale, with no sampling state and no
    shuffle (a pure scan filter, pushed into the row-group read).
    `df.sample()` seeds are engine-specific; hash-bucket sampling is the
    portable, join-stable alternative."""
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "source", bucket.alias("bucket"))
        .where(bucket < _SAMPLE_PCT)
        .orderBy("doc_id")
    )


_CURATION_ORACLE = f"""
    WITH scored AS (
        SELECT doc_id, source, lang, n_chars,
               len({_DUCK_TOKENS}) AS n_tokens,
               len(list_distinct({_DUCK_TOKENS})) * 1.0
                   / len({_DUCK_TOKENS}) AS uniq_ratio,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents
    ),
    quality AS (
        SELECT * FROM scored
        WHERE n_chars >= 100 AND n_tokens >= 20 AND uniq_ratio >= 0.3
    ),
    deduped AS (
        SELECT * FROM quality
        WHERE (fp, doc_id) IN (
            SELECT (fp, min(doc_id)) FROM quality GROUP BY fp
        )
    ),
    sampled AS (
        SELECT * FROM deduped
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 100 < {_TRAIN_PCT}
    )
    SELECT d.source, d.lang, count(*) AS kept_docs,
           CAST(count(s.doc_id) AS BIGINT) AS train_docs,
           round(avg(d.n_tokens), 4) AS avg_tokens
    FROM deduped d LEFT JOIN sampled s ON d.doc_id = s.doc_id
    GROUP BY d.source, d.lang ORDER BY d.source, d.lang
    """


def _curation_tail(scored: DataFrame) -> DataFrame:
    """quality gate → fp dedup (keep lowest doc_id) → hash-bucket train
    split → per-(source, lang) yield report. Shared by both curation
    twins; ``scored`` must carry (doc_id, source, lang, n_chars,
    n_tokens, uniq_ratio, fp)."""
    from pyspark.sql import Window

    quality = scored.where(
        (F.col("n_chars") >= 100)
        & (F.col("n_tokens") >= 20)
        & (F.col("uniq_ratio") >= 0.3)
    )
    w = Window.partitionBy("fp")
    deduped = quality.withColumn("keep", F.min("doc_id").over(w)).where(
        F.col("doc_id") == F.col("keep")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    in_train = F.when(bucket < _TRAIN_PCT, 1)
    return (
        deduped.groupBy("source", "lang")
        .agg(
            F.count("*").alias("kept_docs"),
            F.count(in_train).alias("train_docs"),
            F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        )
        .orderBy("source", "lang")
    )


@_query(
    "docs_curation_pipeline",
    _CURATION_ORACLE,
)
def docs_curation_pipeline(spark, sf_dir):
    """The composed curation pass every training pipeline runs: quality
    gate (length, token count, repetition ratio) → exact dedup (keep
    lowest doc_id per normalized fingerprint) → deterministic hash-bucket
    train-split sample (md5(doc_id) mod 100 < 80: content-independent,
    engine-portable, shuffle-free — the docs_deterministic_sample
    primitive, EXTRA_QUERIES) → per-(source, lang) yield report with kept
    and train counts. r7: the per-doc signal stage is the one-pass Arrow
    quality kernel (the JVM projection tokenized each doc ~5×;
    passthrough columns keep the stage shuffle-free) with the ratio
    division left JVM-side; the JVM projection remains the EXTRA
    cross-check (`docs_curation_pipeline_jvm`). Dedup is one shuffle on
    the fingerprint; the sample is a pure map predicate; the report is a
    partial-aggregated groupBy — three shuffles end to end regardless of
    corpus size."""
    scored = quality_signals_np(
        _docs(spark, sf_dir), extra_cols=("source", "lang", "n_chars")
    ).select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        "n_tokens",
        (
            F.col("n_uniq_tokens").cast("double") / F.col("n_tokens")
        ).alias("uniq_ratio"),
        "fp",
    )
    return _curation_tail(scored)


@_query(
    "docs_curation_pipeline_jvm",
    _CURATION_ORACLE,  # same oracle verbatim — continuous cross-check
    driver=False,
)
def docs_curation_pipeline_jvm(spark, sf_dir):
    """Pure-JVM twin of `docs_curation_pipeline` (the r7 driver entry
    runs the Arrow quality kernel); hash-checked locally against the
    identical oracle."""
    d = _docs(spark, sf_dir)
    t = F.col("text")
    scored = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        token_count(t).alias("n_tokens"),
        uniq_token_ratio(t).alias("uniq_ratio"),
        fingerprint(t).alias("fp"),
    )
    return _curation_tail(scored)


# --------------------------------------------------------------------- #
# PII scrubbing                                                         #
# --------------------------------------------------------------------- #

#: Conservative PII patterns, restricted to the regex subset Java
#: (Spark) and RE2 (DuckDB) treat identically — explicit classes, no
#: lookaround, ASCII \b only. Intentionally high-precision shapes (the
#: published C4/RedPajama-style scrubbers run exactly this class of
#: pattern at corpus scale; recall-maximal PII detection is an NER
#: problem out of scope for a relational engine).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def pii_scrub(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone-shaped digit runs from ``text_col``
    and count each class — the scrub pass a training-data pipeline runs
    before tokenization. Pure JVM (``regexp_replace``/``regexp_count``
    inside codegen): at 100 TB this is a zero-shuffle map over the
    corpus scan, exactly where regex belongs.

    Counts are per-pattern over the RAW text; replacement is sequential
    (email → ip → phone) so an address inside an email is redacted as
    part of the email. Replacement tokens contain no digits, so later
    patterns can never re-match earlier redactions."""
    t = F.col(text_col)
    clean = F.regexp_replace(t, _PII_EMAIL, "<EMAIL>")
    clean = F.regexp_replace(clean, _PII_IPV4, "<IP>")
    clean = F.regexp_replace(clean, _PII_PHONE, "<PHONE>")
    return (
        docs.withColumn("n_emails", F.regexp_count(t, F.lit(_PII_EMAIL)))
        .withColumn("n_ipv4", F.regexp_count(t, F.lit(_PII_IPV4)))
        .withColumn("n_phones", F.regexp_count(t, F.lit(_PII_PHONE)))
        .withColumn("text_clean", clean)
    )


@_query(
    "docs_pii_scrub",
    f"""
    WITH scrubbed AS (
        SELECT source,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{_PII_IPV4}')) AS n_ipv4,
               len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
               regexp_replace(regexp_replace(regexp_replace(
                   text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_IPV4}', '<IP>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g') AS text_clean
        FROM documents
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS emails,
           CAST(sum(n_ipv4) AS BIGINT) AS ipv4,
           CAST(sum(n_phones) AS BIGINT) AS phones,
           CAST(sum(CAST(('0x' || substr(md5(text_clean), 1, 8)) AS BIGINT))
               AS BIGINT) AS clean_checksum
    FROM scrubbed GROUP BY source ORDER BY source
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally —
    # the synthetic corpus contains no PII (counts are zero), so the
    # load-bearing value check here is clean_checksum: both engines
    # must produce byte-identical redacted text; the non-vacuous
    # planted-PII semantics are pinned by
    # test_pii_scrub_redacts_planted_pii (incl. a DuckDB diff on the
    # planted corpus)
)
def docs_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII scrub report: doc count, per-class redaction
    counts, and a 32-bit-md5 checksum of the redacted text (the value
    witness that both engines redacted identically)."""
    scrubbed = pii_scrub(_docs(spark, sf_dir))
    checksum = F.conv(
        F.substring(F.md5("text_clean"), 1, 8), 16, 10
    ).cast("long")
    return (
        scrubbed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_emails").alias("emails"),
            F.sum("n_ipv4").alias("ipv4"),
            F.sum("n_phones").alias("phones"),
            F.sum(checksum).alias("clean_checksum"),
        )
        .orderBy("source")
    )
