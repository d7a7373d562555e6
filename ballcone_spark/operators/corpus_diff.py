"""Corpus snapshot diff — the dataset-versioning bookkeeping a managed
training corpus publishes between releases: per change class (added /
removed / rewritten / unchanged), document counts and token mass on
both sides. Beyond-reference (the reference has no corpus operators).

Identity is ``doc_id``; content equality is the engine-wide normalized
md5 fingerprint (the `dedup_exact_*` key), so a whitespace-only edit is
"unchanged" while any token change is "rewritten" — consistent with
how the dedup family treats content.

Scale shape: ONE full-outer join on the identity key (co-partitioned
hash join — the unavoidable and correct shuffle for a two-sided diff)
over two scan-topped per-doc projections, then a partial-aggregated
groupBy on the 4-value change class. Linear in both snapshots; no
window functions, no skew surface (doc_id is unique on each side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballcone_spark.functions.text import duck_hash32, fingerprint, hash32
from ballcone_spark.queries import _query, load_table

__all__ = ["corpus_diff"]


def corpus_diff(
    old: DataFrame, new: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(change, n_docs, tokens_old, tokens_new) for change in
    added / removed / rewritten / unchanged. NULL-text docs are out of
    scope on both sides (the repo-wide 'NULL text → no rows'
    convention)."""

    def prep(d: DataFrame, side: str) -> DataFrame:
        return d.where(F.col(text_col).isNotNull()).select(
            "doc_id",
            fingerprint(F.col(text_col)).alias(f"fp_{side}"),
            F.size(F.split(F.trim(F.col(text_col)), r"\s+")).alias(
                f"t_{side}"
            ),
        )

    j = prep(old, "o").join(prep(new, "n"), "doc_id", "full")
    change = (
        F.when(F.col("fp_o").isNull(), "added")
        .when(F.col("fp_n").isNull(), "removed")
        .when(F.col("fp_o") != F.col("fp_n"), "rewritten")
        .otherwise("unchanged")
    )
    return (
        j.groupBy(change.alias("change"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.coalesce("t_o", F.lit(0))).cast("long").alias("tokens_old"),
            F.sum(F.coalesce("t_n", F.lit(0))).cast("long").alias("tokens_new"),
        )
        .orderBy("change")
    )


#: deterministic doc_id bucket shared with the oracle (the
#: deterministic-sample primitive; duck_hash32 is hash32's SQL twin)
_B = f"{duck_hash32('CAST(doc_id AS VARCHAR)')} % 100"


@_query(
    "docs_corpus_diff",
    f"""
    WITH v2 AS (
        SELECT doc_id,
               CASE WHEN {_B} >= 5 AND {_B} < 10 THEN text || ' v2'
                    ELSE text END AS text
        FROM documents WHERE {_B} >= 5
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
        FROM documents WHERE {_B} >= 10 AND {_B} < 12
    ),
    o AS (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tok
          FROM documents WHERE text IS NOT NULL),
    n AS (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
                 len(string_split_regex(trim(text), '\\s+')) AS n_tok
          FROM v2 WHERE text IS NOT NULL),
    j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
                      WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.fp <> n.fp THEN 'rewritten'
                      ELSE 'unchanged' END AS change,
                 coalesce(o.n_tok, 0) AS t_old,
                 coalesce(n.n_tok, 0) AS t_new
          FROM o FULL JOIN n ON o.doc_id = n.doc_id)
    SELECT change, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(t_old) AS BIGINT) AS tokens_old,
           CAST(sum(t_new) AS BIGINT) AS tokens_new
    FROM j GROUP BY change ORDER BY change
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_corpus_diff(spark, sf_dir):
    """Snapshot diff demonstrated against a deterministic v2 derived
    from the corpus itself (so the oracle can replay it exactly):
    doc_id-bucket < 5 removed, buckets 5-9 rewritten (' v2' appended),
    buckets 10-11 DUPLICATED under fresh ids (the originals stay, so
    those docs count once as unchanged and once as added — the diff
    keys on doc_id, the dedup family keys on content). The operator
    itself takes any two real snapshots."""
    docs = load_table(spark, sf_dir, "documents")
    b = hash32(F.col("doc_id").cast("string")) % 100
    # coalesce: an empty (or all-NULL-id) table must degrade to an
    # empty diff, not a driver TypeError on None + 1
    max_id = (
        docs.agg(F.coalesce(F.max("doc_id"), F.lit(-1))).first()[0] + 1
    )
    kept = docs.where(b >= 5).select(
        "doc_id",
        F.when((b >= 5) & (b < 10), F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.where((b >= 10) & (b < 12)).select(
        (F.col("doc_id") + F.lit(max_id)).alias("doc_id"), "text"
    )
    return corpus_diff(docs, kept.unionByName(added))
