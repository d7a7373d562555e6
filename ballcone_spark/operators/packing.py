"""Sequence packing — the concat-and-chunk step a training pipeline
runs after mixing and before tokenized shards are written: lay every
document end-to-end in one deterministic global order and cut the
stream into fixed-length blocks (GPT-style packing; beyond-reference,
the reference has no corpus operators — its closest surface is the
ordered scan at reference ballcone/dao.py:236-249).

The crux is the **global running token offset**: a naive
``sum() OVER (ORDER BY h)`` window has an empty partition spec, so
Spark plans a SinglePartition exchange and sorts the ENTIRE corpus on
one task — the textbook 100 TB scale-killer. This module computes the
identical prefix sum distributed, in two phases:

1. bucket every doc by the first two hex chars of its order hash —
   256 buckets whose lexicographic order refines the global hash order
   (ordering by ``(bucket, h)`` IS ordering by ``h``);
2. an inclusive cumsum windowed **per bucket** (256-way parallel, each
   window sorts ~n/256 rows);
3. bucket token totals — 256 rows — get their own exclusive prefix sum
   (the only single-partition window, bounded at 256 rows forever) and
   broadcast-join back as per-bucket offsets.

``global_offset = bucket_offset + inner_cum − n_tokens`` then equals
the naive global window's exclusive prefix sum exactly — the DuckDB
oracle computes it the naive way and the hash-match proves the
decomposition. No shuffle grows with corpus size except the one
hash-partition on bucket that the per-bucket windows need anyway.

Block assignment is pure per-row arithmetic on the offset:
``start_block = offset div L``, ``end_block = (offset+n_tokens−1) div
L`` — a doc spans >1 block iff the chunk boundary cuts it. Block
occupancy stats explode each doc over its (bounded: ≤ n_tokens/L + 1)
covered blocks — linear, never quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ballcone_spark.plans import stages
from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = [
    "pack_sequences",
    "pack_block_stats",
    "pack_assignments",
    "write_packed_shards",
    "chunk_documents",
]

_SALT = "pack-v1-"


def _order_hash(doc_id: Column) -> Column:
    """Deterministic global packing order — a seeded md5 permutation
    both engines compute identically (same rationale as
    operators/sampling.py:_mix_hash: no rand(), whose per-partition
    streams change with the physical plan)."""
    return F.md5(F.concat(F.lit(_SALT), doc_id.cast("string")))


def pack_sequences(
    docs: DataFrame, seq_len: int, text_col: str = "text"
) -> DataFrame:
    """Per-doc packing map: (doc_id, n_tokens, offset, start_block,
    end_block) where ``offset`` is the doc's exclusive global token
    prefix sum in md5 order and blocks are ``seq_len``-token chunks of
    the concatenated stream. Whitespace token counting — the rule both
    engines split identically."""
    h = _order_hash(F.col("doc_id"))
    # Lineage barrier (r15): the projection is consumed by BOTH the
    # per-bucket cumsum window and the bucket-totals aggregate — without
    # it each branch re-scanned the corpus and re-split every document's
    # text to count tokens (plan: 2 parquet scans; now 1). The
    # materialized rows are 4 narrow columns per doc — tens of bytes —
    # against a full re-tokenization of the text column.
    base = checkpoint(
        docs.select(
            "doc_id",
            F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
            h.alias("_h"),
            F.substring(h, 1, 2).alias("_bucket"),
        )
    )
    # Phase 1+2: per-bucket inclusive cumsum. Ordering by (_bucket, _h)
    # refines ordering by _h, so per-bucket prefix sums + bucket offsets
    # recompose the global prefix sum exactly.
    inner_w = (
        Window.partitionBy("_bucket")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inner = base.withColumn("_cum", F.sum("n_tokens").over(inner_w))
    # Phase 3: exclusive prefix over the ≤256 bucket totals. This IS a
    # single-partition window — over a row count bounded by the hex
    # alphabet, not the corpus — then broadcast back.
    totals_w = (
        Window.orderBy("_bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        base.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_btotal"))
        .withColumn(
            "_boffset",
            F.sum("_btotal").over(totals_w) - F.col("_btotal"),
        )
        .drop("_btotal")
    )
    packed = inner.join(F.broadcast(offsets), "_bucket").select(
        "doc_id",
        "n_tokens",
        (F.col("_boffset") + F.col("_cum") - F.col("n_tokens")).alias("offset"),
    )
    lit_l = F.lit(int(seq_len))
    return packed.select(
        "doc_id",
        "n_tokens",
        "offset",
        F.floor(F.col("offset") / lit_l).alias("start_block"),
        F.floor((F.col("offset") + F.col("n_tokens") - 1) / lit_l).alias(
            "end_block"
        ),
    )


def pack_block_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Block occupancy from a ``pack_sequences`` map: per block_id the
    number of docs contributing and the tokens they contribute
    (== seq_len for every block but the last — packing wastes nothing).
    The explode is bounded at n_tokens/seq_len + 1 rows per doc."""
    lit_l = F.lit(int(seq_len))
    blocks = packed.select(
        "doc_id",
        "offset",
        "n_tokens",
        F.explode(F.sequence("start_block", "end_block")).alias("block_id"),
    )
    contrib = F.least(
        (F.col("block_id") + 1) * lit_l, F.col("offset") + F.col("n_tokens")
    ) - F.greatest(F.col("block_id") * lit_l, F.col("offset"))
    return (
        blocks.groupBy("block_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(contrib).alias("n_tokens"),
        )
        .orderBy("block_id")
    )


def pack_assignments(packed: DataFrame, seq_len: int) -> DataFrame:
    """Exact per-(block, doc) token sub-ranges from a ``pack_sequences``
    map: (block_id, doc_id, doc_tok_start, n_tokens) where
    ``doc_tok_start`` is the 0-based token index inside the doc where
    this block's slice begins. A doc cut by a block boundary appears
    once per covered block with complementary ranges — the layout a
    training shard actually stores. Same bounded explode as
    ``pack_block_stats``."""
    lit_l = F.lit(int(seq_len))
    blocks = packed.select(
        "doc_id",
        "offset",
        "n_tokens",
        F.explode(F.sequence("start_block", "end_block")).alias("block_id"),
    )
    start_in_doc = F.greatest(
        F.col("block_id") * lit_l - F.col("offset"), F.lit(0)
    )
    contrib = F.least(
        (F.col("block_id") + 1) * lit_l, F.col("offset") + F.col("n_tokens")
    ) - F.greatest(F.col("block_id") * lit_l, F.col("offset"))
    return blocks.select(
        "block_id",
        "doc_id",
        start_in_doc.alias("doc_tok_start"),
        contrib.alias("n_tokens"),
    )


def write_packed_shards(
    docs: DataFrame,
    out_dir: str,
    seq_len: int,
    blocks_per_shard: int,
    text_col: str = "text",
) -> DataFrame:
    """Materialize the packed corpus as size-balanced parquet shards:
    ``out_dir/shard_id=N/`` holds the token slices of every block in
    [N·blocks_per_shard, (N+1)·blocks_per_shard) — each shard carries
    exactly blocks_per_shard · seq_len tokens (the final one less), so
    downstream training readers stream equal-sized shards with no
    rebalancing pass.

    The token slice is cut JVM-side (``slice`` of the split token
    array, re-joined) — the shard rows are self-contained; a reader
    reconstructs block text by concatenating slices in offset order
    without touching the source corpus. ``repartition(shard_id)``
    co-locates each shard into one task so a shard's files are written
    together (one writer per shard, no tiny-file spray). Returns the
    written DataFrame (re-read from ``out_dir``)."""
    packed = pack_sequences(docs, seq_len, text_col=text_col)
    asg = pack_assignments(packed, seq_len)
    toks = docs.select(
        "doc_id", F.split(F.col(text_col), " ").alias("_toks")
    )
    rows = (
        asg.join(toks, "doc_id")
        .select(
            (F.col("block_id") / blocks_per_shard)
            .cast("long")
            .alias("shard_id"),
            "block_id",
            "doc_id",
            "doc_tok_start",
            F.concat_ws(
                " ",
                F.slice(
                    "_toks",
                    F.col("doc_tok_start").cast("int") + 1,
                    F.col("n_tokens").cast("int"),
                ),
            ).alias("text_slice"),
        )
    )
    spark = docs.sparkSession
    (
        rows.repartition("shard_id")
        .sortWithinPartitions("block_id", "doc_tok_start")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    return spark.read.parquet(out_dir)


_SEQ_LEN = 512

_PACK_CTE = f"""
counted AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           md5(concat('{_SALT}', CAST(doc_id AS VARCHAR))) AS h
    FROM documents
),
packed AS (
    -- CAST: DuckDB SUM(BIGINT) is HUGEINT → float64 through the
    -- driver's pandas hash path while Spark stays int64 (VERDICT r7 #1)
    SELECT doc_id, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS "offset"
    FROM counted
)
"""


@_query(
    "docs_pack_sequences",
    f"""
    WITH {_PACK_CTE}
    SELECT doc_id, n_tokens, "offset",
           CAST(floor("offset" / {_SEQ_LEN}) AS BIGINT) AS start_block,
           CAST(floor(("offset" + n_tokens - 1) / {_SEQ_LEN}) AS BIGINT)
               AS end_block
    FROM packed
    ORDER BY doc_id
    """,
    # promoted to driver r8 (VERDICT r7 #4): the most production-shaped
    # packing query — the bucketed two-phase prefix sum vs the oracle's
    # naive global window; slot freed by demoting the tpch_q18 echo
)
def docs_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing map at 512 tokens/block. The oracle is
    the naive global window (fine at oracle scale); the Spark path is
    the two-phase bucketed prefix sum — the hash-match is the proof the
    decomposition reproduces the global cumsum row-for-row."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(docs, _SEQ_LEN).orderBy("doc_id")


@_query(
    "docs_pack_block_stats",
    f"""
    WITH {_PACK_CTE},
    spans AS (
        SELECT doc_id, "offset", n_tokens,
               unnest(generate_series(
                   CAST(floor("offset" / {_SEQ_LEN}) AS BIGINT),
                   CAST(floor(("offset" + n_tokens - 1) / {_SEQ_LEN})
                        AS BIGINT)
               )) AS block_id
        FROM packed
    )
    SELECT block_id, count(*) AS n_docs,
           CAST(sum(least((block_id + 1) * {_SEQ_LEN}, "offset" + n_tokens)
                    - greatest(block_id * {_SEQ_LEN}, "offset"))
                AS BIGINT) AS n_tokens
    FROM spans
    GROUP BY block_id
    ORDER BY block_id
    """,
    driver=False,
)
def docs_pack_block_stats(spark, sf_dir):
    """Block occupancy of the 512-token packing: every block's doc
    count and token fill (== 512 except the final partial block —
    checked row-for-row against the oracle's unnest/generate_series
    replay of the same spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_block_stats(pack_sequences(docs, _SEQ_LEN), _SEQ_LEN)


_BLOCKS_PER_SHARD = 16


@_query(
    "docs_pack_shard_manifest",
    f"""
    WITH {_PACK_CTE},
    spans AS (
        SELECT doc_id, "offset", n_tokens,
               unnest(generate_series(
                   CAST(floor("offset" / {_SEQ_LEN}) AS BIGINT),
                   CAST(floor(("offset" + n_tokens - 1) / {_SEQ_LEN})
                        AS BIGINT)
               )) AS block_id
        FROM packed
    )
    SELECT CAST(floor(block_id / {_BLOCKS_PER_SHARD}) AS BIGINT)
               AS shard_id,
           count(DISTINCT block_id) AS n_blocks,
           count(DISTINCT doc_id) AS n_docs,
           CAST(sum(least((block_id + 1) * {_SEQ_LEN}, "offset" + n_tokens)
                    - greatest(block_id * {_SEQ_LEN}, "offset"))
                AS BIGINT) AS n_tokens
    FROM spans
    GROUP BY shard_id
    ORDER BY shard_id
    """,
    driver=False,
)
def docs_pack_shard_manifest(spark, sf_dir):
    """Shard-level manifest of the 512-token packing at 16 blocks per
    shard: every shard's block count, distinct contributing docs, and
    token fill (== 16·512 except the final shard) — the balance
    contract ``write_packed_shards`` materializes on disk."""
    docs = load_table(spark, sf_dir, "documents")
    asg = pack_assignments(pack_sequences(docs, _SEQ_LEN), _SEQ_LEN)
    return (
        asg.groupBy(
            (F.col("block_id") / _BLOCKS_PER_SHARD)
            .cast("long")
            .alias("shard_id")
        )
        .agg(
            F.countDistinct("block_id").alias("n_blocks"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------- #
# Sliding-window chunking — the retrieval/RAG-side counterpart of       #
# packing: SPLIT one document into fixed windows with overlap, rather   #
# than CONCATENATE many documents into fixed blocks.                    #
# --------------------------------------------------------------------- #

#: chunker defaults: 128-token windows advancing 64 tokens — 50%
#: overlap, the common embedding-pipeline setting
CHUNK_WINDOW = 128
CHUNK_STRIDE = 64


def chunk_documents(
    docs: DataFrame,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    text_col: str = "text",
    with_tokens: bool = False,
) -> DataFrame:
    """(doc_id, chunk_id, tok_start, n_tokens, chunk_fp) — every
    ``window``-token sliding chunk of each document at ``stride``-token
    steps (chunks start while tok_start < doc length; the tail chunk
    may be short). ``chunk_fp`` is the portable md5 of the chunk text —
    the identity an embedding/RAG pipeline keys its vectors on, and
    what makes chunk-level dedup a plain groupBy downstream.

    Pure per-row arithmetic + one explode: ``sequence(0, size−1,
    stride)`` emits each doc's chunk starts (bounded by doc length —
    linear, no corpus-keyed shuffle anywhere), ``slice`` cuts the
    token window JVM-side. No window functions, no joins: the plan is
    scan → generate → project, the shape that parallelizes by input
    split at any corpus size."""
    toks = F.split(F.col(text_col), " ")
    # NULL text -> no rows (repo-wide convention, matching _gram_rows /
    # the shingle kernels and the oracle's unnest-of-NULL behavior):
    # without this, size(NULL)=NULL slips through greatest/least and
    # emits one phantom (chunk_id=0, n_tokens=window, fp=md5('')) chunk.
    d = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id", toks.alias("_t"), F.size(toks).alias("_n")
    )
    d = d.select(
        "doc_id",
        "_t",
        "_n",
        F.explode(
            F.sequence(
                F.lit(0), F.greatest(F.col("_n") - 1, F.lit(0)), F.lit(stride)
            )
        ).alias("tok_start"),
    )
    chunk = F.slice("_t", F.col("tok_start") + 1, window)
    cols = [
        F.col("doc_id"),
        (F.col("tok_start") / stride).cast("long").alias("chunk_id"),
        F.col("tok_start").cast("long").alias("tok_start"),
        F.least(F.lit(window), F.col("_n") - F.col("tok_start"))
        .cast("long")
        .alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    ]
    if with_tokens:
        # the chunk's token array, for consumers that derive per-chunk
        # features (the chunk embedder); fp determines the tokens
        # (fp = md5 of the joined text), so distinct-by-fp keeps one
        cols.append(chunk.alias("chunk_toks"))
    return d.select(*cols).orderBy("doc_id", "chunk_id")


@_query(
    "docs_chunk_windows",
    f"""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    st AS (
        SELECT doc_id, w,
               unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE}))
                   AS tok_start
        FROM ws
    )
    SELECT doc_id,
           CAST(tok_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
           CAST(tok_start AS BIGINT) AS tok_start,
           CAST(least({CHUNK_WINDOW}, len(w) - tok_start) AS BIGINT)
               AS n_tokens,
           md5(list_aggregate(w[tok_start + 1 : tok_start + {CHUNK_WINDOW}],
                              'string_agg', ' ')) AS chunk_fp
    FROM st ORDER BY doc_id, chunk_id
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_chunk_windows(spark, sf_dir):
    """Sliding-window chunk manifest over the documents table (128-token
    windows, 64-token stride): chunk ids, token ranges, and portable
    md5 chunk fingerprints — checked row-for-row (fingerprints
    byte-identical cross-engine) against the oracle's replay."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs)


@_query(
    "docs_chunk_dedup_stats",
    f"""
    WITH ws AS (SELECT doc_id, source, string_split(text, ' ') AS w
                FROM documents),
    st AS (
        SELECT doc_id, source, w,
               unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE}))
                   AS tok_start
        FROM ws
    ),
    ch AS (
        SELECT doc_id, source,
               md5(list_aggregate(
                   w[tok_start + 1 : tok_start + {CHUNK_WINDOW}],
                   'string_agg', ' ')) AS chunk_fp
        FROM st
    ),
    firsts AS (
        SELECT chunk_fp, min(doc_id) AS first_doc FROM ch GROUP BY chunk_fp
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(DISTINCT c.chunk_fp) AS BIGINT) AS distinct_chunks,
           CAST(sum(CASE WHEN c.doc_id != f.first_doc THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_chunk_instances
    FROM ch c JOIN firsts f ON c.chunk_fp = f.chunk_fp
    GROUP BY c.source ORDER BY c.source
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_chunk_dedup_stats(spark, sf_dir):
    """Chunk-level dedup profile per source — what the chunk
    fingerprints are FOR: chunks whose fp first appears in an earlier
    doc are duplicate instances an embedding pipeline skips
    re-embedding (near-dup docs share most of their chunks verbatim).
    One fp-keyed aggregate + a broadcast-joinable first-occurrence
    map; keep-first rule is min(doc_id), the engine-wide tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    firsts = ch.groupBy("chunk_fp").agg(F.min("doc_id").alias("_first"))
    return (
        ch.join(firsts, "chunk_fp")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("chunk_fp").alias("distinct_chunks"),
            F.sum(
                F.when(F.col("doc_id") != F.col("_first"), 1).otherwise(0)
            ).alias("dup_chunk_instances"),
        )
        .orderBy("source")
    )


#: chunk-embedding dims (feature-hashed bag-of-words): each component is
#: an EXACT integer sum of signed 16-bit md5 values, so vectors are
#: bit-identical cross-engine (no float accumulation anywhere); cosine
#: is then 3 deterministic IEEE ops on exact integers. 8 dims → 2^8
#: sign buckets; raise for larger corpora (bucket count = 2^dim).
CHUNK_EMB_DIM = 8
#: chunk-level semantic near-dup threshold: random feature-hashed
#: vectors at dim 8 concentrate |cos| well below 0.5; near-dup chunks
#: (a few-token edit in a 128-token window) land ≥ 0.9
CHUNK_COS_T = 0.9


def chunk_embeddings(
    docs: DataFrame,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    dim: int = CHUNK_EMB_DIM,
    text_col: str = "text",
    distinct_chunks: DataFrame | None = None,
) -> DataFrame:
    """(chunk_fp, v0..v{dim-1}) — one deterministic feature-hashed
    bag-of-words embedding per DISTINCT chunk fingerprint. This is the
    "skip re-embedding" contract made executable: duplicate chunk
    instances (same ``chunk_fp``) are collapsed BEFORE the embedder
    runs, so embedding cost is paid once per distinct chunk — exactly
    the skipped work `docs_chunk_dedup_stats.dup_chunk_instances`
    counts.

    The embedder stands in for a model: component j of a chunk is
    Σ_tokens (md5_16(token ⊕ j) − 32768) — a signed random projection
    of the token bag, so chunks sharing most tokens have high cosine
    (the property a real embedder provides) while being exactly
    replayable in SQL. All sums are INTEGER (exact, order-independent,
    cross-engine identical); nothing floats until cosine.

    Scale shape: distinct-by-fp (one shuffle on fp), token explode
    (linear), groupBy fp (one shuffle, map-side combined) — no
    corpus-pair term anywhere. ``distinct_chunks`` (chunk_fp,
    chunk_toks — already distinct) lets a caller that computed the
    frame anyway (chunk_semantic_pairs shares it with the gram phase)
    feed it in instead of re-running the chunker."""
    if distinct_chunks is not None:
        distinct = distinct_chunks
    else:
        ch = chunk_documents(docs, window, stride, text_col, with_tokens=True)
        distinct = ch.select("chunk_fp", "chunk_toks").distinct()
    tok = distinct.select("chunk_fp", F.explode("chunk_toks").alias("t"))
    comps = [
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("t"), F.lit(f"#{j}"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            - 32768
        ).alias(f"v{j}")
        for j in range(dim)
    ]
    return tok.groupBy("chunk_fp").agg(*comps)


#: chunk-gram width for the candidate phase (rare shared runs; a
#: few-token edit leaves many intact 5-gram runs, so near-dup chunks
#: always share sub-cut grams)
CHUNK_GRAM = 5
#: chunk-gram corpus-frequency cut: grams in more distinct chunks are
#: boilerplate and never joined — bounds candidate fan-out at
#: C(df,2) ≤ 32·instances, the SPAN_MAX_DF argument
CHUNK_GRAM_MAX_DF = 64


def chunk_gram_rows(dch: DataFrame) -> DataFrame:
    """(chunk_fp, g) — distinct token ``CHUNK_GRAM``-grams per distinct
    chunk, the candidate-generation signal shared by the batch pair
    operator and the streaming alias map. Distinct (chunk, gram): gram
    df counts chunks, not instances. Chunks shorter than the gram width
    emit no grams (and a bare sequence(1, 0) would count DOWN and emit
    _i=0) — filter first."""
    pos = dch.where(F.size("chunk_toks") >= CHUNK_GRAM).select(
        "chunk_fp",
        F.explode(
            F.sequence(
                F.lit(1), F.size("chunk_toks") - (CHUNK_GRAM - 1)
            )
        ).alias("_i"),
        F.col("chunk_toks"),
    )
    return pos.select(
        "chunk_fp",
        F.concat_ws(
            " ", F.slice("chunk_toks", F.col("_i"), CHUNK_GRAM)
        ).alias("g"),
    ).distinct()


def chunk_semantic_pairs(
    docs: DataFrame,
    tau: float = CHUNK_COS_T,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    dim: int = CHUNK_EMB_DIM,
    text_col: str = "text",
    chunks: DataFrame | None = None,
) -> DataFrame:
    """(a_fp, b_fp, cos) — chunk-level SemDeDup over the chunk
    embeddings: distinct chunks that share a rare (sub-df-cut) token
    5-gram AND have embedding cosine ≥ ``tau``. Closes the RAG loop the
    chunker opened: chunk → embed once per fp → semantic near-dup
    pairs, so a vector store can drop/alias near-duplicate chunks, not
    just verbatim ones.

    Candidate rule — the repo's two-phase pattern (content-overlap
    candidates → exact verify), NOT sign-LSH: an integer random
    projection's component signs flip too easily under small edits
    (a 1-token edit moves a component by up to ±2^16 while components
    of a 128-token chunk concentrate at σ ≈ 2.1·10^5 — per-component
    flip odds ~0.12, all-dim agreement ~0.36, unusable recall). Shared
    rare 5-grams are deterministic under small edits: an edit kills at
    most 5 grams per token changed, the rest still match. df ≤
    CHUNK_GRAM_MAX_DF bounds fan-out exactly like SPAN_MAX_DF.

    Exactness: components are exact integer sums ≤ 128·32768, so dot
    and norms² are exact in both int64 and double (< 2^53); cosine is
    3 deterministic IEEE ops (mul, sqrt, div) with a pinned evaluation
    order, bit-identical cross-engine — the result ships UNROUNDED (no
    round(double,4) boundary risk).

    Materialization barriers: within ONE action the repeated branches
    (ea/eb, the gram self-join sides) already share their shuffle
    subtrees via ReusedExchange, so the checkpoints on `dch`/`emb`/
    `gr` leave the cold run flat (116.5 vs 109.0 s at sf10, ambient
    band) — their measured win is CROSS-ACTION: repeated executions
    reuse the materialized RDDs instead of re-running the chunker
    (steady 98.4 → 47.1 s, 2.1×). Safe here because every join in
    this pipeline is merge-pinned — there is no §6g broadcast margin
    for an eager materialization to blow (the reason the same trick
    was REVERTED in dup_span_coverage/dedup_clusters). The merge hints
    stay mandatory: checkpoint RDDs propagate the same bogus-small
    estimates the aggregates always had.

    ``chunks`` (ADVICE r12): a caller that already built the
    ``chunk_documents(..., with_tokens=True)`` frame (the alias-resolve
    query needs it for its refs side too) feeds it in instead of
    re-running the chunker — the chunker is shuffle-free, so the two
    uses would NOT share work via ReusedExchange on their own.
    PRECEDENCE (r14, ADVICE r13 #4): with ``chunks=`` the
    ``window``/``stride``/``text_col`` arguments are UNUSED — the
    prebuilt frame fixes the chunk geometry, and it is the caller's
    contract that it was built with the parameters they meant. The
    frame must carry ``chunk_fp`` + ``chunk_toks`` (i.e. be a
    ``with_tokens=True`` chunker output); anything else raises rather
    than silently pairing against a geometry-mismatched gram table."""
    if chunks is not None:
        missing = {"chunk_fp", "chunk_toks"} - set(chunks.columns)
        if missing:
            raise ValueError(
                "chunks= must be a chunk_documents(..., with_tokens=True)"
                f" frame; missing column(s) {sorted(missing)} — note"
                " window/stride/text_col are ignored when chunks= is"
                " given (the prebuilt frame fixes the geometry)"
            )
    ch = (
        chunks
        if chunks is not None
        else chunk_documents(docs, window, stride, text_col, with_tokens=True)
    )
    dch = checkpoint(ch.select("chunk_fp", "chunk_toks").distinct())
    emb = checkpoint(
        chunk_embeddings(docs, window, stride, dim, text_col, distinct_chunks=dch)
    )
    grams = chunk_gram_rows(dch)
    rare = (
        grams.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .where((F.col("_df") > 1) & (F.col("_df") <= CHUNK_GRAM_MAX_DF))
        .select("g")
    )
    # MERGE (SortMergeJoin) on every corpus-scale side: rare, the
    # gram self-join, and emb all sit atop aggregates, so their size
    # estimates are bogus-small and an sf10 run chose them as
    # broadcast BUILDs — materializing whole pipelines in the
    # broadcast thread (the §6g size-estimate-blindness class, OOM at
    # 500 k docs). SMJ rather than SHUFFLE_HASH because these sides
    # genuinely scale with the corpus: a per-partition hash map OOMs
    # where a merge join spills (measured: shuffle_hash died building
    # the hash map at sf10 under local-mode memory).
    gr = checkpoint(grams.join(rare.hint("merge"), "g"))
    cand = (
        gr.select(F.col("chunk_fp").alias("a_fp"), "g")
        .join(
            # the self-join side is corpus-scale too (grams⋈rare under
            # joins/filters → bogus-small estimate → broadcast BUILD of
            # the whole gram pipeline at sf1; same §6g class)
            gr.select(F.col("chunk_fp").alias("b_fp"), "g").hint("merge"),
            "g",
        )
        .where(F.col("a_fp") < F.col("b_fp"))
        .select("a_fp", "b_fp")
        .distinct()
    )
    return _verify_chunk_pairs(cand, emb, dim, tau)


def _verify_chunk_pairs(
    cand: DataFrame, emb: DataFrame, dim: int, tau: float
) -> DataFrame:
    """Exact-cosine verify stage over candidate fp pairs: join both
    embedding sides, integer dot/norms, `cos >= tau` cut. Factored out
    so the zero-norm guard is unit-testable with planted embeddings."""
    ea = emb.hint("merge").select(
        F.col("chunk_fp").alias("a_fp"),
        *[F.col(f"v{j}").alias(f"a{j}") for j in range(dim)],
    )
    eb = emb.hint("merge").select(
        F.col("chunk_fp").alias("b_fp"),
        *[F.col(f"v{j}").alias(f"b{j}") for j in range(dim)],
    )
    dot = F.lit(0).cast("long")
    na = F.lit(0).cast("long")
    nb = F.lit(0).cast("long")
    for j in range(dim):
        dot = dot + F.col(f"a{j}") * F.col(f"b{j}")
        na = na + F.col(f"a{j}") * F.col(f"a{j}")
        nb = nb + F.col(f"b{j}") * F.col(f"b{j}")
    cos = dot.cast("double") / F.sqrt(na.cast("double") * nb.cast("double"))
    # zero-norm guard (ADVICE r9): a chunk whose signed sums all cancel
    # has ||v|| = 0, cos = x/sqrt(0) = NaN/Inf, and BOTH engines sort
    # NaN above every number — the degenerate pair would pass
    # `cos >= tau` with a non-finite value. Such chunks carry no
    # direction, so they can never emit a pair; the oracle replays the
    # same na*nb > 0 cut.
    return (
        cand.join(ea, "a_fp")
        .join(eb, "b_fp")
        .where((na > F.lit(0)) & (nb > F.lit(0)))
        .withColumn("cos", cos)
        .where(F.col("cos") >= tau)
        .select("a_fp", "b_fp", "cos")
        .orderBy("a_fp", "b_fp")
    )


def _duck_chunk_emb(dim: int) -> str:
    """Oracle CTE chain to the per-distinct-chunk embedding — the SQL
    replay of :func:`chunk_embeddings` (same md5 projection, same
    integer sums)."""
    vs = ",\n        ".join(
        f"sum(CAST(('0x' || substr(md5(t || '#{j}'), 1, 4)) AS BIGINT)"
        f" - 32768) AS v{j}"
        for j in range(dim)
    )
    return f"""
ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       WHERE text IS NOT NULL),
st AS (SELECT doc_id, w,
              unnest(generate_series(0, len(w) - 1, {CHUNK_STRIDE}))
                  AS tok_start
       FROM ws),
ch AS (SELECT doc_id,
              w[tok_start + 1 : tok_start + {CHUNK_WINDOW}] AS toks,
              md5(list_aggregate(
                  w[tok_start + 1 : tok_start + {CHUNK_WINDOW}],
                  'string_agg', ' ')) AS chunk_fp
       FROM st),
dch AS (SELECT DISTINCT chunk_fp, toks FROM ch),
tok AS (SELECT chunk_fp, unnest(toks) AS t FROM dch),
emb AS (SELECT chunk_fp, {vs} FROM tok GROUP BY chunk_fp)
"""


def _duck_chunk_vp_ctes(dim: int, tau: float) -> str:
    """Shared WITH-body ending in ``vp(a_fp, b_fp, cos)`` — the
    verified chunk near-dup pairs. One definition feeds both the pair
    report and the alias-map oracle (the r9 review's no-duplicated-SQL
    rule)."""
    k = CHUNK_GRAM
    gram_concat = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    dot = " + ".join(f"ea.v{j} * eb.v{j}" for j in range(dim))
    na = " + ".join(f"ea.v{j} * ea.v{j}" for j in range(dim))
    nb = " + ".join(f"eb.v{j} * eb.v{j}" for j in range(dim))
    return f"""{_duck_chunk_emb(dim)},
    gr AS (SELECT DISTINCT chunk_fp, g FROM (
        SELECT chunk_fp,
               unnest(list_transform(
                   generate_series(1, len(toks) - {k - 1}),
                   i -> {gram_concat})) AS g
        FROM dch)),
    rare AS (SELECT g FROM gr GROUP BY g
             HAVING count(*) > 1 AND count(*) <= {CHUNK_GRAM_MAX_DF}),
    cand AS (SELECT DISTINCT a.chunk_fp AS a_fp, b.chunk_fp AS b_fp
             FROM gr a JOIN rare USING (g) JOIN gr b USING (g)
             WHERE a.chunk_fp < b.chunk_fp),
    vp AS (SELECT a_fp, b_fp, cos FROM (
        SELECT a_fp, b_fp,
               CAST({dot} AS DOUBLE)
                   / sqrt(CAST({na} AS DOUBLE) * CAST({nb} AS DOUBLE))
                   AS cos,
               ({na}) * ({nb}) AS nn
        FROM cand
        JOIN emb ea ON ea.chunk_fp = a_fp
        JOIN emb eb ON eb.chunk_fp = b_fp
    ) WHERE nn > 0 AND cos >= {tau})"""


def _duck_chunk_pairs(dim: int, tau: float) -> str:
    return f"""
    WITH {_duck_chunk_vp_ctes(dim, tau)}
    SELECT a_fp, b_fp, cos FROM vp ORDER BY a_fp, b_fp
    """


@_query(
    "docs_chunk_semantic_pairs",
    _duck_chunk_pairs(CHUNK_EMB_DIM, CHUNK_COS_T),
    # promoted r10 (VERDICT r9 #1): the RAG-loop closure — oracle-
    # bearing, sf30-measured, merge-pinned with a plan gate; the freed
    # slot came from tpch_q5_regional_revenue (multi-join+agg skeleton
    # covered by q3/q13/orders_lineitem_bucketed)
)
def docs_chunk_semantic_pairs(spark, sf_dir):
    """Chunk-level semantic near-dup pairs (the RAG-loop closure,
    VERDICT r8 #5): sliding-window chunks, one feature-hashed embedding
    per distinct chunk fingerprint (duplicate instances skip the
    embedder — the dedup-stats contract), rare-shared-gram candidates,
    cosine ≥ 0.9 verify. Every arithmetic step before the final 3 IEEE
    ops is exact integer math, so the oracle replay is bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_semantic_pairs(docs)


def chunk_alias_map(
    docs: DataFrame,
    tau: float = CHUNK_COS_T,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    dim: int = CHUNK_EMB_DIM,
    text_col: str = "text",
    chunks: DataFrame | None = None,
) -> DataFrame:
    """(chunk_fp, canonical_fp, is_canonical) — the chunk-pair signal
    ACTING (the span family's r9 lesson applied to the RAG loop): fold
    semantic near-dup pairs into connected components and elect the
    lexicographically-smallest fingerprint as each cluster's canonical
    chunk. A vector store ingests ONLY canonical chunks and keeps the
    alias rows as a redirect table, so near-duplicate chunks stop
    costing index space and retrieval slots.

    Components reuse :func:`ballcone_spark.operators.dedup.
    dedup_clusters` — the large-star/small-star alternation engine
    (pointer jumping failed to converge in bounded rounds on exactly
    this function's chain-shaped sliding-window graphs; see the r10
    rewrite notes there) — which is type-generic (least/min compare
    md5 strings lexicographically exactly like the oracle's min(r));
    only chunks that appear in at least one pair are emitted
    (singletons need no alias row — by construction they are their own
    canonical).

    ``chunks=`` takes the same precedence as in
    :func:`chunk_semantic_pairs` (which validates it): the prebuilt
    frame fixes the geometry and ``window``/``stride``/``text_col``
    are unused."""
    from ballcone_spark.operators.dedup import dedup_clusters

    pairs = chunk_semantic_pairs(
        docs, tau, window, stride, dim, text_col, chunks=chunks
    )
    clusters = dedup_clusters(
        pairs.select(
            F.col("a_fp").alias("a_id"), F.col("b_fp").alias("b_id")
        )
    )
    return clusters.select(
        F.col("doc_id").alias("chunk_fp"),
        F.col("cluster_id").alias("canonical_fp"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("chunk_fp")


#: recursive-closure components over vp (dedup.py:_cluster_labels_cte
#: pattern) ending in ``labels(id, canonical)`` — min reachable fp per
#: node is exactly the min-label fixpoint the Spark side converges to.
#: Shared by the alias-map oracle and the alias-resolve oracle (the r9
#: review's no-duplicated-SQL rule).
_DUCK_ALIAS_LABELS = """
    edges AS (SELECT a_fp AS src, b_fp AS dst FROM vp
              UNION SELECT b_fp, a_fp FROM vp),
    reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    labels AS (SELECT id, min(r) AS canonical FROM reach GROUP BY id)"""


def _duck_chunk_alias(dim: int, tau: float) -> str:
    """Oracle: the shared vp CTE + the recursive-closure components."""
    return f"""
    WITH RECURSIVE {_duck_chunk_vp_ctes(dim, tau)},{_DUCK_ALIAS_LABELS}
    SELECT id AS chunk_fp, canonical AS canonical_fp,
           id = canonical AS is_canonical
    FROM labels ORDER BY chunk_fp
    """


def _chunk_clusters_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id=chunk_fp, cluster_id=component-min fp) over the default-
    geometry chunk semantic pairs — the shared core of the three alias
    queries, built once per documents generation in the build cache
    instead of once per query (r16: the pair pipeline and the closure's
    driver-job rounds were ~2/3 of the trio's cold build)."""
    from ballcone_spark.operators.dedup import dedup_clusters

    def build() -> DataFrame:
        pairs = chunk_semantic_pairs(load_table(spark, sf_dir, "documents"))
        return dedup_clusters(
            pairs.select(
                F.col("a_fp").alias("a_id"), F.col("b_fp").alias("b_id")
            )
        )

    return stages.memo(spark, sf_dir, "chunk_clusters", build)


@_query(
    "docs_chunk_alias_map",
    _duck_chunk_alias(CHUNK_EMB_DIM, CHUNK_COS_T),
    # promoted r11 (VERDICT r10 #1): the vector-store redirect table with a
    # recursive-closure oracle; dedup_embedding_cosine_recall demoted
)
def docs_chunk_alias_map(spark, sf_dir):
    """Vector-store alias map (r10): WHICH chunk each semantic near-dup
    group keeps — canonical election verified end-to-end by the
    independent engine's recursive closure, the same guarantee level
    the doc-dedup keep rules carry. Built from the shared chunk-cluster
    frame (r16 cold cut) — same functions, same output as
    :func:`chunk_alias_map` over the default geometry."""
    clusters = _chunk_clusters_cached(spark, sf_dir)
    return clusters.select(
        F.col("doc_id").alias("chunk_fp"),
        F.col("cluster_id").alias("canonical_fp"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("chunk_fp")


def apply_alias_map(
    refs: DataFrame, alias_map: DataFrame, fp_col: str = "chunk_fp"
) -> DataFrame:
    """The redirect APPLIED (r12): any frame carrying chunk
    fingerprints gains ``canonical_fp`` (the stored redirect, self when
    absent) and ``is_redirected``. The alias map is O(aliased chunks) —
    small relative to any referencing corpus — so its non-canonical
    rows BROADCAST onto the refs scan: zero shuffle of the caller's
    frame, whatever its size. This is the single join definition behind
    both the streaming read side
    (:func:`ballcone_spark.streaming.alias_stream
    .resolve_chunk_aliases`) and the batch oracle query
    ``docs_chunk_alias_resolve`` — one implementation, two checkers.

    Output columns ``canonical_fp`` and ``is_redirected`` (plus the
    join-temporary ``_cf``) are RESERVED (ADVICE r12): a refs frame
    already carrying any of them — e.g. the output of a prior resolve
    — would be silently clobbered or die with an ambiguous-column
    error mid-join, so the guard raises up front with the fix."""
    clash = [
        c
        for c in refs.columns
        if c in ("canonical_fp", "is_redirected", "_cf")
    ]
    if clash:
        raise ValueError(
            f"apply_alias_map writes reserved columns {clash}; drop or "
            "rename them on the refs frame before resolving (a frame "
            "that went through apply_alias_map once is already resolved)"
        )
    redirect = alias_map.where(~F.col("is_canonical")).select(
        F.col("chunk_fp").alias(fp_col),
        F.col("canonical_fp").alias("_cf"),
    )
    return (
        refs.join(F.broadcast(redirect), fp_col, "left")
        .withColumn("canonical_fp", F.coalesce("_cf", F.col(fp_col)))
        .withColumn("is_redirected", F.col("_cf").isNotNull())
        .drop("_cf")
    )


def _duck_alias_resolve(dim: int, tau: float) -> str:
    """Oracle: per-doc chunk instances (the ``ch`` CTE, which carries
    doc_id) redirected through the recursive-closure labels, then the
    per-doc rollup. SUMs over ints CAST to BIGINT (HUGEINT lint)."""
    return f"""
    WITH RECURSIVE {_duck_chunk_vp_ctes(dim, tau)},{_DUCK_ALIAS_LABELS},
    refs AS (SELECT doc_id, chunk_fp FROM ch),
    resolved AS (
        SELECT r.doc_id,
               COALESCE(l.canonical, r.chunk_fp) AS canonical_fp,
               l.canonical IS NOT NULL AS is_redirected
        FROM refs r
        LEFT JOIN (SELECT id, canonical FROM labels
                   WHERE id != canonical) l
          ON r.chunk_fp = l.id)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN is_redirected THEN 1 ELSE 0 END)
                AS BIGINT) AS n_redirected,
           CAST(count(DISTINCT canonical_fp) AS BIGINT) AS n_canonicals
    FROM resolved GROUP BY doc_id ORDER BY doc_id
    """


@_query(
    "docs_chunk_alias_resolve",
    _duck_alias_resolve(CHUNK_EMB_DIM, CHUNK_COS_T),
    # promoted r13 (VERDICT r12 #2): the alias map's apply side gains a
    # driver CORRECTNESS row; events_overview demoted (its shape is
    # inside events_grouping_sets_profile, the events_dashboard
    # argument from r9)
)
def docs_chunk_alias_resolve(spark, sf_dir):
    """The alias map's APPLY side as an oracle-bearing batch query
    (r12): every chunk instance of every document redirected through
    :func:`chunk_alias_map` via :func:`apply_alias_map` (the exact
    join the streaming ``resolve_chunk_aliases`` read side runs), then
    rolled up per doc — total chunk refs, how many were redirected,
    and how many distinct canonical vectors the doc now points at (the
    index-space the redirect saves, per doc). Independent engine
    replays the redirect through the recursive-closure labels.

    The alias map rides the shared chunk-cluster memo (r16 cold cut —
    previously this build replayed the whole pair pipeline + closure
    that docs_chunk_alias_map had just built); the refs side runs its
    own shuffle-free chunker over the scan, checkpointed so the rollup
    branches don't re-run it."""
    docs = load_table(spark, sf_dir, "documents")
    ch = checkpoint(chunk_documents(docs, with_tokens=True))
    refs = ch.select("doc_id", "chunk_fp")
    clusters = _chunk_clusters_cached(spark, sf_dir)
    alias_map = clusters.select(
        F.col("doc_id").alias("chunk_fp"),
        F.col("cluster_id").alias("canonical_fp"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )
    resolved = apply_alias_map(refs, alias_map)
    return (
        resolved.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.col("is_redirected").cast("long")).alias(
                "n_redirected"
            ),
            F.count_distinct("canonical_fp").alias("n_canonicals"),
        )
        .orderBy("doc_id")
    )
