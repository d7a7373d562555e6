"""Deduplication operators over the ``documents`` table — exact, n-gram
Jaccard, MinHash-LSH, SimHash. Beyond-reference (BASELINE.json north star:
LLM-data-pipeline dedup at 100 TB scale).

Scale design:

- **Exact** dedup is a hash groupBy — one shuffle on a 32-hex key, partial
  aggregation map-side. At 100 TB the md5 keys are ~uniform → no skew.
- **n-gram Jaccard** uses the inverted-index bucket join (explode
  shingles, bucket by shingle) — never an O(n²) cross join — with a
  **document-frequency cut**: shingles appearing in more than ``max_df``
  docs (stopword trigrams — the buckets whose collect_list would
  materialize multi-GB rows at corpus scale) are dropped *before* the
  bucket shuffle via an anti-join against the (tiny, Zipf-tailed,
  broadcastable) hot-shingle list. Candidates then come from rare-shingle
  co-occurrence only, and exact Jaccard is verified per candidate pair
  from the full shingle sets (array_intersect) — so the df-cut changes
  candidate *generation*, never the reported Jaccard value. A true
  near-dup pair (J ≥ 0.8) shares ~80% of its shingles; for it to be
  missed, every single shared shingle would have to be corpus-hot —
  vanishingly unlikely at any sensible ``max_df``. When the corpus
  *saturates* its shingle space and every shingle IS hot (selectivity
  collapse — see :func:`adaptive_df_cut`), a pair budget caps the
  inverted index and MinHash band candidates carry recall instead.
- **MinHash-LSH** is the linear-scale path: constant-size signature per
  doc (16 hashes), band join on (band_idx, band_key) buckets, candidate
  pairs verified with true Jaccard. Only near-identical docs collide, so
  the pair join stays tiny regardless of corpus size.
- **SimHash** gives a constant-size per-doc sketch; near-dup candidates
  are equal-sketch groups (Hamming-0) — banding over sketch bytes extends
  to Hamming-k.

All hash functions are md5-derived (:func:`ballcone_spark.functions.text.hash32`)
so the DuckDB oracle computes bit-identical sketches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ballcone_spark.functions.text import (
    duck_hash32,
    fingerprint,
    hash32,
    shingle_rows,
    shingles_of,
    tokens,
)
from ballcone_spark.plans.barriers import checkpoint, checkpoint_fresh_stats
from ballcone_spark.queries import _query, load_table

__all__ = [
    "MINHASH_A",
    "MINHASH_B",
    "MINHASH_P",
    "N_HASHES",
    "N_BANDS",
    "adaptive_df_cut",
    "band_pairs",
    "bucket_pairs",
    "exact_jaccard_on_pairs",
    "hot_shingles",
    "jaccard_pairs",
    "minhash_signatures",
]

# Deterministic MinHash family: h_i(x) = (a_i * x + b_i) mod P over the
# portable 32-bit base hash. Fixed literals shared with the oracle SQL;
# the formula extends to ANY hash count (adaptive band geometry draws
# h_16, h_17, … from the same sequence).
MINHASH_P = 2147483647  # 2^31 - 1
N_HASHES = 16
N_BANDS = 4  # 4 bands × 4 rows — the floor geometry


def _minhash_ab(n_hashes: int) -> tuple[list[int], list[int]]:
    a = [((2 * i + 1) * 2654435761) % MINHASH_P for i in range(n_hashes)]
    b = [(i * 40503 + 17) % MINHASH_P for i in range(n_hashes)]
    return a, b


MINHASH_A, MINHASH_B = _minhash_ab(N_HASHES)

#: corpus size at-or-under which the band geometry stays at the floor
#: 4 bands × 4 rows — covers every driver-oracled SF (≤50 k docs at
#: sf1) so the static oracle SQL replays the EXACT pipeline there.
#: 50 000, not 100 000 (r10): the sf30 sweep caught candidate mass
#: growing 8.9× for 3× docs (2.29 M → 20.4 M) because 500 k and 1.5 M
#: docs landed on the SAME rows=8 plateau of the step function —
#: quadratic bucket occupancy reopens between steps on a saturated
#: shingle space. With the scale anchor at 50 k the step to rows=10
#: fires at >800 k docs: measured at sf30, candidates 20.4 M → 11.7 M
#: (1.7×), verify 169 s → 101 s, with losses CONCENTRATED at the
#: threshold boundary (J=1.0 pairs: 4 059/4 059 kept; J ≥ 0.95:
#: 99.7 %; J ∈ [0.80, 0.85): 78 %) — the bands-vs-rows trade landing
#: exactly where the docstring promises. sf10 keeps rows=8 (unchanged
#: measurements); every oracle-checked SF keeps the floor.
_BAND_SCALE_N = 50_000

#: bands used by the jaccard/containment selectivity-collapse fallback
#: (r7B: twice the default — squares the per-pair band-miss envelope)
_FALLBACK_BANDS = 8


def adaptive_band_rows(n_docs: int) -> int:
    """Rows-per-band for the LSH banding, growing with corpus size
    (round-7 scale fix — the third member of the adaptive family after
    the jaccard df-cut and the hyperplane count).

    Found by the sf10 curve: with FIXED 4×4 geometry, band-bucket sizes
    grow linearly with the corpus once the shingle space saturates
    (max bucket 91 → 287 → 966 at sf1/sf3/sf10 ≈ 0.19 % of docs), so
    candidate pairs grow as Σc² — QUADRATIC (measured 128 k → 1.15 M →
    12.9 M for 50 k → 150 k → 500 k docs; cold 30.9 s → 164.5 s,
    5.3× for 3.3× data). Longer band keys cut the chance-collision
    probability exponentially (per-band P = J^rows) while true pairs
    at the dedup threshold degrade gracefully: measured at sf1,
    rows 4→6→8 gives 2 909 → 2 801 → 2 706 final pairs (93-96 %
    recall of the floor geometry) against 85 k → 39 k → 22 k
    candidates. The floor keeps every oracle-checked SF on the exact
    geometry the static SQL replays; above it, +2 rows per 4× corpus
    growth (the bands-vs-rows trade, documented not auto-tuned —
    compensate with more bands if an application needs the recall
    back)."""
    import math

    if n_docs <= _BAND_SCALE_N:
        return N_HASHES // N_BANDS
    return N_HASHES // N_BANDS + 2 * math.ceil(
        math.log(n_docs / _BAND_SCALE_N) / math.log(4)
    )

#: mega-bucket guard for the LSH band join above the band floor
#: (band_pairs docstring; measured envelope in BASELINE §6ab)
_BAND_BUCKET_CAP = 2000

_NGRAM = 3
_JACCARD_THRESHOLD = 0.8

# Shared DuckDB CTE fragments (kept in one place so every oracle uses the
# identical tokenizer/shingler).
def _duck_shingles(src: str = "documents") -> str:
    """toks/sh CTE pair over ``src`` (any relation with doc_id, text) —
    parameterized so composition oracles (e.g. curation keep-best) can
    shingle a FILTERED doc set with the identical tokenizer."""
    return f"""
toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM {src}),
sh AS (SELECT doc_id,
              list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                             FOR i IN range(1, len(t) - {_NGRAM - 2})]) AS shingles
       FROM toks WHERE len(t) >= {_NGRAM})
"""


_DUCK_SHINGLES = _duck_shingles()

_DUCK_PAIRS = f"""
e AS (SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh),
inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared,
                 any_value(a.n) AS na, any_value(b.n) AS nb
          FROM e a JOIN e b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------- #
# exact dedup                                                           #
# --------------------------------------------------------------------- #


@_query(
    "dedup_exact_stats",
    """
    SELECT count(*) AS total_docs,
           count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
               AS distinct_docs,
           count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
               AS duplicate_docs
    FROM documents
    """,
    driver=False,  # summary of dedup_exact_keep_first (group_size covers it)
)
def dedup_exact_stats(spark, sf_dir):
    """Exact dedup summary: corpus size before/after normalization-hash
    dedup. The keep-one-per-group variant is `dedup_exact_keep_first`."""
    fp = fingerprint(F.col("text"))
    return _docs(spark, sf_dir).agg(
        F.count("*").alias("total_docs"),
        F.count_distinct(fp).alias("distinct_docs"),
        (F.count("*") - F.count_distinct(fp)).alias("duplicate_docs"),
    )


@_query(
    "dedup_exact_keep_first",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp,
           min(doc_id) AS keep_doc_id, count(*) AS group_size
    FROM documents
    GROUP BY fp
    ORDER BY fp
    """,
)
def dedup_exact_keep_first(spark, sf_dir):
    """Exact dedup, keep the lowest doc_id per normalized-text group —
    the canonical hash-groupBy dedup (one shuffle, map-side combine)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(fingerprint(F.col("text")).alias("fp"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("group_size"),
        )
        .orderBy("fp")
    )


# --------------------------------------------------------------------- #
# n-gram Jaccard near-dup                                               #
# --------------------------------------------------------------------- #


def bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str = "doc_id",
    max_bucket: int | None = None,
) -> DataFrame:
    """Unordered id pairs co-occurring in a bucket: groupBy bucket →
    collect_list → double explode, filtered to a_id < b_id.

    One scan of the input — a self-join would compute the (possibly
    expensive) upstream pipeline twice. Bucket sizes bound the blow-up:
    for LSH bands they are O(near-dup groups); inverted-index callers must
    df-cut hot buckets *before* this function (see ``jaccard_pairs``) so
    no giant array is ever collected. ``max_bucket`` is a belt-and-braces
    cap: buckets wider than it are dropped entirely (candidate loss, never
    wrong values — callers verify pairs exactly)."""
    b = (
        df.groupBy(*bucket_cols)
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket is not None:
        b = b.where(F.size("ids") <= max_bucket)
    return (
        b.select(F.explode("ids").alias("a_id"), "ids")
        .select("a_id", F.explode("ids").alias("b_id"))
        .where(F.col("a_id") < F.col("b_id"))
    )


#: df-cut floor: shingles in more docs than this are dropped from the
#: inverted index (candidate generation only — Jaccard values are exact-
#: verified from full shingle sets). At 100 TB the hot list is the Zipf
#: head (stopword n-grams) — small and broadcastable at any corpus size.
#: :func:`jaccard_pairs` scales the effective cut with corpus size
#: (ADVICE r2: a FIXED cut silently drops any near-dup family larger
#: than it — all shingles shared family-wide have df ≥ family size).
_MAX_DF = 64

#: effective cut = max(_MAX_DF, n_docs // _DF_SCALE_DIVISOR): a family
#: must exceed 2% of the whole corpus before the df-cut could hide it —
#: at that size it is boilerplate, which exact/MinHash dedup handles.
_DF_SCALE_DIVISOR = 50

#: candidate-pair budget for the inverted index: the df-cut is lowered
#: until Σ df·(df−1)/2 over surviving shingles fits. Floor chosen above
#: the measured sf0.1 total (1.27 M) so the driver-oracled scales keep
#: the exhaustive inverted index bit-for-bit; the per-doc term keeps the
#: budget linear in corpus size (the whole point — candidates must not
#: grow quadratically when the shingle space saturates).
_PAIR_BUDGET_FLOOR = 2_000_000
_PAIR_BUDGET_PER_DOC = 64


def hot_shingles(e: DataFrame, max_df: int = _MAX_DF) -> DataFrame:
    """Shingles whose document frequency exceeds ``max_df``. Input
    ``e(doc_id, s)`` has distinct (doc, shingle) rows; the aggregate is
    partial (map-side combine), shuffle volume = distinct shingle space."""
    return (
        e.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > max_df)
        .select("s")
    )


def adaptive_df_cut(
    e: DataFrame, corpus_cut: int, pair_budget: int
) -> tuple[int, bool]:
    """Largest df-cut ≤ ``corpus_cut`` whose inverted-index candidate
    pairs (Σ df·(df−1)/2 over shingles with df ≤ cut) fit
    ``pair_budget``. Returns ``(cut, collapsed)`` where ``collapsed``
    means the budget bound — i.e. single-shingle selectivity has
    collapsed and the caller must add a sketch-based candidate source.

    Driven by the df *histogram* — ``groupBy(df).count()`` — which has at
    most one row per distinct document frequency: a few thousand rows on
    any corpus (bounded by max df, not corpus size), safe to collect at
    any scale. Shingles with df = 1 contribute no pairs and are skipped.

    Found the hard way (sf1 scale run): on a corpus whose shingle space
    SATURATES (synthetic 31-word vocab → ~28 k possible trigrams), every
    df grows linearly with n_docs while the corpus-scaled cut
    (n_docs // 50) grows faster than the median df — so the static cut
    stops cutting anything and candidates grow as n²/|shingle space|
    (measured: 1.27 M pairs at 5 k docs → 134 M at 50 k docs)."""
    hist = (
        e.groupBy("s")
        .agg(F.count("*").alias("df"))
        .where((F.col("df") > 1) & (F.col("df") <= corpus_cut))
        .groupBy("df")
        .agg(F.count("*").alias("n_shingles"))
        .orderBy("df")
        .collect()
    )
    cum = 0
    for row in hist:
        pairs = row["n_shingles"] * row["df"] * (row["df"] - 1) // 2
        if cum + pairs > pair_budget:
            return row["df"] - 1, True
        cum += pairs
    return corpus_cut, False


def shingle_sets_np(docs: DataFrame, n: int = _NGRAM) -> DataFrame:
    """Arrow twin of the ``shingles_of`` projection: (doc_id,
    sh array<string>) with first-occurrence-distinct order, built per
    batch in Python instead of the interpreted transform-over-indexes
    HOF (CodegenFallback — at sf10 the verify stage built this
    projection TWICE over 500 k docs, the bulk of its cost). Exact
    construction parity with the JVM expression: Spark ``trim`` strips
    only 0x20 → ``strip(' ')``; Java ``\\s`` → ``re.ASCII``; k ≤ 0 and
    NULL text both yield an EMPTY array (``when(k > 0, ...)`` is falsy
    for null); ``array_distinct`` keeps first occurrence →
    ``dict.fromkeys``. The same token-parity rules are fuzz-pinned in
    test_token_stats_kernel_fuzz_parity."""
    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)

    def kern(batches):
        for pdf in batches:
            ids, shs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ids.append(doc_id)
                if text is None:
                    shs.append([])
                    continue
                t = ws.split(text.strip(" "))
                k = len(t) - n + 1
                shs.append(
                    list(
                        dict.fromkeys(
                            " ".join(t[i : i + n]) for i in range(k)
                        )
                    )
                    if k > 0
                    else []
                )
            yield pd.DataFrame({"doc_id": ids, "sh": shs})

    from ballcone_spark.plans.parallelism import widen

    return widen(docs.select("doc_id", "text")).mapInPandas(
        kern, "doc_id long, sh array<string>"
    )


def shingle_rows_np(docs: DataFrame, n: int) -> DataFrame:
    """Arrow twin of ``shingle_rows(distinct=False)``: (doc_id, s) gram
    ROWS emitted straight from a per-batch kernel — no posexplode and,
    decisively, no lead-window shuffle of the corpus token stream (the
    JVM assembly shuffles one row per token to sort within doc).
    Multiplicity and gram strings match the JVM construction exactly
    (same tokenizer parity rules as :func:`shingle_sets_np`; grams in
    document order, duplicates kept). For multiplicity-insensitive
    consumers (the decontamination semi join) row ORDER is irrelevant."""
    import re

    import pandas as pd

    ws = re.compile(r"\s+", re.ASCII)

    def kern(batches):
        for pdf in batches:
            ids, grams = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                t = ws.split(text.strip(" "))
                k = len(t) - n + 1
                for i in range(k):
                    ids.append(doc_id)
                    grams.append(" ".join(t[i : i + n]))
            yield pd.DataFrame({"doc_id": ids, "s": grams})

    from ballcone_spark.plans.parallelism import widen

    return widen(docs.select("doc_id", "text")).mapInPandas(
        kern, "doc_id long, s string"
    )


def exact_jaccard_on_pairs(
    docs: DataFrame,
    cand: DataFrame,
    n: int = _NGRAM,
    hashed: bool = False,
    vectorized: bool = False,
) -> DataFrame:
    """Exact Jaccard for candidate pairs (a_id, b_id): attach each side's
    distinct shingle set (a per-row array — no shingle-keyed shuffle) via
    two doc_id equi-joins, then |A∩B| / |A∪B| as a pure map
    (array_intersect). AQE broadcasts the (small) candidate side at
    runtime; if candidates ever outgrow broadcast these degrade to
    hash-partitioned joins on doc_id — linear, never quadratic.

    ``hashed=True`` replaces each string shingle with its 64-bit
    xxhash64 before the joins: the pair-attached payload shrinks ~6×
    (8-byte longs vs ~20-byte n-gram strings — the two doc_id joins
    shuffle candidate-count × set-size cells, so payload width IS the
    verify cost; measured 2.6× on the sf0.1 verify) and the per-pair
    ``array_intersect`` compares longs instead of strings. Only legal
    when xxhash64 is injective on the corpus's shingle set — callers
    must check (one countDistinct aggregation, see ``jaccard_pairs``)
    and fall back to strings on a collision, keeping "exact" a
    guarantee rather than a 2⁻⁶⁴ probability."""
    if vectorized:
        # r7: the Arrow set builder (construction-parity documented on
        # shingle_sets_np); the MinHash pair source's verify path.
        # Lineage barrier: both join sides reference this frame, so
        # without it the kernel runs twice (A/B at sf10: verify 26 s →
        # 19.7 s behind the barrier)
        sets = checkpoint(shingle_sets_np(docs, n=n))
    else:
        # same barrier as the Arrow branch (r16): both join sides below
        # reference this frame — un-checkpointed, the JVM shingle-set
        # projection (the HOF tokenize+distinct chain) ran twice per
        # execution. The construction itself is byte-identical; only
        # the second evaluation is gone.
        sets = checkpoint(
            docs.withColumn("toks", tokens(F.col("text"))).select(
                "doc_id", shingles_of(F.col("toks"), n=n).alias("sh")
            )
        )
    if hashed:
        # injective by caller contract ⇒ distinctness and every set
        # cardinality survive the mapping; Jaccard values are identical
        sets = sets.select(
            "doc_id", F.transform("sh", lambda x: F.xxhash64(x)).alias("sh")
        )
    a = sets.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(a, "a_id").join(b, "b_id").select("a_id", "b_id", jac.alias("jaccard"))
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = _NGRAM,
    max_df: int | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Doc pairs sharing ≥1 *rare* word-``n``-gram, with exact Jaccard
    over full distinct shingle sets. Candidate generation is the
    inverted index with the df-cut (hot shingles anti-joined out before
    the bucket shuffle — no stopword mega-bucket is ever collected);
    verification attaches the full sets per pair, so reported Jaccard is
    exact regardless of the cut. Returns (a_id, b_id, jaccard).

    ``max_df=None`` (default) scales the cut with corpus size:
    ``max(64, n_docs // 50)`` — so a near-dup family is only ever at
    risk of being df-cut away once it exceeds 2% of the corpus.

    **Selectivity-collapse guard** (``pair_budget``, default
    ``max(2 M, 64·n_docs)``): when the corpus saturates its shingle
    space, *every* shingle's df grows with n_docs and the inverted
    index degenerates to near-all-pairs — Σ df² candidates, quadratic
    in corpus size (measured 105× pair growth for 10× docs on the
    synthetic 31-word-vocab corpus). :func:`adaptive_df_cut` lowers the
    cut until candidates fit the (linear) budget; if that binds, the
    information for near-dup detection no longer lives in any single
    shingle, so MinHash band candidates (:func:`band_pairs` — the
    sketch that samples shingle *conjunctions*, 8 bands × 4 rows on
    this branch since r7B) are unioned in. Exact verification makes
    extra candidates harmless; the only recall cost is a pair whose
    every shared shingle is above the cut AND that agrees on no band —
    P(miss) = (1−J⁴)⁸ ≈ 1.5 % per pair at J = 0.8 (measured end to
    end at sf1: 2 975/2 980 pairs, vs 2 956 with 4 bands).
    At the driver-oracled scales (≤ sf0.1: 1.27 M pairs < 2 M floor)
    the budget never binds and plans/results are bit-identical to the
    exhaustive inverted index.

    Plan-build cost: one count() plus one df-histogram collect (both
    corpus scans). The registered query's plan is cached per documents
    generation (``plans/stages.py``) — repeat calls on unchanged data
    skip both collects, and a data change re-derives the cut, so
    neither can go stale."""
    cand, inj = _rare_shingle_candidates(docs, n, max_df, pair_budget)
    # JVM set builder: an A/B at sf10 showed the jaccard wall is
    # candidate-generation-bound (238.5 vs 234.3 s — noise), so the
    # registered query stays Python-free; the Arrow set builder pays off
    # where verify dominates (minhash 58.7 → 36.2 s, clusters 67.3 →
    # 41.4 s at sf10)
    return exact_jaccard_on_pairs(docs, cand, n=n, hashed=inj)


def _rare_shingle_candidates(
    docs: DataFrame,
    n: int,
    max_df: int | None,
    pair_budget: int | None,
) -> tuple[DataFrame, bool]:
    """Candidate (a_id, b_id) pairs from the df-cut inverted index (+
    MinHash bands when selectivity collapses) and the hashed-verify
    license — the shared front half of :func:`jaccard_pairs` and
    :func:`containment_pairs`."""
    n_docs = None
    if max_df is None or pair_budget is None:
        n_docs = docs.count()
        if max_df is None:
            max_df = max(_MAX_DF, n_docs // _DF_SCALE_DIVISOR)
        if pair_budget is None:
            pair_budget = max(_PAIR_BUDGET_FLOOR, n_docs * _PAIR_BUDGET_PER_DOC)
    # Lineage barrier (r16, VERDICT r15 #5): this frame is referenced
    # FOUR ways — the injectivity aggregate and the df-cut histogram at
    # plan build, then the hot-shingle aggregate AND the inverted index
    # at execution. Un-checkpointed, each reference re-ran the shingle
    # construction (2 corpus scans per execution + 2 more across the
    # plan-build jobs); behind the barrier the injectivity job
    # materializes it once and every later reference reads blocks. Both
    # registered callers (ngram_jaccard, containment) are
    # fingerprint-cached on the documents parquet, so the baked blocks
    # can never go stale against a data change.
    e = checkpoint(shingle_rows(docs, n=n))
    # One aggregation over the distinct shingle space licenses the
    # hashed paths: if xxhash64 is injective on THIS corpus's shingles
    # (it always has been; 2⁻⁶⁴ per pair of shingles), the inverted
    # index AND the verify joins carry 8-byte longs instead of n-gram
    # strings — candidates are provably identical (injective mapping
    # preserves every df count and bucket membership) and the big
    # bucket-join exchange shrinks ~2.5× in payload (measured at sf3:
    # candidate generation 27.1 s → 21.6 s, identical 8.45 M pairs).
    # A collision degrades to the string path everywhere — exactness
    # never rests on probability. Cost: O(distinct shingles) — the
    # same order as the df histogram this function already collects.
    inj = e.agg(
        (
            F.countDistinct("s") == F.countDistinct(F.xxhash64("s"))
        ).alias("ok")
    ).first()["ok"]
    e_idx = e.select("doc_id", F.xxhash64("s").alias("s")) if inj else e
    cut, collapsed = adaptive_df_cut(e_idx, max_df, pair_budget)
    rare = e_idx.join(F.broadcast(hot_shingles(e_idx, cut)), "s", "left_anti")
    cand = bucket_pairs(rare, ["s"]).distinct()
    if collapsed:
        # sketch fallback: Arrow signatures (bit-identical derivation
        # to the JVM twin). 8 bands × 4 rows rather than the default
        # 4×4 (r7B): the sf1 oracle sweep measured the 4-band envelope
        # at 24/2980 missed pairs (0.8 %); doubling bands squares the
        # per-pair band-miss from (1−J⁴)⁴ ≈ 12 % to ≈ 1.5 % at J=0.8
        # for one extra numpy permutation batch and 2× band rows — paid
        # only on this branch, which never activates at driver SFs
        # the fallback activates exactly on saturated-vocabulary
        # corpora — the class where band buckets go mega (BASELINE
        # §6ab) — so it takes the same bucket guard as
        # minhash_lsh_pairs above _BAND_SCALE_N docs (ADVICE r11)
        if n_docs is None:
            n_docs = docs.count()
        cand = cand.union(
            band_pairs(
                minhash_signatures_np(
                    docs, n=n, n_hashes=_FALLBACK_BANDS * 4
                ),
                n_bands=_FALLBACK_BANDS,
                rows=4,
                bucket_cap=_BAND_BUCKET_CAP
                if n_docs > _BAND_SCALE_N
                else None,
            )
        ).distinct()
    return cand, bool(inj)


@_query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_PAIRS}
    SELECT a_id, b_id,
           round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
    FROM inter
    WHERE shared * 1.0 / (na + nb - shared) >= {_JACCARD_THRESHOLD}
    ORDER BY a_id, b_id
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Near-duplicate pairs with word-3-gram Jaccard ≥ 0.8 (the corpus
    plants near-dups at ≥0.9 with background ≤0.07). Candidates come from
    the df-cut inverted index (hot shingles dropped pre-shuffle); values
    are exact-verified from full shingle sets, so the oracle (which
    enumerates ALL shingle-sharing pairs) agrees exactly while the
    linear pair budget does not bind — every driver-checked SF. When
    the corpus saturates its shingle space and the budget binds (sf1+
    on this synthetic vocab), recall follows the documented
    band-fallback envelope: measured 2 975/2 980 pairs (0.17 % short of
    the exhaustive oracle; 8-band fallback) at 50 k docs — the designed price of
    linearity, see ``jaccard_pairs`` and BASELINE §6i."""
    pairs = jaccard_pairs(_docs(spark, sf_dir))
    return (
        pairs.where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


#: max-direction shingle containment at-or-above which a pair is a
#: subset/truncation duplicate
_CONTAINMENT_THRESHOLD = 0.9


def containment_pairs(
    docs: DataFrame,
    n: int = _NGRAM,
    max_df: int | None = None,
    pair_budget: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection: shingle CONTAINMENT |A∩B|/|A| in
    both directions, plus Jaccard, for candidate pairs. Catches the
    duplicate class symmetric Jaccard misses — truncations, excerpts,
    and subset pages (a 30% excerpt of a page has containment 1.0 but
    Jaccard 0.3, far under any dedup threshold); standard practice in
    web-corpus pipelines alongside Jaccard.

    Same scale shape as :func:`jaccard_pairs` (shared candidate front
    half: df-cut inverted index + band fallback, exact verify on full
    sets via two doc_id joins — linear, never quadratic). Candidate
    recall note: a contained doc is found when it shares ≥1 sub-cut
    shingle with its container — guaranteed in practice for excerpts of
    any distinctive text; the registered query is hash-checked against
    the all-pairs oracle at the driver SFs, so a miss would fail the
    gate, not hide."""
    cand, inj = _rare_shingle_candidates(docs, n, max_df, pair_budget)
    # r7: Arrow set builder (parity pinned by
    # test_shingle_sets_np_matches_jvm_projection); localCheckpoint
    # mirrors exact_jaccard_on_pairs — both join sides reference this
    # one frame, and without the lineage barrier the Arrow shingle
    # kernel runs twice per execution (sf10 A/B: 26 → 19.7 s, ADVICE r7)
    sets = checkpoint(shingle_sets_np(docs, n=n))
    if inj:
        sets = sets.select(
            "doc_id", F.transform("sh", lambda x: F.xxhash64(x)).alias("sh")
        )
    a = sets.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            (inter / F.size("sh_a")).alias("containment_a"),
            (inter / F.size("sh_b")).alias("containment_b"),
            (inter / (F.size("sh_a") + F.size("sh_b") - inter)).alias(
                "jaccard"
            ),
        )
    )


@_query(
    "dedup_containment",
    f"""
    WITH {_DUCK_SHINGLES}, {_DUCK_PAIRS}
    SELECT a_id, b_id,
           round(shared * 1.0 / na, 4) AS containment_a,
           round(shared * 1.0 / nb, 4) AS containment_b,
           round(shared * 1.0 / (na + nb - shared), 4) AS jaccard
    FROM inter
    WHERE greatest(shared * 1.0 / na, shared * 1.0 / nb)
          >= {_CONTAINMENT_THRESHOLD}
    ORDER BY a_id, b_id
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def dedup_containment(spark, sf_dir):
    """Subset/truncation duplicates: pairs whose max-direction shingle
    containment ≥ 0.9 (25 pairs at sf0.01 — the planted near-dup
    families qualify in both metrics on this corpus; the
    containment-only class is pinned by
    ``test_containment_catches_truncation_jaccard_misses``)."""
    pairs = containment_pairs(_docs(spark, sf_dir))
    return (
        pairs.where(
            F.greatest("containment_a", "containment_b")
            >= _CONTAINMENT_THRESHOLD
        )
        .select(
            "a_id",
            "b_id",
            F.round("containment_a", 4).alias("containment_a"),
            F.round("containment_b", 4).alias("containment_b"),
            F.round("jaccard", 4).alias("jaccard"),
        )
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------- #
# MinHash + LSH                                                         #
# --------------------------------------------------------------------- #

_DUCK_HASH32 = "CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT)"


def minhash_signatures(
    docs: DataFrame, n: int = _NGRAM, n_hashes: int = N_HASHES
) -> DataFrame:
    """Per-doc MinHash signature: columns sig_0..sig_{K-1}, computed
    entirely PER ROW with higher-order functions — tokens → shingle
    array → one md5 per shingle → K ``array_min`` permutation scans. Zero
    shuffles, zero explodes: the signature stage is a pure map over the
    corpus scan, which is exactly what you want at 100 TB (the old
    explode + window + groupBy formulation shuffled the full shingle
    stream twice; measured 2.2 s → 0.19 s on 5 k docs, identical output).
    ``min`` over a multiset equals ``min`` over the set, so shingle
    de-duplication is skipped here (Jaccard verification needs distinct
    sets and builds its own).

    HOFs evaluate interpreted (CodegenFallback): at sf10 this stage is
    91 s where the Arrow kernel :func:`minhash_signatures_np` is 30 s —
    this JVM path stays as the reference the kernel's parity test
    (``test_minhash_signatures_np_matches_jvm``) checks against."""
    A, B = _minhash_ab(n_hashes)
    d = docs.withColumn("toks", tokens(F.col("text")))
    d = d.withColumn("sh", shingles_of(F.col("toks"), n=n))
    d = d.withColumn(
        "xs",
        F.transform(
            "sh", lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
        ),
    )
    sigs = [
        F.array_min(
            F.transform(
                "xs", lambda x: (x * F.lit(A[i]) + F.lit(B[i])) % F.lit(MINHASH_P)
            )
        ).alias(f"sig_{i}")
        for i in range(n_hashes)
    ]
    return d.select("doc_id", *sigs)


def minhash_signatures_np(
    docs: DataFrame, n: int = _NGRAM, n_hashes: int = N_HASHES,
    wide: bool = True,
) -> DataFrame:
    """Arrow twin of :func:`minhash_signatures` — one ``mapInPandas``
    pass computing tokenize → shingle → md5 → all permutation minima in
    numpy, bit-identical to the JVM path (pinned by
    ``test_minhash_signatures_np_matches_jvm``). Exists because the K
    ``array_min`` HOF scans evaluate interpreted (~91 s at 500 k docs
    vs 30 s here); a worker-local shingle→hash cache additionally
    collapses repeated md5 work (75 M shingle instances but ~28 k
    distinct trigrams on a saturated vocabulary — real corpora hit the
    cache less and degrade gracefully toward one md5 per instance,
    still ~2× the HOF path). Same legitimate-Arrow class as the
    semantic-dedup/PQ kernels (test_plans.ARROW_ALLOWED)."""
    import numpy as np

    Al, Bl = _minhash_ab(n_hashes)
    A = np.array(Al, dtype=np.int64)
    B = np.array(Bl, dtype=np.int64)

    def kern(batches):
        import hashlib
        import re

        import pandas as pd

        # JVM tokenizer parity (same contract as shingle_sets_np): Spark
        # `trim` strips only 0x20 → strip(' '); Java \s+ split is ASCII
        # (Python's default also splits \xa0 etc.) and emits a leading
        # empty token after leading \t/\n — re.ASCII split reproduces
        # both. NULL text → no row (JVM yields null sigs; both are zero
        # candidates downstream, pinned by the parity test).
        ws = re.compile(r"\s+", re.ASCII)

        cache: dict = {}

        def h(s):
            v = cache.get(s)
            if v is None:
                v = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                cache[s] = v
            return v

        for pdf in batches:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                if text is None:
                    continue
                t = ws.split(text.strip(" "))
                if len(t) < n:
                    continue
                sh = {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
                xs = np.fromiter(
                    (h(s) for s in sh), dtype=np.int64, count=len(sh)
                )
                sig = ((xs[:, None] * A[None, :] + B[None, :]) % MINHASH_P).min(
                    axis=0
                )
                out_ids.append(doc_id)
                out_sigs.append(sig)
            if not out_ids:
                continue
            S = np.stack(out_sigs)
            data = {"doc_id": out_ids}
            for i in range(n_hashes):
                data[f"sig_{i}"] = S[:, i]
            yield pd.DataFrame(data)

    schema = "doc_id long, " + ", ".join(
        f"sig_{i} long" for i in range(n_hashes)
    )
    src = docs.select("doc_id", "text")
    if wide:
        # a 128 MB-bound scan hands a 57 MB corpus to ONE core (r7
        # widen finding); streaming micro-batches pass wide=False —
        # they are already small and an extra per-batch exchange only
        # adds latency
        from ballcone_spark.plans.parallelism import widen

        src = widen(src)
    return src.mapInPandas(kern, schema)


def _duck_minhash_cte() -> str:
    mins = ", ".join(
        f"min((x * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MINHASH_P}) AS sig_{i}"
        for i in range(N_HASHES)
    )
    return f"""
exp AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
hx AS (SELECT doc_id, {_DUCK_HASH32} AS x FROM exp),
sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id)
"""


def _band_exprs_duck() -> str:
    rows = N_HASHES // N_BANDS
    bands = []
    for j in range(N_BANDS):
        cols = " || '_' || ".join(f"sig_{j * rows + i}" for i in range(rows))
        bands.append(f"SELECT doc_id, {j} AS band_idx, {cols} AS band_key FROM sig")
    return " UNION ALL ".join(bands)


_MINHASH_LSH_ORACLE = f"""
    WITH {_DUCK_SHINGLES}, {_duck_minhash_cte()},
    bands AS ({_band_exprs_duck()}),
    cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    {_DUCK_PAIRS}
    SELECT c.a_id, c.b_id,
           round(i.shared * 1.0 / (i.na + i.nb - i.shared), 4) AS jaccard
    FROM cand c JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
    WHERE i.shared * 1.0 / (i.na + i.nb - i.shared) >= {_JACCARD_THRESHOLD}
    ORDER BY c.a_id, c.b_id
    """


@_query(
    "dedup_minhash_lsh_vectorized",
    _MINHASH_LSH_ORACLE,  # at every oracle-checked SF (≤ _BAND_SCALE_N
    # docs) the adaptive geometry is the floor 4×4 and the Arrow
    # signatures are bit-identical to the DuckDB derivation, so the full
    # candidate→verify pipeline gets hash verification, not rows-only
)
def dedup_minhash_lsh_vectorized(spark, sf_dir):
    """MinHash + LSH candidate generation, verified with exact Jaccard
    ≥ 0.8: Arrow signature kernel (bit-identical to the HOF formulation,
    3× faster at sf10) + corpus-adaptive band geometry
    (`adaptive_band_rows` — fixes the quadratic band-bucket density the
    sf10 curve exposed: candidates 12.9 M → 2.3 M at 500 k docs). The
    expensive exact verify runs on candidates only."""
    return minhash_lsh_pairs(_docs(spark, sf_dir))


def band_pairs(
    sig: DataFrame,
    n_bands: int = N_BANDS,
    rows: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate (a_id, b_id) pairs agreeing on ≥1 LSH band of a MinHash
    signature frame (``doc_id, sig_0..sig_{K-1}``). One explode to K
    band rows per doc, then the bucket join — bucket sizes are O(near-dup
    group), never corpus-sized (bounded by :func:`adaptive_band_rows`
    above the floor). Shared by :func:`minhash_lsh_pairs` and
    :func:`jaccard_pairs`'s selectivity-collapse fallback.

    ``bucket_cap`` (r11, BASELINE §6ab): drop band buckets with more
    than this many docs BEFORE the pair explosion — the standard
    production-LSH mega-bucket guard. A band key shared by c docs
    contributes c²/2 candidate pairs; on saturated-vocabulary corpora
    the biggest buckets are moderate-Jaccard mass whose pairs almost
    all fail the exact verify, yet their c² payload is what filled the
    disk at 13 M docs (398 M candidates → verify spill > free disk,
    §6ab). A TRUE near-dup pair keeps ``n_bands`` independent chances
    to meet in a sub-cap bucket; the measured recall envelope of the
    cap is in §6ab. The dropped-key set is tiny (few, huge buckets) →
    broadcast anti-join; None = off (every oracle-checked SF)."""
    if rows is None:
        rows = N_HASHES // N_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.concat_ws(
                    "_", *[F.col(f"sig_{j * rows + i}") for i in range(rows)]
                ).alias("band_key"),
            )
            for j in range(n_bands)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band_idx").alias("band_idx"), F.col("b.band_key").alias("band_key")
    )
    if bucket_cap is not None:
        mega = (
            banded.groupBy("band_idx", "band_key")
            .agg(F.count("*").alias("_c"))
            .where(F.col("_c") > bucket_cap)
            .select("band_idx", "band_key")
        )
        banded = banded.join(
            F.broadcast(mega), ["band_idx", "band_key"], "left_anti"
        )
    return bucket_pairs(banded, ["band_idx", "band_key"]).distinct()


def minhash_lsh_pairs(docs: DataFrame) -> DataFrame:
    """(a_id, b_id, jaccard) near-dup pairs via MinHash banding + exact
    verification — the pair source shared by the registered LSH query
    and the cluster-resolution pipeline.

    Signatures come from the Arrow kernel (:func:`minhash_signatures_np`,
    bit-identical to the HOF formulation, 3× faster at sf10) and the
    band geometry adapts to corpus size (:func:`adaptive_band_rows` —
    the fix for the quadratic band-bucket density the sf10 curve
    exposed). At-or-below `_BAND_SCALE_N` docs the geometry is the floor
    4×4 the DuckDB oracle replays — every oracle-checked SF is in that
    zone."""
    hashed = False
    n_docs = docs.count()
    rows = adaptive_band_rows(n_docs)
    sig = minhash_signatures_np(docs, n_hashes=N_BANDS * rows)
    # scale zone: mega-bucket guard (band_pairs docstring / §6ab — the
    # 13 M-doc probe filled the disk with c² candidate payload from a
    # handful of non-discriminative buckets). Oracle SFs are below the
    # floor and keep every bucket.
    cap = _BAND_BUCKET_CAP if n_docs > _BAND_SCALE_N else None
    cand = band_pairs(sig, n_bands=N_BANDS, rows=rows, bucket_cap=cap)
    if n_docs > _BAND_SCALE_N:
        # Scale zone only (r11, BASELINE §6y): above the band floor the
        # candidate set is tens of millions of pairs and the verify
        # joins' payload width IS the cost — license the 8-byte hashed
        # verify exactly like jaccard_pairs does (one injectivity
        # aggregation; identical jaccard values by the injective-mapping
        # argument there, string fallback on a collision). Driver/oracle
        # SFs stay on the string path, zero plan change.
        hashed = (
            shingle_rows(docs, n=_NGRAM)
            .agg(
                (
                    F.countDistinct("s") == F.countDistinct(F.xxhash64("s"))
                ).alias("ok")
            )
            .first()["ok"]
        )
    # Exact-verify ONLY the candidate pairs (exact_jaccard_on_pairs: two
    # doc_id equi-joins attaching per-row shingle arrays + array_intersect
    # — never a shingle-keyed shuffle). Verifying all shingle-sharing
    # pairs would be O(sum c_s^2) over shingle frequencies; LSH exists
    # precisely to avoid that. (An explicit broadcast hint measured SLOWER
    # here: forcing the build relation adds two driver collect jobs that
    # AQE's runtime decision avoids.)
    return (
        exact_jaccard_on_pairs(docs, cand, hashed=hashed, vectorized=True)
        .where(F.col("jaccard") >= _JACCARD_THRESHOLD)
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


@_query(
    "docs_cross_source_dups",
    f"""
    WITH {_DUCK_SHINGLES}, {_duck_minhash_cte()},
    bands AS ({_band_exprs_duck()}),
    cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    {_DUCK_PAIRS},
    verified AS (
        SELECT c.a_id, c.b_id,
               round(i.shared * 1.0 / (i.na + i.nb - i.shared), 4) AS jaccard
        FROM cand c JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
        WHERE i.shared * 1.0 / (i.na + i.nb - i.shared)
              >= {_JACCARD_THRESHOLD}
    )
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs,
           round(CAST(avg(jaccard) AS DECIMAL(28, 8)), 4) AS avg_jaccard
    FROM verified v
    JOIN documents da ON v.a_id = da.doc_id
    JOIN documents db ON v.b_id = db.doc_id
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    driver=False,  # registry capped at 50; oracle-checked locally
)
def docs_cross_source_dups(spark, sf_dir):
    """Cross-source contamination matrix: near-dup pair counts (and mean
    Jaccard) per unordered source pair — the aggregate a corpus curator
    reads to decide which feeds overlap before mixing. Composes
    :func:`minhash_lsh_pairs` with two broadcastable doc_id→source
    joins; the source-pair key is order-normalized (least/greatest) so
    (srcA, srcB) and (srcB, srcA) collapse."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    j = pairs.join(
        src.withColumnRenamed("doc_id", "a_id").withColumnRenamed(
            "source", "src_a"
        ),
        "a_id",
    ).join(
        src.withColumnRenamed("doc_id", "b_id").withColumnRenamed(
            "source", "src_b"
        ),
        "b_id",
    )
    return (
        j.groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            # DECIMAL(28,8) intermediate: round(double, 4) diverges
            # across engines at exact .xxxx5 artifacts (avg of two 4-dp
            # jaccards lands on one: 0.93905 → Spark 0.939 via the
            # binary, DuckDB 0.9391 — found by the sf0.1 oracle sweep,
            # r7). 8 dp is exact for N=2^a·5^b pair counts and
            # unambiguous otherwise, so both engines round the
            # identical decimal. Same fix as tpch_q2_min_unit_price.
            F.round(F.avg("jaccard").cast("decimal(28,8)"), 4).alias(
                "avg_jaccard"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------- #
# SimHash                                                               #
# --------------------------------------------------------------------- #

_SIM_BITS = 32


def _duck_simhash_cte() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(_SIM_BITS)
    )
    val = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(_SIM_BITS)
    )
    return f"""
tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS s
        FROM documents),
hsh AS (SELECT doc_id, {_DUCK_HASH32} AS h FROM tok),
bits AS (SELECT doc_id, {sums} FROM hsh GROUP BY doc_id),
sims AS (SELECT doc_id, {val} AS simhash FROM bits)
"""


@_query(
    "docs_simhash",
    f"WITH {_duck_simhash_cte()} SELECT doc_id, simhash FROM sims ORDER BY doc_id",
    driver=False,  # demoted r11: signature stage whose downstream
    # clusters/keep-best are independently oracled; slot freed for
    # docs_curation_budget_mix (still oracle-checked via test_oracle_diff)
)
def docs_simhash(spark, sf_dir):
    """Per-doc 32-bit SimHash over distinct tokens: bit b is the sign of
    Σ_tokens (±1 by token-hash bit b). Constant-size sketch; equal or
    near-equal (low Hamming distance) sketches are near-dup candidates.
    Plan: explode → 32 conditional sums in ONE aggregate pass (map-side
    combinable), then a codegen'd bit-pack projection."""
    docs = _docs(spark, sf_dir)
    e = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("s")
    )
    # materialize the token hash in a projection BEFORE the aggregate:
    # referencing the md5 expression inside all 32 sums leans on
    # codegen subexpression elimination, which is imperfect here
    # (A/B at sf10: 12.4 s inline vs 10.2 s projected)
    h = F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long")
    hashed = e.select("doc_id", h.alias("h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(_SIM_BITS)
    ]
    bits = hashed.groupBy("doc_id").agg(*sums)
    val = None
    for b in range(_SIM_BITS):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return bits.select("doc_id", val.cast("long").alias("simhash")).orderBy("doc_id")


# --------------------------------------------------------------------- #
# SimHash Hamming near-dup (block-pigeonhole candidates, EXACT)         #
# --------------------------------------------------------------------- #

_SIM_BITS_WIDE = 60  # 15 md5 hex digits; 4 blocks × 15 bits
_SIM_BLOCKS = 4
_SIM_BLOCK_BITS = _SIM_BITS_WIDE // _SIM_BLOCKS
_HAMMING_MAX = 2


def simhash_signatures_df(docs: DataFrame, bits: int = _SIM_BITS_WIDE) -> DataFrame:
    """(doc_id, simhash) with a ``bits``-wide sketch (the 32-bit variant
    in docs_simhash is too coarse for pairing on small-vocab corpora)."""
    e = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("s")
    )
    # same pre-projection as docs_simhash: one md5 per token row, not
    # one per (row, bit) when subexpression elimination falls short
    h = F.conv(F.substring(F.md5("s"), 1, (bits + 3) // 4), 16, 10).cast("long")
    hashed = e.select("doc_id", h.alias("h"))
    sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(bits)
    ]
    agg = hashed.groupBy("doc_id").agg(*sums)
    val = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        val = term if val is None else val + term
    return agg.select("doc_id", val.cast("long").alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame, max_hamming: int = _HAMMING_MAX
) -> DataFrame:
    """(a_id, b_id, hamming ≤ max_hamming) over 60-bit SimHash sketches.

    Candidate generation is EXACT by pigeonhole, not probabilistic: the
    sketch splits into 4 disjoint 15-bit blocks, and any pair within
    Hamming ≤ 3 differs in at most 3 blocks — so it must agree exactly on
    at least one. Each doc emits 4 (block_idx, block_value) keys; pairs
    sharing a key are the complete candidate set (requires
    ``max_hamming ≤ _SIM_BLOCKS - 1``), then one xor+bit_count verifies.
    Everything is equi-joins on a bounded key space — at 100 TB the only
    risk is a hot block value (mass-identical sketches), which is the
    exact-dup family exact dedup removes first."""
    assert max_hamming <= _SIM_BLOCKS - 1
    sigs = simhash_signatures_df(docs)
    mask = (1 << _SIM_BLOCK_BITS) - 1
    keyed = sigs.select(
        F.col("doc_id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", i * _SIM_BLOCK_BITS).bitwiseAND(mask)
                    for i in range(_SIM_BLOCKS)
                ]
            )
        ).alias("blk", "bv"),
    )
    cand = bucket_pairs(keyed, ["blk", "bv"], id_col="doc_id").distinct()
    a = sigs.select(F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .orderBy("a_id", "b_id")
    )


def _duck_simhash_wide_cte() -> str:
    hash_expr = f"CAST(('0x' || substr(md5(s), 1, {(_SIM_BITS_WIDE + 3) // 4})) AS BIGINT)"
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(_SIM_BITS_WIDE)
    )
    val = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(_SIM_BITS_WIDE)
    )
    return f"""
tok AS (SELECT doc_id, unnest(list_distinct(string_split_regex(trim(text), '\\s+'))) AS s
        FROM documents),
hsh AS (SELECT doc_id, {hash_expr} AS h FROM tok),
wbits AS (SELECT doc_id, {sums} FROM hsh GROUP BY doc_id),
wsims AS (SELECT doc_id, {val} AS simhash FROM wbits)
"""


@_query(
    "dedup_simhash_hamming",
    f"""
    WITH {_duck_simhash_wide_cte()}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM wsims a JOIN wsims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    ORDER BY a_id, b_id
    """,
    driver=False,  # registry is at the 50-entry cap; the local oracle
    # diff (tests/test_oracle_diff.py) hash-checks it — and unlike the
    # cosine-LSH recall gate, this compare is EXACT: pigeonhole makes the
    # Spark candidate set provably complete vs the O(n²) oracle
)
def dedup_simhash_hamming(spark, sf_dir):
    """SimHash near-dup pairs at Hamming ≤ 2 over 60-bit sketches —
    block-pigeonhole candidate generation (complete by construction),
    xor+bit_count verification. The oracle is the O(n²) definition."""
    return simhash_near_dup_pairs(_docs(spark, sf_dir))


# --------------------------------------------------------------------- #
# Pair lists → dedup clusters (iterative min-label propagation)         #
# --------------------------------------------------------------------- #


def dedup_clusters(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Connected components over a near-dup pair list: (doc_id, cluster_id)
    where cluster_id is the MIN doc_id reachable through the pair graph —
    the step that turns pairwise near-dup evidence (Jaccard / MinHash /
    SimHash / embedding / chunk pairs all emit (a_id, b_id)) into
    keep-one-per-cluster dedup groups. Type-generic: min/least compare
    longs and md5 strings alike (the chunk alias map clusters
    fingerprints).

    Algorithm (r10 rewrite): **alternating large-star / small-star**
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — each phase is one neighbor-min aggregate plus one join,
    rewriting the edge set toward a forest of stars rooted at each
    component's minimum; alternation converges in O(log² n) phases on
    ARBITRARY graphs. The previous engine (min-label propagation with
    pointer jumping) was O(diameter) rounds on path-shaped graphs with
    value-random ids — measured: a 200-node random-id chain took 60
    rounds, linear in length, and the chunk alias map's sliding-window
    chains are exactly that shape at corpus scale. Same planted chain
    under star alternation: a handful of phases (regression-gated in
    ``test_dedup_clusters_path_graphs_converge_fast``).

      large-star: every edge (u, v) with v > u is rewritten to
                  (v, m(u)) where m(u) = min(Γ(u) ∪ {u}) — strictly
                  larger neighbors re-attach to the local minimum;
      small-star: every edge (u, v) with v < u is rewritten to
                  (v, m(u)), plus (u, m(u)) — the rest collapse onto it.

    Edges stay canonical (lo < hi) and distinct, so the working set
    never exceeds the symmetrized input edge count. The driver-side
    fixpoint probe (new edge set ≡ old, one limit-1 count over an
    anti-diff) stops the loop; exhausting ``max_iters`` without the
    fixpoint RAISES — an unconverged edge set is silently-wrong cluster
    membership (the keep-best guard philosophy).

    Every phase output passes through ``checkpoint_fresh_stats``
    (plans/barriers.py), NOT plain localCheckpoint: the checkpoint
    snapshots the phase plan's size estimate and the next phase
    multiplies it into its own — compounding doubly-exponentially until
    Catalyst's BigInt stats arithmetic pins the driver core (measured:
    digits 20 → 3 604 over seven self-join rounds; the sf1 chunk graph
    sat 30+ min inside SizeInBytesOnlyStatsPlanVisitor before any task
    ran).

    Iterative and data-dependent — rows-only class, like the k-means
    trainer. Semantics pinned by tests on known graph shapes and by the
    recursive-closure oracles of every consuming query."""
    canon = pairs.select(
        F.least(F.col("a_id"), F.col("b_id")).alias("lo"),
        F.greatest(F.col("a_id"), F.col("b_id")).alias("hi"),
    ).distinct()
    # materialize ONCE before iterating (r7 sf10 fix): `canon` is the
    # whole upstream pair pipeline — signatures, band join, exact
    # verify — and both `nodes` and the loop reference it. Fresh stats:
    # the pair pipeline's estimate would otherwise seed the compounding.
    # Self-pairs (a_id == b_id) are kept HERE so their ids reach `nodes`
    # and emit as singleton clusters (ADVICE r10: the old node set was
    # derived after the lo != hi cut, silently dropping a doc whose only
    # edge was a self-pair); the iteration below works on proper edges.
    canon = checkpoint_fresh_stats(canon)
    edges = canon.where(F.col("lo") != F.col("hi"))
    nodes = checkpoint_fresh_stats(
        canon.select(F.col("lo").alias("id"))
        .unionByName(canon.select(F.col("hi").alias("id")))
        .distinct()
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.select(
            F.col("lo").alias("u"), F.col("hi").alias("v")
        ).unionByName(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def _mins(sym: DataFrame) -> DataFrame:
        return sym.groupBy("u").agg(
            F.min(F.least(F.col("u"), F.col("v"))).alias("m")
        )

    def _canonize(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least(F.col("x"), F.col("y")).alias("lo"),
                F.greatest(F.col("x"), F.col("y")).alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    for _ in range(max_iters):
        # large-star: (u, v>u) → (v, m(u))
        sym = checkpoint(_sym(edges))
        large = _canonize(
            sym.where(F.col("v") > F.col("u"))
            .join(_mins(sym), "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
        )
        edges_l = checkpoint_fresh_stats(large)
        # small-star: (u, v<u) → (v, m(u)), plus (u, m(u))
        sym2 = checkpoint(_sym(edges_l))
        mins2 = checkpoint(_mins(sym2))
        small = _canonize(
            sym2.where(F.col("v") < F.col("u"))
            .join(mins2, "u")
            .select(F.col("v").alias("x"), F.col("m").alias("y"))
            .unionByName(
                mins2.select(F.col("u").alias("x"), F.col("m").alias("y"))
            )
        )
        new_edges = checkpoint_fresh_stats(small)
        # fixpoint probe: the edge sets are equal iff neither side has
        # a row the other lacks (two bounded anti-joins, limit-1 each)
        diff_a = (
            new_edges.join(edges, ["lo", "hi"], "left_anti").limit(1).count()
        )
        diff_b = 0
        if diff_a == 0:
            diff_b = (
                edges.join(new_edges, ["lo", "hi"], "left_anti")
                .limit(1)
                .count()
            )
        edges = new_edges
        if diff_a == 0 and diff_b == 0:
            break
    else:
        # fail LOUDLY (the keep-best guard philosophy): an unconverged
        # edge set is silently-wrong cluster membership — every
        # downstream keep/drop/split decision would act on it
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iters} phases; "
            "raise max_iters (each phase after the fixpoint is free — "
            "the early-stop probe ends the loop)"
        )
    # at the fixpoint the edge set is a star forest rooted at each
    # component's minimum: every non-root appears exactly once as `hi`
    labels = edges.select(
        F.col("hi").alias("id"), F.col("lo").alias("label")
    )
    return (
        nodes.join(labels, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("id")).alias("cluster_id"),
        )
    )


def _cluster_labels_cte(src: str = "documents") -> str:
    """Recursive WITH-body ending in ``labels(id, cluster_id)`` —
    DuckDB connected components via transitive closure: reach(id, r)
    enumerates every node reachable from id over the symmetrized
    near-dup edges (UNION, not UNION ALL — set semantics terminate the
    recursion), and min(r) per id is exactly the min-label-propagation
    fixpoint the Spark side converges to. O(cluster_size²) per cluster
    is fine for an oracle; the Spark side is the O(log diameter) scale
    path. Shared by every oracle that consumes the minhash-LSH cluster
    labels; ``src`` lets composition oracles cluster a filtered doc
    set."""
    return f"""{_duck_shingles(src)}, {_duck_minhash_cte()},
    bands AS ({_band_exprs_duck()}),
    cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
             FROM bands a JOIN bands b
               ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id),
    {_DUCK_PAIRS},
    vp AS (SELECT c.a_id, c.b_id
           FROM cand c JOIN inter i ON c.a_id = i.a_id AND c.b_id = i.b_id
           WHERE i.shared * 1.0 / (i.na + i.nb - i.shared)
                 >= {_JACCARD_THRESHOLD}),
    edges AS (SELECT a_id AS src, b_id AS dst FROM vp
              UNION SELECT b_id, a_id FROM vp),
    reach(id, r) AS (
        SELECT DISTINCT src, src FROM edges
        UNION
        SELECT reach.id, e.dst FROM reach JOIN edges e ON reach.r = e.src),
    labels AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)"""


def _clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    sizes AS (SELECT cluster_id, count(*) AS sz FROM labels
              GROUP BY cluster_id)
    SELECT CAST(sz AS INTEGER) AS cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_id) AS BIGINT) AS label_checksum
    FROM sizes GROUP BY 1 ORDER BY 1
    """


@_query(
    "docs_dedup_clusters",
    _clusters_oracle(),
)
def docs_dedup_clusters(spark, sf_dir):
    """Near-dup cluster resolution, independently checked (VERDICT r4
    #2): MinHash-LSH pairs → :func:`dedup_clusters` (min-label
    propagation + pointer jumping) → per-cluster-size histogram with a
    min-label checksum. The oracle recomputes connected components as a
    DuckDB recursive CTE over the identical pair list, so the one
    load-bearing pipeline link that feeds ``split_by_key``'s leakage
    guarantee — WHICH docs merge into WHICH cluster — is hash-verified
    by an independent engine: any wrong merge or missed merge shifts a
    cluster size or a min-label sum."""
    # the iterative propagation's eager checkpoints mean the visible
    # plan is an RDD scan, whatever the pair source
    pairs = minhash_lsh_pairs(_docs(spark, sf_dir))
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


def dedup_keep_best(
    clusters: DataFrame, scores: DataFrame
) -> DataFrame:
    """(cluster_id, cluster_size, kept_doc_id, kept_score,
    dropped_id_sum) — quality-aware cluster representative selection:
    per near-dup cluster, KEEP the member with the highest ``score``
    (tie → smallest doc_id), the FineWeb/CCNet curation rule that
    replaces the engine-wide keep-first default when a quality signal
    exists (keep-first discards a clean copy whenever a boilerplate-
    padded copy happens to have the smaller id).

    ``scores`` must carry (doc_id, score); score must be exactly
    representable cross-engine (the registered query uses the distinct-
    token count — an exact integer).

    Scale shape: the argmax is a plain ``groupBy(cluster_id)`` over
    ``max(struct(score, -doc_id))`` — lexicographic struct max with
    map-side partial aggregation, NO cluster-keyed window, so a
    degenerate giant cluster (web boilerplate collapsing millions of
    docs into one component) costs a combiner tree, not a single-task
    sort of the whole cluster (the percentile-filter lesson, VERDICT
    r8 #1). The clusters⋈scores join is SMJ-pinned: both sides top
    aggregates/checkpoints whose size estimates are bogus-small (the
    §6g broadcast-OOM class).

    Contract enforcement (ADVICE r9): the join is a LEFT join with a
    raise-on-NULL guard, so a cluster member missing from ``scores``
    (or carrying a NULL score) fails the job loudly instead of
    silently shrinking cluster_size and dropped_id_sum. The guard is a
    lazy CASE branch inside the aggregate's input — zero cost on the
    happy path, no extra action."""
    joined = clusters.join(scores.hint("merge"), "doc_id", "left")
    score = F.when(
        F.col("score").isNull(),
        F.raise_error(
            F.lit(
                "dedup_keep_best: cluster member missing from scores "
                "(or NULL score) — every clusters.doc_id must have a "
                "non-NULL score"
            )
        ).cast("long"),
    ).otherwise(F.col("score"))
    best = joined.groupBy("cluster_id").agg(
        F.count("*").cast("int").alias("cluster_size"),
        F.max(
            F.struct(
                score.alias("s"),
                (-F.col("doc_id")).alias("neg_id"),
            )
        ).alias("_b"),
        F.sum("doc_id").cast("long").alias("_id_sum"),
    )
    kept_id = (-F.col("_b.neg_id")).cast("long")
    return best.select(
        "cluster_id",
        "cluster_size",
        kept_id.alias("kept_doc_id"),
        F.col("_b.s").cast("long").alias("kept_score"),
        (F.col("_id_sum") - kept_id).cast("long").alias("dropped_id_sum"),
    ).orderBy("cluster_id")


@_query(
    "docs_dedup_keep_best",
    f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    scored AS (
        SELECT l.id AS doc_id, l.cluster_id,
               len(list_distinct(string_split_regex(trim(d.text), '\\s+')))
                   AS score
        FROM labels l JOIN documents d ON d.doc_id = l.id),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY score DESC, doc_id ASC) AS rn
        FROM scored)
    SELECT cluster_id,
           CAST(count(*) AS INTEGER) AS cluster_size,
           CAST(max(CASE WHEN rn = 1 THEN doc_id END) AS BIGINT)
               AS kept_doc_id,
           CAST(max(CASE WHEN rn = 1 THEN score END) AS BIGINT)
               AS kept_score,
           CAST(sum(CASE WHEN rn > 1 THEN doc_id ELSE 0 END) AS BIGINT)
               AS dropped_id_sum
    FROM ranked GROUP BY cluster_id ORDER BY cluster_id
    """,
    # promoted late r9 after its verification matured (oracle green at
    # sf0.01/0.1, sf1 row-identity vs the recursive closure, sf10
    # measured, planted keep-rule test, windowless-argmax plan gate);
    # demoted tpch_q6_forecast_revenue, a covered scan-agg echo
)
def docs_dedup_keep_best(spark, sf_dir):
    """Quality-aware dedup: MinHash-LSH pairs → connected components →
    per-cluster argmax on the distinct-token count (exact integer, so
    the oracle replay is value-identical), tie-broken to the smallest
    doc_id. The oracle recomputes the clusters as a recursive-CTE
    closure and the argmax as a SQL window, so WHICH doc each cluster
    keeps — the row curation acts on — is verified end-to-end by an
    independent engine."""
    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_pairs(docs)
    clusters = dedup_clusters(pairs)
    scores = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.array_distinct(F.split(F.trim("text"), r"\s+"))).alias(
            "score"
        ),
    )
    return dedup_keep_best(clusters, scores)


def curation_keep_best(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(source, lang, kept_docs, dropped_dup_docs, kept_tokens) — the
    production curation order END-TO-END: quality gate (the curation
    pipeline's thresholds) → MinHash-LSH near-dup clusters over the
    PASSING docs only → keep the highest-quality member per cluster
    (:func:`dedup_keep_best`) → per-(source, lang) yield report. This
    is the composition the individual operators exist for: filter
    first (clustering the rejects is wasted work), then replace the
    blanket keep-first rule with the quality argmax.

    Scale shape: inherits each stage's bounds (df-cut + banding for
    pairs, O(log diameter) propagation, windowless argmax); the two
    composition joins — dropped-ids anti-join and the report's left
    join — are merge-pinned because both sides top aggregates or
    checkpointed RDDs (§6g/§6n estimate blindness)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    passing = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id",
        "source",
        "lang",
        F.col(text_col).alias("text"),
        F.size(toks).alias("n_tok"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        "n_chars",
    ).where(
        (F.col("n_chars") >= 100)
        & (F.col("n_tok") >= 20)
        & ((F.col("n_uniq") / F.col("n_tok")) >= 0.3)
    )
    pairs = minhash_lsh_pairs(passing.select("doc_id", "text")).select(
        "a_id", "b_id"
    )
    clusters = dedup_clusters(pairs)
    kb = dedup_keep_best(
        clusters, passing.select("doc_id", F.col("n_uniq").alias("score"))
    )
    dropped = clusters.join(
        kb.select(F.col("kept_doc_id").alias("doc_id")).hint("merge"),
        "doc_id",
        "left_anti",
    ).select("doc_id", F.lit(1).alias("_dropped"))
    return (
        passing.join(dropped.hint("merge"), "doc_id", "left")
        .groupBy("source", "lang")
        .agg(
            F.sum(F.when(F.col("_dropped").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("kept_docs"),
            F.sum(F.coalesce("_dropped", F.lit(0)))
            .cast("long")
            .alias("dropped_dup_docs"),
            F.sum(
                F.when(F.col("_dropped").isNull(), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("kept_tokens"),
        )
        .orderBy("source", "lang")
    )


@_query(
    "docs_curation_keep_best",
    f"""
    WITH RECURSIVE
    q0 AS (SELECT doc_id, source, lang, n_chars, text,
                  string_split_regex(trim(text), '\\s+') AS t
           FROM documents WHERE text IS NOT NULL),
    q AS (SELECT doc_id, source, lang, text,
                 len(t) AS n_tok, len(list_distinct(t)) AS n_uniq
          FROM q0
          WHERE n_chars >= 100 AND len(t) >= 20
            AND len(list_distinct(t)) * 1.0 / len(t) >= 0.3),
    {_cluster_labels_cte(src="q")},
    ranked AS (
        SELECT l.id, l.cluster_id,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY q.n_uniq DESC, l.id ASC) AS rn
        FROM labels l JOIN q ON q.doc_id = l.id),
    dropped AS (SELECT id AS doc_id FROM ranked WHERE rn > 1)
    SELECT q.source, q.lang,
           CAST(sum(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS kept_docs,
           CAST(sum(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS dropped_dup_docs,
           CAST(sum(CASE WHEN d.doc_id IS NULL THEN q.n_tok ELSE 0 END)
                AS BIGINT) AS kept_tokens
    FROM q LEFT JOIN dropped d USING (doc_id)
    GROUP BY q.source, q.lang ORDER BY q.source, q.lang
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_curation_keep_best(spark, sf_dir):
    """Filter → near-dup cluster → keep-BEST curation, composed and
    verified end-to-end: the oracle replays the quality gate, shingles
    the FILTERED doc set with the shared tokenizer, recomputes the
    clusters as a recursive-CTE closure, ranks members by the same
    quality score, and re-derives the per-(source, lang) yield."""
    return curation_keep_best(_docs(spark, sf_dir))


# --------------------------------------------------------------------- #
# Leakage-safe dataset splitting                                        #
# --------------------------------------------------------------------- #

_TRAIN_PCT = 80
_VAL_PCT = 10


def split_by_key(
    docs: DataFrame,
    key,
    train_pct: int = _TRAIN_PCT,
    val_pct: int = _VAL_PCT,
) -> DataFrame:
    """Deterministic cluster-atomic train/val/test assignment: the split
    is decided by hashing ``key`` (a Column), NOT the doc itself — every
    doc sharing a key lands in the same split. Pass the exact-dup
    fingerprint or a :func:`dedup_clusters` cluster_id as the key and
    duplicate/near-duplicate documents can never straddle a split
    boundary (train→eval leakage, the classic contamination bug in
    training-data pipelines: a near-copy of an eval doc in train
    inflates eval scores). Pure map — the md5 bucket is the same
    engine-portable primitive as docs_deterministic_sample; no shuffle,
    no sampling state, stable under re-runs and corpus growth."""
    bucket = hash32(key.cast("string")) % 100
    split = (
        F.when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )
    return docs.withColumn("split", split)


@_query(
    "docs_leakage_safe_split",
    f"""
    WITH s AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
        FROM documents),
    sp AS (
        SELECT doc_id, fp,
               CASE WHEN CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT)
                         % 100 < {_TRAIN_PCT} THEN 'train'
                    WHEN CAST(('0x' || substr(md5(fp), 1, 8)) AS BIGINT)
                         % 100 < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM s)
    SELECT split, count(*) AS n_docs,
           CAST(count(DISTINCT fp) AS BIGINT) AS n_clusters
    FROM sp GROUP BY split ORDER BY split
    """,
    # promoted r5 into the driver 50 (VERDICT r4 #3); the near-dup
    # (connected-components) variant is docs_dedup_clusters below
)
def docs_leakage_safe_split(spark, sf_dir):
    """Exact-dup-atomic 80/10/10 split summary: split decided by the
    normalized-text fingerprint, so byte-identical (post-normalization)
    docs always share a split — zero exact-dup leakage by construction,
    and both engines compute the identical assignment from md5 literals.
    The near-duplicate-atomic variant (split by dedup_clusters
    cluster_id over MinHash/Jaccard pairs) composes the same primitive
    and is pinned by tests/test_operators.py::test_leakage_safe_split_
    cluster_atomic, including a demonstration that doc_id-hash splitting
    DOES leak near-dup clusters on the same corpus."""
    docs = _docs(spark, sf_dir)
    fp = fingerprint(F.col("text"))
    assigned = split_by_key(docs.select("doc_id", fp.alias("fp")), F.col("fp"))
    return (
        assigned.groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("fp").alias("n_clusters"),
        )
        .orderBy("split")
    )


def _duck_split_case(key_sql: str) -> str:
    """The split_by_key bucket as SQL over ``key_sql`` (same md5
    primitive as the Spark side's hash32)."""
    b = f"{duck_hash32(f'CAST({key_sql} AS VARCHAR)')} % 100"
    return (
        f"CASE WHEN {b} < {_TRAIN_PCT} THEN 'train' "
        f"WHEN {b} < {_TRAIN_PCT + _VAL_PCT} THEN 'val' "
        f"ELSE 'test' END"
    )


def split_leakage_audit(docs: DataFrame) -> DataFrame:
    """(total_pairs, atomic_cross_split_pairs, naive_cross_split_pairs)
    — the leakage-safety GUARANTEE as a measured number: over every
    verified near-dup pair, count pairs whose members land in different
    splits under (a) the cluster-atomic assignment (split hashed from
    the connected-component label — MUST be zero: both members share a
    cluster, hence a key, hence a bucket) and (b) the naive per-doc
    hash split (the classic contamination bug — nonzero on any corpus
    with near-dups). The audit a pipeline runs before shipping a split.

    Scale shape: the pair list and cluster labels are the measured
    minhash pipeline's; the audit adds two pair-keyed joins against a
    per-doc assignment projection (merge-pinned — clusters top a
    checkpointed RDD) and one global 3-counter aggregate. The pair
    list is eagerly checkpointed (it is pair-sized — tiny next to the
    corpus): the audit references it AGAIN after dedup_clusters
    consumed it, and un-checkpointed that re-ran the whole
    shingle/signature/band/verify pipeline a second time at action
    time (a review pass caught the double execution)."""
    pairs = checkpoint(
        minhash_lsh_pairs(docs).select("a_id", "b_id"),
        eager=True,
    )
    clusters = dedup_clusters(pairs)
    asg = (
        split_by_key(clusters, F.col("cluster_id"))
        .withColumnRenamed("split", "atomic_split")
    )
    asg = split_by_key(asg, F.col("doc_id")).withColumnRenamed(
        "split", "naive_split"
    )
    a = asg.select(
        F.col("doc_id").alias("a_id"),
        F.col("atomic_split").alias("a_at"),
        F.col("naive_split").alias("a_nv"),
    )
    b = asg.select(
        F.col("doc_id").alias("b_id"),
        F.col("atomic_split").alias("b_at"),
        F.col("naive_split").alias("b_nv"),
    )
    return (
        pairs.join(a.hint("merge"), "a_id")
        .join(b.hint("merge"), "b_id")
        .agg(
            F.count("*").cast("long").alias("total_pairs"),
            F.sum((F.col("a_at") != F.col("b_at")).cast("int"))
            .cast("long")
            .alias("atomic_cross_split_pairs"),
            F.sum((F.col("a_nv") != F.col("b_nv")).cast("int"))
            .cast("long")
            .alias("naive_cross_split_pairs"),
        )
    )


@_query(
    "docs_split_leakage_audit",
    f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    asg AS (SELECT id AS doc_id,
                   {_duck_split_case("cluster_id")} AS atomic_split,
                   {_duck_split_case("id")} AS naive_split
            FROM labels)
    SELECT CAST(count(*) AS BIGINT) AS total_pairs,
           CAST(sum(CASE WHEN a.atomic_split <> b.atomic_split
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS atomic_cross_split_pairs,
           CAST(sum(CASE WHEN a.naive_split <> b.naive_split
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS naive_cross_split_pairs
    FROM vp JOIN asg a ON a.doc_id = vp.a_id
            JOIN asg b ON b.doc_id = vp.b_id
    """,
    driver=False,  # registry at the 50 cap; oracle-checked locally
)
def docs_split_leakage_audit(spark, sf_dir):
    """Split-safety audit, independently verified: the oracle recomputes
    the pair list, the recursive-CTE closure, and both split
    assignments from the same md5 primitive — so the zero in
    atomic_cross_split_pairs is a cross-engine-checked guarantee, and
    naive_cross_split_pairs measures what the classic per-doc hash
    split would have leaked on this corpus."""
    return split_leakage_audit(_docs(spark, sf_dir))


# --------------------------------------------------------------------- #
# Benchmark decontamination                                             #
# --------------------------------------------------------------------- #

_DECON_NGRAM = 8


def decontamination_flags(
    docs: DataFrame, benchmark: DataFrame, n: int = _DECON_NGRAM
) -> DataFrame:
    """Flag corpus docs sharing ≥1 word-``n``-gram with any benchmark
    doc — the standard eval-set decontamination pass of a training-data
    pipeline (a long-n-gram collision between a training doc and an
    eval item means the benchmark leaks into training; n=8 follows the
    published 8–13-gram practice: long enough that chance collisions
    vanish, short enough to catch paraphrase-with-overlap).

    Scale shape: the benchmark is small by definition → its distinct
    n-gram set BROADCASTS; the corpus side is a semi-join against it —
    one scan of the corpus shingle stream, no corpus-side shuffle, never
    O(corpus × benchmark). Returns the flagged ``(doc_id)`` rows."""
    # r7: gram rows come from the Arrow kernel — the JVM assembly paid
    # a lead-window shuffle of one row per corpus token just to build
    # grams, the dominant cost once the probe-side distinct was gone.
    # A semi join is multiplicity-insensitive and the trailing doc_id
    # distinct dedups the flags, so no gram-keyed exchange exists
    # anywhere in the plan (gated: the bench side broadcasts raw gram
    # rows — a semi-join build dedups in its hash table for free).
    bench_grams = shingle_rows_np(benchmark, n=n).select("s")
    return (
        shingle_rows_np(docs, n=n)
        .join(F.broadcast(bench_grams), "s", "semi")
        .select("doc_id")
        .distinct()
    )


def _duck_decon_shingles(src_filter: str, n: int) -> str:
    return f"""
    SELECT doc_id, source,
           unnest([list_aggregate(t[i:i+{n - 1}], 'string_agg', ' ')
                   FOR i IN range(1, len(t) - {n - 2})]) AS s
    FROM (SELECT doc_id, source,
                 string_split_regex(trim(text), '\\s+') AS t
          FROM documents {src_filter})
    WHERE len(t) >= {n}
    """


@_query(
    "docs_decontamination",
    f"""
    WITH corpus_sh AS ({_duck_decon_shingles("WHERE source != 'src0'", _DECON_NGRAM)}),
    bench AS (SELECT DISTINCT s
              FROM ({_duck_decon_shingles("WHERE source = 'src0'", _DECON_NGRAM)})),
    hits AS (SELECT DISTINCT c.doc_id, c.source
             FROM corpus_sh c JOIN bench b ON c.s = b.s)
    SELECT doc_id, source FROM hits ORDER BY doc_id
    """,
    # promoted r5 (VERDICT r4 #3); demoted r14 (VERDICT r13 #5): its
    # rule is strictly inside docs_decon_arrival's replay (same grams,
    # same flag rule, plus arrival attribution) — the r9/r13 precedent.
    # Stays oracle-checked locally.
    driver=False,
)
def docs_decontamination(spark, sf_dir):
    """Decontamination demo on the synthetic corpus: treat source
    'src0' as the held-out benchmark and flag every other doc sharing
    an 8-gram with it (the corpus plants near-dups across sources, so
    the result is non-vacuous: 5 flagged at sf0.001, 2 at sf0.01).
    Returns the flagged (doc_id, source) rows — the set a curation
    pipeline would quarantine before training."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    flagged = decontamination_flags(corpus, bench)
    return (
        flagged.join(corpus.select("doc_id", "source"), "doc_id")
        .orderBy("doc_id")
    )


#: fuzzy-decontamination Jaccard threshold — a SCREEN, deliberately
#: looser than the 0.8 dedup threshold: a benchmark item 40%-overlapped
#: with a training doc is already a leak worth quarantining
_FUZZY_TAU = 0.4


def fuzzy_decontamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = _NGRAM,
    tau: float = _FUZZY_TAU,
    max_df: int = _MAX_DF,
    pair_budget: int | None = None,
) -> DataFrame:
    """(doc_id, bench_id, jaccard) — corpus docs whose distinct-shingle
    Jaccard against SOME benchmark doc is ≥ ``tau``, each with its
    best-matching benchmark item (ties → lowest bench_id). The fuzzy
    complement of :func:`decontamination_flags`: the exact pass needs
    one verbatim 8-gram, so an eval item lightly edited every ≤ 7
    tokens sails through it while remaining mostly the same text —
    exactly what this screen catches (pinned by
    ``test_fuzzy_decontamination_catches_edited_leaks``).

    Two-phase, like every pair operator here. A dense formulation
    (join every corpus gram to every matching bench gram) measured
    UNBOUNDED on the sf10 demo: per-gram fan-out is corpus_df×bench_df,
    and a saturated trigram space with a non-tiny benchmark multiplies
    43 M corpus gram rows by ~80 matching bench docs each. Instead:

    1. candidates — (doc, bench) pairs sharing ≥ 1 gram whose COMBINED
       (corpus+bench) df survives :func:`adaptive_df_cut` under the
       linear budget ``max(2 M, 64·n_docs)`` — fan-out ≤ Σ C(df,2),
       budget-bounded at any scale;
    2. exact verify — the candidate pairs (alone) get their full
       distinct-set intersection counted, so reported Jaccard is exact
       regardless of the cut.

    Recall envelope (same documented class as the jaccard family): a
    leaked pair is missed only if EVERY shared gram is above the cut —
    i.e. the overlap is built entirely of corpus-hot boilerplate. The
    cut is a data-derived formula and the oracle replays it in SQL, so
    the oracle stays exact on both sides of the budget boundary."""
    if pair_budget is None:
        pair_budget = max(
            _PAIR_BUDGET_FLOOR, _PAIR_BUDGET_PER_DOC * docs.count()
        )
    # Lineage barriers (r15): each side's distinct-shingle frame is
    # referenced by FIVE consumers (df-cut histogram, hot set,
    # candidates, per-side cardinalities, exact verify) — without the
    # barrier every consumer re-ran the full scan + posexplode +
    # lead-window + distinct pipeline (plan: 10 parquet scans; now 2).
    # Same trade the span family measured at sf10-sf30: materialized
    # gram rows are ~token-stream-sized, far cheaper to store once than
    # to recompute per consumer.
    c = checkpoint(shingle_rows(docs, n=n))
    b = checkpoint(
        shingle_rows(benchmark, n=n).select(
            F.col("doc_id").alias("bench_id"), "s"
        )
    )
    cut, _ = adaptive_df_cut(
        c.select("s").unionAll(b.select("s")).select("s"), max_df, pair_budget
    )
    hot = (
        c.select("s")
        .unionAll(b.select("s"))
        .groupBy("s")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > cut)
        .select("s")
    )
    cand = (
        c.join(F.broadcast(hot), "s", "left_anti")
        .join(b.join(F.broadcast(hot), "s", "left_anti"), "s")
        .select("doc_id", "bench_id")
        .distinct()
    )
    # exact verify on candidates only: count the full-set intersection
    # per pair (join keyed (bench_id, s) — rows = Σ candidate-doc gram
    # counts, bounded by the budget × gram/doc)
    na = c.groupBy("doc_id").agg(F.count("*").alias("_na"))
    nb = b.groupBy("bench_id").agg(F.count("*").alias("_nb"))
    shared = (
        cand.join(c, "doc_id")
        .join(b, ["bench_id", "s"])
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("_shared"))
    )
    jac = F.col("_shared") / (F.col("_na") + F.col("_nb") - F.col("_shared"))
    scored = (
        shared.join(na, "doc_id")
        .join(F.broadcast(nb), "bench_id")
        .where(jac >= tau)
        .select("doc_id", "bench_id", jac.alias("_jac"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("_jac"), F.asc("bench_id"))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("doc_id", "bench_id", F.round("_jac", 4).alias("jaccard"))
        .orderBy("doc_id")
    )


@_query(
    "docs_fuzzy_decontamination",
    f"""
    WITH c AS (SELECT DISTINCT doc_id, s
               FROM ({_duck_decon_shingles("WHERE source != 'src0'", _NGRAM)})),
    b AS (SELECT DISTINCT doc_id AS bench_id, s
          FROM ({_duck_decon_shingles("WHERE source = 'src0'", _NGRAM)})),
    -- adaptive candidate cut on the COMBINED (corpus+bench) gram df,
    -- replaying adaptive_df_cut's histogram walk exactly (the span
    -- family's pattern): histogram -> inclusive running pair sum ->
    -- first overflowing df
    u AS (SELECT s FROM c UNION ALL SELECT s FROM b),
    hist AS (SELECT df, count(*) AS nsh FROM (
                 SELECT s, count(*) AS df FROM u GROUP BY s)
             WHERE df > 1 AND df <= {_MAX_DF} GROUP BY df),
    cum AS (SELECT df, sum((nsh * df * (df - 1)) // 2)
                       OVER (ORDER BY df) AS cumpairs
            FROM hist),
    budget AS (SELECT greatest({_PAIR_BUDGET_FLOOR},
                               {_PAIR_BUDGET_PER_DOC} * count(*)) AS bdg
               FROM documents WHERE source != 'src0'),
    cutv AS (SELECT COALESCE((SELECT min(df) - 1 FROM cum
                              WHERE cumpairs > (SELECT bdg FROM budget)),
                             {_MAX_DF}) AS cut),
    hot AS (SELECT s FROM u GROUP BY s
            HAVING count(*) > (SELECT cut FROM cutv)),
    cand AS (SELECT DISTINCT c.doc_id, b.bench_id
             FROM (SELECT * FROM c WHERE s NOT IN (SELECT s FROM hot)) c
             JOIN (SELECT * FROM b WHERE s NOT IN (SELECT s FROM hot)) b
             USING (s)),
    na AS (SELECT doc_id, count(*) AS n FROM c GROUP BY doc_id),
    nb AS (SELECT bench_id, count(*) AS n FROM b GROUP BY bench_id),
    inter AS (SELECT k.doc_id, k.bench_id, count(*) AS shared
              FROM cand k
              JOIN c ON c.doc_id = k.doc_id
              JOIN b ON b.bench_id = k.bench_id AND b.s = c.s
              GROUP BY k.doc_id, k.bench_id),
    j AS (SELECT i.doc_id, i.bench_id,
                 i.shared * 1.0 / (na.n + nb.n - i.shared) AS jac
          FROM inter i
          JOIN na ON i.doc_id = na.doc_id
          JOIN nb ON i.bench_id = nb.bench_id
          WHERE i.shared * 1.0 / (na.n + nb.n - i.shared) >= {_FUZZY_TAU}),
    best AS (SELECT doc_id, bench_id, jac,
                    row_number() OVER (PARTITION BY doc_id
                                       ORDER BY jac DESC, bench_id) AS rn
             FROM j)
    SELECT doc_id, bench_id, round(jac, 4) AS jaccard
    FROM best WHERE rn = 1 ORDER BY doc_id
    """,
    # promoted to driver r9 (VERDICT r8 #2): the oracle replays the
    # adaptive cut, so it stays exact on both sides of the budget
    # boundary; slot freed by demoting the orders_priority_matrix echo
)
def docs_fuzzy_decontamination(spark, sf_dir):
    """Fuzzy-decontamination demo on the synthetic corpus (src0 as the
    held-out benchmark, like the exact pass): every other doc whose
    trigram-set Jaccard vs some src0 item is ≥ 0.4, with the best
    match — the quarantine list for leaks the verbatim-8-gram pass
    can't see."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("source") == "src0")
    corpus = docs.where(F.col("source") != "src0")
    return fuzzy_decontamination(corpus, bench)
