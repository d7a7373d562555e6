"""Interval / range joins — the operator family Spark has no native
physical strategy for (a naive ``a.start <= b.end AND b.start <= a.end``
join plans as BroadcastNestedLoopJoin, O(n·m) and undistributable when
neither side broadcasts).

Scale design — **bin-bucket then verify**, the same candidate/verify
shape as MinHash-LSH (reference has nothing comparable; this is a
beyond-reference operator for time-range analytics):

1. explode each interval into the fixed-width time bins it covers
   (``F.sequence`` of timestamps — per-row, codegen, no shuffle);
2. equi-join on the bin key — a plain hash-partitioned join that
   distributes over any cluster; candidates are pairs sharing ≥1 bin,
   a superset of true overlaps;
3. dedup pairs and apply the exact overlap predicate.

Bin width trades shuffle volume (narrow bins → more exploded rows)
against candidate precision (wide bins → more false candidates). For
bounded-length intervals the exploded size is O(rows · L/bin) — linear,
never quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ballcone_spark.plans.barriers import checkpoint
from ballcone_spark.queries import _query, load_table

__all__ = ["overlap_pairs", "sessions_with_bounds"]

#: long-row broadcast ceiling (rows, both sides summed). The long-row
#: branch broadcasts the tail of the interval-length distribution and
#: nested-loop-joins it against the other side — O(|long| · |other|)
#: compute that is only cheap while |long| is genuinely rare. r15 VERDICT
#: #4: "rare" was asserted by design, not gated — a pathological session
#: distribution (clock-skewed sources, never-expiring sessions) makes
#: the broadcast branch the hot path at 100 TB. Above this ceiling the
#: guard is disabled instead: every row takes the bin-bucketed equi-join
#: (exact, linear in rows · len/bin, distributable) — when long rows are
#: this common, their explode cost is bounded by len/bin per row while
#: the nested loop is |other| per row. 50 k broadcast rows ≈ 2 MB built;
#: the gate is about the O(n·m) compute, not the broadcast memory.
LONG_BROADCAST_MAX_ROWS = 50_000


def overlap_pairs(
    a: DataFrame,
    b: DataFrame,
    on: list[str],
    start: str = "start",
    end: str = "end",
    bin_expr: str = "1 hour",
    long_threshold: str | None = "7 days",
    long_broadcast_max: int | None = LONG_BROADCAST_MAX_ROWS,
) -> DataFrame:
    """Pairs of rows from ``a`` × ``b`` whose [start, end] intervals
    overlap (inclusive). ``on`` = extra equi-keys (may be empty).

    ``a`` columns come back prefixed ``a_``, ``b``'s ``b_``.

    Scale contract: the bin explode is O(rows · len/bin) — linear ONLY
    for bounded-length intervals. A single pathological interval (days
    at a 1-hour bin) would explode thousands of rows. Rows longer than
    ``long_threshold`` therefore skip binning entirely and take a
    broadcast path: long rows are assumed RARE (they are, by
    construction, the tail of the length distribution — if most rows
    were ``long_threshold``-sized the caller should raise the threshold
    and widen ``bin_expr`` to match), so broadcasting them against the
    other side is O(|long| · |other|) with a tiny first factor, exact,
    and shuffle-free. Pass ``long_threshold=None`` to disable the guard
    when interval length is structurally bounded.

    ``long_broadcast_max`` (r16): the "rare" assumption is now GATED,
    not asserted — one plan-build count of the long rows (cheap when the
    caller hands in checkpointed frames, as the registered query does),
    and above the ceiling the broadcast branch is abandoned: every row
    goes through the bin-bucketed equi-join (``long_threshold=None``
    semantics — identical results, the exact predicate verifies every
    candidate either way). ``None`` disables the gate (r15 behavior).
    """

    def pfx_cols(df: DataFrame, pfx: str) -> list:
        return [F.col(c).alias(f"{pfx}{c}") for c in df.columns]

    def binned(df: DataFrame, pfx: str) -> DataFrame:
        bins = F.explode(
            F.sequence(
                F.date_trunc("hour", F.col(start)),
                F.date_trunc("hour", F.col(end)),
                F.expr(f"interval {bin_expr}"),
            )
        ).alias("_bin")
        return df.select(*pfx_cols(df, pfx), *[F.col(c).alias(c) for c in on], bins)

    exact = (F.col(f"a_{start}") <= F.col(f"b_{end}")) & (
        F.col(f"b_{start}") <= F.col(f"a_{end}")
    )

    if long_threshold is not None and long_broadcast_max is not None:
        # the gate: one count of the length-distribution tail at plan
        # build (sums both sides; one job when a IS b, the self-join
        # shape the registered query uses)
        is_long_probe = (F.col(end) - F.col(start)) > F.expr(
            f"INTERVAL {long_threshold}"
        )
        n_long = a.where(is_long_probe).count()
        if b is not a:
            n_long += b.where(is_long_probe).count()
        if n_long > long_broadcast_max:
            long_threshold = None

    if long_threshold is None:
        a_short, b_short = a, b
        long_parts = []
    else:
        # Interval comparison: legal on TIMESTAMP and TIMESTAMP_NTZ both.
        is_long = (F.col(end) - F.col(start)) > F.expr(
            f"INTERVAL {long_threshold}"
        )
        a_short, a_long = a.where(~is_long), a.where(is_long)
        b_short, b_long = b.where(~is_long), b.where(is_long)
        eq = [F.col(f"a_{c}") == F.col(f"b_{c}") for c in on]
        cond = exact
        for e in eq:
            cond = cond & e
        on_cols = [F.col(f"a_{c}").alias(c) for c in on]

        def long_join(left: DataFrame, right_long: DataFrame, right_is_b: bool):
            lp, rp = ("a_", "b_") if right_is_b else ("b_", "a_")
            j = left.select(pfx_cols(left, lp)).join(
                F.broadcast(right_long.select(pfx_cols(right_long, rp))), cond
            )
            return j.select(*on_cols, "*")

        # Exact 3-way partition of the pair space: (short×short) binned,
        # (long_a × all b) and (short_a × long_b) broadcast — no pair is
        # produced twice across branches.
        long_parts = [
            long_join(b, a_long, right_is_b=False),
            long_join(a_short, b_long, right_is_b=True),
        ]

    left = binned(a_short, "a_")
    right = binned(b_short, "b_")
    cand = left.join(right, on=[*on, "_bin"]).drop("_bin").distinct()
    out = cand.where(exact)
    for part in long_parts:
        out = out.unionByName(part)
    return out


_GAP_MIN = 30


def sessions_with_bounds(events: DataFrame, max_user: int) -> DataFrame:
    """Gap-based sessions (30-min timeout) with [start, end+30 min]
    active-window bounds: (user_id, session_id, start, end)."""
    w = Window.partitionBy("user_id").orderBy("ts")
    # Interval comparison (not epoch-seconds cast): valid for both
    # TIMESTAMP and TIMESTAMP_NTZ inputs — the driver testdata has
    # flipped physical timestamp type (ns/LTZ → µs/NTZ) once already,
    # and CAST(ntz AS BIGINT) is an analysis error in Spark 4.
    prev = F.lag("ts").over(w)
    gap = F.col("ts") - prev
    new_s = F.when(
        prev.isNull() | (gap > F.expr(f"INTERVAL {_GAP_MIN} MINUTES")), 1
    ).otherwise(0)
    cum = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        events.where(F.col("user_id") < max_user)
        .withColumn("new_session", new_s)
        .withColumn("session_id", F.sum("new_session").over(cum))
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("start"),
        (F.max("ts") + F.expr(f"interval {_GAP_MIN} minutes")).alias("end"),
    )


_MAX_USER = 30

_SESS_CTE = f"""
ordered AS (
    SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                     > INTERVAL {_GAP_MIN} MINUTE
                 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events WHERE user_id < {_MAX_USER}
),
numbered AS (
    SELECT user_id, ts,
           sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM ordered
),
sessions AS (
    SELECT user_id, session_id, min(ts) AS start,
           max(ts) + INTERVAL {_GAP_MIN} MINUTE AS "end"
    FROM numbered GROUP BY user_id, session_id
)
"""


@_query(
    "events_session_overlaps",
    f"""
    WITH {_SESS_CTE}
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           count(*) AS overlapping_sessions
    FROM sessions a JOIN sessions b
      ON a.user_id < b.user_id
     AND a.start <= b."end" AND b.start <= a."end"
    GROUP BY a.user_id, b.user_id
    ORDER BY user_a, user_b
    """,
)
def events_session_overlaps(spark, sf_dir):
    """Co-activity: for user pairs, how many of their session
    active-windows overlapped. Spark path is the bin-bucketed range join
    (linear explode + equi-join on hour bins + exact verify); the oracle
    is the O(n²) interval self-join — same answer, different asymptotics.
    Reference has no range join; this extends the SQL console surface
    (SURVEY.md §2.4)."""
    ev = load_table(spark, sf_dir, "events")
    # Lineage barrier (r15): overlap_pairs references each side FOUR
    # ways (short/long split per side, plus the full right side in the
    # long-row broadcast branch) — without it the events scan + session
    # window + groupBy re-ran once per reference (plan: 6 parquet scans;
    # now 1). The session frame is tiny (≤ users × sessions rows), so
    # materializing it once is strictly cheaper at any scale.
    sess = checkpoint(sessions_with_bounds(ev, _MAX_USER))
    pairs = overlap_pairs(sess, sess, on=[], start="start", end="end")
    return (
        pairs.where(F.col("a_user_id") < F.col("b_user_id"))
        .groupBy(
            F.col("a_user_id").alias("user_a"), F.col("b_user_id").alias("user_b")
        )
        .agg(F.count("*").alias("overlapping_sessions"))
        .orderBy("user_a", "user_b")
    )
