"""Generic as-of join between two measurement streams.

Generalizes the reference's point-in-time read (Engine::readTimePoint,
libdariadb/engine.cpp) from "one timestamp, many series" to "every left
row joined to the latest right row at-or-before it, per series" — the
pandas ``merge_asof`` / kdb ``aj`` operator a time-series engine needs
for event enrichment.

Scale shape — the union+window trick, NOT a range join: tag both sides,
union them, and take per-series ``last(right_value) IGNORE NULLS`` over
rows ordered by (time, side). One shuffle on ``id`` (the clustering key),
linear state, no O(|left|×|right|) candidate pair space, no range-join
explosion. Right rows sort before left rows at equal timestamps so an
exactly-simultaneous right row is visible (<= semantics, matching
readTimePoint's closed bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    value_alias: str = "right_value",
    time_alias: str = "right_time",
) -> DataFrame:
    """For each row of ``left``: the (time, value) of the latest ``right``
    row of the same id with ``right.time <= left.time`` (nulls when no
    such row). Both inputs are measurement frames (id, time, value, flag).

    Deterministic under duplicates: right rows tied on time resolve to
    the greatest (value, flag) — the same LWW order read_time_point uses.
    """
    lt = left.select(
        "id", "time", "value", "flag", F.lit(1).alias("_side"),
        F.lit(None).cast("double").alias("_rv"),
        F.lit(None).cast("bigint").alias("_rt"),
    )
    rt = right.select(
        "id", "time",
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("bigint").alias("flag"),
        F.lit(0).alias("_side"),
        F.col("value").alias("_rv"),
        F.col("time").alias("_rt"),
    )
    # right (side 0) sorts before left (side 1) at equal time → <= bound;
    # (_rv, _rt) in the order key makes duplicate right rows resolve LWW.
    w = (
        Window.partitionBy("id")
        .orderBy("time", "_side", "_rv", "_rt")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # carry (value, time) as ONE struct through a single IGNORE NULLS
    # pass: two independent passes over _rv and _rt would disagree when a
    # right row has a NULL value (the value pass skips it, the time pass
    # doesn't), pairing a value and a time from different right rows
    carried = F.last(
        F.when(
            F.col("_side") == 0, F.struct(F.col("_rv"), F.col("_rt"))
        ),
        ignorenulls=True,
    ).over(w)
    return (
        lt.unionByName(rt)
        .select(
            "id", "time", "value", "flag", "_side",
            carried["_rv"].alias(value_alias),
            carried["_rt"].alias(time_alias),
        )
        .where(F.col("_side") == 1)
        .drop("_side")
        .orderBy("id", "time", "value", "flag")
    )


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    tolerance_ms: int,
) -> DataFrame:
    """For each left row: the right row of the same id whose time is
    CLOSEST (before or after) within ``tolerance_ms``; ties between an
    equally-distant earlier and later sample resolve to the EARLIER one
    (pandas ``merge_asof(direction="nearest")`` semantics). Rows with no
    right sample in tolerance keep NULLs.

    Same union+two-window-passes shape as interpolation: a forward
    IGNORE NULLS pass carries the previous right sample, a backward pass
    the next — one shuffle on ``id``, linear state, no range join. The
    right side must be unique per (id, time) (apply ``dedup_lww`` first);
    an exactly-simultaneous right row is distance 0 via the prev pass.
    """
    lt = left.select(
        "id", F.col("time").alias("t"), F.lit(1).alias("_side"),
        "value", "flag",
        F.lit(None).cast("double").alias("_rv"),
    )
    rt = right.select(
        "id", F.col("time").alias("t"), F.lit(0).alias("_side"),
        F.lit(None).cast("double").alias("value"),
        F.lit(None).cast("bigint").alias("flag"),
        F.col("value").alias("_rv"),
    )
    u = lt.unionByName(rt)
    # one struct per direction (not independent _rv / t passes): a right
    # row with NULL value must contribute its time AND its null value as
    # one unit, never a time from one row paired with a value from another
    r_struct = F.when(
        F.col("_side") == 0,
        F.struct(F.col("t").alias("rt"), F.col("_rv").alias("rv")),
    )
    wf = Window.partitionBy("id").orderBy("t", "_side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # "next" = nearest following non-null. Expressed as last() over the
    # REVERSED running frame, NOT first() over (currentRow,
    # unboundedFollowing): Spark's UnboundedFollowing frame recomputes
    # its aggregate from scratch per row — O(n²) per partition, which
    # hangs at 43k rows/series — while the running frame is the incremental O(n) processor. Scan order over
    # the reversed ordering visits the same rows, so last(ignorenulls)
    # picks the identical row first(ignorenulls) would.
    wb = Window.partitionBy("id").orderBy(
        F.col("t").desc(), F.col("_side").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prev = F.last(r_struct, ignorenulls=True).over(wf)
    nxt = F.last(r_struct, ignorenulls=True).over(wb)
    enriched = u.select(
        "id", "t", "_side", "value", "flag",
        prev["rv"].alias("prev_v"),
        prev["rt"].alias("prev_t"),
        nxt["rv"].alias("next_v"),
        nxt["rt"].alias("next_t"),
    )
    d_prev = F.col("t") - F.col("prev_t")  # >= 0
    d_next = F.col("next_t") - F.col("t")  # >= 0
    prev_ok = F.col("prev_t").isNotNull() & (d_prev <= tolerance_ms)
    next_ok = F.col("next_t").isNotNull() & (d_next <= tolerance_ms)
    use_prev = prev_ok & (~next_ok | (d_prev <= d_next))  # tie → earlier
    nearest_t = F.when(use_prev, F.col("prev_t")).when(next_ok, F.col("next_t"))
    nearest_v = F.when(use_prev, F.col("prev_v")).when(next_ok, F.col("next_v"))
    return (
        enriched.where(F.col("_side") == 1)
        .select(
            "id",
            F.col("t").alias("time"),
            "value",
            "flag",
            nearest_t.alias("nearest_time"),
            nearest_v.alias("nearest_value"),
            F.when(
                nearest_t.isNotNull(), F.abs(F.col("t") - nearest_t)
            ).alias("dist_ms"),
        )
        .orderBy("id", "time", "value", "flag")
    )
