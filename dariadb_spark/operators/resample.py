"""Resampling operators over a measurements frame — rate/derivative, LOCF
gap-fill onto a fixed grid, and linear interpolation at grid points.

The reference stops at per-interval aggregates (SURVEY.md §2.4/§2.5; its
scheme-level downsampling in scheme/scheme.cpp is the closest relative);
these are the derived-series verbs its users build on top. All three are
pure DataFrame plans: one shuffle on ``id`` (the storage clustering key),
window passes inside the partition, grids generated distributed via
``sequence``+``explode`` — never on the driver.

Duplicate (id, time) samples collapse last-write-wins by the (value, flag)
total order first (the O2 overlap policy, operators/asof.py), so window
arithmetic never sees dt = 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dariadb_spark.model import local_frame
from dariadb_spark.operators.interval import scan_interval


def dedup_lww(meas: DataFrame) -> DataFrame:
    """One sample per (id, time): max (value, flag) wins."""
    w = Window.partitionBy("id", "time").orderBy(
        F.desc("value"), F.desc("flag")
    )
    return (
        meas.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def rate(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series first derivative (value-units/second) between adjacent
    samples — the PromQL ``rate()`` analog over irregular timestamps."""
    s = dedup_lww(scan_interval(meas, ids, from_ms, to_ms, flag))
    w = Window.partitionBy("id").orderBy("time")
    prev_t = F.lag("time", 1).over(w)
    prev_v = F.lag("value", 1).over(w)
    return (
        s.select(
            "id",
            "time",
            "value",
            (F.col("time") - prev_t).alias("dt_ms"),
            F.round(
                ((F.col("value") - prev_v) / (F.col("time") - prev_t))
                * 1000.0,
                6,
            ).alias("rate_per_s"),
        )
        .where(F.col("dt_ms").isNotNull())
        .orderBy("id", "time")
    )


def _grid(meas: DataFrame, ids: list[int], from_ms: int, to_ms: int,
          step_ms: int, col: str) -> DataFrame:
    ids_df = local_frame(meas.sparkSession, "id bigint", {"id": list(ids)})
    return ids_df.select(
        "id",
        F.explode(
            F.sequence(F.lit(from_ms), F.lit(to_ms), F.lit(step_ms))
        ).alias(col),
    )


def gap_fill(
    meas: DataFrame,
    ids: list[int],
    from_ms: int,
    to_ms: int,
    step_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Regularize each series onto the ``step_ms`` grid covering
    [from_ms, to_ms], carrying the last observation in each bucket
    forward (LOCF) across empty buckets. ``is_observed`` = 0 marks
    filled rows; ``locf_value`` is NULL before the first sample."""
    grid = _grid(meas, ids, from_ms, to_ms, step_ms, "bucket_ms")
    obs_src = scan_interval(meas, ids, from_ms, to_ms, flag)
    wb = Window.partitionBy("id", "bucket_ms").orderBy(
        F.desc("time"), F.desc("value"), F.desc("flag")
    )
    # Bucket relative to the GRID ORIGIN, not the epoch: the grid points
    # are from_ms + k*step, so an unaligned from_ms (from_ms % step != 0)
    # with epoch-aligned buckets would never join — every bucket would
    # silently come back unobserved. pmod keeps floor semantics even if a
    # caller passes samples before from_ms.
    obs = (
        obs_src.withColumn(
            "bucket_ms",
            F.col("time")
            - F.pmod(F.col("time") - F.lit(from_ms), F.lit(step_ms)),
        )
        .withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select("id", "bucket_ms", F.col("value").alias("obs_value"))
    )
    wf = Window.partitionBy("id").orderBy("bucket_ms").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        grid.join(obs, ["id", "bucket_ms"], "left")
        .select(
            "id",
            "bucket_ms",
            F.last("obs_value", ignorenulls=True).over(wf).alias("locf_value"),
            F.when(F.col("obs_value").isNull(), 0)
            .otherwise(1)
            .cast("bigint")
            .alias("is_observed"),
        )
        .orderBy("id", "bucket_ms")
    )


def interpolate(
    meas: DataFrame,
    ids: list[int],
    from_ms: int,
    to_ms: int,
    step_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Linear interpolation of each series at ``step_ms`` grid points.

    Union + two-window-passes plan (no range join): samples (side 0) and
    grid points (side 1) merge into one per-id stream; a forward IGNORE
    NULLS pass carries the previous sample, a backward pass (side DESC so
    exact-time samples count as their own successor) carries the next.
    Grid points outside the sampled range yield NULL — no extrapolation;
    exact-time hits return the sample value."""
    grid = _grid(meas, ids, from_ms, to_ms, step_ms, "t")
    s = dedup_lww(scan_interval(meas, ids, from_ms, to_ms, flag))
    sam = s.select(
        "id", F.col("time").alias("t"), F.lit(0).alias("side"),
        F.col("value").alias("v"),
    )
    gr = grid.select(
        "id", "t", F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("v"),
    )
    u = sam.unionByName(gr)
    wf = Window.partitionBy("id").orderBy("t", "side").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # "next sample" = last() over the REVERSED running frame, NOT
    # first() over (currentRow, unboundedFollowing): Spark's
    # UnboundedFollowing frame re-aggregates from each row to partition
    # end — O(n²) per partition, which hangs at 43k grid rows/series;
    # the reversed running frame is the incremental O(n) processor and
    # picks the identical row.
    wb = Window.partitionBy("id").orderBy(
        F.col("t").desc(), F.col("side").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t_if_sample = F.when(F.col("side") == 0, F.col("t"))
    enriched = u.select(
        "id",
        "t",
        "side",
        F.last("v", ignorenulls=True).over(wf).alias("prev_v"),
        F.last(t_if_sample, ignorenulls=True).over(wf).alias("prev_t"),
        F.last("v", ignorenulls=True).over(wb).alias("next_v"),
        F.last(t_if_sample, ignorenulls=True).over(wb).alias("next_t"),
    )
    interp = (
        F.when(F.col("prev_t").isNull() | F.col("next_t").isNull(), F.lit(None))
        .when(F.col("next_t") == F.col("prev_t"), F.col("prev_v"))
        .otherwise(
            F.round(
                F.col("prev_v")
                + (
                    (F.col("next_v") - F.col("prev_v"))
                    * (F.col("t") - F.col("prev_t"))
                )
                / (F.col("next_t") - F.col("prev_t")),
                6,
            )
        )
    )
    return (
        enriched.where(F.col("side") == 1)
        .select(
            "id",
            F.col("t").alias("grid_ms"),
            "prev_t",
            "next_t",
            interp.cast("double").alias("interp_value"),
        )
        .orderBy("id", "grid_ms")
    )
