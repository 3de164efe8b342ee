"""[EXT] time-series analytics the reference's users run downstream of its
query verbs — rate/derivative, grid regularization (LOCF gap-fill), linear
interpolation, value histograms, bounded-window context joins, and built-in
session windows. None exist in the reference (its surface stops at interval
scans and per-interval statistics, SURVEY.md §2.4/§2.5); each is declared
Spark-first and paired with an exact DuckDB oracle.

Scale notes (100 TB):

* every operator shuffles at most once on ``id`` (the storage clustering
  key → shuffle-free after a bucketed write) or on ``(id, bucket)``;
* the grid generators (`sequence`/`explode`) run distributed per id — no
  driver-side materialization;
* the context join is the *bucketed range join*: both sides bucket by the
  window width, candidates join on ``(id, bucket±1)`` equality, the exact
  range predicate filters after — no BroadcastNestedLoop cross product,
  candidate volume is O(|events| · density) instead of O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_CTE_SQL, measurements
from dariadb_spark.operators.downsample import floor_bucket, floor_bucket_sql
from dariadb_spark.operators.interval import scan_interval
from dariadb_spark.operators.resample import (
    dedup_lww,
    gap_fill as _gap_fill,
    interpolate as _interpolate,
    rate as _rate,
)
from dariadb_spark.registry import (
    FROM_MS,
    IDS,
    TO_MS,
    _ids_sql,
    _values_sql,
    register,
)

HOUR_MS = 3_600_000
GRID_STEP_MS = 1_800_000  # 30 min interpolation grid
RANGE_W_MS = 900_000  # 15 min context window
SESSION_GAP_MS = 1_800_000  # session_window gap (30 min)

HIST_WIDTH = 50.0  # value-histogram bucket width

# Shared deduplication: one sample per (id, time), last-write-wins by the
# (value, flag) total order — the O2 overlap policy (operators/asof.py).
_DEDUP_RN = (
    "row_number() OVER (PARTITION BY id, time "
    "ORDER BY value DESC, flag DESC)"
)


def _interval_sql(ids: list[int] | None = IDS) -> str:
    ids_part = f"id IN {_ids_sql(ids)} AND " if ids else ""
    return f"{ids_part}time BETWEEN {FROM_MS} AND {TO_MS}"


# --- rate / derivative ----------------------------------------------------

def rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series first derivative in value-units/second — the PromQL
    ``rate()`` analog over irregular samples (operators/resample.py)."""
    return _rate(measurements(spark, sf), IDS, FROM_MS, TO_MS)


RATE_SQL = f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time, value FROM (
        SELECT id, time, value, flag, {_DEDUP_RN} AS rn
        FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
d AS (
  SELECT id, time, value,
         time - lag(time, 1) OVER (PARTITION BY id ORDER BY time) AS dt_ms,
         lag(value, 1) OVER (PARTITION BY id ORDER BY time) AS prev_v
  FROM s)
SELECT id, time, value, dt_ms,
       round(((value - prev_v) / dt_ms) * 1000.0, 6) AS rate_per_s
FROM d WHERE dt_ms IS NOT NULL ORDER BY id, time"""


# --- LOCF gap-fill onto an hourly grid ------------------------------------

def gap_fill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly-grid LOCF regularization (operators/resample.py): grid
    generated distributed, observed buckets keep their last sample by
    the (time, value, flag) total order, one IGNORE NULLS pass per id."""
    return _gap_fill(measurements(spark, sf), IDS, FROM_MS, TO_MS, HOUR_MS)


GAP_FILL_SQL = f"""WITH {MEAS_CTE_SQL},
ids(id) AS (SELECT CAST(v AS BIGINT) FROM (VALUES {_values_sql(IDS)}) t(v)),
grid AS (SELECT id, CAST(g AS BIGINT) AS bucket_ms
         FROM ids CROSS JOIN generate_series({FROM_MS}, {TO_MS}, {HOUR_MS}) gs(g)),
obs AS (SELECT id, bucket_ms, value AS obs_value FROM (
          -- grid-origin bucketing (mirrors operators/resample.py): the
          -- filtered times satisfy time >= {FROM_MS}, so plain % floors
          SELECT id, (time - (time - {FROM_MS}) % {HOUR_MS}) AS bucket_ms, value,
                 row_number() OVER (PARTITION BY id, (time - (time - {FROM_MS}) % {HOUR_MS})
                                    ORDER BY time DESC, value DESC, flag DESC) AS rn
          FROM measurements WHERE {_interval_sql()}) WHERE rn = 1)
SELECT g.id AS id, g.bucket_ms AS bucket_ms,
       last_value(o.obs_value IGNORE NULLS) OVER (
         PARTITION BY g.id ORDER BY g.bucket_ms
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value,
       CAST(CASE WHEN o.obs_value IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS is_observed
FROM grid g LEFT JOIN obs o ON g.id = o.id AND g.bucket_ms = o.bucket_ms
ORDER BY id, bucket_ms"""


# --- linear interpolation at grid points ----------------------------------

def interpolate(spark: SparkSession, sf: str) -> DataFrame:
    """Linear interpolation at 30-min grid points via the union +
    two-window-passes plan — no range join (operators/resample.py)."""
    return _interpolate(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, GRID_STEP_MS
    )


INTERPOLATE_SQL = f"""WITH {MEAS_CTE_SQL},
ids(id) AS (SELECT CAST(v AS BIGINT) FROM (VALUES {_values_sql(IDS)}) t(v)),
sam AS (SELECT id, time AS t, 0 AS side, value AS v FROM (
          SELECT id, time, value, flag, {_DEDUP_RN} AS rn
          FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
grid AS (SELECT id, CAST(g AS BIGINT) AS t, 1 AS side,
                CAST(NULL AS DOUBLE) AS v
         FROM ids CROSS JOIN generate_series({FROM_MS}, {TO_MS}, {GRID_STEP_MS}) gs(g)),
u AS (SELECT * FROM sam UNION ALL SELECT * FROM grid),
enriched AS (
  SELECT id, t, side,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(v IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t ASC, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t ASC, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM u)
SELECT id, t AS grid_ms, prev_t, next_t,
       CAST(CASE
         WHEN prev_t IS NULL OR next_t IS NULL THEN NULL
         WHEN next_t = prev_t THEN prev_v
         ELSE round(prev_v + ((next_v - prev_v) * (t - prev_t))
                    / (next_t - prev_t), 6)
       END AS DOUBLE) AS interp_value
FROM enriched WHERE side = 1 ORDER BY id, grid_ms"""


# --- value histogram ------------------------------------------------------

def value_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Fixed-width value histogram over the interval (all series): one
    codegen'd bucket expression + one shuffle on the ~10-bucket key —
    map-side partial aggregation makes this scan-bound at any scale.

    Screen guard (r17, the Benford class): the bucket cast is
    ``CAST(double AS BIGINT)`` on an UNBOUNDED measurement value, so
    NaN/±Inf/≥9.2e18 doctored samples would silently saturate on Spark
    while DuckDB raises — both engines now FILTER them identically
    (``finite_int64_pred``, pinned by test_exact_guard.py)."""
    from dariadb_spark.ext.exact import finite_int64_pred

    meas = scan_interval(
        measurements(spark, sf), None, FROM_MS, TO_MS, 0
    ).where(F.expr(finite_int64_pred("value")))
    bucket = F.floor(F.col("value") / HIST_WIDTH).cast("bigint")
    return (
        meas.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_points"),
            F.countDistinct("id").alias("n_series"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .withColumn("bucket_lo", F.col("bucket") * HIST_WIDTH)
        .select(
            "bucket", "bucket_lo", "n_points", "n_series",
            "min_value", "max_value",
        )
        .orderBy("bucket")
    )


def _histogram_sql() -> str:
    from dariadb_spark.ext.exact import finite_int64_pred

    return f"""WITH {MEAS_CTE_SQL}
SELECT CAST(floor(value / {HIST_WIDTH}) AS BIGINT) AS bucket,
       CAST(floor(value / {HIST_WIDTH}) AS BIGINT) * {HIST_WIDTH} AS bucket_lo,
       count(*) AS n_points,
       count(DISTINCT id) AS n_series,
       min(value) AS min_value,
       max(value) AS max_value
FROM measurements WHERE time BETWEEN {FROM_MS} AND {TO_MS}
  AND {finite_int64_pred("value")}
GROUP BY bucket ORDER BY bucket"""


HISTOGRAM_SQL = _histogram_sql()


# --- bucketed range join (bounded-window context) -------------------------

def range_context(spark: SparkSession, sf: str) -> DataFrame:
    """For every error event, aggregate the same-series events in the 15
    minutes leading up to it (inclusive; the error sees itself). The range
    join is bucketed: context events key by floor(t/W), each error probes
    buckets {b-1, b} — with bucket width = window width the two buckets
    COVER the range exactly, and each context row matches through exactly
    one bucket (its own), so no dedup pass is needed. Equality join on
    (id, bucket) → sort-merge/hash, never a nested-loop cross product."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    errors = meas.where(F.col("flag").bitwiseAND(16) == 16)
    ctx = meas.select(
        "id",
        F.col("time").alias("c_time"),
        F.col("value").alias("c_value"),
        F.floor(F.col("time") / RANGE_W_MS).alias("b"),
    )
    err_b = errors.withColumn(
        "b0", F.floor(F.col("time") / RANGE_W_MS)
    ).withColumn(
        "b", F.explode(F.array(F.col("b0") - 1, F.col("b0")))
    ).drop("b0")
    joined = err_b.join(ctx, ["id", "b"]).where(
        F.col("c_time").between(
            F.col("time") - RANGE_W_MS, F.col("time")
        )
    )
    return (
        joined.groupBy("id", "time", "value", "flag")
        .agg(
            F.count("*").alias("n_ctx"),
            F.round(F.sum("c_value"), 4).alias("sum_ctx_value"),
        )
        .orderBy("id", "time", "value", "flag")
    )


RANGE_CONTEXT_SQL = f"""WITH {MEAS_CTE_SQL},
m AS (SELECT id, time, value, flag FROM measurements WHERE {_interval_sql()})
SELECT e.id AS id, e.time AS time, e.value AS value, e.flag AS flag,
       count(*) AS n_ctx, round(sum(c.value), 4) AS sum_ctx_value
FROM m e JOIN m c
  ON c.id = e.id AND c.time BETWEEN e.time - {RANGE_W_MS} AND e.time
WHERE (e.flag & 16) = 16
GROUP BY e.id, e.time, e.value, e.flag
ORDER BY id, time, value, flag"""


# --- built-in session windows ---------------------------------------------

def session_window_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series sessions via Spark's built-in ``session_window`` (the
    same primitive the streaming path uses with a watermark): events
    closer than the 30-min gap merge; window end = last event + gap.
    Cross-checked against the gaps-and-islands formulation in the oracle
    (and against ext_sessionize, which builds islands by hand)."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    return (
        meas.groupBy(
            "id",
            F.session_window(
                F.timestamp_millis(F.col("time")), "30 minutes"
            ).alias("sw"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
        )
        .orderBy("id", "session_start_ms")
    )


SESSION_WINDOW_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (
  -- total (time, value, flag) order: with ties on time alone, the lag
  -- and running-sum sorts could disagree on which tie-group member
  -- carries is_new=1 and split the group (see ext_sessionize)
  SELECT id, time, value, flag,
         CASE WHEN time - lag(time, 1) OVER (PARTITION BY id
                   ORDER BY time, value, flag) >= {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM measurements WHERE {_interval_sql()}),
s AS (
  SELECT id, time,
         sum(is_new) OVER (PARTITION BY id ORDER BY time, value, flag
                           ROWS UNBOUNDED PRECEDING) AS session_no
  FROM pts)
SELECT id, min(time) AS session_start_ms,
       max(time) + {SESSION_GAP_MS} AS session_end_ms,
       count(*) AS n_events
FROM s GROUP BY id, session_no ORDER BY id, session_start_ms"""


# --- trailing-window z-score anomaly detection ----------------------------

ZSCORE_WINDOW = 20  # trailing samples
ZSCORE_MIN_N = 10
ZSCORE_THRESHOLD = 3.0


def anomaly_zscore_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    window: int = ZSCORE_WINDOW,
    min_n: int = ZSCORE_MIN_N,
    threshold: float = ZSCORE_THRESHOLD,
    flag: int = 0,
) -> DataFrame:
    """Flag samples whose value deviates > threshold·σ from the trailing
    window mean of their own series (the classic online anomaly score,
    as a batch plan; also a TsEngine verb). One shuffle on id, one
    sorted window pass. Mean and variance come from round(sum,6)-ed
    moments — the float-parity recipe (see downsample.py) — so the
    oracle's arithmetic is bit-identical: var = E[x²] − E[x]², clamped
    at 0 for the all-equal-window case."""
    meas = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = Window.partitionBy("id").orderBy("time", "value", "flag").rowsBetween(
        -window, -1
    )
    n = F.count("value").over(w)
    mean = F.round(F.sum("value").over(w), 6) / n
    ex2 = F.round(F.sum(F.col("value") * F.col("value")).over(w), 6) / n
    std = F.sqrt(F.greatest(ex2 - mean * mean, F.lit(0.0)))
    scored = meas.select(
        "id",
        "time",
        "value",
        "flag",
        n.alias("n_trail"),
        F.when(std > 0, F.round((F.col("value") - mean) / std, 4)).alias("z"),
    )
    return (
        scored.where(
            (F.col("n_trail") >= min_n) & (F.abs(F.col("z")) > threshold)
        )
        .orderBy("id", "time", "value", "flag")
    )


def anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    return anomaly_zscore_op(measurements(spark, sf), IDS, FROM_MS, TO_MS)


ANOMALY_ZSCORE_SQL = f"""WITH {MEAS_CTE_SQL},
scored AS (
  SELECT id, time, value, flag,
         count(value) OVER tw AS n_trail,
         CASE WHEN sqrt(greatest(
                round(sum(value * value) OVER tw, 6) / count(value) OVER tw
                - (round(sum(value) OVER tw, 6) / count(value) OVER tw)
                  * (round(sum(value) OVER tw, 6) / count(value) OVER tw),
                0.0)) > 0
              THEN round((value - round(sum(value) OVER tw, 6)
                            / count(value) OVER tw)
                   / sqrt(greatest(
                       round(sum(value * value) OVER tw, 6)
                         / count(value) OVER tw
                       - (round(sum(value) OVER tw, 6)
                            / count(value) OVER tw)
                         * (round(sum(value) OVER tw, 6)
                              / count(value) OVER tw),
                       0.0)), 4)
         END AS z
  FROM measurements
  WHERE {_interval_sql()}
  WINDOW tw AS (PARTITION BY id ORDER BY time, value, flag
                ROWS BETWEEN {ZSCORE_WINDOW} PRECEDING AND 1 PRECEDING))
SELECT id, time, value, flag, n_trail, z FROM scored
WHERE n_trail >= {ZSCORE_MIN_N} AND abs(z) > {ZSCORE_THRESHOLD}
ORDER BY id, time, value, flag"""


# --- pairwise series correlation matrix -----------------------------------

def series_correlation(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation between every pair of the queried series over
    their hourly means — the correlation-matrix building block. Bucketing
    first shrinks T points to T/3600s rows per series; the pair join is
    then quadratic only in |ids| (inherent to a correlation matrix), tiny
    relative to the scan. Correlation is assembled from round(sum,6)-ed
    raw moments rather than corr() so both engines compute bit-identical
    doubles from identical inputs."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    hourly = (
        meas.groupBy(
            "id", floor_bucket(F.col("time"), HOUR_MS).alias("bucket_ms")
        )
        .agg((F.round(F.sum("value"), 6) / F.count("value")).alias("x"))
    )
    a = hourly.selectExpr("id AS id_a", "bucket_ms", "x AS xa")
    b = hourly.selectExpr("id AS id_b", "bucket_ms", "x AS xb")
    j = a.join(b, "bucket_ms").where(F.col("id_a") < F.col("id_b"))
    mom = j.groupBy("id_a", "id_b").agg(
        F.count("*").cast("double").alias("n"),
        F.round(F.sum("xa"), 6).alias("sx"),
        F.round(F.sum("xb"), 6).alias("sy"),
        F.round(F.sum(F.col("xa") * F.col("xb")), 6).alias("sxy"),
        F.round(F.sum(F.col("xa") * F.col("xa")), 6).alias("sxx"),
        F.round(F.sum(F.col("xb") * F.col("xb")), 6).alias("syy"),
    )
    # clamp each variance factor at 0: a constant-over-buckets series has
    # true variance 0 but rounding noise can land at −1e-9, where DuckDB's
    # sqrt raises and Spark silently NaNs (found by the sf0.1 parity sweep)
    vx = F.greatest(
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)
    )
    vy = F.greatest(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"), F.lit(0.0)
    )
    denom = F.sqrt(vx * vy)
    return (
        mom.select(
            "id_a",
            "id_b",
            F.col("n").cast("bigint").alias("n_buckets"),
            F.when(
                denom > 0,
                F.round(
                    (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                    / denom,
                    4,
                ),
            ).alias("corr"),
        )
        .orderBy("id_a", "id_b")
    )


SERIES_CORRELATION_SQL = f"""WITH {MEAS_CTE_SQL},
hourly AS (
  SELECT id, {floor_bucket_sql("time", HOUR_MS)} AS bucket_ms,
         round(sum(value), 6) / count(value) AS x
  FROM measurements WHERE {_interval_sql()}
  GROUP BY id, bucket_ms),
mom AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(count(*) AS DOUBLE) AS n,
         round(sum(a.x), 6) AS sx, round(sum(b.x), 6) AS sy,
         round(sum(a.x * b.x), 6) AS sxy,
         round(sum(a.x * a.x), 6) AS sxx,
         round(sum(b.x * b.x), 6) AS syy
  FROM hourly a JOIN hourly b
    ON a.bucket_ms = b.bucket_ms AND a.id < b.id
  GROUP BY a.id, b.id)
SELECT id_a, id_b, CAST(n AS BIGINT) AS n_buckets,
       CASE WHEN sqrt(greatest(n * sxx - sx * sx, 0.0)
                      * greatest(n * syy - sy * sy, 0.0)) > 0
            THEN round((n * sxy - sx * sy)
                       / sqrt(greatest(n * sxx - sx * sx, 0.0)
                              * greatest(n * syy - sy * sy, 0.0)), 4)
       END AS corr
FROM mom ORDER BY id_a, id_b"""


# --- time-weighted average ------------------------------------------------

def time_weighted_avg_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series time-weighted mean over the interval: each sample's
    value is weighted by how long it remained current (LOCF weighting,
    the standard irregular-sampling mean) — ``Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_N−t₀)``.
    Also a TsEngine verb. One shuffle on id: a lead() pass for the hold
    duration, then one aggregate. Equal-timestamp duplicates need no
    pre-dedup: within a (time, value, flag) tie group every member but
    the last holds for 0 ms — the total order makes that deterministic
    in both engines."""
    meas = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = Window.partitionBy("id").orderBy("time", "value", "flag")
    seg = meas.select(
        "id",
        "time",
        "value",
        (F.lead("time", 1).over(w) - F.col("time")).alias("dt"),
    )
    return (
        seg.groupBy("id")
        .agg(
            F.count("*").alias("n_samples"),
            (F.max("time") - F.min("time")).alias("span_ms"),
            F.round(F.sum(F.col("value") * F.col("dt")), 6).alias("wsum"),
        )
        .where(F.col("span_ms") > 0)
        .select(
            "id",
            "n_samples",
            "span_ms",
            (F.col("wsum") / F.col("span_ms")).alias("twa"),
        )
        .orderBy("id")
    )


def time_weighted_avg(spark: SparkSession, sf: str) -> DataFrame:
    return time_weighted_avg_op(measurements(spark, sf), IDS, FROM_MS, TO_MS)


TIME_WEIGHTED_AVG_SQL = f"""WITH {MEAS_CTE_SQL},
seg AS (
  SELECT id, time, value,
         lead(time, 1) OVER (PARTITION BY id
                             ORDER BY time, value, flag) - time AS dt
  FROM measurements WHERE {_interval_sql()}),
agg AS (
  SELECT id, count(*) AS n_samples,
         max(time) - min(time) AS span_ms,
         round(sum(value * dt), 6) AS wsum
  FROM seg GROUP BY id)
SELECT id, n_samples, span_ms, wsum / span_ms AS twa
FROM agg WHERE span_ms > 0 ORDER BY id"""


# --- cascaded rollup (hour → day aggregate reuse) -------------------------

def rollup_cascade(spark: SparkSession, sf: str) -> DataFrame:
    """Daily rollup computed FROM the hourly rollup (count/sum/min/max
    compose; avg re-derives from the summed moments) — the hypertable
    continuous-aggregate pattern: at 100 TB the daily job reads ~1/3600th
    of the raw bytes by consuming the hourly materialization. The oracle
    aggregates the raw measurements directly, so a hash-match PROVES the
    cascade is value-identical to single-pass aggregation (the
    round(sum,6) recipe absorbs the differing accumulation order)."""
    meas = scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0)
    hourly = meas.groupBy(
        "id", floor_bucket(F.col("time"), HOUR_MS).alias("hour_ms")
    ).agg(
        F.count("value").alias("cnt"),
        F.sum("value").alias("sum_raw"),  # unrounded: rounding is final-step
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    day_ms = 24 * HOUR_MS
    return (
        hourly.groupBy(
            "id",
            floor_bucket(F.col("hour_ms"), day_ms).alias("bucket_ms"),
        )
        .agg(
            F.sum("cnt").alias("cnt"),
            (F.round(F.sum("sum_raw"), 6) / F.sum("cnt")).alias("avg_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.round(F.sum("sum_raw"), 4).alias("sum_value"),
        )
        .orderBy("id", "bucket_ms")
    )


_DAY_MS_LOCAL = 24 * HOUR_MS
ROLLUP_CASCADE_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT id, {floor_bucket_sql("time", _DAY_MS_LOCAL)} AS bucket_ms,
       count(value) AS cnt,
       round(sum(value), 6) / count(value) AS avg_value,
       min(value) AS min_value, max(value) AS max_value,
       round(sum(value), 4) AS sum_value
FROM measurements WHERE time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY id, bucket_ms ORDER BY id, bucket_ms"""


# --- hopping (sliding) window downsample ----------------------------------

HOP_WIDTH_MS = HOUR_MS
HOP_SLIDE_MS = 1_800_000  # 30-min slide → every event lands in 2 windows


def hopping_window(spark: SparkSession, sf: str) -> DataFrame:
    """Overlapping 1 h windows sliding every 30 min via the built-in
    ``window(ts, width, slide)`` — the smoothing variant of W1 tumbling
    buckets (each event contributes to width/slide windows; Spark's
    Expand replicates rows once per covering window before the single
    (id, window) shuffle). Oracle: a hopping window IS the union of
    width/slide shifted tumbling grids — two shifted bucketings."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    return (
        meas.groupBy(
            "id",
            F.window(
                F.timestamp_millis(F.col("time")),
                f"{HOP_WIDTH_MS} milliseconds",
                f"{HOP_SLIDE_MS} milliseconds",
            ).alias("w"),
        )
        .agg(
            F.count("value").alias("cnt"),
            (F.round(F.sum("value"), 6) / F.count("value")).alias("avg_value"),
        )
        .select(
            "id",
            F.unix_millis(F.col("w.start")).alias("win_start_ms"),
            "cnt",
            "avg_value",
        )
        .orderBy("id", "win_start_ms")
    )


HOPPING_WINDOW_SQL = f"""WITH {MEAS_CTE_SQL},
shifted AS (
  SELECT id, time, value,
         ((time - off) - (time - off) % {HOP_WIDTH_MS}) + off AS win_start_ms
  FROM measurements
  CROSS JOIN (VALUES (0), ({HOP_SLIDE_MS})) offs(off)
  WHERE {_interval_sql()})
SELECT id, win_start_ms, count(value) AS cnt,
       round(sum(value), 6) / count(value) AS avg_value
FROM shifted GROUP BY id, win_start_ms ORDER BY id, win_start_ms"""


# --- unpivot / melt -------------------------------------------------------

def unpivot_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshape with the built-in ``unpivot`` (melt) — the
    inverse of ext_pivot_flags, run on its output so the pair
    round-trips. Unpivot is a zero-shuffle Expand projection."""
    from dariadb_spark.ext.analytics import pivot_flags

    wide = pivot_flags(spark, sf)
    return (
        wide.unpivot(
            "id",
            ["n_click", "n_view", "n_signup", "n_purchase", "n_error"],
            "event_kind",
            "cnt",
        )
        .where(F.col("cnt") > 0)
        .orderBy("id", "event_kind")
    )


_UNPIVOT_ARMS = " UNION ALL ".join(
    f"SELECT id, '{n}' AS event_kind, count(*) FILTER (WHERE flag = {f}) AS cnt "
    f"FROM m GROUP BY id"
    for f, n in [(1, "n_click"), (2, "n_view"), (4, "n_signup"),
                 (8, "n_purchase"), (16, "n_error")]
)
UNPIVOT_FLAGS_SQL = f"""WITH {MEAS_CTE_SQL},
m AS (SELECT id, flag FROM measurements
      WHERE time BETWEEN {FROM_MS} AND {TO_MS}),
long AS ({_UNPIVOT_ARMS})
SELECT id, event_kind, cnt FROM long WHERE cnt > 0
ORDER BY id, event_kind"""


# --- windowed EWMA (exact, generated lag chain) ---------------------------

EWMA_ALPHA = 0.9  # per-step decay
EWMA_K = 20  # window length

#: decay weights folded in Python once and injected as identical literals
#: into BOTH engines — repr() round-trips doubles exactly
_EWMA_W = [EWMA_ALPHA ** k for k in range(EWMA_K)]


def ewma(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially weighted moving average over the trailing 20
    samples. The recursive EWMA is not window-expressible; the windowed
    form is — as an explicit Σ wₖ·lag(value, k) chain generated
    programmatically for both engines (fixed left-to-right addition
    order → bit-identical doubles; weights are shared Python-folded
    literals). One shuffle on id; 20 lags evaluate in one sorted pass."""
    return ewma_op(measurements(spark, sf), IDS, FROM_MS, TO_MS)


def ewma_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Parameterized EWMA core (also a TsEngine verb) — see :func:`ewma`."""
    meas = scan_interval(meas, ids, from_ms, to_ms, flag)
    s = _interval_dedup(meas)
    w = Window.partitionBy("id").orderBy("time")
    num = None
    den = None
    for k, wk in enumerate(_EWMA_W):
        lagged = F.lag("value", k).over(w) if k else F.col("value")
        term = F.when(lagged.isNotNull(), F.lit(wk) * lagged).otherwise(0.0)
        wterm = F.when(lagged.isNotNull(), F.lit(wk)).otherwise(0.0)
        num = term if num is None else num + term
        den = wterm if den is None else den + wterm
    return (
        s.select("id", "time", "value", F.round(num / den, 6).alias("ewma"))
        .orderBy("id", "time")
    )


def _interval_dedup(meas: DataFrame) -> DataFrame:
    from dariadb_spark.operators.resample import dedup_lww

    return dedup_lww(meas)


def _ewma_sql_terms() -> tuple[str, str]:
    nums, dens = [], []
    for k, wk in enumerate(_EWMA_W):
        lag = f"lag(value, {k}) OVER w" if k else "value"
        nums.append(
            f"CASE WHEN {lag} IS NOT NULL THEN {wk!r} * {lag} ELSE 0.0 END"
        )
        dens.append(f"CASE WHEN {lag} IS NOT NULL THEN {wk!r} ELSE 0.0 END")
    return " + ".join(nums), " + ".join(dens)


_EWMA_NUM, _EWMA_DEN = _ewma_sql_terms()
EWMA_SQL = f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time, value FROM (
        SELECT id, time, value, flag, {_DEDUP_RN} AS rn
        FROM measurements WHERE {_interval_sql()}) WHERE rn = 1)
SELECT id, time, value,
       round(({_EWMA_NUM}) / ({_EWMA_DEN}), 6) AS ewma
FROM s
WINDOW w AS (PARTITION BY id ORDER BY time)
ORDER BY id, time"""


# --- OHLC bars (first/last/extremes per bucket) ---------------------------

def ohlc_op(
    meas: DataFrame,
    width_ms: int,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series OHLC bars over fixed-width buckets — the financial/
    sensor downsample that keeps first (open), extremes (high/low) and
    last (close) instead of moments. Single groupBy with ``min_by``/
    ``max_by`` on the full (time, value, flag) total order — one shuffle,
    NO window sort (the scale-right plan: partial min_by/max_by combine
    map-side)."""
    s = scan_interval(meas, ids, from_ms, to_ms, flag)
    ord_key = F.struct("time", "value", "flag")
    return (
        s.groupBy("id", floor_bucket(F.col("time"), width_ms).alias("bucket_ms"))
        .agg(
            F.min_by("value", ord_key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ord_key).alias("close"),
            F.count("*").alias("n_samples"),
        )
        .orderBy("id", "bucket_ms")
    )


def ohlc_bars(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly OHLC bars (see :func:`ohlc_op`). The oracle replays the agg
    as first/last-value windows, proving both formulations agree."""
    return ohlc_op(measurements(spark, sf), HOUR_MS, IDS, FROM_MS, TO_MS, 0)


OHLC_SQL = f"""WITH {MEAS_CTE_SQL},
b AS (
  SELECT id, {floor_bucket_sql('time', HOUR_MS)} AS bucket_ms, time, value, flag
  FROM measurements WHERE {_interval_sql()}),
w AS (
  SELECT id, bucket_ms, value,
         row_number() OVER (PARTITION BY id, bucket_ms
                            ORDER BY time, value, flag) AS rn_a,
         row_number() OVER (PARTITION BY id, bucket_ms
                            ORDER BY time DESC, value DESC, flag DESC) AS rn_d
  FROM b)
SELECT id, bucket_ms,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close,
       count(*) AS n_samples
FROM w GROUP BY id, bucket_ms ORDER BY id, bucket_ms"""


# --- counter-reset-aware rate (PromQL increase/rate semantics) ------------

def counter_rate_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Monotone-counter rate with reset handling: a negative delta means
    the counter restarted, so the increase is the new value itself (the
    PromQL ``rate()`` convention). One window pass per series."""
    s = dedup_lww(scan_interval(meas, ids, from_ms, to_ms, flag))
    w = Window.partitionBy("id").orderBy("time")
    prev_t = F.lag("time", 1).over(w)
    prev_v = F.lag("value", 1).over(w)
    delta = F.col("value") - prev_v
    increase = F.when(delta < 0, F.col("value")).otherwise(delta)
    return (
        s.select(
            "id",
            "time",
            "value",
            (F.col("time") - prev_t).alias("dt_ms"),
            F.round(increase, 6).alias("increase"),
            F.round(increase / (F.col("time") - prev_t) * 1000.0, 6).alias(
                "rate_per_s"
            ),
        )
        .where(F.col("dt_ms").isNotNull())
        .orderBy("id", "time")
    )


def counter_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Registered query over the fixture (see :func:`counter_rate_op`)."""
    return counter_rate_op(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)


COUNTER_RATE_SQL = f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time, value FROM (
        SELECT id, time, value, flag, {_DEDUP_RN} AS rn
        FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
d AS (
  SELECT id, time, value,
         time - lag(time, 1) OVER (PARTITION BY id ORDER BY time) AS dt_ms,
         value - lag(value, 1) OVER (PARTITION BY id ORDER BY time) AS delta
  FROM s)
SELECT id, time, value, dt_ms,
       round(CASE WHEN delta < 0 THEN value ELSE delta END, 6) AS increase,
       round(CASE WHEN delta < 0 THEN value ELSE delta END / dt_ms * 1000.0, 6)
         AS rate_per_s
FROM d WHERE dt_ms IS NOT NULL ORDER BY id, time"""


# --- robust per-series statistics -----------------------------------------

def robust_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Outlier-resistant per-series statistics: median, MAD (median
    absolute deviation), IQR, and the p05/p95-winsorized mean — what a
    monitoring pipeline uses instead of mean/sigma when spikes pollute
    the plain moments. Two aggregates on the ``id`` clustering key (the
    quantile pass, then the deviation pass over the joined medians) —
    both shuffle-free on a bucketed-by-id table.

    Parity recipe: every quantile is round(·,4) before reuse, the
    winsorized mean is round(sum,6)/count over values clipped against
    the ROUNDED bounds — all downstream arithmetic is then identical
    IEEE ops on identical doubles in both engines."""
    base = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    q = base.groupBy("id").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("med"),
        F.round(F.expr("percentile(value, 0.05)"), 4).alias("p05"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("q1"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("q3"),
    )
    clip = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        base.join(q, "id")
        .groupBy("id", "med", "q1", "q3")
        .agg(
            F.round(F.expr("percentile(abs(value - med), 0.5)"), 4).alias(
                "mad"
            ),
            (F.round(F.sum(clip), 6) / F.count("*")).alias("winsorized_mean"),
        )
        .select(
            "id",
            "med",
            "mad",
            "q1",
            "q3",
            (F.col("q3") - F.col("q1")).alias("iqr"),
            "winsorized_mean",
        )
        .orderBy("id")
    )


ROBUST_STATS_SQL = f"""WITH {MEAS_CTE_SQL},
base AS (SELECT id, value FROM measurements WHERE {_interval_sql()}),
q AS (
  SELECT id,
         round(quantile_cont(value, 0.5), 4) AS med,
         round(quantile_cont(value, 0.05), 4) AS p05,
         round(quantile_cont(value, 0.95), 4) AS p95,
         round(quantile_cont(value, 0.25), 4) AS q1,
         round(quantile_cont(value, 0.75), 4) AS q3
  FROM base GROUP BY id)
SELECT b.id AS id, q.med AS med,
       round(quantile_cont(abs(b.value - q.med), 0.5), 4) AS mad,
       q.q1 AS q1, q.q3 AS q3, q.q3 - q.q1 AS iqr,
       round(sum(least(greatest(b.value, q.p05), q.p95)), 6) / count(*)
         AS winsorized_mean
FROM base b JOIN q ON b.id = q.id
GROUP BY b.id, q.med, q.q1, q.q3, q.p05, q.p95
ORDER BY id"""


# --- CUSUM changepoint detection ------------------------------------------

def changepoint_cusum_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """CUSUM changepoint score per series: the classic max-|cumulative
    deviation from the mean| statistic, with the argmax timestamp — the
    location a level shift most likely occurred (Page 1954's cumulative
    sum test, the standard first-pass changepoint detector).

    Exact-integer formulation for cross-engine parity: with values on a
    2-decimal fixture grid, v_cents = round(100·value) is integer, and
    the deviation statistic multiplied through by n —
    ``D_k = n·S_k − k·T`` (S_k = prefix sum of cents, T = total cents) —
    is pure BIGINT arithmetic: no float accumulation order anywhere.
    The reported score rescales once: max|D_k| / (100·n). One window
    shuffle on id (the clustering key); prefix sums are linear state.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    cents = F.round(F.col("value") * 100).cast("long")
    w_ord = (
        Window.partitionBy("id")
        .orderBy("time", "value", "flag")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("id")
    scored = base.select(
        "id",
        "time",
        F.sum(cents).over(w_ord).alias("s_k"),
        F.row_number()
        .over(Window.partitionBy("id").orderBy("time", "value", "flag"))
        .cast("long")
        .alias("k"),
        F.sum(cents).over(w_all).alias("t_total"),
        F.count("*").over(w_all).alias("n"),
    ).withColumn(
        "abs_d", F.abs(F.col("n") * F.col("s_k") - F.col("k") * F.col("t_total"))
    )
    pick = Window.partitionBy("id").orderBy(
        F.col("abs_d").desc(), F.col("time").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select(
            "id",
            "n",
            (F.col("abs_d") / (F.col("n") * 100.0)).alias("cusum_score"),
            F.col("time").alias("changepoint_time"),
        )
        .orderBy("id")
    )


def changepoint_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """Registered fixture query (see :func:`changepoint_cusum_op`)."""
    return changepoint_cusum_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, 0
    )


CUSUM_SQL = f"""WITH {MEAS_CTE_SQL},
base AS (SELECT id, time, value, flag,
                CAST(round(value * 100) AS BIGINT) AS cents
         FROM measurements WHERE {_interval_sql()}),
pre AS (
  SELECT id, time,
         sum(cents) OVER (PARTITION BY id ORDER BY time, value, flag
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_k,
         CAST(row_number() OVER (PARTITION BY id ORDER BY time, value, flag)
              AS BIGINT) AS k,
         sum(cents) OVER (PARTITION BY id) AS t_total,
         count(*) OVER (PARTITION BY id) AS n
  FROM base),
scored AS (
  SELECT id, time, n, abs(n * s_k - k * t_total) AS abs_d,
         row_number() OVER (PARTITION BY id ORDER BY abs(n * s_k - k * t_total) DESC,
                            time ASC) AS rn
  FROM pre)
SELECT id, n, abs_d / (n * 100.0) AS cusum_score, time AS changepoint_time
FROM scored WHERE rn = 1 ORDER BY id"""


# --- hour-of-day seasonal profile -----------------------------------------

def seasonal_profile_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Diurnal seasonality extraction: per (id, hour-of-day) mean and the
    deviation of each hour from the series' overall mean — the naive
    seasonal component of an STL-style decomposition, computed with pure
    int64 bucket arithmetic (time is epoch-ms UTC, so hour-of-day is
    ``time mod day / hour`` — no calendar/timezone functions). Two
    aggregates over the same scan (per-hour and per-series), joined on
    id; both shuffle partial-aggregated keys only."""
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    # integer division end-to-end: DuckDB CAST(double AS BIGINT) ROUNDS
    # while Spark's cast truncates, so a float quotient here would shift
    # boundary samples into the next hour on one engine only
    hod = F.expr("pmod(time, 86400000) DIV 3600000")
    per_hour = base.groupBy("id", hod.alias("hour_of_day")).agg(
        F.count("value").alias("cnt"),
        (F.round(F.sum("value"), 6) / F.count("value")).alias("hour_mean"),
    )
    overall = base.groupBy("id").agg(
        (F.round(F.sum("value"), 6) / F.count("value")).alias("series_mean")
    )
    return (
        per_hour.join(F.broadcast(overall), "id")
        .select(
            "id",
            "hour_of_day",
            "cnt",
            "hour_mean",
            F.round(F.col("hour_mean") - F.col("series_mean"), 6).alias(
                "seasonal_dev"
            ),
        )
        .orderBy("id", "hour_of_day")
    )


def seasonal_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Registered fixture query (see :func:`seasonal_profile_op`)."""
    return seasonal_profile_op(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)


SEASONAL_SQL = f"""WITH {MEAS_CTE_SQL},
base AS (SELECT id, time, value FROM measurements WHERE {_interval_sql()}),
per_hour AS (
  SELECT id,
         (((time % 86400000) + 86400000) % 86400000) // 3600000
           AS hour_of_day,
         count(value) AS cnt,
         (round(sum(value), 6) / count(value)) AS hour_mean
  FROM base GROUP BY id, hour_of_day),
overall AS (
  SELECT id, (round(sum(value), 6) / count(value)) AS series_mean
  FROM base GROUP BY id)
SELECT p.id AS id, p.hour_of_day, p.cnt, p.hour_mean,
       round(p.hour_mean - o.series_mean, 6) AS seasonal_dev
FROM per_hour p JOIN overall o ON p.id = o.id
ORDER BY id, hour_of_day"""


# --- rolling median (robust smoother) -------------------------------------

ROLL_FRAME = 9  # trailing frame: current row + 9 preceding


def rolling_median_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Rolling median over a 10-sample trailing frame — the robust
    smoother (median filter) used where a moving average would chase
    outliers. Exact `percentile` as a window aggregate: selection-based,
    so there is NO accumulation-order float noise to round away —
    cross-engine parity is exact up to the shared linear-interpolation
    formula (rounded at 4, same as fn_median). One shuffle on id."""
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = (
        Window.partitionBy("id")
        .orderBy("time", "value", "flag")
        .rowsBetween(-ROLL_FRAME, Window.currentRow)
    )
    return base.select(
        "id",
        "time",
        "value",
        F.round(F.expr("percentile(value, 0.5)").over(w), 4).alias(
            "roll_median"
        ),
    ).orderBy("id", "time", "value")


def rolling_median(spark: SparkSession, sf: str) -> DataFrame:
    """Registered fixture query (see :func:`rolling_median_op`)."""
    return rolling_median_op(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)


ROLLING_MEDIAN_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT id, time, value,
       round(quantile_cont(value, 0.5) OVER (
         PARTITION BY id ORDER BY time, value, flag
         ROWS BETWEEN {ROLL_FRAME} PRECEDING AND CURRENT ROW), 4)
         AS roll_median
FROM measurements WHERE {_interval_sql()}
ORDER BY id, time, value"""


register("ext_rolling_median", rolling_median, ROLLING_MEDIAN_SQL)
register("ext_seasonal_profile", seasonal_profile, SEASONAL_SQL)
register("ext_changepoint_cusum", changepoint_cusum, CUSUM_SQL)
register("ext_ohlc", ohlc_bars, OHLC_SQL)
register("ext_counter_rate", counter_rate, COUNTER_RATE_SQL)
register("ext_robust_stats", robust_stats, ROBUST_STATS_SQL)
register("ext_hopping_window", hopping_window, HOPPING_WINDOW_SQL)
register("ext_unpivot_flags", unpivot_flags, UNPIVOT_FLAGS_SQL)
register("ext_ewma", ewma, EWMA_SQL)
register("ext_time_weighted_avg", time_weighted_avg, TIME_WEIGHTED_AVG_SQL)
register("ext_rollup_cascade", rollup_cascade, ROLLUP_CASCADE_SQL)
register("ext_anomaly_zscore", anomaly_zscore, ANOMALY_ZSCORE_SQL)
register("ext_series_correlation", series_correlation, SERIES_CORRELATION_SQL)
register("ext_rate", rate, RATE_SQL)
register("ext_gap_fill", gap_fill, GAP_FILL_SQL)
register("ext_interpolate", interpolate, INTERPOLATE_SQL)
register("ext_histogram", value_histogram, HISTOGRAM_SQL)
register("ext_range_context", range_context, RANGE_CONTEXT_SQL)
register("ext_session_window", session_window_agg, SESSION_WINDOW_SQL)


# --- largest-triangle downsampling (LTOB) ----------------------------------
# STAGED for the round-13 driver window (the staging every late operator
# goes through: implemented + oracled + pytest parity + planted stress
# now, registered at the next window rotation so it is driver-attested
# from day one).

LTOB_BUCKET_MS = 7_200_000  # 2 h buckets → ≤ ~180 output points/series


def downsample_lttb_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    width_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Largest-triangle downsampling for visualization (Steinarsson 2013,
    "Downsampling Time Series for Visual Representation" — the LTOB
    one-bucket variant, §4.2): per fixed-width bucket keep the point
    forming the largest triangle with its immediate time-order
    neighbours, i.e. the visually most significant sample. The LTTB
    variant's bucket-mean anchor makes the pick *recursive* across
    buckets (each choice depends on the previous bucket's chosen point);
    LTOB's fixed-neighbour anchor keeps the operator embarrassingly
    parallel per series — the property that matters on a 1000-executor
    cluster — at a visual quality the thesis measures as near-identical.

    Exact cross-engine arithmetic: time is int64 ms and values sit on the
    fixture's 2-decimal grid, so with y = round(100·value) the doubled
    triangle area ``|(x_prev−x_next)(y−y_prev) − (x_prev−x)(y_next−y_prev)|``
    is pure BIGINT (|Δx| ≤ interval ≈ 1.3e9, |Δy| ≤ ~5e4 → ≪ 2^63). No
    float enters the pick at all. Series edge points (no lag/lead
    neighbour) score −1, so a bucket holding only the series' first/last
    sample still emits it deterministically.

    Plan shape: one window shuffle on ``id`` (the storage clustering key
    → shuffle-free after a bucketed write) computes both neighbours and
    the per-(id, bucket) argmax; nothing else moves.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = Window.partitionBy("id").orderBy("time", "value", "flag")
    y = F.round(F.col("value") * 100).cast("long")
    nb = base.select(
        "id",
        "time",
        "value",
        "flag",
        y.alias("y"),
        F.lag("time").over(w).alias("xp"),
        F.lag(y).over(w).alias("yp"),
        F.lead("time").over(w).alias("xn"),
        F.lead(y).over(w).alias("yn"),
    )
    area2 = F.coalesce(
        F.abs(
            (F.col("xp") - F.col("xn")) * (F.col("y") - F.col("yp"))
            - (F.col("xp") - F.col("time")) * (F.col("yn") - F.col("yp"))
        ),
        F.lit(-1).cast("long"),
    )
    scored = nb.select(
        "id",
        floor_bucket(F.col("time"), width_ms).alias("t_bucket"),
        "time",
        "value",
        "flag",
        area2.alias("area2"),
    )
    pick = Window.partitionBy("id", "t_bucket").orderBy(
        F.col("area2").desc(),
        F.col("time").asc(),
        F.col("value").asc(),
        F.col("flag").asc(),
    )
    return (
        scored.withColumn("rn", F.row_number().over(pick))
        .where(F.col("rn") == 1)
        .select("id", "t_bucket", "time", "value", "area2")
        .orderBy("id", "t_bucket")
    )


def downsample_lttb(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r13 window (see :func:`downsample_lttb_op`)."""
    return downsample_lttb_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, LTOB_BUCKET_MS, 0
    )


DOWNSAMPLE_LTTB_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, time, value, flag,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
nb AS (SELECT id, time, value, flag, y,
              lag(time) OVER w AS xp, lag(y) OVER w AS yp,
              lead(time) OVER w AS xn, lead(y) OVER w AS yn
       FROM pts
       WINDOW w AS (PARTITION BY id ORDER BY time, value, flag)),
scored AS (
  SELECT id, {floor_bucket_sql('time', LTOB_BUCKET_MS)} AS t_bucket,
         time, value, flag,
         coalesce(abs((xp - xn) * (y - yp) - (xp - time) * (yn - yp)),
                  -1) AS area2
  FROM nb),
pick AS (
  SELECT id, t_bucket, time, value, area2,
         row_number() OVER (PARTITION BY id, t_bucket
                            ORDER BY area2 DESC, time ASC, value ASC,
                                     flag ASC) AS rn
  FROM scored)
SELECT id, t_bucket, time, value, area2
FROM pick WHERE rn = 1 ORDER BY id, t_bucket"""

register("ext_downsample_lttb", downsample_lttb, DOWNSAMPLE_LTTB_SQL)


# --- SAX symbolization + motif counts ---------------------------------------
# Registered round 13 (staged round 12 with the full discipline:
# implemented + oracled + pytest parity + planted stress first).

SAX_FRAME_MS = 3_600_000  # 1 h PAA frames
SAX_WORD_LEN = 3  # 3-frame SAX words
# N(0,1) quartile breakpoints → 4-symbol alphabet a..d (Lin et al. 2003,
# table 3, a = 4).
SAX_BREAK = 0.6745


def series_sax_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    frame_ms: int,
    flag: int = 0,
) -> DataFrame:
    """SAX motif profile (Lin, Keogh, Lonardi & Chiu 2003, "A Symbolic
    Representation of Time Series"): PAA-average each series over fixed
    frames, z-normalize against the series' own mean/σ, quantize to a
    4-symbol alphabet at the N(0,1) quartile breakpoints, and count the
    3-symbol words — the classic motif/novelty profile a TSDB user runs
    to find recurring shapes. Words are formed over consecutive
    *populated* frames in time order (empty frames are skipped, the
    standard practical simplification for sparse series; documented
    contract, both engines identical).

    Cross-engine exactness: all accumulations are int64 (cents and
    squared cents), so mean/σ/PAA derive from identical integers through
    identical single float expressions — IEEE ops on identical doubles
    are deterministic, no accumulation-order noise exists anywhere. The
    only float comparisons are z vs ±0.6745/0, on identically-computed
    doubles. Σy² ≤ n·2.4e9 — int64-safe past 10⁹ samples/series.
    Zero-variance (constant) series are dropped — they carry no shape
    information and their z would be 0/0, whose float semantics differ
    across engines (Spark NaN vs DuckDB's version-dependent NULL/NaN).

    Plan: one shuffle to (id, frame) partial aggregates, one broadcast
    join of the K-row per-series moments, one window on id for the word
    chain, one count shuffle. No float until after aggregation.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    pts = base.select("id", "time", y.alias("y"))
    frames = pts.groupBy(
        "id", floor_bucket(F.col("time"), frame_ms).alias("frame")
    ).agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
    moments = pts.groupBy("id").agg(
        F.sum("y").alias("s"),
        F.sum(F.col("y") * F.col("y")).alias("q"),
        F.count("*").alias("n"),
    )
    # var = Q/n − (S/n)² on identical int64 inputs → identical doubles
    sig = F.sqrt(
        F.col("q") / F.col("n")
        - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
    )
    z = (F.col("fs") / F.col("fn") - F.col("s") / F.col("n")) / F.col("sig")
    sym = (
        F.when(z < -SAX_BREAK, "a")
        .when(z < 0, "b")
        .when(z < SAX_BREAK, "c")
        .otherwise("d")
    )
    w = Window.partitionBy("id").orderBy("frame")
    worded = (
        frames.join(F.broadcast(moments.withColumn("sig", sig)), "id")
        .where(F.col("sig") > 0)
        .select("id", "frame", sym.alias("sym"))
        .select(
            "id",
            "frame",
            F.concat(
                "sym",
                F.lead("sym", 1).over(w),
                F.lead("sym", 2).over(w),
            ).alias("word"),
        )
        .where(F.col("word").isNotNull())
    )
    return (
        worded.groupBy("id", "word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("id", "word")
    )


def series_sax(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r13 window (see :func:`series_sax_op`)."""
    return series_sax_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, SAX_FRAME_MS, 0
    )


SERIES_SAX_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, time, CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
frames AS (SELECT id, {floor_bucket_sql('time', SAX_FRAME_MS)} AS frame,
                  sum(y) AS fs, count(*) AS fn
           FROM pts GROUP BY id, frame),
moments AS (SELECT id, sum(y) AS s, sum(y * y) AS q, count(*) AS n
            FROM pts GROUP BY id),
syms AS (
  SELECT f.id, f.frame,
         CASE WHEN (f.fs / f.fn - m.s / m.n)
                   / sqrt(m.q / m.n - (m.s / m.n) * (m.s / m.n))
                   < -{SAX_BREAK} THEN 'a'
              WHEN (f.fs / f.fn - m.s / m.n)
                   / sqrt(m.q / m.n - (m.s / m.n) * (m.s / m.n))
                   < 0 THEN 'b'
              WHEN (f.fs / f.fn - m.s / m.n)
                   / sqrt(m.q / m.n - (m.s / m.n) * (m.s / m.n))
                   < {SAX_BREAK} THEN 'c'
              ELSE 'd' END AS sym
  FROM frames f JOIN moments m ON f.id = m.id
  WHERE sqrt(m.q / m.n - (m.s / m.n) * (m.s / m.n)) > 0),
words AS (
  SELECT id, frame,
         sym || lead(sym, 1) OVER w || lead(sym, 2) OVER w AS word
  FROM syms WINDOW w AS (PARTITION BY id ORDER BY frame))
SELECT id, word, count(*) AS cnt
FROM words WHERE word IS NOT NULL
GROUP BY id, word ORDER BY id, word"""

register("ext_series_sax", series_sax, SERIES_SAX_SQL)


# --- sample autocorrelation function (ACF) ----------------------------------
# Registered round 13 (staged round 12 with the full discipline:
# implemented + oracled + pytest parity + planted stress first).

ACF_BUCKET_MS = HOUR_MS  # PAA grid the ACF lags walk on
ACF_MAX_LAG = 6  # r_1 .. r_6


def series_acf_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    max_lag: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series sample autocorrelation function r_1..r_max_lag on a
    regular PAA grid — the seasonality/memory profile (Box & Jenkins'
    identification step) a TSDB user runs before picking a forecast or
    anomaly model. Lag k means k GRID STEPS (k·bucket_ms), not k sample
    rows, so irregular sampling cannot distort the lag axis; a pair
    contributes only when both grid cells are populated.

    Exact cross-engine arithmetic (the SAX/LTOB discipline): samples are
    cents int64; each populated cell's PAA mean is quantized back to the
    cent grid with the HALF_UP integer closure (ext/exact.py), so the
    series the ACF sees is pure int64. With n cells and S = Σy, the
    mean-centred products are scaled by n²:

        r_k = Σ_t (n·y_t − S)(n·y_{t+k} − S)  /  Σ_t (n·y_t − S)²

    Numerator and denominator are sums of int64 products accumulated in
    DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact and order-free, no
    float until the single final division, rounded once. |n·y| ≤ n·5e4
    → products ≤ ~1e16·n: past int64 at ~1000 cells, which is exactly
    why the accumulator is decimal, not long. Zero-variance series are
    dropped (0/0 float semantics differ across engines; a constant
    series has no correlation structure to report).

    Plan shape (100 TB): one partial-aggregated shuffle to (id, cell),
    one tiny per-id moments aggregate broadcast back, one equi-join on
    (id, cell + k·bucket) for the lag pairs — hash join on the storage
    clustering key, never a range or cross join — and one
    partial-aggregated count shuffle on (id, lag). Driver holds nothing.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select("id", floor_bucket(F.col("time"), bucket_ms).alias("b"), y.alias("y"))
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        # HALF_UP(fs/fn, 0) in pure int64 — PAA mean back on the cent grid
        .selectExpr(
            "id",
            "b",
            # signed HALF_UP: decompose by sign — Spark DIV and DuckDB //
            # BOTH truncate toward zero; operands here are magnitudes
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )
    moments = cells.groupBy("id").agg(
        F.count("*").alias("n"), F.sum("yq").alias("s")
    )
    dev = (
        cells.join(F.broadcast(moments), "id")
        .select(
            "id",
            "b",
            (F.col("n") * F.col("yq") - F.col("s")).alias("dev"),
        )
    )
    den = dev.groupBy("id").agg(
        F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("den")
    ).where(F.col("den") > 0)
    lags = dev.select(
        "id",
        "b",
        "dev",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, max_lag + 1)])
        ).alias("lag"),
    ).alias("L")
    rgt = dev.select(
        F.col("id").alias("rid"),
        F.col("b").alias("b2"),
        F.col("dev").alias("dev2"),
    ).alias("R")
    num = (
        lags.join(
            rgt,
            (F.col("L.id") == F.col("R.rid"))
            & (F.col("R.b2") == F.col("L.b") + F.col("L.lag") * F.lit(bucket_ms)),
        )
        .groupBy(F.col("L.id").alias("id"), F.col("L.lag").alias("lag"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev2")).alias(
                "num"
            ),
        )
    )
    return (
        num.join(F.broadcast(den), "id")
        .select(
            "id",
            "lag",
            "n_pairs",
            F.round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ).alias("acf"),
        )
        .orderBy("id", "lag")
    )


def series_acf(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r13 window (see :func:`series_acf_op`)."""
    return series_acf_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, ACF_BUCKET_MS,
        ACF_MAX_LAG, 0,
    )


SERIES_ACF_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', ACF_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id, b,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END AS yq
          FROM pts GROUP BY id, b),
moments AS (SELECT id, count(*) AS n, sum(yq) AS s FROM cells GROUP BY id),
dev AS (SELECT c.id, c.b, m.n * c.yq - m.s AS dev
        FROM cells c JOIN moments m ON c.id = m.id),
den AS (SELECT id, sum(CAST(dev AS HUGEINT) * dev) AS den
        FROM dev GROUP BY id HAVING den > 0),
lagpairs AS (
  SELECT t.id, CAST(k.lag AS INT) AS lag, count(*) AS n_pairs,
         sum(CAST(t.dev AS HUGEINT) * u.dev) AS num
  FROM dev t
  CROSS JOIN (SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag) k
  JOIN dev u ON u.id = t.id AND u.b = t.b + k.lag * {ACF_BUCKET_MS}
  GROUP BY t.id, k.lag)
SELECT p.id, p.lag, p.n_pairs,
       round(CAST(p.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS acf
FROM lagpairs p JOIN den d ON p.id = d.id
ORDER BY p.id, p.lag"""

register("ext_series_acf", series_acf, SERIES_ACF_SQL)


# --- permutation entropy (ordinal-pattern complexity) ------------------------
# Registered round 13 (staged round 12, full staging discipline).

PE_ORDER = 3  # embedding dimension: length-3 ordinal patterns, 3! = 6 kinds
_PE_PATTERNS = ("123", "132", "312", "213", "231", "321")


def series_perm_entropy_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Permutation entropy (Bandt & Pompe 2002, "Permutation Entropy: A
    Natural Complexity Measure for Time Series"): classify every
    3-sample window of each series by the ordinal pattern of its values
    (stable ties — an earlier sample ranks before an equal later one,
    the standard practical convention) and report the normalized entropy
    of the 6-pattern distribution: 0 for monotone/deterministic shape,
    1 for white noise. The standard model-free complexity/anomaly
    screen — cheap enough to run over every series in the store.

    Exactness: patterns are classified by int64 cent comparisons — no
    float enters classification. The entropy is ONE fixed 6-term scalar
    expression over the per-series pattern counts (pivoted to columns),
    not a float aggregation, so there is no accumulation order to
    diverge; identical int inputs → identical doubles → one round().

    Plan shape (100 TB): one window shuffle on ``id`` for the two leads,
    one partial-aggregated shuffle to (id, pattern) — ≤ 6 rows per
    series — then a 6-way conditional pivot on ``id``. Nothing else
    moves; no driver state, no UDF, whole-stage codegen throughout.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = Window.partitionBy("id").orderBy("time", "value", "flag")
    y = F.round(F.col("value") * 100).cast("long")
    tri = (
        base.select(
            "id",
            y.alias("a"),
            F.lead(y, 1).over(w).alias("b"),
            F.lead(y, 2).over(w).alias("c"),
        )
        .where(F.col("c").isNotNull())
    )
    a, b, c = F.col("a"), F.col("b"), F.col("c")
    pattern = (
        F.when((a <= b) & (b <= c), "123")
        .when((a <= b) & (a <= c), "132")
        .when(a <= b, "312")
        .when((b < a) & (a <= c), "213")
        .when((b < a) & (b <= c), "231")
        .otherwise("321")
    )
    counts = tri.select("id", pattern.alias("pat")).groupBy("id", "pat").agg(
        F.count("*").alias("cnt")
    )
    pivots = [
        F.sum(F.when(F.col("pat") == p, F.col("cnt")).otherwise(0)).alias(
            f"c{p}"
        )
        for p in _PE_PATTERNS
    ]
    wide = counts.groupBy("id").agg(*pivots)
    n = sum(F.col(f"c{p}") for p in _PE_PATTERNS)
    term = lambda p: F.when(  # noqa: E731 — local expression builder
        F.col(f"c{p}") > 0,
        (F.col(f"c{p}") / n) * F.log(F.col(f"c{p}") / n),
    ).otherwise(F.lit(0.0))
    pe = -sum(term(p) for p in _PE_PATTERNS) / F.log(F.lit(6.0))
    return (
        wide.select(
            "id",
            n.alias("n_windows"),
            *[F.col(f"c{p}") for p in _PE_PATTERNS],
            F.round(pe, 6).alias("pe_norm"),
        )
        .orderBy("id")
    )


def series_perm_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r13 window (:func:`series_perm_entropy_op`)."""
    return series_perm_entropy_op(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)


def _pe_sql_terms() -> str:
    t = []
    for p in _PE_PATTERNS:
        t.append(
            f"CASE WHEN c{p} > 0 THEN (c{p} / CAST(nw AS DOUBLE))"
            f" * ln(c{p} / CAST(nw AS DOUBLE)) ELSE 0.0 END"
        )
    return " + ".join(t)


SERIES_PERM_ENTROPY_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, time, value, flag, CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
tri AS (SELECT id, y AS a,
               lead(y, 1) OVER w AS b, lead(y, 2) OVER w AS c
        FROM pts WINDOW w AS (PARTITION BY id ORDER BY time, value, flag)),
pats AS (
  SELECT id,
         CASE WHEN a <= b AND b <= c THEN '123'
              WHEN a <= b AND a <= c THEN '132'
              WHEN a <= b THEN '312'
              WHEN b < a AND a <= c THEN '213'
              WHEN b < a AND b <= c THEN '231'
              ELSE '321' END AS pat
  FROM tri WHERE c IS NOT NULL),
cnts AS (SELECT id, pat, count(*) AS cnt FROM pats GROUP BY id, pat),
wide AS (SELECT id,
                {", ".join(f"CAST(sum(CASE WHEN pat = '{p}' THEN cnt ELSE 0 END) AS BIGINT) AS c{p}" for p in _PE_PATTERNS)}
         FROM cnts GROUP BY id),
tot AS (SELECT *, {" + ".join(f"c{p}" for p in _PE_PATTERNS)} AS nw FROM wide)
SELECT id, nw AS n_windows, {", ".join(f"c{p}" for p in _PE_PATTERNS)},
       round(-({_pe_sql_terms()}) / ln(6.0), 6) AS pe_norm
FROM tot ORDER BY id"""

register("ext_series_perm_entropy", series_perm_entropy, SERIES_PERM_ENTROPY_SQL)


# --- seasonal-naive forecast error (MASE) ------------------------------------

MASE_BUCKET_MS = HOUR_MS
MASE_SEASON = 24  # daily season on the hourly grid


def series_mase_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    season: int,
    flag: int = 0,
) -> DataFrame:
    """Seasonal-naive forecastability score per series (Hyndman &
    Koehler 2006's MASE, with the naive-1 denominator): how much
    better does "same value as yesterday's hour" predict the series
    than "same value as the last hour"? MASE < 1 means the daily
    season carries real signal — the screen a TSDB user runs to pick
    which series deserve a seasonal model at all. Lags walk the PAA
    GRID (k grid steps, both cells populated), exactly the ACF
    discipline, so irregular sampling cannot shift the season.

    Exactness: cells are HALF_UP cent-quantized PAA means (int64);
    both error sums are int64 |Δ| sums; the score is ONE wide-decimal
    HALF_UP rational (Σ|e_s|·n_1) / (Σ|e_1|·n_s) at 4 dp — no float
    anywhere. Series with a zero naive-1 denominator (constant on the
    grid) are dropped; the exact integer numerators stay in the output
    so the driver hash pins them too.

    Plan shape (100 TB): the ACF plan with two lags instead of six —
    one (id, cell) partial aggregate, two equi-joins on
    (id, cell ± k·bucket), one per-id fold. Driver holds nothing.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select(
            "id", floor_bucket(F.col("time"), bucket_ms).alias("b"), y.alias("y")
        )
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        .selectExpr(
            "id",
            "b",
            # signed HALF_UP: decompose by sign — Spark DIV and DuckDB //
            # BOTH truncate toward zero; operands here are magnitudes
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )

    def lag_errs(k: int, tag: str) -> DataFrame:
        cur = cells.select(
            "id", "b", F.col("yq").alias("y_cur")
        ).alias("C")
        prev = cells.select(
            F.col("id").alias("pid"),
            (F.col("b") + F.lit(k * bucket_ms)).alias("pb"),
            F.col("yq").alias("y_prev"),
        ).alias("P")
        return (
            cur.join(
                prev,
                (F.col("C.id") == F.col("P.pid"))
                & (F.col("C.b") == F.col("P.pb")),
            )
            .groupBy(F.col("C.id").alias("id"))
            .agg(
                F.count("*").alias(f"n_{tag}"),
                F.sum(F.abs(F.col("y_cur") - F.col("y_prev"))).alias(
                    f"sum_abs_{tag}"
                ),
            )
        )
    naive = lag_errs(1, "naive")
    seas = lag_errs(season, "season")
    # wide-decimal HALF_UP rational: the numerator is a product of four
    # int64s (2 · Σ|e_s| · n_1 · 10⁴) which can exceed int64 on long,
    # volatile series — where non-ANSI Spark wraps silently while DuckDB
    # raises. Route it through DECIMAL(38,0)/HUGEINT (the token_pmi
    # rank_key pattern); DIV on decimals returns the integral part as
    # BIGINT, so the final /10⁴ divide is long/double on both engines.
    mase = (
        "(((CAST(2 AS DECIMAL(38,0)) * sum_abs_season * n_naive * 10000"
        " + CAST(sum_abs_naive AS DECIMAL(38,0)) * n_season)"
        " DIV (CAST(2 AS DECIMAL(38,0)) * sum_abs_naive * n_season))"
        " / 10000.0d)"
    )
    return (
        naive.join(seas, "id")
        .where(F.col("sum_abs_naive") > 0)
        .selectExpr(
            "id", "n_naive", "sum_abs_naive", "n_season", "sum_abs_season",
            mase + " AS mase",
        )
        .orderBy("id")
    )


def series_mase(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for a future window (see :func:`series_mase_op`)."""
    return series_mase_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, MASE_BUCKET_MS,
        MASE_SEASON, 0,
    )


def _mase_lag_sql(k: int, tag: str) -> str:
    return f"""e_{tag} AS (
  SELECT c.id, count(*) AS n_{tag},
         CAST(sum(abs(c.yq - p.yq)) AS BIGINT) AS sum_abs_{tag}
  FROM cells c JOIN cells p
    ON p.id = c.id AND c.b = p.b + {k} * {MASE_BUCKET_MS}
  GROUP BY c.id)"""


SERIES_MASE_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', MASE_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id, b,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END AS yq
          FROM pts GROUP BY id, b),
{_mase_lag_sql(1, "naive")},
{_mase_lag_sql(MASE_SEASON, "season")}
SELECT n.id, n.n_naive, n.sum_abs_naive, s.n_season, s.sum_abs_season,
       (((CAST(2 AS HUGEINT) * s.sum_abs_season * n.n_naive * 10000
          + CAST(n.sum_abs_naive AS HUGEINT) * s.n_season)
         // (CAST(2 AS HUGEINT) * n.sum_abs_naive * s.n_season))
        / 10000.0) AS mase
FROM e_naive n JOIN e_season s ON n.id = s.id
WHERE n.sum_abs_naive > 0 ORDER BY n.id"""

register("ext_series_mase", series_mase, SERIES_MASE_SQL)


# --- population stability index (value-distribution drift) -------------------
# Registered round 13 (same ledger-capacity note as MASE above).

PSI_BIN_WIDTH = 50.0  # the ext_histogram fixed-width bin grid


def series_psi_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bin_width: float,
    flag: int = 0,
) -> DataFrame:
    """Value-distribution drift per series: the population stability
    index between the first and second half of the interval, over the
    fixed-width value bins of ``ext_histogram`` — the "did this sensor's
    operating regime move?" screen (PSI < 0.1 stable, > 0.25 shifted,
    the credit-scoring rule of thumb applied to telemetry). Bins empty
    on either side are EXCLUDED from the sum (the pruned-bins PSI
    convention — ln(p/0) is undefined; the dropped count is carried in
    the output so the pruning is visible, not silent).

    Cross-engine exactness: bin ids and half assignment are pure int64
    arithmetic; each bin's (p−q)·ln(p/q) is ONE double expression from
    identical int counts, immediately rounded onto the 1e-6 micro-int
    grid — and the per-series total is then an INTEGER sum, order-free
    by construction (a float Σ over a variable bin count would be the
    _doc_nll accumulation-order class).

    Plan shape (100 TB): one partial-aggregated (id, half, bin) count
    shuffle, a pivot of the two halves onto one row per (id, bin), a
    |series|-row broadcast of the half totals, one per-id fold.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    mid = (from_ms + to_ms) // 2
    w = int(round(bin_width * 100))
    # integer floor division on both engines (a double-divide + CAST
    # diverges: Spark CAST truncates, DuckDB CAST rounds)
    binned = base.select(
        "id",
        (F.col("time") > F.lit(mid)).cast("int").alias("half"),
        F.expr(
            # integer FLOOR division (Spark DIV and DuckDB // BOTH
            # truncate toward zero — decompose the negative branch on
            # BOTH engines; the SQL twin mirrors this CASE)
            f"CASE WHEN round(value * 100) < 0"
            f" THEN -((CAST(-round(value * 100) AS BIGINT) + {w} - 1) DIV {w})"
            f" ELSE CAST(round(value * 100) AS BIGINT) DIV {w} END"
        ).alias("bin"),
    )
    cnts = (
        binned.groupBy("id", "bin")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c2"),
        )
    )
    tots = cnts.groupBy(F.col("id").alias("tid")).agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    term = (
        "CAST(round(((c1 / CAST(n1 AS DOUBLE)) - (c2 / CAST(n2 AS DOUBLE)))"
        " * ln((c1 / CAST(n1 AS DOUBLE)) / (c2 / CAST(n2 AS DOUBLE)))"
        " * 1000000) AS BIGINT)"
    )
    return (
        cnts.join(F.broadcast(tots), cnts.id == tots.tid)
        .where((F.col("n1") > 0) & (F.col("n2") > 0))
        .selectExpr(
            "id", "n1", "n2",
            "CAST(c1 > 0 AND c2 > 0 AS INT) AS common",
            f"CASE WHEN c1 > 0 AND c2 > 0 THEN {term} ELSE 0L END"
            " AS psi_micro",
        )
        .groupBy("id")
        .agg(
            F.max("n1").alias("n1"),
            F.max("n2").alias("n2"),
            F.sum("common").alias("n_bins_common"),
            (F.count("*") - F.sum("common")).alias("n_bins_dropped"),
            (F.sum("psi_micro") / F.lit(1e6)).alias("psi"),
        )
        .orderBy("id")
    )


def series_psi(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for a future window (see :func:`series_psi_op`)."""
    return series_psi_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, PSI_BIN_WIDTH, 0
    )


_PSI_W = int(round(PSI_BIN_WIDTH * 100))
_PSI_TERM_SQL = (
    "CAST(round(((c1 / CAST(n1 AS DOUBLE)) - (c2 / CAST(n2 AS DOUBLE)))"
    " * ln((c1 / CAST(n1 AS DOUBLE)) / (c2 / CAST(n2 AS DOUBLE)))"
    " * 1000000) AS BIGINT)"
)

SERIES_PSI_SQL = f"""WITH {MEAS_CTE_SQL},
binned AS (
  SELECT id,
         CAST(time > ({FROM_MS} + {TO_MS}) // 2 AS INT) AS half,
         -- signed FLOOR division: DuckDB // truncates toward zero on
         -- integers (verified: -7 // 2 = -3), so decompose the negative
         -- branch exactly like the Spark side does
         CASE WHEN round(value * 100) < 0
              THEN -((CAST(-round(value * 100) AS BIGINT) + {_PSI_W} - 1)
                     // {_PSI_W})
              ELSE CAST(round(value * 100) AS BIGINT) // {_PSI_W}
         END AS bin
  FROM measurements WHERE {_interval_sql()}),
cnts AS (SELECT id, bin,
                sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c1,
                sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c2
         FROM binned GROUP BY id, bin),
tots AS (SELECT id, sum(c1) AS n1, sum(c2) AS n2 FROM cnts GROUP BY id),
terms AS (
  SELECT c.id, t.n1, t.n2,
         CAST(c.c1 > 0 AND c.c2 > 0 AS INT) AS common,
         CASE WHEN c.c1 > 0 AND c.c2 > 0 THEN {_PSI_TERM_SQL}
              ELSE 0 END AS psi_micro
  FROM cnts c JOIN tots t ON c.id = t.id
  WHERE t.n1 > 0 AND t.n2 > 0)
SELECT id, CAST(max(n1) AS BIGINT) AS n1, CAST(max(n2) AS BIGINT) AS n2,
       CAST(sum(common) AS BIGINT) AS n_bins_common,
       CAST(count(*) - sum(common) AS BIGINT) AS n_bins_dropped,
       CAST(sum(psi_micro) AS DOUBLE) / 1e6 AS psi
FROM terms GROUP BY id ORDER BY id"""

register("ext_series_psi", series_psi, SERIES_PSI_SQL)


# --- pairwise lead-lag cross-correlation -------------------------------------
# Registered round 14 (staged round 13: implemented + oracled + pytest
# parity + planted stress first, registered at the window rotation).

XCORR_BUCKET_MS = HOUR_MS  # the shared PAA grid both series walk
XCORR_MAX_LAG = 3  # r(-3) .. r(+3)


def series_cross_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r14 window (:func:`series_cross_corr_op`)."""
    return series_cross_corr_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS,
        XCORR_BUCKET_MS, XCORR_MAX_LAG, 0,
    )


def series_cross_corr_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    max_lag: int,
    flag: int = 0,
) -> DataFrame:
    """Sample cross-correlation r_ab(k) for every series pair a < b and
    lag k ∈ [−max_lag, +max_lag] grid steps — the lead-lag screen a TSDB
    user runs to find which sensor PREDICTS which (positive k: b's value
    k steps in the future correlates with a now, i.e. a leads). The
    bivariate sibling of ``ext_series_acf``, sharing its PAA grid and
    its exact-arithmetic identity.

    Convention: each series' deviations are taken from its OWN
    full-interval grid mean (the standard sample-cross-correlation
    normalization — the denominator is √(Σdev_a²·Σdev_b²) over ALL
    populated cells of each series, not just the overlap), and a lag
    contributes only where BOTH grid cells are populated. Zero-variance
    series are dropped, exactly as in the ACF.

    Exactness (the ACF discipline, ext/exact.py): cells are HALF_UP
    cent-quantized PAA means in int64; dev = n·y − S is int64; the n_a
    and n_b scalings cancel exactly in the ratio; numerator and both
    denominators accumulate in DECIMAL(38,0)/HUGEINT — exact and
    order-free — and each output row sees ONE float expression,
    round(num / √(den_a·den_b), 6), identical shape on both engines.

    Plan shape (100 TB): the ACF plan with the lag join made bivariate —
    one (id, cell) partial aggregate, a |series|-row moments broadcast,
    one equi-join on the grid cell (b2 = b + k·bucket, a hash join on
    the storage clustering key) with the id_a < id_b filter. The pair
    fan-out is |panel|² per cell BY DESIGN: a cross-correlation screen
    runs on a SELECTED id panel (the ``ids`` parameter — here 15 series,
    105 pairs), never the full fleet; at 100 TB the panel stays
    user-sized while the scan side prunes to it at the parquet reader.

    r19 perf: the deviation table (grid-sized — |panel| × populated
    cells, three ints per row) feeds FOUR consumers (den, the lag
    fan-out, the right join side); localCheckpoint pins it once
    (isolated best-of-3 1.39 → 1.04 s at sf0.1, rows identical). The
    same pin measured a wash on the univariate ACF (0.78 → 0.76 s —
    its two-sided self-join shuffles the identical subtree and
    reuses), so only the bivariate op carries it.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select(
            "id", floor_bucket(F.col("time"), bucket_ms).alias("b"),
            y.alias("y"),
        )
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        .selectExpr(
            "id",
            "b",
            # signed HALF_UP: decompose by sign — Spark DIV and DuckDB //
            # BOTH truncate toward zero; operands here are magnitudes
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )
    moments = cells.groupBy("id").agg(
        F.count("*").alias("n"), F.sum("yq").alias("s")
    )
    dev = (
        cells.join(F.broadcast(moments), "id")
        .select(
            "id",
            "b",
            (F.col("n") * F.col("yq") - F.col("s")).alias("dev"),
        )
        .localCheckpoint(eager=True)
    )
    den = dev.groupBy("id").agg(
        F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev")).alias("den")
    ).where(F.col("den") > 0)
    lags = dev.select(
        "id",
        "b",
        "dev",
        F.explode(
            F.array(*[F.lit(k) for k in range(-max_lag, max_lag + 1)])
        ).alias("lag"),
    ).alias("L")
    rgt = dev.select(
        F.col("id").alias("rid"),
        F.col("b").alias("b2"),
        F.col("dev").alias("dev2"),
    ).alias("R")
    num = (
        lags.join(
            rgt,
            (F.col("R.rid") > F.col("L.id"))
            & (F.col("R.b2") == F.col("L.b") + F.col("L.lag") * F.lit(bucket_ms)),
        )
        .groupBy(
            F.col("L.id").alias("id_a"),
            F.col("R.rid").alias("id_b"),
            F.col("L.lag").alias("lag"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.col("dev").cast("decimal(38,0)") * F.col("dev2")).alias(
                "num"
            ),
        )
    )
    da = den.selectExpr("id AS da_id", "den AS den_a")
    db = den.selectExpr("id AS db_id", "den AS den_b")
    return (
        num.join(F.broadcast(da), F.col("id_a") == F.col("da_id"))
        .join(F.broadcast(db), F.col("id_b") == F.col("db_id"))
        .selectExpr(
            "id_a",
            "id_b",
            "lag",
            "n_pairs",
            "round(CAST(num AS DOUBLE)"
            " / sqrt(CAST(den_a AS DOUBLE) * CAST(den_b AS DOUBLE)), 6)"
            " AS xcorr",
        )
        .orderBy("id_a", "id_b", "lag")
    )


SERIES_XCORR_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', XCORR_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id, b,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END AS yq
          FROM pts GROUP BY id, b),
mom AS (SELECT id, count(*) AS n, CAST(sum(yq) AS BIGINT) AS s
        FROM cells GROUP BY id),
dev AS (SELECT c.id, c.b, m.n * c.yq - m.s AS dev
        FROM cells c JOIN mom m ON c.id = m.id),
den AS (SELECT id, sum(CAST(dev AS HUGEINT) * dev) AS den
        FROM dev GROUP BY id
        HAVING sum(CAST(dev AS HUGEINT) * dev) > 0),
lp AS (SELECT a.id AS id_a, bb.id AS id_b, k.lag AS lag,
              count(*) AS n_pairs,
              sum(CAST(a.dev AS HUGEINT) * bb.dev) AS num
       FROM dev a
       CROSS JOIN (SELECT unnest(range(-{XCORR_MAX_LAG},
                                       {XCORR_MAX_LAG + 1})) AS lag) k
       JOIN dev bb
         ON bb.id > a.id AND bb.b = a.b + k.lag * {XCORR_BUCKET_MS}
       GROUP BY a.id, bb.id, k.lag)
SELECT p.id_a, p.id_b, CAST(p.lag AS BIGINT) AS lag,
       p.n_pairs,
       round(CAST(p.num AS DOUBLE)
             / sqrt(CAST(da.den AS DOUBLE) * CAST(db.den AS DOUBLE)), 6)
         AS xcorr
FROM lp p
JOIN den da ON p.id_a = da.id
JOIN den db ON p.id_b = db.id
ORDER BY p.id_a, p.id_b, p.lag"""

register("ext_series_cross_corr", series_cross_corr, SERIES_XCORR_SQL)


# --- seasonal strength (ANOVA R² on the PAA grid) ----------------------------
# Registered round 14 (staged round 13: implemented + oracled + pytest
# parity + planted stress first, registered at the window rotation).
#
# NOT the per-phase profile — that already exists as the registered
# `ext_seasonal_profile` (hour-of-day means/deviations, ext/timeseries.py
# above). THIS is the per-series SCALAR the profile lacks: how much of
# the series' grid variance the hour-of-day phase EXPLAINS — the
# one-way-ANOVA R² (SSB/SST), the "is it worth drawing the profile at
# all?" screen next to MASE's forecast-error view of the same question.

SEASONAL_BUCKET_MS = HOUR_MS  # the PAA grid; phases are grid-hours mod 24
SEASONAL_PERIOD = 24


def series_seasonal_strength(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r14 window (:func:`series_seasonal_strength_op`)."""
    return series_seasonal_strength_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS,
        SEASONAL_BUCKET_MS, SEASONAL_PERIOD, 0,
    )


def series_seasonal_strength_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    period: int,
    flag: int = 0,
) -> DataFrame:
    """Seasonality strength per series: the fraction of PAA-grid
    variance explained by the grid-hour phase (one-way ANOVA R² over
    the 24 phases) — exactly 1 for a pure phase function, exactly 0
    when every phase sees the same distribution of values.

    Exactness recipe (the permutation-entropy pattern — a FIXED-ARITY
    float expression, so no accumulation order exists to diverge):
    cells are HALF_UP cent PAA means (int64); ONE aggregate per series
    pivots the 24 phases into (n_h, s_h) integer columns plus the exact
    DECIMAL/HUGEINT moments n, S, Q = Σy². Then

        SST·n² = n²·Q − n·S²          (exact wide integer)
        SSB·n² = Σ_h (n·s_h − n_h·S)² / n_h

    and the output is ONE rounded float: the 24 SSB terms are each a
    single double expression from exact integers, summed left-to-right
    in the fixed generated order, divided by the exact SST once.
    Zero-variance series are dropped (no variance to explain).

    Plan shape (100 TB): one (id, cell) partial aggregate and one
    per-series aggregate with 50 conditional columns — no join, no
    second shuffle, nothing held driver-side."""
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select(
            "id", floor_bucket(F.col("time"), bucket_ms).alias("b"),
            y.alias("y"),
        )
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        .selectExpr(
            "id",
            f"CAST((b DIV {bucket_ms}) % {period} AS INT) AS ph",
            # signed HALF_UP: decompose by sign — Spark DIV and DuckDB //
            # BOTH truncate toward zero; operands here are magnitudes
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )
    wide = cells.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum("yq").alias("s"),
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("q"),
        *[
            F.sum(F.when(F.col("ph") == h, 1).otherwise(0)).alias(f"nh{h}")
            for h in range(period)
        ],
        *[
            F.sum(
                F.when(F.col("ph") == h, F.col("yq")).otherwise(F.lit(0))
            ).alias(f"sh{h}")
            for h in range(period)
        ],
    )
    terms = " + ".join(
        f"(CASE WHEN nh{h} > 0 THEN"
        f" CAST(CAST(n AS DECIMAL(38,0)) * sh{h}"
        f" - CAST(nh{h} AS DECIMAL(38,0)) * s AS DOUBLE)"
        f" * CAST(CAST(n AS DECIMAL(38,0)) * sh{h}"
        f" - CAST(nh{h} AS DECIMAL(38,0)) * s AS DOUBLE)"
        f" / CAST(nh{h} AS DOUBLE) ELSE 0.0d END)"
        for h in range(period)
    )
    sst = (
        "CAST(CAST(n AS DECIMAL(38,0)) * n * q"
        " - CAST(n AS DECIMAL(38,0)) * s * s AS DECIMAL(38,0))"
    )
    return (
        wide.where(F.expr(f"{sst} > 0"))
        .selectExpr(
            "id",
            "n AS n_cells",
            f"round(({terms}) / CAST({sst} AS DOUBLE), 6)"
            " AS seasonal_strength",
        )
        .orderBy("id")
    )


def _seasonal_strength_sql() -> str:
    period = SEASONAL_PERIOD
    nh_cols = ", ".join(
        f"CAST(sum(CASE WHEN ph = {h} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nh{h}"
        for h in range(period)
    )
    sh_cols = ", ".join(
        f"CAST(sum(CASE WHEN ph = {h} THEN yq ELSE 0 END) AS BIGINT)"
        f" AS sh{h}"
        for h in range(period)
    )
    terms = " + ".join(
        f"(CASE WHEN nh{h} > 0 THEN"
        f" CAST(CAST(n AS HUGEINT) * sh{h}"
        f" - CAST(nh{h} AS HUGEINT) * s AS DOUBLE)"
        f" * CAST(CAST(n AS HUGEINT) * sh{h}"
        f" - CAST(nh{h} AS HUGEINT) * s AS DOUBLE)"
        f" / CAST(nh{h} AS DOUBLE) ELSE 0.0 END)"
        for h in range(period)
    )
    sst = "(CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT) * s * s)"
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', SEASONAL_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id,
                 CAST((b // {SEASONAL_BUCKET_MS}) % {period} AS INT) AS ph,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END
                   AS yq
          FROM pts GROUP BY id, b),
wide AS (SELECT id, count(*) AS n, CAST(sum(yq) AS BIGINT) AS s,
                sum(CAST(yq AS HUGEINT) * yq) AS q,
                {nh_cols}, {sh_cols}
         FROM cells GROUP BY id)
SELECT id, CAST(n AS BIGINT) AS n_cells,
       round(({terms}) / CAST({sst} AS DOUBLE), 6) AS seasonal_strength
FROM wide WHERE {sst} > 0 ORDER BY id"""


SERIES_SEASONAL_SQL = _seasonal_strength_sql()

register(
    "ext_series_seasonal_strength",
    series_seasonal_strength,
    SERIES_SEASONAL_SQL,
)


# --- robust outlier screen (median / MAD) ------------------------------------
# Registered round 14 (staged round 13: implemented + oracled + pytest
# parity + planted stress first, registered at the window rotation).
#
# The robust-statistics sibling of `ext_anomaly_zscore`: mean/σ move
# with the outliers they hunt, median/MAD do not (Hampel's rule,
# |y − med| > 3·1.4826·MAD, the 1.4826 making MAD a consistent σ
# estimator under normality). Everything below is EXACT integer
# arithmetic: medians are carried DOUBLED (the sum of the two middle
# order statistics — an even count's midpoint average never leaves the
# integers), deviations are carried doubled again, and Hampel's
# threshold becomes the pure-int64 comparison
#     20000 · D_i > 44478 · mad2
# with D_i = 2·|y_i − med| and mad2 = 4·MAD, both exact ints (44478 =
# 3·1.4826 at the fixed 4-dp grid). A constant-ish series (mad2 = 0)
# flags EVERY nonzero deviation — the documented MAD pathology, kept
# deterministic rather than hidden.

MAD_K_10K = 44_478  # 3 · 1.4826 on the 4-dp integer grid


def series_outlier_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r14 window (:func:`series_outlier_mad_op`)."""
    return series_outlier_mad_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, 0
    )


def series_outlier_mad_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series robust outlier summary over the interval: the exact
    median and MAD (reported on their native .5/.25 grids — one exact
    float division each), the Hampel outlier count, and the HALF_UP
    outlier fraction.

    Plan shape (100 TB): two ranked windows on the storage clustering
    key (one for the value median, one for the deviation median — each
    a single sorted pass per series partition, shuffle-free on a
    bucketed table), two |series|-row broadcasts back, one final
    per-series fold. At extreme per-series cardinality swap the exact
    median for `approx_percentile` and keep the same closure — the
    oracle pins the exact variant."""
    base = scan_interval(meas, ids, from_ms, to_ms, flag).select(
        "id", "time", F.round(F.col("value") * 100).cast("long").alias("y")
    )
    wv = Window.partitionBy("id").orderBy("y", "time")
    ranked = base.select(
        "id", "y", F.row_number().over(wv).alias("rn"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    med2 = (
        ranked.where(
            F.expr("rn = (n + 1) DIV 2 OR rn = (n + 2) DIV 2")
        )
        .groupBy(F.col("id").alias("mid"))
        .agg((F.lit(2) * F.sum("y") / F.count("*")).cast("long").alias("med2"))
    )
    dev = base.join(F.broadcast(med2), base.id == med2.mid).select(
        "id", "time", "y",
        F.abs(F.lit(2) * F.col("y") - F.col("med2")).alias("d"),
        "med2",
    )
    wd = Window.partitionBy("id").orderBy("d", "time")
    dranked = dev.select(
        "id", "d", F.row_number().over(wd).alias("rn"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    mad2 = (
        dranked.where(
            F.expr("rn = (n + 1) DIV 2 OR rn = (n + 2) DIV 2")
        )
        .groupBy(F.col("id").alias("did"))
        .agg((F.lit(2) * F.sum("d") / F.count("*")).cast("long").alias("mad2"))
    )
    from dariadb_spark.ext.exact import ratio_round_spark

    return (
        dev.join(F.broadcast(mad2), dev.id == mad2.did)
        .groupBy("id")
        .agg(
            F.count("*").alias("n"),
            F.max("med2").alias("med2"),
            F.max("mad2").alias("mad2"),
            F.sum(
                (
                    F.lit(20_000) * F.col("d")
                    > F.lit(MAD_K_10K) * F.col("mad2")
                ).cast("long")
            ).alias("n_outliers"),
        )
        .selectExpr(
            "id",
            "n",
            "med2 / 200.0d AS median",  # back to value units, exact
            "mad2 / 400.0d AS mad",
            "n_outliers",
            ratio_round_spark("n_outliers", "n", 4) + " AS outlier_frac",
        )
        .orderBy("id")
    )


def _mad_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH {MEAS_CTE_SQL},
base AS (SELECT id, time, CAST(round(value * 100) AS BIGINT) AS y
         FROM measurements WHERE {_interval_sql()}),
rk AS (SELECT id, y,
              row_number() OVER (PARTITION BY id ORDER BY y, time) AS rn,
              count(*) OVER (PARTITION BY id) AS n
       FROM base),
med AS (SELECT id AS mid,
               CAST(2 * sum(y) / count(*) AS BIGINT) AS med2
        FROM rk WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        GROUP BY id),
dev AS (SELECT b.id, b.time, abs(2 * b.y - m.med2) AS d, m.med2
        FROM base b JOIN med m ON b.id = m.mid),
dr AS (SELECT id, d,
              row_number() OVER (PARTITION BY id ORDER BY d, time) AS rn,
              count(*) OVER (PARTITION BY id) AS n
       FROM dev),
mad AS (SELECT id AS did,
               CAST(2 * sum(d) / count(*) AS BIGINT) AS mad2
        FROM dr WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        GROUP BY id)
SELECT v.id, count(*) AS n,
       max(v.med2) / 200.0 AS median,
       max(a.mad2) / 400.0 AS mad,
       CAST(sum(CASE WHEN 20000 * v.d > {MAD_K_10K} * a.mad2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       {ratio_round_duck(
           "sum(CASE WHEN 20000 * v.d > " + str(MAD_K_10K)
           + " * a.mad2 THEN 1 ELSE 0 END)", "count(*)", 4)}
         AS outlier_frac
FROM dev v JOIN mad a ON v.id = a.did
GROUP BY v.id ORDER BY v.id"""


SERIES_MAD_SQL = _mad_sql()

register("ext_series_outlier_mad", series_outlier_mad, SERIES_MAD_SQL)


def _streaming_ewma_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import: streaming/ewma.py imports EWMA_SQL back from this
    # module, so a top-level import here would be circular.
    from dariadb_spark.streaming.ewma import streaming_ewma_parity

    return streaming_ewma_parity(spark, sf)


# Registered round 14 (staged round 13). The stateful EWMA ingest twin
# shares the batch EWMA_SQL oracle — statefulness must make the
# micro-batching invisible, same contract as streaming_markov_parity.
register("streaming_ewma_parity", _streaming_ewma_parity, EWMA_SQL)


# --- threshold-exceedance episodes (run lengths) ------------------------------
# Registered round 15 (staged round 14 with the full discipline:
# implemented + oracled + pytest parity + planted stress first,
# registered at the window rotation).
#
# The alerting verb the point-wise screens lack: `ext_anomaly_zscore`
# and `ext_series_outlier_mad` flag SAMPLES; an alert fires on an
# EPISODE — consecutive samples above the line (Prometheus's `FOR`
# clause, the flapping-vs-sustained distinction every on-call rota
# cares about). Gaps-and-islands on the VALUE predicate (the machinery
# `ext_sessionize` applies to the TIME axis): island key = rn_all −
# rn_exceed, both row_numbers over the same unique (id, time) order, so
# the grouping is exact integer arithmetic with no tie ambiguity.

RUN_THRESHOLD = 50.0  # the alert line (fixture values span 0.15..370)


def series_run_lengths(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r15 window (:func:`series_run_lengths_op`)."""
    return series_run_lengths_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, RUN_THRESHOLD, 0
    )


def series_run_lengths_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    threshold: float,
    flag: int = 0,
) -> DataFrame:
    """Per-series exceedance-episode summary over the interval: episode
    count, longest episode (samples and wall-clock ms), total exceeding
    samples, and the HALF_UP exceed fraction. A series that never
    crosses the line still reports (zeros) — absence of alerts is a
    result, not a missing row.

    Exactness: the only float touch is the `value > threshold`
    comparison itself (same IEEE compare in both engines on the same
    parquet doubles); everything downstream is row_number arithmetic,
    integer counts, ms differences, and one HALF_UP ratio.

    Plan shape (100 TB): ONE scan, then one shuffle on `id` (the
    storage clustering key — shuffle-free after a bucketed write); the
    row_number and running-count windows share that partitioning, and
    both aggregation levels — (id, island) then (id) — hash-cluster on
    a superset of `id`, so neither adds an exchange. The ORACLE keeps
    the definitional two-branch totals-join form, so the driver's hash
    compare re-proves the single-tree rewrite every round. Episode
    cardinality ≤ sample cardinality — no fan-out anywhere.
    """
    base = dedup_lww(scan_interval(meas, ids, from_ms, to_ms, flag))
    # ONE tree, ONE scan: the island key for exceeding rows is
    # rn_all − running_count(exceeding) — both windows share the `id`
    # partitioning, and non-exceeding rows carry a NULL island so the
    # same two-level aggregate counts them without a second branch
    # (a totals-vs-episodes join would re-scan: diverging projections
    # defeat exchange reuse).
    w = Window.partitionBy("id").orderBy("time")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = F.col("value") > threshold
    rows = base.select(
        "id",
        "time",
        F.when(
            e,
            F.row_number().over(w)
            - F.sum(F.when(e, 1).otherwise(0)).over(wr),
        ).alias("isl"),
    )
    # groupBy (id, isl) and groupBy (id) both hash-cluster on a
    # superset of `id`, so neither adds an exchange past the window's
    buckets = rows.groupBy("id", "isl").agg(
        F.count("*").alias("n_samp"),
        F.min("time").alias("t0"),
        F.max("time").alias("t1"),
    )
    from dariadb_spark.ext.exact import ratio_round_spark

    ep = F.col("isl").isNotNull()
    return (
        buckets.groupBy("id")
        .agg(
            F.sum("n_samp").alias("n_samples"),
            F.sum(F.when(ep, 1).otherwise(0)).alias("n_episodes"),
            F.max(F.when(ep, F.col("n_samp"))).alias("longest_run"),
            F.max(F.when(ep, F.col("t1") - F.col("t0"))).alias(
                "longest_run_ms"
            ),
            F.sum(F.when(ep, F.col("n_samp")).otherwise(0)).alias(
                "n_exceed"
            ),
        )
        .selectExpr(
            "id",
            "n_samples",
            "CAST(n_episodes AS BIGINT) AS n_episodes",
            "CAST(coalesce(longest_run, 0) AS BIGINT) AS longest_run",
            "CAST(coalesce(longest_run_ms, 0) AS BIGINT) AS longest_run_ms",
            "CAST(n_exceed AS BIGINT) AS n_exceed",
            ratio_round_spark("n_exceed", "n_samples", 4)
            + " AS exceed_frac",
        )
        .orderBy("id")
    )


def _run_lengths_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time, value FROM (
        SELECT id, time, value, flag, {_DEDUP_RN} AS rn
        FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
r AS (SELECT id, time, value,
             row_number() OVER (PARTITION BY id ORDER BY time) AS rn
      FROM s),
e AS (SELECT id, time, rn,
             rn - row_number() OVER (PARTITION BY id ORDER BY time) AS isl
      FROM r WHERE value > {RUN_THRESHOLD}),
ep AS (SELECT id, isl, count(*) AS n_samp,
              max(time) - min(time) AS dur_ms
       FROM e GROUP BY id, isl),
ps AS (SELECT id, count(*) AS n_episodes, max(n_samp) AS longest_run,
              max(dur_ms) AS longest_run_ms, sum(n_samp) AS n_exceed
       FROM ep GROUP BY id),
tot AS (SELECT id, max(rn) AS n_samples FROM r GROUP BY id)
SELECT t.id, t.n_samples,
       CAST(coalesce(p.n_episodes, 0) AS BIGINT) AS n_episodes,
       CAST(coalesce(p.longest_run, 0) AS BIGINT) AS longest_run,
       CAST(coalesce(p.longest_run_ms, 0) AS BIGINT) AS longest_run_ms,
       CAST(coalesce(p.n_exceed, 0) AS BIGINT) AS n_exceed,
       {ratio_round_duck("coalesce(p.n_exceed, 0)", "t.n_samples", 4)}
         AS exceed_frac
FROM tot t LEFT JOIN ps p ON t.id = p.id
ORDER BY t.id"""


SERIES_RUN_LENGTHS_SQL = _run_lengths_sql()

# Registered round 15 (staged round 14: implemented + oracled + pytest
# parity incl. planted-episode fixtures + 100k-row stress + hash-matched
# at sf0.1 in the staged second-pass sweep).
register("ext_series_run_lengths", series_run_lengths, SERIES_RUN_LENGTHS_SQL)


def _streaming_run_lengths_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as _streaming_ewma_parity.
    from dariadb_spark.streaming.runlen import streaming_run_lengths_parity

    return streaming_run_lengths_parity(spark, sf)


# Registered round 15 (staged round 14). The stateful episode-fold
# ingest twin shares the batch SERIES_RUN_LENGTHS_SQL oracle —
# statefulness must make the micro-batching invisible, the contract
# every streaming parity row carries.
register(
    "streaming_run_lengths_parity",
    _streaming_run_lengths_parity,
    SERIES_RUN_LENGTHS_SQL,
)


def _streaming_counter_rate_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as _streaming_ewma_parity.
    from dariadb_spark.streaming.rate import streaming_counter_rate_parity

    return streaming_counter_rate_parity(spark, sf)


# Registered round 15 (staged round 14). The stateful counter-rate
# ingest twin shares the batch COUNTER_RATE_SQL oracle.
register(
    "streaming_counter_rate_parity",
    _streaming_counter_rate_parity,
    COUNTER_RATE_SQL,
)


# --- data-completeness audit (gaps / coverage) --------------------------------
# Registered round 15 (staged round 14 with the full discipline:
# implemented + oracled + pytest parity + planted stress first,
# registered at the window rotation).
#
# The monitoring-SLA verb: "is this series ARRIVING?" — the longest
# silent stretch, the count of outage-grade gaps, the exact mean and
# rank-walk median inter-sample gap, and the fraction of hourly grid
# cells populated. NOT `ext_sessionize` (one row per activity burst —
# the complement view on the events axis) and NOT `ext_gap_fill`
# (which REPAIRS missing cells; this one MEASURES them): the audit
# emits per-series scalars, including grid coverage, that neither
# exposes, and it is the screen a user runs to decide whether gap_fill
# output is trustworthy at all.

GAP_TOL_MS = 12 * HOUR_MS  # an outage-grade gap (fixture median ≈ 6.7 h)


def series_data_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r15 window (:func:`series_data_gaps_op`)."""
    return series_data_gaps_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, GAP_TOL_MS, 0
    )


def series_data_gaps_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    tol_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series completeness audit over the closed interval. Series
    with fewer than 2 samples are dropped (no gap is defined).

    Exactness: gaps are int64 ms differences; the median gap is the
    MAD recipe's doubled rank walk (the sum of the two middle order
    statistics — an even count's midpoint never leaves the integers)
    with ONE /2.0 at the output; the mean gap is the HALF_UP ratio of
    the exact span over n−1; coverage is a HALF_UP ratio of integer
    grid-cell counts on the gap_fill grid-origin bucketing.

    Plan shape (100 TB): ONE scan, one shuffle on `id`, then the lag
    and rank windows plus the single conditional-aggregate pass inside
    that partitioning — the median rides the same groupBy as the other
    five fields (the ORACLE keeps the definitional stats-join-median
    two-branch form, so the driver's hash compare re-proves the
    single-tree rewrite every round). The hourly-grid coverage term
    counts DISTINCT buckets per series (bounded by the interval's cell
    count, 361 here), never materializing the grid itself.
    """
    n_cells = (to_ms - from_ms) // HOUR_MS + 1
    base = dedup_lww(scan_interval(meas, ids, from_ms, to_ms, flag))
    # ONE tree, ONE scan: the lag window, the gap-rank window, and the
    # per-series gap count all share the `id` partitioning (a separate
    # median branch would re-scan — diverging projections defeat
    # exchange reuse); the one NULL gap per series (the first sample)
    # ranks LAST explicitly, so the non-null gaps own ranks 1..m in
    # both engines regardless of null-ordering defaults.
    w = Window.partitionBy("id").orderBy("time")
    g = base.select(
        "id",
        "time",
        (F.col("time") - F.lag("time", 1).over(w)).alias("gap"),
        (
            F.col("time")
            - ((F.col("time") - F.lit(from_ms)) % F.lit(HOUR_MS))
        ).alias("cell"),
    )
    wr = Window.partitionBy("id").orderBy(
        F.col("gap").isNull(), F.col("gap"), F.col("time")
    )
    ranked = g.select(
        "id", "time", "gap", "cell",
        F.row_number().over(wr).alias("rn"),
        F.count("gap").over(Window.partitionBy("id")).alias("m"),
    )
    from dariadb_spark.ext.exact import ratio_round_spark

    mid = F.expr(
        "gap IS NOT NULL AND (rn = (m + 1) DIV 2 OR rn = (m + 2) DIV 2)"
    )
    return (
        ranked.groupBy("id")
        .agg(
            F.count("*").alias("n_samples"),
            F.max("gap").alias("longest_gap_ms"),
            F.sum(F.when(F.col("gap") > tol_ms, 1).otherwise(0))
            .cast("bigint")
            .alias("n_gaps_over_tol"),
            (F.max("time") - F.min("time")).alias("span_ms"),
            F.countDistinct("cell").alias("n_cells_hit"),
            (2 * F.sum(F.when(mid, F.col("gap")))
             / F.sum(F.when(mid, 1)))
            .cast("bigint")
            .alias("med2"),
        )
        .where(F.col("n_samples") >= 2)
        .selectExpr(
            "id",
            "n_samples",
            "longest_gap_ms",
            "n_gaps_over_tol",
            ratio_round_spark("span_ms", "n_samples - 1", 1)
            + " AS mean_gap_ms",
            "med2 / 2.0d AS median_gap_ms",  # double literal: DECIMAL stays out
            ratio_round_spark("n_cells_hit", str(n_cells), 4)
            + " AS coverage_frac",
        )
        .orderBy("id")
    )


def _data_gaps_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    n_cells = (TO_MS - FROM_MS) // HOUR_MS + 1
    return f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time FROM (
        SELECT id, time, value, flag, {_DEDUP_RN} AS rn
        FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
g AS (SELECT id, time,
             time - lag(time, 1) OVER (PARTITION BY id ORDER BY time) AS gap,
             time - ((time - {FROM_MS}) % {HOUR_MS}) AS cell
      FROM s),
st AS (SELECT id, count(*) AS n_samples, max(gap) AS longest_gap_ms,
              CAST(sum(CASE WHEN gap > {GAP_TOL_MS} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_gaps_over_tol,
              max(time) - min(time) AS span_ms,
              count(DISTINCT cell) AS n_cells_hit
       FROM g GROUP BY id),
gr AS (SELECT id, gap,
              row_number() OVER (PARTITION BY id ORDER BY gap, time) AS rn,
              count(*) OVER (PARTITION BY id) AS m
       FROM g WHERE gap IS NOT NULL),
md AS (SELECT id, CAST(2 * sum(gap) / count(*) AS BIGINT) AS med2
       FROM gr WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
       GROUP BY id)
SELECT t.id, t.n_samples, t.longest_gap_ms, t.n_gaps_over_tol,
       {ratio_round_duck("t.span_ms", "t.n_samples - 1", 1)} AS mean_gap_ms,
       m.med2 / 2.0 AS median_gap_ms,
       {ratio_round_duck("t.n_cells_hit", str(n_cells), 4)}
         AS coverage_frac
FROM st t JOIN md m ON t.id = m.id
WHERE t.n_samples >= 2
ORDER BY t.id"""


SERIES_DATA_GAPS_SQL = _data_gaps_sql()

# Registered round 15 (staged round 14: implemented + oracled + pytest
# parity incl. planted-gap fixtures + 100k-row stress + hash-matched at
# sf0.1 in the staged second-pass sweep).
register("ext_series_data_gaps", series_data_gaps, SERIES_DATA_GAPS_SQL)


# --- per-series trend screen (OLS slope + Mann–Kendall) -----------------------
# Registered round 15 (staged round 14 with the full discipline:
# implemented + oracled + pytest parity + planted stress first,
# registered at the window rotation).
#
# The family's missing verb: everything else DESCRIBES the series
# (ACF, SAX, entropy, seasonal strength, PSI, MASE) — none answers "is
# it going UP?". Two classical answers in one row, on the ACF/xcorr
# cent-quantized PAA grid: the OLS slope (with its exact wide-rational
# normal-equation terms) and the Mann–Kendall S/tau (the distribution-
# free trend test — pure pair-sign counting, immune to spikes the OLS
# slope chases). Disagreement between the two IS the signal a user
# wants surfaced (one spike-driven, one rank-driven).

TREND_BUCKET_MS = HOUR_MS  # the shared PAA grid


def _count_inversions(y) -> int:
    """#{i < j : y[i] > y[j]} by bottom-up merge counting, O(m log m).

    Each level splits the array into sorted runs of `width`; for a run
    pair (left, right) every cross inversion is a left element strictly
    greater than a right element, counted vectorized with searchsorted
    (left is sorted, so > r means past the 'right' insertion point).
    Within-run inversions were counted at finer levels. The block
    re-sort (O(k log k) instead of an O(k) merge) keeps the body pure
    numpy; total cost stays O(m log² m) worst case, ~ms at m = 10k.
    """
    import numpy as np

    arr = np.asarray(y, dtype=np.int64).copy()
    n = arr.size
    inv = 0
    width = 1
    while width < n:
        for lo in range(0, n - width, 2 * width):
            mid = lo + width
            hi = min(lo + 2 * width, n)
            left = arr[lo:mid]
            right = arr[mid:hi]
            inv += int(
                (left.size - np.searchsorted(left, right, side="right")).sum()
            )
            arr[lo:hi] = np.sort(arr[lo:hi], kind="mergesort")
        width *= 2
    return inv


def _mk_fold(key, pdf):
    """Per-series Mann–Kendall S = Σ_{i<j} sign(y_j − y_i) over the
    x-ordered cells, via S = pairs − ties − 2·inversions: `pairs` =
    m(m−1)/2, `ties` = Σ_v c_v(c_v−1)/2 over value multiplicities
    (tied pairs contribute 0 regardless of position), `inversions` =
    strict descents counted by :func:`_count_inversions`. Exact int64
    arithmetic — the identity is pair-set partitioning (each pair is
    concordant, discordant, or tied exactly once)."""
    import numpy as np
    import pandas as pd

    y = pdf.sort_values("x")["yq"].to_numpy(dtype=np.int64)
    m = y.size
    pairs = m * (m - 1) // 2
    _, cnt = np.unique(y, return_counts=True)
    ties = int((cnt * (cnt - 1) // 2).sum())
    s = pairs - ties - 2 * _count_inversions(y)
    return pd.DataFrame({"mid": [int(key[0])], "mk_s": [int(s)]})


def series_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r15 window (:func:`series_trend_op`)."""
    return series_trend_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, TREND_BUCKET_MS, 0
    )


def series_trend_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series trend over the interval: the OLS slope in value-units
    per grid step and the Mann–Kendall statistic/tau over the populated
    grid cells. Series with fewer than 2 populated cells are dropped
    (neither statistic is defined).

    Exactness: cells are the ACF's HALF_UP cent-quantized PAA means
    (int64); with x the grid index and m cells, the normal-equation
    terms num = m·Σxy − Σx·Σy and den = m·Σx² − (Σx)² accumulate in
    DECIMAL(38,0)/HUGEINT — exact and order-free; Mann–Kendall S is an
    integer sum of pair signs. Each output row sees exactly TWO float
    expressions, round(num/den/100, 6) and round(2S/(m(m−1)), 6) —
    identical shape on both engines. A zero den (one populated cell
    column — impossible for m ≥ 2 distinct x) cannot occur.

    Plan shape (100 TB): the cell table is the ACF's (id, cell)
    partial aggregate; the OLS terms are ONE more aggregate on `id`;
    Mann–Kendall S is computed per series by an ``applyInPandas``
    merge-count fold in O(m log m) over the m grid cells (m ≤
    interval/bucket — 361 here, 8.8k for a year of hourly cells):
    S = pairs − ties − 2·inversions, with inversions counted by a
    bottom-up merge over the x-ordered yq sequence and ties from the
    value multiplicities — exact integers end to end, no pair
    materialization. The DuckDB oracle keeps the DEFINITIONAL pair
    join (sum of pair signs), so the hash gate proves the O(m log m)
    rewrite equals the definition. Group size is bounded by the GRID,
    never by the sample count, so the Arrow batch per series is small
    and parallelism is across series.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select(
            "id", floor_bucket(F.col("time"), bucket_ms).alias("b"),
            y.alias("y"),
        )
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        .selectExpr(
            "id",
            f"(b DIV {bucket_ms}) AS x",  # grid index (b ≥ 0 here)
            # signed HALF_UP: decompose by sign — Spark DIV and DuckDB //
            # BOTH truncate toward zero; operands here are magnitudes
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )
    ols = cells.groupBy("id").agg(
        F.count("*").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("yq").alias("sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("yq")).alias("sxy"),
    ).where(F.col("m") >= 2)
    mk = cells.groupBy("id").applyInPandas(
        _mk_fold, schema="mid bigint, mk_s bigint"
    )
    return (
        ols.join(mk, ols.id == mk.mid)
        .selectExpr(
            "id",
            "m AS n_cells",
            "round(CAST(m * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / CAST(m * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            " / 100.0d, 6) AS ols_slope",
            "mk_s",
            "round(CAST(2 * mk_s AS DOUBLE) / (CAST(m AS DOUBLE) * (m - 1)),"
            " 6) AS mk_tau",
        )
        .orderBy("id")
    )


def _trend_sql() -> str:
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', TREND_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id, b // {TREND_BUCKET_MS} AS x,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END AS yq
          FROM pts GROUP BY id, b),
ols AS (SELECT id, count(*) AS m,
               CAST(sum(x) AS HUGEINT) AS sx,
               CAST(sum(yq) AS HUGEINT) AS sy,
               sum(CAST(x AS HUGEINT) * x) AS sxx,
               sum(CAST(x AS HUGEINT) * yq) AS sxy
        FROM cells GROUP BY id HAVING count(*) >= 2),
mk AS (SELECT a.id AS mid,
              CAST(sum(sign(b.yq - a.yq)) AS BIGINT) AS mk_s
       FROM cells a JOIN cells b ON a.id = b.id AND a.x < b.x
       GROUP BY a.id)
SELECT o.id, o.m AS n_cells,
       round(CAST(o.m * o.sxy - o.sx * o.sy AS DOUBLE)
             / CAST(o.m * o.sxx - o.sx * o.sx AS DOUBLE) / 100.0, 6)
         AS ols_slope,
       k.mk_s,
       round(CAST(2 * k.mk_s AS DOUBLE)
             / (CAST(o.m AS DOUBLE) * (o.m - 1)), 6) AS mk_tau
FROM ols o JOIN mk k ON o.id = k.mid
ORDER BY o.id"""


SERIES_TREND_SQL = _trend_sql()

# Registered round 15 (staged round 14, plus the VERDICT-r14-item-5
# O(m log m) Mann–Kendall rewrite landed BEFORE registration: the Spark
# side merge-counts inversions per series, the oracle keeps the
# definitional pair join, the hash gate proves them equal).
register("ext_series_trend", series_trend, SERIES_TREND_SQL)


# --- Holt double-exponential forecast (level + trend) -------------------------
# STAGED for the round-16 driver window (the staging every late operator
# goes through: implemented + oracled + pytest parity + planted stress
# now, registered at the next window rotation).
#
# The family's "what comes NEXT?" verb: ext_series_trend answers "is it
# going up?", this answers "where will it be in h steps?" — Holt's
# linear method (level + trend smoothing, public textbook form:
# Hyndman & Athanasopoulos, Forecasting: Principles and Practice §8.2)
# in the SAME truncated-window rendering as ext_ewma: the recursive
# smoothing is not window-expressible, the K-lag weighted-chain form
# is — level = normalized Σ αᵏ·x_{t−k}, trend = the SAME chain over
# first differences Δx (SES on differences — the drift estimator),
# forecast_h = level + h·trend. The weights are shared Python-folded
# literals and both chains are fixed left-to-right additions, so every
# float is bit-identical across engines (the EWMA lesson, reused).

HOLT_H = 5  # forecast horizon in samples


def series_holt(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r16 window (:func:`series_holt_op`)."""
    return series_holt_op(measurements(spark, sf), IDS, FROM_MS, TO_MS)


def series_holt_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
    horizon: int = HOLT_H,
) -> DataFrame:
    """Per-sample Holt level/trend/h-step forecast over the interval.

    Exactness: both chains are explicit Σ wₖ·lag(·, k) with fixed
    addition order and literal weights (bit-identical doubles across
    engines); the first-difference input to the trend chain is one
    IEEE subtraction of raw values. Rows with no predecessor emit a
    NULL trend/forecast (a drift estimate needs ≥2 samples) — the
    NULL is the same CASE shape in both engines.

    Plan shape (100 TB): one shuffle on ``id`` (shuffle-free on a
    bucketed store); the K+1 lags of both chains evaluate in ONE
    sorted pass per partition — same cost class as ext_ewma, no
    second exchange for the difference chain (it reuses the window).
    """
    meas = scan_interval(meas, ids, from_ms, to_ms, flag)
    s = _interval_dedup(meas)
    w = Window.partitionBy("id").orderBy("time")
    d = F.col("value") - F.lag("value", 1).over(w)
    s = s.select("id", "time", "value", d.alias("dx"))
    lnum = None
    lden = None
    tnum = None
    tden = None
    for k, wk in enumerate(_EWMA_W):
        lv = F.lag("value", k).over(w) if k else F.col("value")
        lnum_t = F.when(lv.isNotNull(), F.lit(wk) * lv).otherwise(0.0)
        lden_t = F.when(lv.isNotNull(), F.lit(wk)).otherwise(0.0)
        lnum = lnum_t if lnum is None else lnum + lnum_t
        lden = lden_t if lden is None else lden + lden_t
        dv = F.lag("dx", k).over(w) if k else F.col("dx")
        tnum_t = F.when(dv.isNotNull(), F.lit(wk) * dv).otherwise(0.0)
        tden_t = F.when(dv.isNotNull(), F.lit(wk)).otherwise(0.0)
        tnum = tnum_t if tnum is None else tnum + tnum_t
        tden = tden_t if tden is None else tden + tden_t
    level = F.round(lnum / lden, 6)
    trend = F.when(tden > 0.0, F.round(tnum / tden, 6)).otherwise(
        F.lit(None).cast("double")
    )
    return (
        s.select(
            "id",
            "time",
            "value",
            level.alias("level"),
            trend.alias("trend"),
            F.when(
                tden > 0.0,
                F.round(
                    F.round(lnum / lden, 6)
                    + horizon * F.round(tnum / tden, 6),
                    6,
                ),
            )
            .otherwise(F.lit(None).cast("double"))
            .alias(f"forecast_{horizon}"),
        )
        .orderBy("id", "time")
    )


def _holt_sql() -> str:
    lnums, ldens, tnums, tdens = [], [], [], []
    for k, wk in enumerate(_EWMA_W):
        lv = f"lag(value, {k}) OVER w" if k else "value"
        dv = f"lag(dx, {k}) OVER w" if k else "dx"
        lnums.append(f"CASE WHEN {lv} IS NOT NULL THEN {wk!r} * {lv} ELSE 0.0 END")
        ldens.append(f"CASE WHEN {lv} IS NOT NULL THEN {wk!r} ELSE 0.0 END")
        tnums.append(f"CASE WHEN {dv} IS NOT NULL THEN {wk!r} * {dv} ELSE 0.0 END")
        tdens.append(f"CASE WHEN {dv} IS NOT NULL THEN {wk!r} ELSE 0.0 END")
    ln, ld = " + ".join(lnums), " + ".join(ldens)
    tn, td = " + ".join(tnums), " + ".join(tdens)
    return f"""WITH {MEAS_CTE_SQL},
s0 AS (SELECT id, time, value FROM (
         SELECT id, time, value, flag, {_DEDUP_RN} AS rn
         FROM measurements WHERE {_interval_sql()}) WHERE rn = 1),
s AS (SELECT id, time, value,
             value - lag(value, 1) OVER (PARTITION BY id ORDER BY time) AS dx
      FROM s0)
SELECT id, time, value,
       round(({ln}) / ({ld}), 6) AS level,
       CASE WHEN ({td}) > 0.0
            THEN round(({tn}) / ({td}), 6) ELSE NULL END AS trend,
       CASE WHEN ({td}) > 0.0
            THEN round(round(({ln}) / ({ld}), 6)
                       + {HOLT_H} * round(({tn}) / ({td}), 6), 6)
            ELSE NULL END AS forecast_{HOLT_H}
FROM s
WINDOW w AS (PARTITION BY id ORDER BY time)
ORDER BY id, time"""


SERIES_HOLT_SQL = _holt_sql()

# Registered round 16 (staged round 15 with the full discipline:
# implemented + oracled + pytest parity incl. the planted-ramp closed
# form + planted ≥100k-row stress + hash-matched at sf0.1 in the
# staged sweep).
register("ext_series_holt", series_holt, SERIES_HOLT_SQL)


# --- windowed A/B level-shift screen (Welch t²) --------------------------------
# STAGED for the round-16 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). After changepoint_cusum's "WHEN did
# the mean move?" and series_trend's "is it drifting?", this is the
# family's "did it move, and is the move SIGNIFICANT?" verb: the
# fixed-boundary A/B comparison every deploy/incident review runs —
# Welch's unequal-variance t² between the two halves of the interval,
# with the decision exact-integer wherever the statistic degenerates.

#: the A/B boundary: the exact midpoint of the standard interval
#: (both endpoints are even ms, so the midpoint is integral)
LEVEL_SHIFT_SPLIT_MS = (FROM_MS + TO_MS) // 2
#: t² decision line: |t| ≥ 4 (two-sided p ≪ 0.001 at the fixture's
#: per-side sample sizes) — a LITERAL, so the flag is reproducible
LEVEL_SHIFT_T2 = 16.0


def series_level_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r16 window (:func:`series_level_shift_op`)."""
    return series_level_shift_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, LEVEL_SHIFT_SPLIT_MS
    )


def series_level_shift_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    split_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series Welch t² between the interval's two sides of
    ``split_ms``: side counts, HALF_UP means, the mean shift, t², and
    the shift flag. Series need ≥ 2 samples per side (otherwise the
    variance term is undefined) — thinner series are dropped.

    Exactness: samples are cent-quantized int64 (y = round(value·100));
    per-side n/Σy/Σy² accumulate in int64/DECIMAL(38,0) — exact and
    order-free, and EVERYTHING downstream is integer-rational: t² is
    the exact ratio dmn²(n_a−1)(n_b−1)/D rendered 4-dp HALF_UP, the
    shift decision is the integer comparison num ≥ T²·D, and the
    displayed means/shift are signed-wide HALF_UP rationals (see
    :func:`level_shift_report` for the algebra and the overflow
    ceiling). Degenerate case (both sides constant, D = 0): t² is NULL
    and the flag falls back to the PURE INTEGER test dmn ≠ 0.

    Plan shape (100 TB): one interval scan (predicate pushed to the
    parquet range prune) into ONE (id)-keyed partial aggregate carrying
    six conditional sums — a single shuffle of |series| rows; every
    expression after the aggregate is per-row arithmetic on the
    |series|-row table. No join, no window, no second scan.
    """
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    side = (F.col("time") >= F.lit(split_ms)).cast("int")
    pts = base.select("id", side.alias("s"), y.alias("y"))
    yd = F.col("y").cast("decimal(38,0)")
    agg = pts.groupBy("id").agg(
        F.sum(F.when(F.col("s") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("s") == 0, F.col("y")).otherwise(0))
        .alias("sa"),
        F.sum(F.when(F.col("s") == 1, F.col("y")).otherwise(0))
        .alias("sb"),
        F.sum(F.when(F.col("s") == 0, yd * F.col("y")).otherwise(0))
        .alias("ssa"),
        F.sum(F.when(F.col("s") == 1, yd * F.col("y")).otherwise(0))
        .alias("ssb"),
    )
    return level_shift_report(agg)


def level_shift_report(agg: DataFrame) -> DataFrame:
    """The Welch projection over a per-series sums table (id, n_a, n_b,
    sa, sb, ssa, ssb) — shared VERBATIM by the batch operator and the
    streaming ingest twin (the one source of truth; ssa/ssb may arrive
    as int64 from the fold — cast wide here, not upstream).

    t² is computed as an EXACT INTEGER RATIO, never a float pipeline:
    algebraically t² = dmn²·(n_a−1)(n_b−1) / D with
    D = vna·n_b²(n_b−1) + vnb·n_a²(n_a−1) — both operands DECIMAL(38,0)
    — so the 4-dp display is the wide HALF_UP closure and the shift
    decision is the pure integer comparison num ≥ T²·D (found in the
    r15 review: round(float, 4) can diverge between Spark's
    shortest-rendering HALF_UP and DuckDB/python's binary-value
    rounding when the rendering lands on a .xxxx5 — the same class
    ext/analytics.py documents for frame means). Overflow ceiling:
    dmn²·(n_a−1)(n_b−1)·2·10⁴ must fit DECIMAL(38) — with cent values
    ≤ 10⁶ that holds to ~10⁵ samples per side per series; past that,
    pre-scale values (the token_budget_plan convention).
    D = 0 IFF both sides are constant (the degenerate branch)."""
    from dariadb_spark.ext.exact import (
        ratio_round_signed_wide_spark,
        ratio_round_wide_spark,
    )

    filtered = agg.where((F.col("n_a") >= 2) & (F.col("n_b") >= 2))
    # exact integer cores: the mean-shift numerator and the two
    # variance numerators (zero IFF the side is constant)
    core = filtered.selectExpr(
        "id", "n_a", "n_b", "sa", "sb",
        "CAST(sa AS DECIMAL(38,0)) * n_b - CAST(sb AS DECIMAL(38,0)) * n_a"
        " AS dmn",
        "n_a * CAST(ssa AS DECIMAL(38,0))"
        " - CAST(sa AS DECIMAL(38,0)) * sa AS vna",
        "n_b * CAST(ssb AS DECIMAL(38,0))"
        " - CAST(sb AS DECIMAL(38,0)) * sb AS vnb",
    ).selectExpr(
        "id", "n_a", "n_b", "sa", "sb", "dmn",
        "dmn * dmn * (n_a - 1) * (n_b - 1) AS t2_num",
        "vna * n_b * n_b * (n_b - 1) + vnb * n_a * n_a * (n_a - 1)"
        " AS t2_den",
    )
    t2_int = int(LEVEL_SHIFT_T2)
    return core.selectExpr(
        "id",
        "n_a",
        "n_b",
        ratio_round_signed_wide_spark("sa", "100 * n_a", 6) + " AS mean_a",
        ratio_round_signed_wide_spark("sb", "100 * n_b", 6) + " AS mean_b",
        ratio_round_signed_wide_spark("dmn", "100 * n_a * n_b", 6)
        + " AS mean_shift",
        "CASE WHEN t2_den = 0 THEN CAST(NULL AS DOUBLE) ELSE "
        + ratio_round_wide_spark("t2_num", "t2_den", 4)
        + " END AS t2",
        f"CASE WHEN t2_den = 0 THEN CAST(dmn != 0 AS INT)"
        f" ELSE CAST(t2_num >= {t2_int} * t2_den AS INT) END AS shifted",
    ).orderBy("id")


def _level_shift_sql() -> str:
    from dariadb_spark.ext.exact import (
        ratio_round_signed_wide_duck,
        ratio_round_wide_duck,
    )

    t2_int = int(LEVEL_SHIFT_T2)
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id,
               CAST(time >= {LEVEL_SHIFT_SPLIT_MS} AS INT) AS s,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
agg AS (SELECT id,
               CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN s = 0 THEN y ELSE 0 END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN s = 1 THEN y ELSE 0 END) AS BIGINT) AS sb,
               sum(CASE WHEN s = 0 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
                 AS ssa,
               sum(CASE WHEN s = 1 THEN CAST(y AS HUGEINT) * y ELSE 0 END)
                 AS ssb
        FROM pts GROUP BY id
        HAVING n_a >= 2 AND n_b >= 2),
core AS (SELECT id, n_a, n_b, sa, sb,
                CAST(sa AS HUGEINT) * n_b - CAST(sb AS HUGEINT) * n_a AS dmn,
                n_a * ssa - CAST(sa AS HUGEINT) * sa AS vna,
                n_b * ssb - CAST(sb AS HUGEINT) * sb AS vnb
         FROM agg),
rat AS (SELECT id, n_a, n_b, sa, sb, dmn,
               dmn * dmn * (n_a - 1) * (n_b - 1) AS t2_num,
               vna * n_b * n_b * (n_b - 1) + vnb * n_a * n_a * (n_a - 1)
                 AS t2_den
        FROM core)
SELECT id, n_a, n_b,
       {ratio_round_signed_wide_duck("sa", "100 * n_a", 6)} AS mean_a,
       {ratio_round_signed_wide_duck("sb", "100 * n_b", 6)} AS mean_b,
       {ratio_round_signed_wide_duck("dmn", "100 * n_a * n_b", 6)}
         AS mean_shift,
       CASE WHEN t2_den = 0 THEN CAST(NULL AS DOUBLE)
            ELSE {ratio_round_wide_duck("t2_num", "t2_den", 4)} END AS t2,
       CASE WHEN t2_den = 0 THEN CAST(dmn != 0 AS INT)
            ELSE CAST(t2_num >= {t2_int} * t2_den AS INT) END AS shifted
FROM rat ORDER BY id"""


SERIES_LEVEL_SHIFT_SQL = _level_shift_sql()

# Registered round 16 (staged round 15, second staging pass, full
# discipline: implemented + oracled + pytest parity incl. the planted
# A/B-shift closed form, the Python Welch replay property test, and the
# Welch-rounding divergence fixed pre-staging + planted 20M-row stress
# + hash-matched at sf0.1 in the staged sweep).
register("ext_series_level_shift", series_level_shift, SERIES_LEVEL_SHIFT_SQL)


def _streaming_ohlc_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as _streaming_ewma_parity.
    from dariadb_spark.streaming.ohlc import streaming_ohlc_parity

    return streaming_ohlc_parity(spark, sf)


# Registered round 16 (staged round 15). The stateful bar-maintenance
# ingest twin shares the batch OHLC_SQL oracle — statefulness must make
# the micro-batching invisible, the contract every streaming parity row
# carries; min/max/first/last merging is arrival-order-free, so unlike
# the rate/runlen folds there is NO in-order contract to enforce.
register("streaming_ohlc_parity", _streaming_ohlc_parity, OHLC_SQL)


def _streaming_level_shift_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as _streaming_ewma_parity.
    from dariadb_spark.streaming.levelshift import (
        streaming_level_shift_parity,
    )

    return streaming_level_shift_parity(spark, sf)


# Registered round 16 (staged round 15, second staging pass). The
# stateful A/B-monitor ingest twin shares the batch
# SERIES_LEVEL_SHIFT_SQL oracle; the per-series state is the six int64
# side accumulators, which commute — NO in-order contract — and the
# Welch projection is the batch level_shift_report VERBATIM.
register(
    "streaming_level_shift_parity",
    _streaming_level_shift_parity,
    SERIES_LEVEL_SHIFT_SQL,
)


# --- autocorrelation function (sequence-lag ACF) -------------------------------
# STAGED for the round-17 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). After seasonal_strength's "does the
# hour-of-day phase EXPLAIN the variance?" this is the family's "does it
# repeat, and at WHICH lag?" verb: the classic ACF the Box–Jenkins
# identification step reads — computed on the hourly PAA grid, with the
# lag defined on the OBSERVED cell sequence (row-number order), so gaps
# do not manufacture phantom lags and the statistic is deterministic on
# any sampling pattern. Named seq_acf because the REGISTERED
# ext_series_acf (this module, "sample autocorrelation function"
# section) lags on the TIME axis — pairs exist only where a cell sits
# exactly k buckets later, a different statistic on gappy data; on a
# complete grid the two agree except for the normalization of r_k's
# numerator (n_pairs vs n_cells moments). The names never shadow.

SEQ_ACF_BUCKET_MS = HOUR_MS
SEQ_ACF_LAGS = 5


def series_seq_acf(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r17 window (:func:`series_seq_acf_op`)."""
    return series_seq_acf_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, SEQ_ACF_BUCKET_MS, SEQ_ACF_LAGS
    )


def series_seq_acf_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    bucket_ms: int,
    lags: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series autocorrelation at sequence lags 1..``lags`` over the
    PAA grid: r_k = Σ(y_t−ȳ)(y_{t−k}−ȳ) / Σ(y_t−ȳ)² with the sums over
    the observed-cell sequence.

    Exactness recipe (the seasonal_strength pattern — FIXED-ARITY float
    expressions assembled from exact wide integers, so no accumulation
    order exists to diverge): cells are HALF_UP cent PAA means (int64);
    ONE per-id window pass materializes the k lagged columns; ONE
    aggregate per id collects n, S = Σy, Q = Σy² and per lag k the
    exact DECIMAL/HUGEINT moments P_k = Σ y_t·y_{t−k},
    A_k = Σ_{t>k} y_t, B_k = Σ_{t≤n−k} y_t. Then

        n²·num_k = n²·P_k − n·S·(A_k + B_k) + (n−k)·S²
        n²·den   = n²·Q − n·S²

    are exact wide integers and each r_k is ONE rounded double
    division. Zero-variance series are dropped (den = 0); lags ≥ n
    yield NULL acf (no pairs to correlate).

    Plan shape (100 TB): one (id, cell) partial-agg shuffle, one
    per-id sorted window pass carrying the k lag columns, one per-id
    aggregate, then a k-row stack of the single wide row — no join, no
    second shuffle, group state bounded by the grid length."""
    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    y = F.round(F.col("value") * 100).cast("long")
    cells = (
        base.select(
            "id", floor_bucket(F.col("time"), bucket_ms).alias("b"),
            y.alias("y"),
        )
        .groupBy("id", "b")
        .agg(F.sum("y").alias("fs"), F.count("*").alias("fn"))
        .selectExpr(
            "id", "b",
            # signed HALF_UP cent mean (Spark DIV truncates toward zero;
            # operands are decomposed to magnitudes)
            "CASE WHEN fs < 0 THEN -((2 * (-fs) + fn) DIV (2 * fn))"
            " ELSE (2 * fs + fn) DIV (2 * fn) END AS yq",
        )
    )
    w = Window.partitionBy("id").orderBy("b")
    lagged = cells.select(
        "id",
        "yq",
        *[F.lag("yq", k).over(w).alias(f"l{k}") for k in range(1, lags + 1)],
    )
    per_lag = []
    for k in range(1, lags + 1):
        per_lag += [
            F.sum(
                F.when(
                    F.col(f"l{k}").isNotNull(),
                    F.col("yq").cast("decimal(38,0)") * F.col(f"l{k}"),
                )
            ).alias(f"p{k}"),
            F.sum(F.when(F.col(f"l{k}").isNotNull(), F.col("yq"))).alias(
                f"a{k}"
            ),
            F.sum(F.col(f"l{k}")).alias(f"b{k}"),
        ]
    wide = lagged.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum("yq").alias("s"),
        F.sum(F.col("yq").cast("decimal(38,0)") * F.col("yq")).alias("q"),
        *per_lag,
    )
    den = (
        "(CAST(n AS DECIMAL(38,0)) * n * q"
        " - CAST(n AS DECIMAL(38,0)) * s * s)"
    )
    stacked = ", ".join(
        f"{k}L, CASE WHEN n > {k} THEN round(CAST("
        f"CAST(n AS DECIMAL(38,0)) * n * p{k}"
        f" - CAST(n AS DECIMAL(38,0)) * s * (a{k} + b{k})"
        f" + CAST(n - {k} AS DECIMAL(38,0)) * s * s"
        f" AS DOUBLE) / CAST({den} AS DOUBLE), 6) ELSE NULL END"
        for k in range(1, lags + 1)
    )
    return (
        wide.where(F.expr(f"{den} > 0"))
        .selectExpr(
            "id",
            "n AS n_cells",
            f"stack({lags}, {stacked}) AS (lag, acf)",
        )
        .select("id", "lag", "n_cells", "acf")
        .orderBy("id", "lag")
    )


def _acf_sql() -> str:
    lag_cols = ", ".join(
        f"lag(yq, {k}) OVER (PARTITION BY id ORDER BY b) AS l{k}"
        for k in range(1, SEQ_ACF_LAGS + 1)
    )
    mom_cols = ", ".join(
        f"sum(CASE WHEN l{k} IS NOT NULL"
        f" THEN CAST(yq AS HUGEINT) * l{k} END) AS p{k},"
        f" sum(CASE WHEN l{k} IS NOT NULL THEN yq END) AS a{k},"
        f" sum(l{k}) AS b{k}"
        for k in range(1, SEQ_ACF_LAGS + 1)
    )
    den = "(CAST(n AS HUGEINT) * n * q - CAST(n AS HUGEINT) * s * s)"
    arms = " UNION ALL ".join(
        f"SELECT id, {k} AS lag, CAST(n AS BIGINT) AS n_cells,"
        f" CASE WHEN n > {k} THEN round(CAST("
        f"CAST(n AS HUGEINT) * n * p{k}"
        f" - CAST(n AS HUGEINT) * s * (a{k} + b{k})"
        f" + CAST(n - {k} AS HUGEINT) * s * s"
        f" AS DOUBLE) / CAST({den} AS DOUBLE), 6) ELSE NULL END AS acf"
        f" FROM wide WHERE {den} > 0"
        for k in range(1, SEQ_ACF_LAGS + 1)
    )
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, {floor_bucket_sql('time', SEQ_ACF_BUCKET_MS)} AS b,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM measurements WHERE {_interval_sql()}),
cells AS (SELECT id, b,
                 CASE WHEN sum(y) < 0
                      THEN -((2 * (-sum(y)) + count(*)) // (2 * count(*)))
                      ELSE (2 * sum(y) + count(*)) // (2 * count(*)) END
                   AS yq
          FROM pts GROUP BY id, b),
lagged AS (SELECT id, yq, {lag_cols} FROM cells),
wide AS (SELECT id, count(*) AS n, CAST(sum(yq) AS BIGINT) AS s,
                sum(CAST(yq AS HUGEINT) * yq) AS q, {mom_cols}
         FROM lagged GROUP BY id)
SELECT id, lag, n_cells, acf FROM ({arms}) ORDER BY id, lag"""


SERIES_SEQ_ACF_SQL = _acf_sql()

# Registered round 17 (staged round 16; the SEQUENCE-lag ACF, a
# different statistic from ext_series_acf's time-lag ACF on gappy data
# — the name-shadowing bug the staging sweep caught is pinned in
# tests/test_staged_r17.py).
register("ext_series_seq_acf", series_seq_acf, SERIES_SEQ_ACF_SQL)


# --- turning-points randomness screen -------------------------------------------
# STAGED for the round-17 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). The family's "is it RANDOM at all?"
# verb, upstream of every other screen: the classic turning-points test
# (Kendall) — count strict local extrema in the per-series sample
# sequence; an i.i.d. series has E[T] = 2(n−2)/3 and
# Var[T] = (16n−29)/90, so the normalized z reads directly as
# too-smooth (z ≪ 0: trends/levels) vs too-oscillatory (z ≫ 0:
# alternation/negative autocorrelation).

TURNING_MIN_N = 3  # below three points the statistic does not exist


def series_turning_points(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r17 window
    (:func:`series_turning_points_op`)."""
    return series_turning_points_op(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, 0
    )


def series_turning_points_op(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series strict-turning-point census over the raw sample
    sequence in the tie-safe (time, value, flag) total order.

    A position t (1 < t < n) is a turning point iff y_t is a STRICT
    local extremum: y_{t−1} < y_t > y_{t+1} or y_{t−1} > y_t < y_{t+1}.
    Plateaus (either neighbor equal) never count — the comparison-only
    definition needs no products, so there is no overflow class at all.

    Exactness: y is the cent-quantized int64 (the house money rule);
    T and n are integers; expected = HALF_UP(2(n−2)/3, 6) is the exact
    integer rational; z = round(((3T − 2(n−2))/3) / √((16n−29)/90), 6)
    is ONE fixed-arity float expression from exact integers — both
    engines evaluate the identical correctly-rounded double chain, and
    a √-expression can never land on a non-dyadic decimal half (the
    exact.py doctrine), so round() agrees. Series with n < 3 are
    dropped (the statistic does not exist).

    Plan shape (100 TB): one pushed-down scan → ONE per-series sorted
    window pass carrying lag+lead → one per-id aggregate. No joins, no
    second shuffle; group state is two neighbor values per row."""
    from dariadb_spark.ext.exact import ratio_round_spark

    base = scan_interval(meas, ids, from_ms, to_ms, flag)
    w = Window.partitionBy("id").orderBy("time", "value", "flag")
    y = F.round(F.col("value") * 100).cast("long")
    seq = base.select(
        "id",
        y.alias("y"),
        F.lag(y, 1).over(w).alias("yp"),
        F.lead(y, 1).over(w).alias("yn"),
    )
    turn = (
        ((F.col("yp") < F.col("y")) & (F.col("y") > F.col("yn")))
        | ((F.col("yp") > F.col("y")) & (F.col("y") < F.col("yn")))
    )
    counts = seq.groupBy("id").agg(
        F.count("*").alias("n"),
        F.sum(F.when(turn, 1).otherwise(0)).alias("t_points"),
    )
    return turning_report(counts)


def turning_report(counts: DataFrame) -> DataFrame:
    """The shared final projection over a per-series (id, n, t_points)
    frame — the batch operator ends in it and the streaming ingest twin
    (streaming/turning.py) reuses it VERBATIM, so the float pipeline
    and the n ≥ 3 gate are engine-identical in both paths."""
    from dariadb_spark.ext.exact import ratio_round_spark

    return (
        counts.where(F.col("n") >= TURNING_MIN_N)
        .selectExpr(
            "id",
            "n",
            "t_points",
            ratio_round_spark("2 * (n - 2)", "3", 6) + " AS expected",
            "round(((3.0d * t_points - 2.0d * (n - 2)) / 3.0d)"
            " / sqrt((16.0d * n - 29.0d) / 90.0d), 6) AS z",
        )
        .orderBy("id")
    )


def _turning_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH {MEAS_CTE_SQL},
seq AS (SELECT id,
               CAST(round(value * 100) AS BIGINT) AS y,
               lag(CAST(round(value * 100) AS BIGINT), 1) OVER (
                 PARTITION BY id ORDER BY time, value, flag) AS yp,
               lead(CAST(round(value * 100) AS BIGINT), 1) OVER (
                 PARTITION BY id ORDER BY time, value, flag) AS yn
        FROM measurements WHERE {_interval_sql()}),
agg AS (SELECT id, count(*) AS n,
               CAST(sum(CASE WHEN (yp < y AND y > yn)
                              OR (yp > y AND y < yn)
                        THEN 1 ELSE 0 END) AS BIGINT) AS t_points
        FROM seq GROUP BY id HAVING count(*) >= {TURNING_MIN_N})
SELECT id, n, t_points,
       {ratio_round_duck("2 * (n - 2)", "3", 6)} AS expected,
       round(((3.0 * t_points - 2.0 * (n - 2)) / 3.0)
             / sqrt((16.0 * n - 29.0) / 90.0), 6) AS z
FROM agg ORDER BY id"""


SERIES_TURNING_POINTS_SQL = _turning_sql()

# Registered round 17 (staged round 16).
register(
    "ext_series_turning_points",
    series_turning_points,
    SERIES_TURNING_POINTS_SQL,
)


def _streaming_turning_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as _streaming_ewma_parity.
    from dariadb_spark.streaming.turning import streaming_turning_parity

    return streaming_turning_parity(spark, sf)


# Registered round 17 (staged round 16). The stateful randomness-monitor
# ingest twin shares the batch SERIES_TURNING_POINTS_SQL oracle —
# extremum detection reads the SEQUENCE, so unlike the OHLC twin this
# fold CARRIES the rate/runlen in-order contract: strictly-before
# cross-batch input raises; an exact-duplicate key is an in-order
# plateau sample (ADVICE r16).
register(
    "streaming_turning_parity",
    _streaming_turning_parity,
    SERIES_TURNING_POINTS_SQL,
)


# --- rescaled-range (R/S) long-memory screen -------------------------------------
# STAGED for the round-18 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). The family's MEMORY verb, after
# turning_points' "is it random?" and seq_acf's "how correlated at lag
# k?": Hurst's rescaled range — how far does the centered cumulative
# walk wander relative to its dispersion over fixed-size sequence
# blocks? Persistent series (trends) wander far (RS² grows superlinearly
# in block size), anti-persistent ones stay pinned. The classic
# estimator regresses log(R/S) on log(block) — sqrt+log floats; this
# screen reports the EXACT-rational building block instead: per series,
# the mean of RS² = R²/σ² over complete blocks, where both R and σ² are
# integer-exact in the scaled deviation algebra below.

RS_BLOCK = 16  # samples per block (fixture slices hold ~30 samples/id)


def series_rs_range(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r18 window (:func:`series_rs_range_op`)."""
    return series_rs_range_op(
        scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0),
        RS_BLOCK,
    )


def series_rs_range_op(meas: DataFrame, m: int) -> DataFrame:
    """(id, n_blocks, mean_rs2_micro, max_rs2_micro) — per-series mean
    and max of the squared rescaled range over complete m-sample blocks
    in the (time, value, flag) sequence order.

    Exact-rational algebra (no sqrt, no float until nothing is left to
    compute): with block sum S and sum-of-squares Q over cents, the
    scaled deviation prefix P_j = m·prefix_j − j·S is an exact int64
    walk whose range (anchored at the j=0 zero, the classic R/S
    convention) is m·R; and m²·Σ(x−μ)² = m·Q − S² exactly. So
    RS² = R²/σ² = (m·R)² / (m·(m·Q − S²)) — wait, σ² here is the block
    POPULATION variance (m·Q − S²)/m², giving RS² = P_range² /
    (m·Q − S²) · 1 — every factor of m cancels: rs2_micro =
    HALF_UP(10⁶ · P_range² / (m·Q − S²)), an integer both engines
    compute identically in DECIMAL(38,0)/HUGEINT. Constant blocks
    (zero variance) are excluded — RS² does not exist there; series
    with no complete block drop out.

    The per-series mean is HALF_UP(Σ rs2_micro / n_blocks) — a ratio
    of exact int64s, never a float sum of per-block doubles (float
    accumulation order would differ across engines).

    Plan shape (100 TB): one pruned scan → ONE shuffle on id (the
    storage clustering key) carrying both windows — the per-id rank
    and the per-(id, block) prefix sort within the same partitioning —
    → a per-(id, block) partial agg → a per-id agg of ≤n/m rows.
    Block boundaries are sequence-positional, so the blocks
    parallelize perfectly; nothing global."""
    w_id = Window.partitionBy("id").orderBy("time", "value", "flag")
    ranked = meas.select(
        "id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        (F.row_number().over(w_id) - 1).alias("rn0"),
        "time", "value", "flag",
    ).select(
        "id", "c",
        F.expr(f"rn0 DIV {m}").alias("b"),
        F.expr(f"rn0 % {m} + 1").alias("j"),
        "time", "value", "flag",
    )
    w_blk = Window.partitionBy("id", "b")
    w_pfx = (
        Window.partitionBy("id", "b")
        .orderBy("j")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    walked = ranked.select(
        "id", "b", "j", "c",
        F.sum("c").over(w_blk).alias("s"),
        F.sum(F.col("c") * F.col("c")).over(w_blk).alias("q"),
        F.count("*").over(w_blk).alias("cnt"),
        F.sum("c").over(w_pfx).alias("pfx"),
    ).select(
        "id", "b", "s", "q", "cnt",
        (F.lit(m) * F.col("pfx") - F.col("j") * F.col("s")).alias("p"),
    )
    blocks = (
        walked.groupBy("id", "b")
        .agg(
            F.max("p").alias("pmax"),
            F.min("p").alias("pmin"),
            F.max("s").alias("s"),
            F.max("q").alias("q"),
            F.max("cnt").alias("cnt"),
        )
        .where(F.col("cnt") == m)
        .selectExpr(
            "id",
            "greatest(pmax, 0L) - least(pmin, 0L) AS pr",
            f"{m} * CAST(q AS DECIMAL(38,0)) - CAST(s AS DECIMAL(38,0)) * s"
            " AS den",
        )
        .where(F.col("den") > 0)
        .selectExpr(
            "id",
            "CAST((2 * CAST(pr AS DECIMAL(38,0)) * pr * 1000000 + den)"
            " DIV (2 * den) AS BIGINT) AS rs2_micro",
        )
    )
    return (
        blocks.groupBy("id")
        .agg(
            F.count("*").alias("n_blocks"),
            F.sum("rs2_micro").alias("sum_rs2"),
            F.max("rs2_micro").alias("max_rs2_micro"),
        )
        .selectExpr(
            "id",
            "n_blocks",
            "CAST((2 * sum_rs2 + n_blocks) DIV (2 * n_blocks) AS BIGINT)"
            " AS mean_rs2_micro",
            "max_rs2_micro",
        )
        .orderBy("id")
    )


def _rs_range_sql() -> str:
    m = RS_BLOCK
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, CAST(round(value * 100) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY id
                                  ORDER BY time, value, flag) - 1 AS rn0
        FROM measurements
        WHERE time BETWEEN {FROM_MS} AND {TO_MS}),
tagged AS (SELECT id, c, rn0 // {m} AS b, rn0 % {m} + 1 AS j FROM pts),
walked AS (SELECT id, b, j, c,
                  sum(c) OVER blk AS s,
                  sum(c * c) OVER blk AS q,
                  count(*) OVER blk AS cnt,
                  sum(c) OVER (PARTITION BY id, b ORDER BY j
                               ROWS UNBOUNDED PRECEDING) AS pfx
           FROM tagged
           WINDOW blk AS (PARTITION BY id, b)),
pwalk AS (SELECT id, b, s, q, cnt,
                 {m} * pfx - j * s AS p
          FROM walked),
blocks AS (SELECT id, b,
                  greatest(max(p), 0) - least(min(p), 0) AS pr,
                  {m} * CAST(max(q) AS HUGEINT)
                    - CAST(max(s) AS HUGEINT) * max(s) AS den
           FROM pwalk GROUP BY id, b
           HAVING max(cnt) = {m}),
scored AS (SELECT id,
                  CAST((2 * CAST(pr AS HUGEINT) * pr * 1000000 + den)
                       // (2 * den) AS BIGINT) AS rs2_micro
           FROM blocks WHERE den > 0)
SELECT id, count(*) AS n_blocks,
       CAST((2 * sum(rs2_micro) + count(*)) // (2 * count(*)) AS BIGINT)
         AS mean_rs2_micro,
       max(rs2_micro) AS max_rs2_micro
FROM scored GROUP BY id ORDER BY id"""


SERIES_RS_RANGE_SQL = _rs_range_sql()

# Registered round 18 (staged round 17).
register("ext_series_rs_range", series_rs_range, SERIES_RS_RANGE_SQL)


# --- peaks-over-threshold mean-excess screen -------------------------------------
# STAGED for the round-18 driver window (third pass, same staging
# discipline). The family's EXTREME-VALUE verb, downstream of the
# histogram's bulk shape and anomaly_zscore's point alarms: how heavy
# is the tail ABOVE a high quantile? The mean-excess function
# e(u) = E[X − u | X > u] is the classic POT reading — roughly flat for
# exponential tails, growing in u for heavy (Pareto-like) tails,
# shrinking for bounded ones. One fixed threshold per series (the exact
# rank-⌈q·n⌉ order statistic, q = 0.9) keeps the statistic an exact
# integer rational: thresholds, exceedance counts, and excess sums are
# all int64 cents.

TAIL_Q_NUM, TAIL_Q_DEN = 9, 10  # threshold = the rank-⌈0.9·n⌉ order stat


def series_tail_excess(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r18 window (:func:`series_tail_excess_op`)."""
    return series_tail_excess_op(
        scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    )


def series_tail_excess_op(meas: DataFrame) -> DataFrame:
    """(id, n, thr_cents, n_exceed, mean_excess_cents, max_excess_cents)
    per series: threshold = the exact rank-⌈0.9·n⌉ cent order statistic
    (ties broken by the (cents, time, flag) total order so the rank is
    unique), exceedances are the STRICTLY-above samples, mean excess is
    the HALF_UP 4-dp ratio of two exact int64s. Series with zero strict
    exceedances (the max ties the threshold) report 0/0-free rows with
    n_exceed = 0 and both excess columns 0 — the bounded-tail reading,
    not a dropped row.

    Plan shape (100 TB): ONE shuffle on id carries everything — the
    rank window, the threshold pick (a per-id scalar joined back
    BROADCAST from the id-sized threshold table), and the conditional
    aggregate all run inside the same partitioning; at extreme
    per-series cardinality the exact rank swaps for the HDR-sketch
    quantile over the same column (the funnel_latency note), leaving
    the excess aggregate untouched."""
    from dariadb_spark.ext.exact import ratio_round_spark

    cents = meas.select(
        "id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        "time", "flag",
    )
    w = Window.partitionBy("id").orderBy("c", "time", "flag")
    ranked = cents.select(
        "id", "c",
        F.row_number().over(w).alias("r"),
        F.count("*").over(Window.partitionBy("id")).alias("n"),
    )
    thr = (
        ranked.where(
            F.expr(
                f"r = ({TAIL_Q_NUM} * n + {TAIL_Q_DEN} - 1)"
                f" DIV {TAIL_Q_DEN}"
            )
        )
        .selectExpr("id", "c AS thr_cents", "n")
    )
    return (
        cents.join(F.broadcast(thr), "id")
        .groupBy("id")
        .agg(
            F.max("n").alias("n"),
            F.max("thr_cents").alias("thr_cents"),
            F.sum(F.expr("CASE WHEN c > thr_cents THEN 1 ELSE 0 END"))
            .alias("n_exceed"),
            F.sum(
                F.expr(
                    "CASE WHEN c > thr_cents THEN c - thr_cents"
                    " ELSE 0 END"
                )
            ).alias("sum_excess"),
            F.max(
                F.expr(
                    "CASE WHEN c > thr_cents THEN c - thr_cents"
                    " ELSE 0 END"
                )
            ).alias("max_excess_cents"),
        )
        .selectExpr(
            "id", "n", "thr_cents", "n_exceed",
            "CASE WHEN n_exceed > 0 THEN "
            + ratio_round_spark("sum_excess", "n_exceed", 4)
            + " ELSE 0.0d END AS mean_excess_cents",
            "max_excess_cents",
        )
        .orderBy("id")
    )


def _tail_excess_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, CAST(round(value * 100) AS BIGINT) AS c, time, flag
        FROM measurements
        WHERE id IN {_ids_sql(IDS)}
          AND time BETWEEN {FROM_MS} AND {TO_MS}),
ranked AS (SELECT id, c,
                  row_number() OVER (PARTITION BY id
                                     ORDER BY c, time, flag) AS r,
                  count(*) OVER (PARTITION BY id) AS n
           FROM pts),
thr AS (SELECT id, c AS thr_cents, n FROM ranked
        WHERE r = ({TAIL_Q_NUM} * n + {TAIL_Q_DEN} - 1) // {TAIL_Q_DEN}),
agg AS (SELECT p.id, max(t.n) AS n, max(t.thr_cents) AS thr_cents,
               CAST(sum(CASE WHEN p.c > t.thr_cents THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exceed,
               CAST(sum(CASE WHEN p.c > t.thr_cents
                             THEN p.c - t.thr_cents ELSE 0 END)
                    AS BIGINT) AS sum_excess,
               CAST(max(CASE WHEN p.c > t.thr_cents
                             THEN p.c - t.thr_cents ELSE 0 END)
                    AS BIGINT) AS max_excess_cents
        FROM pts p JOIN thr t ON p.id = t.id GROUP BY p.id)
SELECT id, CAST(n AS BIGINT) AS n, thr_cents, n_exceed,
       CASE WHEN n_exceed > 0
            THEN {ratio_round_duck("sum_excess", "n_exceed", 4)}
            ELSE 0.0 END AS mean_excess_cents,
       max_excess_cents
FROM agg ORDER BY id"""


SERIES_TAIL_EXCESS_SQL = _tail_excess_sql()

# Registered round 18 (staged round 17, third pass).
register("ext_series_tail_excess", series_tail_excess, SERIES_TAIL_EXCESS_SQL)


# --- variance-ratio random-walk screen ---------------------------------------------
# STAGED for the round-19 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted closed-form
# grid + ≥100k-row stress now, registered at the next rotation). The
# long-memory family's HYPOTHESIS verb, next to rs_range's descriptive
# wander ratio: Lo–MacKinlay's variance ratio — is the series a random
# walk? For iid increments the variance of q-period sums is q× the
# 1-period variance, so VR ≈ 1; VR > 1 reads persistence (trending),
# VR < 1 mean reversion. Computed on sequence-positional q-sample
# blocks as an EXACT rational (the rs_range integer algebra — no float
# until the final 6-dp division).

VR_BLOCK = 4  # samples per block (fixture slices hold ~30 samples/id)


def series_vr_test(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r19 window (:func:`series_vr_test_op`)."""
    return series_vr_test_op(
        scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0),
        VR_BLOCK,
    )


def series_vr_test_op(meas: DataFrame, q: int) -> DataFrame:
    """(id, n_blocks, vr) — the per-series variance ratio over complete
    q-sample blocks in the (time, value, flag) sequence order.

    Both variances run over the SAME n' = n_b·q complete-block samples
    (a trailing partial block is excluded from both sides, so the two
    sums see an identical multiset): with cents c, singles carry
    S1 = Σc, Q1 = Σc² and blocks carry B_j = block sums, SB = ΣB,
    QB = ΣB². Sample variances cancel into the single exact rational
    VR = (n_b·QB − SB²)·n'·(n'−1) / (q·(n'·Q1 − S1²)·n_b·(n_b−1)),
    emitted as the HALF_UP 6-dp wide ratio (DECIMAL(38,0)/HUGEINT
    through the products). Series need n_b ≥ 2 and a nonzero 1-period
    variance (n'·Q1 − S1² > 0), else VR does not exist and the series
    drops out. Envelope: |cents| ≤ 10⁶ with ≤ 10⁵ samples/series keeps
    every product inside DECIMAL(38,0); past that pre-scale cents
    (the burstiness convention).

    Plan shape (100 TB): one pruned scan → ONE shuffle on id carrying
    the rank window → a per-(id, block) partial agg → a per-id agg of
    ≤ n/q rows → a stateless 6-dp projection. Nothing global, no
    iteration."""
    w_id = Window.partitionBy("id").orderBy("time", "value", "flag")
    ranked = meas.select(
        "id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        (F.row_number().over(w_id) - 1).alias("rn0"),
    ).select("id", "c", F.expr(f"rn0 DIV {q}").alias("b"))
    blocks = (
        ranked.groupBy("id", "b")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("c").alias("bs"),
            F.sum(F.col("c") * F.col("c")).alias("bq"),
        )
        .where(F.col("cnt") == q)
    )
    per_id = blocks.groupBy("id").agg(
        F.count("*").alias("n_blocks"),
        F.sum("bs").alias("s1"),
        F.sum("bq").alias("q1"),
        F.sum(F.expr("CAST(bs AS DECIMAL(38,0)) * bs")).alias("qb"),
    )
    num = (
        "(n_blocks * qb - CAST(s1 AS DECIMAL(38,0)) * s1)"
        f" * ({q} * n_blocks) * ({q} * n_blocks - 1)"
    )
    den = (
        f"{q} * (({q} * n_blocks) * CAST(q1 AS DECIMAL(38,0))"
        " - CAST(s1 AS DECIMAL(38,0)) * s1)"
        " * n_blocks * (n_blocks - 1)"
    )
    from dariadb_spark.ext.exact import ratio_round_signed_wide_spark

    return (
        per_id.where(
            (F.col("n_blocks") >= 2)
            & (
                F.expr(
                    f"({q} * n_blocks) * CAST(q1 AS DECIMAL(38,0))"
                    " - CAST(s1 AS DECIMAL(38,0)) * s1"
                )
                > 0
            )
        )
        .selectExpr(
            "id",
            "n_blocks",
            ratio_round_signed_wide_spark(num, den, 6) + " AS vr",
        )
        .orderBy("id")
    )


def _vr_test_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_signed_wide_duck

    q = VR_BLOCK
    num = (
        "(n_blocks * qb - CAST(s1 AS HUGEINT) * s1)"
        f" * ({q} * n_blocks) * ({q} * n_blocks - 1)"
    )
    den = (
        f"{q} * (({q} * n_blocks) * CAST(q1 AS HUGEINT)"
        " - CAST(s1 AS HUGEINT) * s1)"
        " * n_blocks * (n_blocks - 1)"
    )
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, CAST(round(value * 100) AS BIGINT) AS c,
               row_number() OVER (PARTITION BY id
                                  ORDER BY time, value, flag) - 1 AS rn0
        FROM measurements
        WHERE time BETWEEN {FROM_MS} AND {TO_MS}),
blocks AS (SELECT id, rn0 // {q} AS b, count(*) AS cnt,
                  CAST(sum(c) AS BIGINT) AS bs,
                  CAST(sum(c * c) AS BIGINT) AS bq
           FROM pts GROUP BY id, b HAVING count(*) = {q}),
per_id AS (SELECT id, count(*) AS n_blocks,
                  CAST(sum(bs) AS BIGINT) AS s1,
                  CAST(sum(bq) AS BIGINT) AS q1,
                  sum(CAST(bs AS HUGEINT) * bs) AS qb
           FROM blocks GROUP BY id)
SELECT id, n_blocks,
       {ratio_round_signed_wide_duck(num, den, 6)} AS vr
FROM per_id
WHERE n_blocks >= 2
  AND ({q} * n_blocks) * CAST(q1 AS HUGEINT)
      - CAST(s1 AS HUGEINT) * s1 > 0
ORDER BY id"""


SERIES_VR_TEST_SQL = _vr_test_sql()
