"""[EXT] analytic-window / set / distinct / scalar operators.

These fill the SURVEY.md §2 rows the reference lacks entirely (W3 ranking
and frame-spec windows, O3 set ops and top-k, A13 distinct aggregation,
C4 scalar-function surface) — Catalyst provides the physical strategies;
this module declares the plans and pairs each with a DuckDB oracle.

Scale notes (100 TB): window functions shuffle once on the partition key
(`id`), the same key the measurements table is clustered by, so at scale
they run shuffle-free after a bucketed write; set ops on distinct keys are
a single exchange of the already-deduplicated key set; the scalar surface
is whole-stage-codegen'd expressions with zero extra shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_CTE_SQL, load_table, measurements
from dariadb_spark.operators.downsample import floor_bucket, floor_bucket_sql
from dariadb_spark.operators.interval import scan_interval
from dariadb_spark.registry import (
    FROM_MS,
    IDS,
    TO_MS,
    _ids_sql,
    register,
)

# Total per-id ordering: (time, value, flag) — rows with identical full
# tuples are interchangeable, so every window result below is deterministic.
_ORD = ("time", "value", "flag")


# --- W3: frame-spec moving average + lag delta ----------------------------

def moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """10-point trailing mean and first difference per series. One shuffle
    on `id` (the storage clustering key → shuffle-free on a bucketed
    table); the frame is evaluated in a single sorted pass per partition."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    w = Window.partitionBy("id").orderBy(*_ORD)
    frame = w.rowsBetween(-9, Window.currentRow)
    return meas.select(
        "id",
        "time",
        "value",
        # frame mean as round(sum,6)/count — bit-identical across engines
        # (see downsample.py: round(avg,4) diverges on .xxxx5 boundaries,
        # common here because frames hold ≤10 two-decimal values).
        (
            F.round(F.sum("value").over(frame), 6)
            / F.count("value").over(frame)
        ).alias("mov_avg10"),
        F.round(F.col("value") - F.lag("value", 1).over(w), 4).alias("delta"),
    ).orderBy("id", "time", "value")


MOVING_AVG_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT id, time, value,
       (round(sum(value) OVER (PARTITION BY id ORDER BY time, value, flag
                               ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)
        / count(value) OVER (PARTITION BY id ORDER BY time, value, flag
                             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
         AS mov_avg10,
       round(value - lag(value, 1) OVER (PARTITION BY id
                                         ORDER BY time, value, flag), 4)
         AS delta
FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
ORDER BY id, time, value"""


# --- O3: top-k per series -------------------------------------------------

def topk_per_series(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 values per id in the interval via ranked window — at scale
    this is a partial top-k per partition then a merge (no full sort)."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    w = Window.partitionBy("id").orderBy(
        F.desc("value"), F.col("time"), F.col("flag")
    )
    return (
        meas.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("id", "rk", "time", "value", "flag")
        .orderBy("id", "rk")
    )


TOPK_SQL = f"""WITH {MEAS_CTE_SQL},
ranked AS (
  SELECT id, time, value, flag,
         row_number() OVER (PARTITION BY id
                            ORDER BY value DESC, time, flag) AS rk
  FROM measurements
  WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
)
SELECT id, rk, time, value, flag FROM ranked WHERE rk <= 5 ORDER BY id, rk"""


# --- O3: set operations on (id, day) activity sets ------------------------
# Days where a series logged an error event vs days it logged a purchase;
# intersect/except are nonempty at every sf because per-(id, day) event
# density is scale-invariant in the fixture generator.

_DAY = 86_400_000


def _active_days(spark: SparkSession, sf: str, flag: int) -> DataFrame:
    meas = measurements(spark, sf)
    return (
        scan_interval(meas, None, FROM_MS, TO_MS, flag)
        .select("id", floor_bucket(F.col("time"), _DAY).alias("day_ms"))
        .distinct()
    )


def _day_set_sql(flag: int) -> str:
    return (
        f"SELECT DISTINCT id, {floor_bucket_sql('time', _DAY)} AS day_ms "
        f"FROM measurements WHERE time BETWEEN {FROM_MS} AND {TO_MS} "
        f"AND ((flag & {flag}) = {flag})"
    )


def set_intersect(spark: SparkSession, sf: str) -> DataFrame:
    """(id, day) pairs active with BOTH error and purchase flags."""
    a = _active_days(spark, sf, 16)
    b = _active_days(spark, sf, 8)
    return a.intersect(b).orderBy("id", "day_ms")


def set_except(spark: SparkSession, sf: str) -> DataFrame:
    """(id, day) pairs with an error but no purchase (EXCEPT DISTINCT)."""
    a = _active_days(spark, sf, 16)
    b = _active_days(spark, sf, 8)
    return a.subtract(b).orderBy("id", "day_ms")


SET_INTERSECT_SQL = f"""WITH {MEAS_CTE_SQL}
{_day_set_sql(16)}
INTERSECT
{_day_set_sql(8)}
ORDER BY id, day_ms"""

SET_EXCEPT_SQL = f"""WITH {MEAS_CTE_SQL}
{_day_set_sql(16)}
EXCEPT
{_day_set_sql(8)}
ORDER BY id, day_ms"""


def set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """The merged set-operations driver row (merge #2 of the registry's
    250-ceiling trajectory, executed r15): INTERSECT and EXCEPT over
    the same two (id, day) activity sets in ONE table, discriminated by
    an ``op`` column. Each original query is a filter+projection of
    this composite (op = 'intersect' / op = 'except' — pinned by
    tests/test_plans.py::test_set_ops_merge_projections); both operator
    functions stay public. Plan shape unchanged: the two branches are
    the SAME two distinct day-sets (Catalyst reuses the scan), each set
    op a single exchange of the deduplicated keys, UNION ALL adds no
    shuffle."""
    a = _active_days(spark, sf, 16)
    b = _active_days(spark, sf, 8)
    inter = a.intersect(b).selectExpr("'intersect' AS op", "id", "day_ms")
    exc = a.subtract(b).selectExpr("'except' AS op", "id", "day_ms")
    return inter.unionByName(exc).orderBy("op", "id", "day_ms")


SET_OPS_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT * FROM (
  SELECT 'intersect' AS op, id, day_ms
  FROM ({_day_set_sql(16)} INTERSECT {_day_set_sql(8)})
  UNION ALL
  SELECT 'except' AS op, id, day_ms
  FROM ({_day_set_sql(16)} EXCEPT {_day_set_sql(8)})
)
ORDER BY op, id, day_ms"""


# --- A13: distinct aggregation -------------------------------------------

def distinct_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Exact distinct-series cardinality per flag. At 100 TB swap
    `countDistinct` for `approx_count_distinct` (HLL, no expand) — exact
    kept here for oracle parity."""
    meas = scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0)
    return (
        meas.groupBy("flag")
        .agg(
            F.countDistinct("id").alias("n_series"),
            F.count("*").alias("n_points"),
            F.countDistinct(floor_bucket(F.col("time"), _DAY)).alias(
                "n_days"
            ),
        )
        .orderBy("flag")
    )


DISTINCT_AGG_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT flag, count(DISTINCT id) AS n_series, count(*) AS n_points,
       count(DISTINCT {floor_bucket_sql("time", _DAY)}) AS n_days
FROM measurements WHERE time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY flag ORDER BY flag"""


# --- C4: scalar-function surface (string / date / math) -------------------

def scalar_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """String (substring/upper/concat_ws/length), date (year/month), and
    math (sqrt/abs) scalars over orders — all whole-stage-codegen'd JVM
    expressions, no UDFs, single shuffle on the 2-column group key."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.groupBy(
            F.substring("o_orderpriority", 1, 1).alias("prio_class"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.sqrt("o_totalprice")), 2).alias("sum_sqrt_price"),
            F.round(
                F.avg(F.abs(F.col("o_totalprice") - F.lit(100_000.0))), 2
            ).alias("avg_abs_dev"),
            F.max(
                F.concat_ws("-", F.upper("o_orderstatus"), "o_orderpriority")
            ).alias("max_tag"),
            F.max(F.length("o_orderpriority")).alias("max_prio_len"),
        )
        .orderBy("prio_class", "yr")
    )


SCALAR_FUNCS_SQL = """
SELECT substring(o_orderpriority, 1, 1) AS prio_class,
       year(o_orderdate) AS yr,
       count(*) AS n,
       round(sum(sqrt(o_totalprice)), 2) AS sum_sqrt_price,
       round(avg(abs(o_totalprice - 100000.0)), 2) AS avg_abs_dev,
       max(concat_ws('-', upper(o_orderstatus), o_orderpriority)) AS max_tag,
       max(length(o_orderpriority)) AS max_prio_len
FROM orders
GROUP BY prio_class, yr
ORDER BY prio_class, yr"""


# --- as-of join between two series streams --------------------------------

def asof_join_q(spark: SparkSession, sf: str) -> DataFrame:
    """Enrich every error event with the user's latest purchase value
    at-or-before it — the merge_asof pattern via operators/asof_join.py
    (union + window, one shuffle, no range-join explosion)."""
    from dariadb_spark.operators.asof_join import asof_join

    meas = measurements(spark, sf)
    errors = scan_interval(meas, IDS, FROM_MS, TO_MS, 16)
    purchases = scan_interval(meas, IDS, FROM_MS, TO_MS, 8)
    return asof_join(errors, purchases, "last_purchase", "purchase_time")


ASOF_JOIN_SQL = f"""WITH {MEAS_CTE_SQL},
l AS (SELECT id, time, value, flag FROM measurements
      WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
        AND ((flag & 16) = 16)),
r AS (SELECT id, time, value FROM measurements
      WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
        AND ((flag & 8) = 8)),
u AS (
  SELECT id, time, value, flag, 1 AS side,
         CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS rt FROM l
  UNION ALL
  SELECT id, time, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT), 0,
         value, time FROM r),
j AS (
  SELECT id, time, value, flag, side,
         last_value(rv IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY time, side, rv, rt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase,
         last_value(rt IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY time, side, rv, rt
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS purchase_time
  FROM u)
SELECT id, time, value, flag, last_purchase, purchase_time
FROM j WHERE side = 1 ORDER BY id, time, value, flag"""


# ext_asof_join's standalone registration was MERGED into
# ext_asof_report (merge #3 of the 250-ceiling trajectory, executed
# r15) — the query fn and oracle stay for tests and for the composite.


# --- nearest-as-of join with tolerance ------------------------------------

NEAREST_TOL_MS = 12 * 3_600_000  # ±12 h (fixture series are hours apart)


def asof_nearest_q(spark: SparkSession, sf: str) -> DataFrame:
    """Enrich every error event with the CLOSEST purchase within ±12 h
    (before or after; tie → earlier) — merge_asof(direction="nearest")
    via operators/asof_join.py nearest_join (union + two window passes,
    one shuffle, no range join)."""
    from dariadb_spark.operators.asof_join import nearest_join
    from dariadb_spark.operators.resample import dedup_lww

    meas = measurements(spark, sf)
    errors = scan_interval(meas, IDS, FROM_MS, TO_MS, 16)
    purchases = dedup_lww(scan_interval(meas, IDS, FROM_MS, TO_MS, 8))
    return nearest_join(errors, purchases, NEAREST_TOL_MS)


ASOF_NEAREST_SQL = f"""WITH {MEAS_CTE_SQL},
l AS (SELECT id, time, value, flag FROM measurements
      WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
        AND ((flag & 16) = 16)),
r AS (SELECT id, time, value FROM (
        SELECT id, time, value,
               row_number() OVER (PARTITION BY id, time
                                  ORDER BY value DESC, flag DESC) AS rn
        FROM measurements
        WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
          AND ((flag & 8) = 8)) WHERE rn = 1),
u AS (
  SELECT id, time AS t, 1 AS side, value, flag,
         CAST(NULL AS DOUBLE) AS rv FROM l
  UNION ALL
  SELECT id, time, 0, CAST(NULL AS DOUBLE), CAST(NULL AS BIGINT),
         value FROM r),
enr AS (
  SELECT id, t, side, value, flag,
         last_value(rv IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
         last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t, side
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
         first_value(rv IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t ASC, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
         first_value(CASE WHEN side = 0 THEN t END IGNORE NULLS) OVER (
           PARTITION BY id ORDER BY t ASC, side DESC
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
  FROM u),
picked AS (
  SELECT id, t, value, flag,
         (prev_t IS NOT NULL AND t - prev_t <= {NEAREST_TOL_MS}) AS prev_ok,
         (next_t IS NOT NULL AND next_t - t <= {NEAREST_TOL_MS}) AS next_ok,
         prev_t, prev_v, next_t, next_v
  FROM enr WHERE side = 1),
sel AS (
  SELECT id, t, value, flag,
         CASE WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
              THEN prev_t WHEN next_ok THEN next_t END AS nearest_time,
         CASE WHEN prev_ok AND (NOT next_ok OR t - prev_t <= next_t - t)
              THEN prev_v WHEN next_ok THEN next_v END AS nearest_value
  FROM picked)
SELECT id, t AS time, value, flag, nearest_time, nearest_value,
       CASE WHEN nearest_time IS NOT NULL
            THEN abs(t - nearest_time) END AS dist_ms
FROM sel ORDER BY id, time, value, flag"""


# --- composite as-of report (merge #3 of the 250-ceiling trajectory) -------
# Audit result (r15): NEITHER original is a projection of the other —
# backward enriches against the RAW purchase stream (LWW resolved inside
# the window order) while nearest requires the LWW-DEDUPED stream and a
# tolerance, and their output columns differ. So the merge follows the
# set_ops precedent, not the subsumption one: ONE registered row tags
# each error event's enrichment with a `direction` column; each original
# is a filter + projection of the composite (pytest-pinned), both
# SEMANTICS keep their operators (operators/asof_join.py) and oracles.


def asof_report_q(spark: SparkSession, sf: str) -> DataFrame:
    """Both as-of enrichments of the error stream in one report: the
    backward at-or-before purchase (raw stream, ≤ bound) and the
    nearest-within-±12 h purchase (deduped stream), tagged by
    ``direction``; dist_ms is the match distance (backward distance is
    time − purchase_time, always ≥ 0).

    Plan shape (100 TB): the two branches are the proven single-shuffle
    union+window plans; the composite is their unionByName — no new
    exchange, no join between the branches (a grain-key join would
    multiply duplicate error rows; the tag column sidesteps that
    entirely).
    """
    back = asof_join_q(spark, sf).selectExpr(
        "'backward' AS direction",
        "id", "time", "value", "flag",
        "purchase_time AS match_time",
        "last_purchase AS match_value",
        "CASE WHEN purchase_time IS NOT NULL"
        " THEN time - purchase_time END AS dist_ms",
    )
    near = asof_nearest_q(spark, sf).selectExpr(
        "'nearest' AS direction",
        "id", "time", "value", "flag",
        "nearest_time AS match_time",
        "nearest_value AS match_value",
        "dist_ms",
    )
    return back.unionByName(near).orderBy(
        "direction", "id", "time", "value", "flag"
    )


ASOF_REPORT_SQL = f"""SELECT * FROM (
SELECT 'backward' AS direction, id, time, value, flag,
       purchase_time AS match_time, last_purchase AS match_value,
       CASE WHEN purchase_time IS NOT NULL
            THEN time - purchase_time END AS dist_ms
FROM ({ASOF_JOIN_SQL}) b
UNION ALL
SELECT 'nearest' AS direction, id, time, value, flag,
       nearest_time AS match_time, nearest_value AS match_value, dist_ms
FROM ({ASOF_NEAREST_SQL}) n)
ORDER BY direction, id, time, value, flag"""


register("ext_asof_report", asof_report_q, ASOF_REPORT_SQL)


# --- sessionization (gaps-and-islands) ------------------------------------

SESSION_GAP_MS = 30 * 60_000  # 30 min of silence ends a session


def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Per-series activity sessions: a gap > 30 min starts a new session;
    one output row per session with start/end/count. Classic
    gaps-and-islands via lag + running sum — one shuffle on ``id`` (the
    clustering key), everything else window passes within the partition.
    Session boundaries depend only on the sorted time sequence, so
    equal-time tie order cannot change the result."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    w = Window.partitionBy("id").orderBy(*_ORD)
    run = Window.partitionBy("id").orderBy(*_ORD).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = meas.select(
        "id",
        "time",
        "value",
        "flag",  # kept: the running-sum window orders by the full tuple
        F.when(
            F.col("time") - F.lag("time", 1).over(w) > SESSION_GAP_MS, 1
        )
        .otherwise(0)
        .alias("is_new"),
    ).select("id", "time", F.sum("is_new").over(run).alias("session_no"))
    return (
        sessions.groupBy("id", "session_no")
        .agg(
            F.min("time").alias("session_start"),
            F.max("time").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select(
            "id",
            "session_no",
            "session_start",
            "session_end",
            (F.col("session_end") - F.col("session_start")).alias("duration_ms"),
            "n_events",
        )
        .orderBy("id", "session_no")
    )


SESSIONIZE_SQL = f"""WITH {MEAS_CTE_SQL},
pts AS (
  SELECT id, time, value, flag,
         CASE WHEN time - lag(time, 1) OVER (PARTITION BY id
                ORDER BY time, value, flag) > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM measurements
  WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}),
s AS (
  -- running sum uses the SAME total order as the gap detection: with
  -- ties on time alone the tie-group member carrying is_new=1 could
  -- land anywhere in the group and split it across sessions
  SELECT id, time,
         CAST(sum(is_new) OVER (PARTITION BY id ORDER BY time, value, flag
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
  FROM pts)
SELECT id, session_no, min(time) AS session_start, max(time) AS session_end,
       max(time) - min(time) AS duration_ms, count(*) AS n_events
FROM s GROUP BY id, session_no ORDER BY id, session_no"""


# --- W3: value CDF (percent_rank / cume_dist) -----------------------------

def value_cdf(spark: SparkSession, sf: str) -> DataFrame:
    """Empirical CDF position of every sample within its own series —
    percent_rank (ties share rank) and cume_dist, both rank-only window
    functions: one shuffle on id, exact rational values ((rank−1)/(n−1),
    identical integer division in both engines, no rounding needed)."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    w = Window.partitionBy("id").orderBy("value")
    return meas.select(
        "id",
        "time",
        "value",
        "flag",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    ).orderBy("id", "time", "value", "flag")


VALUE_CDF_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT id, time, value, flag,
       percent_rank() OVER (PARTITION BY id ORDER BY value) AS pct_rank,
       cume_dist() OVER (PARTITION BY id ORDER BY value) AS cume
FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
ORDER BY id, time, value, flag"""


# --- A13: per-series mode (most frequent value) ---------------------------

def series_mode(spark: SparkSession, sf: str) -> DataFrame:
    """Most frequent value per series (count desc, value asc tiebreak) —
    two aggregations, both with map-side partials; the candidate set
    after the first groupBy is |distinct values| per id, tiny."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    counts = meas.groupBy("id", "value").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("value"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("id", F.col("value").alias("mode_value"), F.col("cnt").alias("mode_cnt"))
        .orderBy("id")
    )


SERIES_MODE_SQL = f"""WITH {MEAS_CTE_SQL},
counts AS (
  SELECT id, value, count(*) AS cnt FROM measurements
  WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
  GROUP BY id, value),
ranked AS (
  SELECT id, value, cnt,
         row_number() OVER (PARTITION BY id
                            ORDER BY cnt DESC, value ASC) AS rk
  FROM counts)
SELECT id, value AS mode_value, cnt AS mode_cnt
FROM ranked WHERE rk = 1 ORDER BY id"""


# --- retention cohorts + ordered funnel (event analytics) -----------------

_DAY_MS = 86_400_000


def retention_cohorts(spark: SparkSession, sf: str) -> DataFrame:
    """Classic cohort retention: bucket every user by their FIRST active
    day, then count distinct users per (cohort_day, day_offset). Two
    shuffles — the per-user min (on id, the clustering key) and the final
    small-key-space count; the broadcast of the per-user cohort table
    keeps the fact side shuffle-free for the join. At 100 TB the cohort
    table is |users| rows (dimension-sized), exactly a broadcast dim."""
    meas = measurements(spark, sf)
    days = meas.select(
        "id", (F.col("time") - F.pmod(F.col("time"), F.lit(_DAY_MS))).alias("day")
    )
    cohort = days.groupBy("id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(F.broadcast(cohort), "id")
        .groupBy(
            "cohort_day",
            ((F.col("day") - F.col("cohort_day")) / _DAY_MS)
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


RETENTION_SQL = f"""WITH {MEAS_CTE_SQL},
days AS (SELECT id, time - ((time % {_DAY_MS}) + {_DAY_MS}) % {_DAY_MS} AS day
         FROM measurements),
cohort AS (SELECT id, min(day) AS cohort_day FROM days GROUP BY id)
SELECT c.cohort_day AS cohort_day,
       CAST((d.day - c.cohort_day) / {_DAY_MS} AS BIGINT) AS day_offset,
       count(DISTINCT d.id) AS n_users
FROM days d JOIN cohort c ON d.id = c.id
GROUP BY cohort_day, day_offset
ORDER BY cohort_day, day_offset"""

#: funnel stages as flag codes (FIXTURES.md): view → click → purchase
_FUNNEL = (2, 1, 8)


def funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered three-stage funnel: a user converts stage n only with an
    event of that stage AT OR AFTER their earliest stage-(n-1)
    conversion time (strictly ordered funnels are this with >). Each
    stage is one conditional aggregate over the fact table joined to the
    previous stage's per-user times — the broadcast-dim shape again; no
    window over the raw events."""
    meas = measurements(spark, sf)
    s1 = meas.where(F.col("flag") == _FUNNEL[0]).groupBy("id").agg(
        F.min("time").alias("t1")
    )
    s2 = (
        meas.where(F.col("flag") == _FUNNEL[1])
        .join(F.broadcast(s1), "id")
        .where(F.col("time") >= F.col("t1"))
        .groupBy("id")
        .agg(F.min("time").alias("t2"))
    )
    s3 = (
        meas.where(F.col("flag") == _FUNNEL[2])
        .join(F.broadcast(s2), "id")
        .where(F.col("time") >= F.col("t2"))
        .groupBy("id")
        .agg(F.min("time").alias("t3"))
    )
    return (
        s1.agg(F.count("*").alias("stage1_users"))
        .crossJoin(s2.agg(F.count("*").alias("stage2_users")))
        .crossJoin(s3.agg(F.count("*").alias("stage3_users")))
    )


FUNNEL_SQL = f"""WITH {MEAS_CTE_SQL},
s1 AS (SELECT id, min(time) AS t1 FROM measurements
       WHERE flag = {_FUNNEL[0]} GROUP BY id),
s2 AS (SELECT m.id, min(m.time) AS t2 FROM measurements m
       JOIN s1 ON m.id = s1.id
       WHERE m.flag = {_FUNNEL[1]} AND m.time >= s1.t1 GROUP BY m.id),
s3 AS (SELECT m.id, min(m.time) AS t3 FROM measurements m
       JOIN s2 ON m.id = s2.id
       WHERE m.flag = {_FUNNEL[2]} AND m.time >= s2.t2 GROUP BY m.id)
SELECT (SELECT count(*) FROM s1) AS stage1_users,
       (SELECT count(*) FROM s2) AS stage2_users,
       (SELECT count(*) FROM s3) AS stage3_users"""


register("ext_retention_cohorts", retention_cohorts, RETENTION_SQL)
register("ext_funnel_conversion", funnel_conversion, FUNNEL_SQL)
register("ext_value_cdf", value_cdf, VALUE_CDF_SQL)
register("ext_series_mode", series_mode, SERIES_MODE_SQL)


# --- pivot: wide per-series flag matrix -----------------------------------

_FLAG_COLS = [
    (1, "n_click"), (2, "n_view"), (4, "n_signup"),
    (8, "n_purchase"), (16, "n_error"),
]


def pivot_flags(spark: SparkSession, sf: str) -> DataFrame:
    """Long→wide reshape via Spark's pivot with an EXPLICIT value list —
    without it Spark runs an extra distinct-values job and the output
    schema becomes data-dependent (a schema drift hazard at 100 TB).
    Single shuffle on id; each cell is a map-side partial count."""
    meas = scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0)
    piv = (
        meas.groupBy("id")
        .pivot("flag", [f for f, _ in _FLAG_COLS])
        .count()
    )
    return piv.select(
        "id",
        *[
            F.coalesce(F.col(str(f)), F.lit(0)).cast("bigint").alias(n)
            for f, n in _FLAG_COLS
        ],
    ).orderBy("id")


PIVOT_FLAGS_SQL = f"""WITH {MEAS_CTE_SQL}
SELECT id,
       count(*) FILTER (WHERE flag = 1) AS n_click,
       count(*) FILTER (WHERE flag = 2) AS n_view,
       count(*) FILTER (WHERE flag = 4) AS n_signup,
       count(*) FILTER (WHERE flag = 8) AS n_purchase,
       count(*) FILTER (WHERE flag = 16) AS n_error
FROM measurements WHERE time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY id ORDER BY id"""


register("ext_pivot_flags", pivot_flags, PIVOT_FLAGS_SQL)
register("ext_sessionize", sessionize, SESSIONIZE_SQL)
register("ext_moving_avg", moving_avg, MOVING_AVG_SQL)
register("ext_topk_per_series", topk_per_series, TOPK_SQL)
# Registered round 15, REPLACING ext_set_intersect + ext_set_except
# (merge #2 of the 250-ceiling trajectory — one freed slot; both
# semantics live on as filters of the composite, pytest-pinned).
register("ext_set_ops", set_ops, SET_OPS_SQL)
register("ext_distinct_agg", distinct_agg, DISTINCT_AGG_SQL)
register("ext_scalar_funcs", scalar_funcs, SCALAR_FUNCS_SQL)


# --- event-type Markov transition matrix ------------------------------------
# Registered round 13 (staged round 12 with the full discipline:
# implemented + oracled + pytest parity + planted stress first).

def event_markov(spark: SparkSession, sf: str) -> DataFrame:
    """First-order Markov transition matrix over the raw event stream:
    for each (event_type → next event_type) pair of the same user, the
    transition count and the conditional probability — the behavioral
    fingerprint query every event-analytics stack runs (and the input to
    next-event prediction / funnel design).

    Determinism: the per-user order is (ts, event_id) — event_id is the
    unique ingest sequence, so ties in ts cannot reorder across engines,
    and the timestamp itself never reaches the output (only adjacency
    does), which keeps the query independent of how each engine
    materializes the nanosecond parquet timestamps. ``p_next`` is one
    division of two identical int64 counts, rounded once.

    Plan shape (100 TB): one window shuffle on ``user_id`` (a key the
    ingest layout can pre-bucket), one partial-aggregated count shuffle
    on the |types|² pair space, and a broadcast join of the |types|-row
    totals — nothing else moves; no driver-side state.
    """
    return event_markov_op(load_table(spark, sf, "events"))


def event_markov_op(ev: DataFrame) -> DataFrame:
    """DataFrame-level core of :func:`event_markov` (planted tests and
    the stress harness feed generated event tables through it)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    cnts = nxt.groupBy("event_type", "next_type").agg(
        F.count("*").alias("cnt")
    )
    tot = cnts.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    return (
        cnts.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            "next_type",
            "cnt",
            F.round(F.col("cnt") / F.col("total"), 6).alias("p_next"),
        )
        .orderBy("event_type", "next_type")
    )


EVENT_MARKOV_SQL = """WITH nxt AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS next_type
  FROM events),
cnts AS (SELECT event_type, next_type, count(*) AS cnt
         FROM nxt WHERE next_type IS NOT NULL
         GROUP BY event_type, next_type),
tot AS (SELECT event_type, sum(cnt) AS total FROM cnts GROUP BY event_type)
SELECT c.event_type, c.next_type, c.cnt,
       round(c.cnt / CAST(t.total AS DOUBLE), 6) AS p_next
FROM cnts c JOIN tot t ON c.event_type = t.event_type
ORDER BY c.event_type, c.next_type"""

register("ext_event_markov", event_markov, EVENT_MARKOV_SQL)


def _streaming_markov_parity(spark, sf):
    # Lazy import: streaming/markov.py is harness-side machinery the
    # registry never imports at module load (the hll/gate pattern).
    from dariadb_spark.streaming.markov import streaming_markov_parity

    return streaming_markov_parity(spark, sf)


# Registered round 13: the stateful ingest twin must land on exactly the
# batch matrix, so its oracle IS the batch SQL above.
register("streaming_markov_parity", _streaming_markov_parity, EVENT_MARKOV_SQL)




# --- top user paths ----------------------------------------------------------
# Registered round 14 (staged round 13: implemented + oracled + pytest
# parity + planted stress first, registered at the window rotation).

PATHS_DEPTH = 5  # first N event types per user
PATHS_TOP = 20


def events_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r14 window (see :func:`events_paths_op`)."""
    return events_paths_op(load_table(spark, sf, "events"))


def events_paths_op(ev: DataFrame) -> DataFrame:
    """Top user journeys: the most common first-5 event-type sequences
    across users — the path-analysis staple next to the funnel (which
    fixes the stage order in advance) and the Markov matrix (which
    forgets everything but adjacency). Determinism: the per-user order
    is (ts, event_id) — the unique ingest sequence breaks ts ties, the
    same contract as ``ext_event_markov`` — and ties in path frequency
    break on the path string.

    Exactness: pure counting over deterministic strings; no float at
    all (the share column is the HALF_UP integer closure).

    Plan shape (100 TB): one window shuffle on ``user_id`` (the event
    log's natural bucketing key), a per-user fold to ONE row (collect
    of ≤5 structs per user — bounded by construction, not by data), one
    partial-aggregated count shuffle on the path strings, and a global
    top-20 (TakeOrderedAndProject — no full sort materializes)."""
    from dariadb_spark.ext.exact import ratio_round_spark

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firstn = (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= PATHS_DEPTH)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rn", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    users = firstn.select(F.count("*").alias("n_users_total"))
    cnt = firstn.groupBy("path").agg(F.count("*").alias("n_users"))
    return (
        cnt.crossJoin(F.broadcast(users))
        .selectExpr(
            "path",
            "n_users",
            ratio_round_spark("n_users", "n_users_total", 4) + " AS share",
        )
        .orderBy(F.col("n_users").desc(), F.col("path").asc())
        .limit(PATHS_TOP)
    )


def _paths_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH
r AS (SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= {PATHS_DEPTH} GROUP BY user_id),
tot AS (SELECT count(*) AS n_users_total FROM p),
cnt AS (SELECT path, count(*) AS n_users FROM p GROUP BY path)
SELECT c.path, c.n_users,
       {ratio_round_duck("c.n_users", "t.n_users_total", 4)} AS share
FROM cnt c CROSS JOIN tot t
ORDER BY c.n_users DESC, c.path ASC LIMIT {PATHS_TOP}"""


EVENTS_PATHS_SQL = _paths_sql()

register("ext_events_paths", events_paths, EVENTS_PATHS_SQL)


# --- funnel time-to-convert ---------------------------------------------------
# The HOW-FAST companion to `ext_funnel_conversion` (which reports only
# HOW MANY users reach each stage): the latency distribution of each
# stage transition — mean, rank-walk median, and the rank-⌈0.9·m⌉ p90
# every growth team reads next to the counts. Same per-user earliest
# stage times, NEW output: the conversion-lag distribution.

def funnel_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for :func:`funnel_latency_op`."""
    return funnel_latency_op(measurements(spark, sf))


#: per-transition row count above which the rank-statistic percentiles
#: route through the HDR log₂×16 weighted-count walk instead of the
#: per-row rank window — the documented 100 TB escape hatch for
#: unbounded-domain distribution queries (BASELINE.md; the
#: _cc_union_find / _cc_label_propagation adaptive precedent in
#: ext/dedup.py). Fixture and sf0.1 sizes sit far below it, so the
#: registered driver row always takes the EXACT branch.
FUNNEL_RANK_SKETCH_THRESHOLD = 50_000_000


def _hdr_rank_walk(lags: DataFrame, rank_specs: dict[str, str]) -> DataFrame:
    """Approximate per-transition rank statistics off HDR log₂×16
    weighted bucket counts (the exact integer binning of
    ext/sketches.py sketch_quantile_hdr — ``length(bin(x))`` is an
    exact floor(log₂), no transcendental).

    ``rank_specs`` maps an output column name to a 1-based target-rank
    SQL expression over ``m`` (the group row count), e.g. p90 →
    ``(9 * m + 9) DIV 10``. For each spec the walk finds the bucket
    holding that rank in the cumulative count and linearly
    interpolates inside it: the true order statistic lies in
    [lo_edge, lo_edge + width), and width ≤ lo_edge/16 above the
    linear range, so the estimate carries a BOUNDED ≤ 1/16 RELATIVE
    error regardless of the lag domain — the property that lets this
    replace a per-row rank window whose single cumulative task is the
    sequential bottleneck at billions of rows.

    Plan shape: one map-side-combined (transition, bucket) aggregate —
    ≤ 16·63 buckets per transition regardless of input size — then
    dimension-sized windows and joins on the bucket table only.

    Callers guarantee NONNEGATIVE values (funnel lags are, by the
    ``time >= t1`` construction); a negative input would misbin in the
    ``length(bin(x))`` octave expression — split signed measures first,
    the sketch_quantile_hdr convention.
    """
    sub = 16  # 2^HDR_SUB_BITS, ext/sketches.py
    bucket = (
        f"CASE WHEN lag_ms < {sub} THEN lag_ms "
        f"ELSE (length(bin(lag_ms)) - 4) * {sub} "
        f"  + (shiftright(lag_ms, length(bin(lag_ms)) - 5) & {sub - 1}) "
        "END"
    )
    lo_edge = (
        f"CASE WHEN bucket < {sub} THEN bucket "
        f"ELSE shiftleft({sub} + bucket % {sub}, "
        f"CAST(bucket / {sub} AS INT) - 1) END"
    )
    width = (
        f"CASE WHEN bucket < {sub} THEN 1L "
        f"ELSE shiftleft(1L, CAST(bucket / {sub} AS INT) - 1) END"
    )
    binned = (
        lags.selectExpr("transition", f"{bucket} AS bucket")
        .groupBy("transition", "bucket")
        .agg(F.count("*").alias("cnt"))
        .selectExpr(
            "transition", "bucket", "cnt",
            f"{lo_edge} AS lo_edge", f"{width} AS width",
        )
    )
    wc = (
        Window.partitionBy("transition")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = binned.select(
        "*",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("transition")).alias("m"),
    )
    out = None
    for name, r_expr in rank_specs.items():
        est = (
            cum.selectExpr("*", f"({r_expr}) AS r")
            .where("cum >= r AND cum - cnt < r")
            .selectExpr(
                "transition",
                "lo_edge + width * ((r - (cum - cnt)) / cnt)"
                f" AS {name}",
            )
        )
        out = est if out is None else out.join(est, "transition")
    return out


def funnel_latency_op(
    meas: DataFrame,
    rank_threshold: int = FUNNEL_RANK_SKETCH_THRESHOLD,
) -> DataFrame:
    """Per stage transition (view→click, click→purchase): converted-user
    count, mean, median, and p90 conversion lag in ms.

    Exactness: lags are int64 ms; mean is the HALF_UP ratio at 1 dp;
    median is the doubled rank walk (sum of the two middle order
    statistics, one /2.0 at the output); p90 is the rank-⌈0.9·m⌉ order
    statistic itself — an exact int64, the `ext_sketch_quantile`
    convention. Rank ties cannot occur: row_number orders by (lag, id)
    and (id) is unique within a transition.

    Plan shape (100 TB): the funnel's three per-user stage times are
    windows over one partitioning on `id` (the clustering key), with no
    join; the distribution pass ranks n_converted rows in TWO
    partitions (one per transition) and reduces them in one aggregate.
    ABOVE ``rank_threshold`` converted rows per transition, that rank
    window — whose single cumulative task per transition is the
    sequential bottleneck at billions of users — is SWAPPED for the
    HDR log₂×16 weighted-count walk (:func:`_hdr_rank_walk`): median and p90
    become bounded-error (≤ 1/16 relative) estimates off a
    dimension-sized bucket table, while count and mean stay exact
    (plain sums). The branch decision reads the per-transition counts
    observed while ``lags`` is localCheckpoint-pinned (the adaptive
    pattern of ext/dedup.py's union-find/label-prop split), so the
    funnel reduction runs once per invocation and the decision costs
    no job of its own.
    """
    # Each stage time is the earliest event of its flag at or after the
    # previous stage's time: three min(CASE) windows over one id
    # partitioning of the funnel flags' rows, and the per-user aggregate
    # reuses that partitioning.
    by_id = Window.partitionBy("id")
    stages, after = meas.where(F.col("flag").isin(*_FUNNEL)), ""
    for t, flag in zip(("t1", "t2", "t3"), _FUNNEL):
        stages = stages.withColumn(
            t, F.expr(f"min(CASE WHEN flag = {flag}{after} THEN time END)").over(by_id)
        )
        after = f" AND time >= {t}"
    stages = stages.groupBy("id").agg(*(F.min(t).alias(t) for t in ("t1", "t2", "t3")))
    # Both transitions of a user in one pass; a null lag is a user who
    # did not reach the later stage.
    transitions = stages.selectExpr(
        "inline(array("
        "named_struct('transition', 'view_to_click', 'id', id,"
        " 'lag_ms', t2 - t1),"
        " named_struct('transition', 'click_to_purchase', 'id', id,"
        " 'lag_ms', t3 - t2)))"
    ).where("lag_ms IS NOT NULL")
    # localCheckpoint pins the three-stage funnel reduction once, so the
    # stats pass does not re-run it (exchange reuse only applies within
    # one action). The per-transition counts for the branch decision ride
    # on the checkpoint job as observed metrics: no action of their own.
    # lags is n_converted rows of 3 columns.
    counts = Observation()
    lags = (
        transitions.observe(
            counts,
            *(
                F.count(F.when(F.col("transition") == t, 1)).alias(t)
                for t in ("view_to_click", "click_to_purchase")
            ),
        )
        .localCheckpoint(eager=True)
    )
    from dariadb_spark.ext.exact import ratio_round_spark

    if max(counts.get.values()) > rank_threshold:
        stats = lags.groupBy("transition").agg(
            F.count("*").alias("n_users"),
            F.sum("lag_ms").alias("sum_lag"),
        )
        ests = _hdr_rank_walk(
            lags,
            {
                "med_lo": "(m + 1) DIV 2",
                "med_hi": "(m + 2) DIV 2",
                "p90_est": "(9 * m + 9) DIV 10",
            },
        )
        return (
            stats.join(ests, "transition")
            .selectExpr(
                "transition",
                "n_users",
                ratio_round_spark("sum_lag", "n_users", 1)
                + " AS mean_lag_ms",
                "(med_lo + med_hi) / 2.0d AS median_lag_ms",
                "CAST(round(p90_est) AS BIGINT) AS p90_ms",
            )
            .orderBy("transition")
        )
    wr = Window.partitionBy("transition").orderBy("lag_ms", "id")
    ranked = lags.select(
        "transition", "lag_ms",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(Window.partitionBy("transition")).alias("m"),
    )
    mid = F.expr("rn = (m + 1) DIV 2 OR rn = (m + 2) DIV 2")
    return (
        ranked.groupBy("transition")
        .agg(
            F.max("m").alias("n_users"),
            F.sum("lag_ms").alias("sum_lag"),
            (2 * F.sum(F.when(mid, F.col("lag_ms"))) / F.count(F.when(mid, 1)))
            .cast("bigint")
            .alias("med2"),
            F.max(F.when(F.expr("rn = (9 * m + 9) DIV 10"), F.col("lag_ms")))
            .alias("p90_ms"),
        )
        .selectExpr(
            "transition",
            "n_users",
            ratio_round_spark("sum_lag", "n_users", 1) + " AS mean_lag_ms",
            "med2 / 2.0d AS median_lag_ms",  # double literal: DECIMAL stays out
            "p90_ms",
        )
        .orderBy("transition")
    )


def _funnel_latency_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH {MEAS_CTE_SQL},
s1 AS (SELECT id, min(time) AS t1 FROM measurements
       WHERE flag = {_FUNNEL[0]} GROUP BY id),
s2 AS (SELECT m.id, min(m.time) AS t2 FROM measurements m
       JOIN s1 ON m.id = s1.id
       WHERE m.flag = {_FUNNEL[1]} AND m.time >= s1.t1 GROUP BY m.id),
s3 AS (SELECT m.id, min(m.time) AS t3 FROM measurements m
       JOIN s2 ON m.id = s2.id
       WHERE m.flag = {_FUNNEL[2]} AND m.time >= s2.t2 GROUP BY m.id),
lags AS (
  SELECT 'view_to_click' AS transition, s1.id, s2.t2 - s1.t1 AS lag_ms
  FROM s1 JOIN s2 ON s1.id = s2.id
  UNION ALL
  SELECT 'click_to_purchase' AS transition, s2.id, s3.t3 - s2.t2 AS lag_ms
  FROM s2 JOIN s3 ON s2.id = s3.id),
r AS (SELECT transition, lag_ms,
             row_number() OVER (PARTITION BY transition
                                ORDER BY lag_ms, id) AS rn,
             count(*) OVER (PARTITION BY transition) AS m
      FROM lags),
st AS (SELECT transition, max(m) AS n_users, sum(lag_ms) AS sum_lag
       FROM r GROUP BY transition),
md AS (SELECT transition, CAST(2 * sum(lag_ms) / count(*) AS BIGINT) AS med2
       FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
       GROUP BY transition),
p9 AS (SELECT transition, max(lag_ms) AS p90_ms
       FROM r WHERE rn = (9 * m + 9) // 10 GROUP BY transition)
SELECT s.transition, s.n_users,
       {ratio_round_duck("s.sum_lag", "s.n_users", 1)} AS mean_lag_ms,
       m.med2 / 2.0 AS median_lag_ms,
       p.p90_ms
FROM st s JOIN md m ON s.transition = m.transition
JOIN p9 p ON s.transition = p.transition
ORDER BY s.transition"""


FUNNEL_LATENCY_SQL = _funnel_latency_sql()

register("ext_funnel_latency", funnel_latency, FUNNEL_LATENCY_SQL)


# --- session concurrency (segmented-prefix-sum interval sweep) ----------------
# STAGED for the round-17 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). After sessionize's "when was each
# user ACTIVE?" this is the capacity verb its output cannot answer
# without a second pass: "how many users were active AT ONCE, and when
# did it peak?" — the interval-stabbing maximum every load planner
# reads. The plan is the SEGMENTED prefix sum, not a global window:
# endpoint deltas bucket by UTC day, day totals roll up in one
# days-sized window, and each day's inner sweep runs partitioned — the
# at-scale shape from the start (a global cumulative window would
# single-thread the corpus).

DAY_MS = 86_400_000


def session_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r17 window (:func:`session_concurrency_op`)."""
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    return session_concurrency_op(meas)


def session_concurrency_op(meas: DataFrame) -> DataFrame:
    """Per-day peak concurrent sessions over the gap-based sessions of
    :func:`sessionize` (same gap literal, same tie-safe total order).

    Counting convention (pinned): a session is active on the CLOSED
    interval [start, end] — at any instant t the count is
    #{sessions: start ≤ t ≤ end}, so a single-event session still
    counts 1 at its instant, and at a shared timestamp starts are
    applied before ends. Peak_t = cum_before + starts_t; the per-day
    peak is max over the day's distinct timestamps. Everything is
    integer counts — nothing to round.

    Exactness/plan shape (100 TB): session derivation is one shuffle on
    ``id`` (sessionize's plan); endpoint deltas then aggregate per
    (day, t) — the second corpus-sized shuffle — and the prefix sum is
    SEGMENTED: per-day inner cumulative windows run partitioned by day
    while the cross-day carry is a window over the days-sized total
    table; output is one row per active day."""
    w = Window.partitionBy("id").orderBy(*_ORD)
    run = Window.partitionBy("id").orderBy(*_ORD).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = (
        meas.select(
            "id", "time", "value", "flag",
            F.when(
                F.col("time") - F.lag("time", 1).over(w) > SESSION_GAP_MS, 1
            ).otherwise(0).alias("is_new"),
        )
        .select("id", "time", F.sum("is_new").over(run).alias("session_no"))
        .groupBy("id", "session_no")
        .agg(F.min("time").alias("t_start"), F.max("time").alias("t_end"))
    )
    ends = sessions.selectExpr("t_end AS t", "0L AS s", "1L AS e")
    pts = (
        sessions.selectExpr("t_start AS t", "1L AS s", "0L AS e")
        .unionByName(ends)
        .groupBy("t")
        .agg(F.sum("s").alias("s"), F.sum("e").alias("e"))
        .withColumn("day", F.expr(f"t DIV {DAY_MS}"))
    )
    day_w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = (
        pts.groupBy("day")
        .agg(F.sum(F.col("s") - F.col("e")).alias("d_tot"))
        .select(
            "day",
            F.coalesce(F.sum("d_tot").over(day_w), F.lit(0)).alias("carry"),
        )
    )
    in_w = Window.partitionBy("day").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    swept = (
        pts.join(F.broadcast(carry), "day")
        .select(
            "day", "t", "s", "e",
            (
                F.col("carry")
                + F.sum(F.col("s") - F.col("e")).over(in_w)
                - (F.col("s") - F.col("e"))
                + F.col("s")
            ).alias("peak_t"),
        )
    )
    return (
        swept.groupBy("day")
        .agg(
            F.sum("s").alias("n_starts"),
            F.sum("e").alias("n_ends"),
            F.max("peak_t").alias("peak_concurrency"),
        )
        .selectExpr(
            f"day * {DAY_MS} AS day_ms",
            "n_starts", "n_ends", "peak_concurrency",
        )
        .orderBy("day_ms")
    )


# the oracle reuses SESSIONIZE_SQL's derivation chain rules verbatim
# (same gap literal, same tie-safe (time, value, flag) total order) and
# renders the segmented sweep as the equivalent single-pass cumulative —
# DuckDB's window is the definitional form the distributed plan must
# reproduce exactly.
SESSION_CONCURRENCY_SQL = f"""WITH {MEAS_CTE_SQL},
base AS (
  SELECT id, time, value, flag,
         CASE WHEN time - lag(time, 1) OVER (PARTITION BY id
                ORDER BY time, value, flag) > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS is_new
  FROM measurements
  WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}),
sess0 AS (
  SELECT id, time,
         CAST(sum(is_new) OVER (PARTITION BY id ORDER BY time, value, flag
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_no
  FROM base),
sessions AS (SELECT id, session_no, min(time) AS t_start,
                    max(time) AS t_end
             FROM sess0 GROUP BY id, session_no),
pts AS (
  SELECT t, CAST(sum(s) AS BIGINT) AS s, CAST(sum(e) AS BIGINT) AS e
  FROM (SELECT t_start AS t, 1 AS s, 0 AS e FROM sessions
        UNION ALL
        SELECT t_end AS t, 0 AS s, 1 AS e FROM sessions)
  GROUP BY t),
swept AS (
  SELECT t // {DAY_MS} AS day, s, e,
         sum(s - e) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
           - (s - e) + s AS peak_t
  FROM pts)
SELECT day * {DAY_MS} AS day_ms,
       CAST(sum(s) AS BIGINT) AS n_starts, CAST(sum(e) AS BIGINT) AS n_ends,
       CAST(max(peak_t) AS BIGINT) AS peak_concurrency
FROM swept GROUP BY day ORDER BY day_ms"""

# Registered round 17 (staged round 16; the segmented endpoint prefix
# sum with a cross-day carry — never a global single-partition window).
register("ext_session_concurrency", session_concurrency, SESSION_CONCURRENCY_SQL)


# --- event burstiness (inter-arrival dispersion) ----------------------------------
# STAGED for the round-18 driver window (the staging every late operator
# follows: implemented + oracled + pytest parity + planted stress now,
# registered at the next rotation). The cadence-SHAPE verb next to
# ext_order_interarrival's per-segment gap distribution: per event type
# (the flag code), is arrival Poisson-like, periodic, or bursty? The
# classic reading is the squared coefficient of variation of
# inter-arrival gaps — CV² = 1 for Poisson, < 1 for regular/periodic,
# > 1 for bursty — computable as an EXACT rational from (n, Σg, Σg²),
# unlike the (σ−μ)/(σ+μ) form whose sqrt would cost cross-engine ULP
# parity. Gaps are whole SECONDS (integer ms DIV 1000): keeps
# Σg² inside int64 up to ~10⁶ gaps/group at month-long spans (the
# envelope the docstring pins) and makes the streaming twin's state
# four plain int64s.


def events_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r18 window (:func:`events_burstiness_op`)."""
    return events_burstiness_op(
        scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    )


def events_burstiness_op(meas: DataFrame) -> DataFrame:
    """(flag, n_gaps, sum_gap_s, mean_gap_s, cv2) per event type.

    Gaps are consecutive same-(id, flag) arrival deltas in whole
    seconds ((t₂−t₁) DIV 1000 — both engines floor nonnegative ints
    identically); the per-type stats POOL the per-(id, flag) gap
    multisets (sums are commutative, so the pooling is exact and the
    streaming twin can carry per-group partials). Equal-time
    duplicates contribute a legitimate 0 gap — the batch semantic the
    streaming twin's equality-accept mirrors (the r17 fold-contract
    taxonomy: no LWW dedup here, so duplicates are samples).

    Exactness: n, Σg, Σg² are exact int64 (envelope: gaps ≤ a month ≈
    2.6e6 s squared is 6.9e12, so Σg² holds ~10⁶ such gaps per TYPE;
    past that pre-scale gaps to minutes); mean is HALF_UP 3-dp;
    CV² = n(nΣg² − (Σg)²) / ((n−1)(Σg)²) rides DECIMAL(38,0)/HUGEINT
    through the n² products (Cauchy–Schwarz keeps the numerator
    nonneg) and lands as the wide HALF_UP 6-dp double. Types with
    fewer than 2 gaps or zero mean are excluded (CV² does not
    exist).

    Plan shape (100 TB): one pruned scan → the lag window shuffles
    once on (id, flag) — id is the storage clustering key, so a
    bucketed layout runs it shuffle-free — → a partial-aggregated
    ≤|types|-key shuffle of 3 sums; the ratio is a stateless
    projection on the |types|-row summary."""
    w = Window.partitionBy("id", "flag").orderBy(*_ORD)
    gaps = (
        meas.select(
            "id", "flag", "time", "value",
            F.expr("time DIV 1000").alias("ts"),
        )
        .select(
            "flag",
            (F.col("ts") - F.lag("ts", 1).over(w)).alias("g"),
        )
        .where(F.col("g").isNotNull())
    )
    sums = gaps.groupBy("flag").agg(
        F.count("*").alias("n_gaps"),
        F.sum("g").alias("sum_gap_s"),
        F.sum(F.col("g") * F.col("g")).alias("sum_gap2"),
    )
    return burstiness_report(sums)


def burstiness_report(sums: DataFrame) -> DataFrame:
    """The finishing projection over per-flag (n_gaps, sum_gap_s,
    sum_gap2) partials — SHARED verbatim by the batch operator and the
    streaming twin (streaming/burst.py), so statefulness can only show
    up in the partials, never in the arithmetic."""
    from dariadb_spark.ext.exact import (
        ratio_round_signed_wide_spark,
        ratio_round_spark,
    )

    # Cauchy–Schwarz gives n·Σg² ≥ (Σg)², so the numerator is nonneg —
    # the signed wide form is used only for its DECIMAL(38,0) width
    num = (
        "n_gaps * (n_gaps * CAST(sum_gap2 AS DECIMAL(38,0))"
        " - CAST(sum_gap_s AS DECIMAL(38,0)) * sum_gap_s)"
    )
    den = (
        "(n_gaps - 1) * (CAST(sum_gap_s AS DECIMAL(38,0)) * sum_gap_s)"
    )
    return (
        sums.where((F.col("n_gaps") >= 2) & (F.col("sum_gap_s") > 0))
        .selectExpr(
            "flag",
            "n_gaps",
            "sum_gap_s",
            ratio_round_spark("sum_gap_s", "n_gaps", 3) + " AS mean_gap_s",
            ratio_round_signed_wide_spark(num, den, 6) + " AS cv2",
        )
        .orderBy("flag")
    )


def _burstiness_sql() -> str:
    from dariadb_spark.ext.exact import (
        ratio_round_duck,
        ratio_round_signed_wide_duck,
    )

    num = (
        "n_gaps * (n_gaps * CAST(sum_gap2 AS HUGEINT)"
        " - CAST(sum_gap_s AS HUGEINT) * sum_gap_s)"
    )
    den = "(n_gaps - 1) * (CAST(sum_gap_s AS HUGEINT) * sum_gap_s)"
    return f"""WITH {MEAS_CTE_SQL},
pts AS (SELECT id, flag, time // 1000 AS ts, time, value
        FROM measurements
        WHERE id IN {_ids_sql(IDS)}
          AND time BETWEEN {FROM_MS} AND {TO_MS}),
g0 AS (SELECT flag,
              ts - lag(ts, 1) OVER (PARTITION BY id, flag
                                    ORDER BY time, value, flag) AS g
       FROM pts),
sums AS (SELECT flag, count(*) AS n_gaps,
                CAST(sum(g) AS BIGINT) AS sum_gap_s,
                CAST(sum(g * g) AS BIGINT) AS sum_gap2
         FROM g0 WHERE g IS NOT NULL GROUP BY flag)
SELECT flag, n_gaps, sum_gap_s,
       {ratio_round_duck("sum_gap_s", "n_gaps", 3)} AS mean_gap_s,
       {ratio_round_signed_wide_duck(num, den, 6)} AS cv2
FROM sums WHERE n_gaps >= 2 AND sum_gap_s > 0
ORDER BY flag"""


EVENTS_BURSTINESS_SQL = _burstiness_sql()

# Registered round 18 (staged round 17).
register("ext_events_burstiness", events_burstiness, EVENTS_BURSTINESS_SQL)


def _streaming_burst_parity(spark: SparkSession, sf: str) -> DataFrame:
    # Lazy import — same circularity guard as the timeseries twins.
    from dariadb_spark.streaming.burst import streaming_burst_parity

    return streaming_burst_parity(spark, sf)


# Registered round 18 (staged round 17). The stateful cadence-monitor
# twin: four-int64 per-(id, flag) state (last arrival + n/Σg/Σg²);
# equality-accept in-order contract (a duplicate arrival is a 0-gap
# sample, matching the batch semantic); the finish runs the SHARED
# burstiness_report projection. Per-batch Σg² accumulates exactly —
# numpy fast path under a provable 2⁶² envelope, Python bigints past
# it, OverflowError past int64 (loud, like the batch twin's ANSI sum;
# ADVICE r17). Oracle = the batch EVENTS_BURSTINESS_SQL (same slice).
register(
    "streaming_burst_parity",
    _streaming_burst_parity,
    EVENTS_BURSTINESS_SQL,
)
