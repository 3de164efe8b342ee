"""Named query registry — the driver-facing correctness surface.

Every SURVEY.md §2 operator row registers here as a (Spark plan, DuckDB
oracle SQL) pair with *identical* semantics and column names/types, so the
driver's row-count + schema + value-hash compare is meaningful. Queries are
parameterized with fixed constants (same at every scale factor) chosen to
exercise boundary semantics: ids that exist at sf0.001's small domain, one
id that exists nowhere (_NO_DATA synthesis), closed interval ends, flag
bitmask filtering.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from dariadb_spark.functions.statistics import FUNCTION_REGISTRY, apply_functions
from dariadb_spark.model import (
    FLAGS_NO_DATA,
    MEAS_CTE_SQL,
    flag_predicate_sql,
    measurements,
)
from dariadb_spark.operators.asof import current_value, read_time_point
from dariadb_spark.operators.downsample import bucket_sql, downsample
from dariadb_spark.operators.interval import read_interval
from dariadb_spark.operators.stats import min_max_time, stat_block

# --- fixed query parameters (valid at every scale factor) -----------------
# user_id domain is 0..14 at sf0.001 (grows with sf); events span
# 2024-01-01 .. 2024-01-30. All times epoch-ms UTC.
IDS = list(range(15))
ASOF_IDS = [0, 1, 2, 3, 4, 5, 6, 7, 9999]  # 9999 exists nowhere → _NO_DATA
FROM_MS = 1_704_412_800_000  # 2024-01-05 00:00:00 UTC
TO_MS = 1_705_708_800_000  # 2024-01-20 00:00:00 UTC (closed end)
TP_MS = 1_705_276_800_000  # 2024-01-15 00:00:00 UTC
ERASE_CUTOFF_MS = TP_MS
FLAG_ERROR = 16

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: Optional[str]  # None → driver does rows-only check


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, fn: QueryFn, oracle: Optional[str]) -> None:
    REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle)


def _ids_sql(ids: list[int]) -> str:
    return "(" + ", ".join(str(i) for i in ids) + ")"


def _values_sql(ids: list[int]) -> str:
    return ", ".join(f"({i})" for i in ids)


# --- S4/F1-F3/O1: interval scan ------------------------------------------

register(
    "interval_scan",
    lambda spark, sf: read_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, time, value, flag FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
ORDER BY id, time""",
)

register(
    "interval_scan_flag",
    lambda spark, sf: read_interval(
        measurements(spark, sf), IDS, FROM_MS, TO_MS, FLAG_ERROR
    ),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, time, value, flag FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
  AND {flag_predicate_sql(FLAG_ERROR)}
ORDER BY id, time""",
)

# --- J1: as-of read with _NO_DATA synthesis ------------------------------

register(
    "timepoint_asof",
    lambda spark, sf: read_time_point(measurements(spark, sf), ASOF_IDS, TP_MS, 0),
    f"""WITH {MEAS_CTE_SQL},
requested(id) AS (SELECT CAST(v AS BIGINT) FROM (VALUES {_values_sql(ASOF_IDS)}) t(v)),
ranked AS (
  SELECT id, time, value, flag,
         row_number() OVER (PARTITION BY id
                            ORDER BY time DESC, value DESC, flag DESC) AS rn
  FROM measurements
  WHERE id IN {_ids_sql(ASOF_IDS)} AND time <= {TP_MS}
)
SELECT r.id AS id,
       COALESCE(l.time, {TP_MS}) AS time,
       COALESCE(l.value, 0.0) AS value,
       COALESCE(l.flag, {FLAGS_NO_DATA}) AS flag
FROM requested r LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) l ON r.id = l.id
ORDER BY id""",
)

# --- A3: current value per series ----------------------------------------

register(
    "current_value",
    lambda spark, sf: current_value(measurements(spark, sf), None, 0),
    f"""WITH {MEAS_CTE_SQL},
ranked AS (
  SELECT id, time, value, flag,
         row_number() OVER (PARTITION BY id
                            ORDER BY time DESC, value DESC, flag DESC) AS rn
  FROM measurements
)
SELECT id, time, value, flag FROM ranked WHERE rn = 1 ORDER BY id""",
)

# --- A1/A2: min/max time -------------------------------------------------

register(
    "min_max_time",
    lambda spark, sf: min_max_time(measurements(spark, sf), IDS),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, min(time) AS min_time, max(time) AS max_time
FROM measurements WHERE id IN {_ids_sql(IDS)}
GROUP BY id ORDER BY id""",
)

register(
    "load_min_max",
    lambda spark, sf: min_max_time(measurements(spark, sf), None),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, min(time) AS min_time, max(time) AS max_time
FROM measurements GROUP BY id ORDER BY id""",
)

# --- A4: statistic block -------------------------------------------------

register(
    "stat_block",
    lambda spark, sf: stat_block(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, count(value) AS cnt, min(time) AS min_time, max(time) AS max_time,
       min(value) AS min_value, max(value) AS max_value,
       round(sum(value), 4) AS sum_value,
       (round(sum(value), 6) / count(value)) AS mean_value
FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY id ORDER BY id""",
)

# --- A5-A12: statistic functions (one named query each) ------------------

def _make_fn_query(fname: str) -> QueryFn:
    def q(spark: SparkSession, sf: str) -> DataFrame:
        return apply_functions(
            measurements(spark, sf), [fname], IDS, FROM_MS, TO_MS, 0
        )

    return q


# The per-function Calculator rows are column projections of fn_all
# (the same apply_functions path over the identical slice, grouping and
# aggregates), so only fn_all is a driver row.
# tests/test_oracle_parity.py::test_fn_single_queries_are_fn_all_projections
# pins the projection and keeps each per-function DuckDB check;
# _make_fn_query above is the per-function builder it drives.

# --- A12: full Calculator block (all functions in one pass) --------------

register(
    "fn_all",
    lambda spark, sf: apply_functions(
        measurements(spark, sf),
        list(FUNCTION_REGISTRY),
        IDS,
        FROM_MS,
        TO_MS,
        0,
    ),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, {', '.join(f'{agg} AS {name}' for name, (_, agg) in FUNCTION_REGISTRY.items())}
FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY id ORDER BY id""",
)

# --- W1/W2: interval buckets / downsample --------------------------------

def _bucket_oracle(interval: str) -> str:
    return f"""WITH {MEAS_CTE_SQL}
SELECT id, {bucket_sql(interval)} AS bucket_ms, count(value) AS cnt,
       (round(sum(value), 6) / count(value)) AS avg_value, min(value) AS min_value,
       max(value) AS max_value, round(sum(value), 4) AS sum_value
FROM measurements
GROUP BY id, bucket_ms ORDER BY id, bucket_ms"""


for _interval in ("minute30", "hour", "day", "week", "month"):
    register(
        f"bucket_{_interval}",
        (lambda iv: lambda spark, sf: downsample(measurements(spark, sf), iv))(
            _interval
        ),
        _bucket_oracle(_interval),
    )


def _salted_bucket_hour(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.plans.skew import salted_downsample

    return salted_downsample(measurements(spark, sf), "hour")


# skew-safe two-stage variant — shares the UNSALTED oracle, proving the
# salted plan is value-identical (plans/skew.py)
register("bucket_hour_salted", _salted_bucket_hour, _bucket_oracle("hour"))

# --- J2: scheme name→id resolution (broadcast catalog join) --------------
# Reference: scheme/scheme.cpp (Scheme::idByParam/addParam) — hierarchical
# dot-separated names to series ids. The catalog is tiny at any scale, so
# the join is a broadcast hash join (no shuffle of the fact side).

SCHEME_NAMES = [f"host{i // 4}.sensor{i % 4}.load" for i in range(15)]


def _scheme_resolve(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dariadb_spark.scheme import SeriesCatalog

    from dariadb_spark.operators.interval import scan_interval

    cat = SeriesCatalog(spark)
    for name in SCHEME_NAMES:  # ids assigned 0..14 in order (Scheme::addParam)
        cat.add_param(name)
    # unsorted scan: the groupBy below re-shuffles, a MeasArray sort here
    # would be a thrown-away exchange
    meas = scan_interval(measurements(spark, sf), IDS, FROM_MS, TO_MS, 0)
    return (
        cat.resolve(meas)
        .groupBy("name")
        .agg(
            F.count("value").alias("cnt"),
            (F.round(F.sum("value"), 6) / F.count("value")).alias("avg_value"),
        )
        .orderBy("name")
    )


register(
    "scheme_resolve",
    _scheme_resolve,
    f"""WITH {MEAS_CTE_SQL},
catalog(id, name) AS (VALUES {', '.join(f"({i}, '{n}')" for i, n in enumerate(SCHEME_NAMES))})
SELECT c.name AS name, count(m.value) AS cnt,
       (round(sum(m.value), 6) / count(m.value)) AS avg_value
FROM measurements m JOIN catalog c ON m.id = c.id
WHERE m.id IN {_ids_sql(IDS)} AND m.time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY c.name ORDER BY name""",
)

_DAY_MS_ = 86_400_000


def _scheme_pattern_scan(spark: SparkSession, sf: str) -> DataFrame:
    """J2 hierarchical lookup (scheme/scheme.h dot-tree): resolve the
    glob ``host1.*`` through the catalog and aggregate the matching
    series per (name, day). The matched catalog slice joins broadcast;
    the matched id set never materializes on the driver — the
    scale-safe form of name-driven querying."""
    from pyspark.sql import functions as F

    from dariadb_spark.operators.interval import scan_interval
    from dariadb_spark.scheme import SeriesCatalog

    cat = SeriesCatalog(spark)
    for name in SCHEME_NAMES:
        cat.add_param(name)
    meas = scan_interval(measurements(spark, sf), None, FROM_MS, TO_MS, 0)
    day = (
        F.col("time") - F.pmod(F.col("time"), F.lit(_DAY_MS_))
    ).alias("day_ms")
    return (
        meas.join(F.broadcast(cat.match("host1.*")), "id")
        .groupBy("name", day)
        .agg(
            F.count("value").alias("cnt"),
            (F.round(F.sum("value"), 6) / F.count("value")).alias("avg_value"),
        )
        .orderBy("name", "day_ms")
    )


register(
    "scheme_pattern_scan",
    _scheme_pattern_scan,
    f"""WITH {MEAS_CTE_SQL},
catalog(id, name) AS (VALUES {', '.join(f"({i}, '{n}')" for i, n in enumerate(SCHEME_NAMES))})
SELECT c.name AS name,
       m.time - ((m.time % {_DAY_MS_}) + {_DAY_MS_}) % {_DAY_MS_} AS day_ms,
       count(m.value) AS cnt,
       (round(sum(m.value), 6) / count(m.value)) AS avg_value
FROM measurements m JOIN catalog c ON m.id = c.id
WHERE c.name LIKE 'host1.%' AND m.time BETWEEN {FROM_MS} AND {TO_MS}
GROUP BY 1, 2 ORDER BY name, day_ms""",
)

# --- T4: retention semantics (eraseOld survivors) ------------------------

register(
    "erase_old_check",
    lambda spark, sf: _erase_old_check(spark, sf),
    f"""WITH {MEAS_CTE_SQL}
SELECT id, count(*) AS cnt, min(time) AS min_time
FROM measurements WHERE time >= {ERASE_CUTOFF_MS}
GROUP BY id ORDER BY id""",
)


def _erase_old_check(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as F

    from dariadb_spark.model import pushdown_time_bounds

    meas = measurements(spark, sf)
    return (
        meas.where(pushdown_time_bounds(meas, ERASE_CUTOFF_MS, None))
        .groupBy("id")
        .agg(F.count("*").alias("cnt"), F.min("time").alias("min_time"))
        .orderBy("id")
    )


# --- T5: manifest/fsck observability (per-partition stats) ----------------


def _partition_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The fsck/manifest view (storage/manifest.cpp analog): per
    day-partition row counts, series counts, and time bounds — the
    query an operator dashboards at 100 TB to spot skewed or torn
    partitions. On this partition-less fixture source the op emits
    stats only; on a ParquetTsStore read it adds the physical
    ``bounds_ok`` torn-partition check (see
    ``operators.stats.partition_stats_op`` and the TsEngine verb)."""
    from dariadb_spark.operators.stats import partition_stats_op

    return partition_stats_op(measurements(spark, sf))


register(
    "partition_stats",
    _partition_stats,
    f"""WITH {MEAS_CTE_SQL},
p AS (
  SELECT time - ((time % {_DAY_MS_}) + {_DAY_MS_}) % {_DAY_MS_} AS day_ms,
         id, time
  FROM measurements)
SELECT day_ms, count(*) AS n_rows, count(DISTINCT id) AS n_series,
       min(time) AS min_time, max(time) AS max_time
FROM p GROUP BY day_ms ORDER BY day_ms""",
)


def _partition_file_stats(spark: SparkSession, sf: str) -> DataFrame:
    """File-level fsck view (operators/stats.py partition_file_stats_op
    — the ``.pagei`` page-index analog): per input FILE row counts,
    series counts, and time bounds via ``input_file_name()``. The
    fixture tables are single-file parquet (TESTDATA.md), so the oracle
    states the known basename as a constant; the multi-file semantics —
    including ``bounds_ok`` naming the exact file torn across a
    ``p_date=`` dir — are exercised on a ParquetTsStore by
    tests/test_engine.py."""
    from dariadb_spark.operators.stats import partition_file_stats_op

    return partition_file_stats_op(measurements(spark, sf))


register(
    "partition_file_stats",
    _partition_file_stats,
    f"""WITH {MEAS_CTE_SQL}
SELECT 'events.parquet' AS file, count(*) AS n_rows,
       count(DISTINCT id) AS n_series,
       min(time) AS min_time, max(time) AS max_time
FROM measurements""",
)


def _partition_file_stats_multi(spark: SparkSession, sf: str) -> DataFrame:
    """The per-FILE fsck check over a REAL multi-file ParquetTsStore
    (the single-file fixture oracle above proves whole-table bounds
    only): materialize the interval slice into a temp store as TWO
    deterministic appends (id={IDS[0]} vs the rest,
    each repartitioned by UTC day → exactly one file per (append, day)
    dir), run ``partition_file_stats_op`` over the store read (which
    carries the physical ``_p_date``, so ``bounds_ok`` is the real
    torn-file check), and key each file row by its within-day stats
    rank — file NAMES are writer-generated UUIDs, but the per-file
    grouping, counts, bounds, and placement check all hash
    deterministically. Scratch store removed before returning. At scale
    the op runs directly on the production store
    (``TsEngine.partition_file_stats``, one map-side agg per file); the
    temp store here exists only to hand the driver a deterministic
    multi-file fixture to hash. The scratch directory comes from
    :func:`~dariadb_spark.streaming.scratch.scratch_dir`."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dariadb_spark.model import ids_predicate, pushdown_time_bounds
    from dariadb_spark.operators.stats import partition_file_stats_op
    from dariadb_spark.sources.parquet_store import ParquetTsStore
    from dariadb_spark.streaming.scratch import localize_and_cleanup, scratch_dir

    with scratch_dir("fstats_multi") as base:
        meas = measurements(spark, sf)
        sl = meas.where(
            ids_predicate(IDS) & pushdown_time_bounds(meas, FROM_MS, TO_MS)
        ).select("id", "time", "value", "flag")
        # one fixture scan for the whole landing: the slice feeds two
        # store appends plus the expected-counts aggregate below (same
        # persisted_slice recipe as the streaming parity landings)
        sl = sl.persist()
        try:
            day = F.date_format(
                F.timestamp_millis(F.col("time")), "yyyy-MM-dd"
            )
            store = ParquetTsStore(spark, base)
            store.append(sl.where(F.col("id") == IDS[0]).repartition(day))
            store.append(sl.where(F.col("id") != IDS[0]).repartition(day))
            # The oracle assumes EXACTLY one file per (append, day). A
            # config drift (spark.sql.files.maxRecordsPerFile, AQE
            # skew-split) would split a day across files and surface only
            # as an opaque driver hash mismatch — fail loudly here instead:
            # per day, the store must hold exactly as many files as
            # appends that had data for that day.
            import glob as _glob
            from collections import Counter as _Counter

            per_day = _Counter(
                p.rsplit("/p_date=", 1)[1].split("/")[0]
                for p in _glob.glob(
                    f"{base}/**/p_date=*/*.parquet", recursive=True
                )
            )
            expected = {
                r.d: r.k
                for r in sl.selectExpr(
                    "date_format(timestamp_millis(time), 'yyyy-MM-dd') AS d",
                    f"CAST(id = {IDS[0]} AS INT) AS g",
                )
                .groupBy("d")
                .agg(F.countDistinct("g").alias("k"))
                .collect()
            }
            assert dict(per_day) == expected, (
                f"files per day {dict(per_day)} != append groups {expected} "
                "— writer config drift, the oracle below no longer matches"
            )
        finally:
            # landing done (or failed) — never leak the persisted slice
            # for the session; the stats op reads the store
            sl.unpersist()
        stats = partition_file_stats_op(store.read())
        w = Window.partitionBy("p_date").orderBy(
            "n_series", "n_rows", "min_time", "max_time"
        )
        out = (
            stats.withColumn(
                "file_rank", F.row_number().over(w).cast("long")
            )
            .select(
                # partition-dir inference types the day as DATE; the
                # oracle (and the store's logical layout) speak
                # yyyy-MM-dd strings
                F.col("p_date").cast("string").alias("p_date"),
                "file_rank",
                "n_rows",
                "n_series",
                "min_time",
                "max_time",
                "bounds_ok",
            )
            .orderBy("p_date", "file_rank")
        )
        return localize_and_cleanup(spark, out, base)


register(
    "partition_file_stats_multi",
    _partition_file_stats_multi,
    f"""WITH {MEAS_CTE_SQL},
s AS (SELECT id, time,
        strftime(make_timestamp(time * 1000), '%Y-%m-%d') AS p_date,
        CASE WHEN id = {IDS[0]} THEN 0 ELSE 1 END AS grp
      FROM measurements
      WHERE id IN ({', '.join(map(str, IDS))})
        AND time BETWEEN {FROM_MS} AND {TO_MS}),
f AS (SELECT p_date, grp, count(*) AS n_rows,
        count(DISTINCT id) AS n_series,
        min(time) AS min_time, max(time) AS max_time
      FROM s GROUP BY p_date, grp)
SELECT p_date,
       row_number() OVER (PARTITION BY p_date
         ORDER BY n_series, n_rows, min_time, max_time) AS file_rank,
       n_rows, n_series, min_time, max_time,
       CAST(1 AS BIGINT) AS bounds_ok
FROM f ORDER BY p_date, file_rank""",
)

# --- flagship (driver smoke query) ---------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval scan + hourly downsample on the measurements view — the
    minimal end-to-end slice exercising scan → filter → agg → sort."""
    meas = measurements(spark, sf_dir)
    return downsample(meas, "hour", IDS, FROM_MS, TO_MS, 0)


# --- T1/T3/T5: streaming ingest parity (real micro-batch pipeline) -------

def _streaming_rollup_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.rollup import streaming_rollup_parity

    return streaming_rollup_parity(spark, sf)


register("streaming_rollup_parity", _streaming_rollup_parity, _bucket_oracle("day"))


def _streaming_cv_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.rollup import streaming_current_value_parity

    return streaming_current_value_parity(spark, sf)


# same oracle as the batch current_value verb — the streaming snapshot
# must be value-identical
register(
    "streaming_current_value_parity",
    _streaming_cv_parity,
    REGISTRY["current_value"].oracle,
)


def _streaming_sessionize_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.subscribe import streaming_sessionize_parity

    return streaming_sessionize_parity(spark, sf)


def _register_streaming_sessionize_parity() -> None:
    # deferred: needs ext_session_window's oracle, registered by the ext
    # module imports at the bottom of this file
    register(
        "streaming_sessionize_parity",
        _streaming_sessionize_parity,
        REGISTRY["ext_session_window"].oracle,
    )


def _streaming_anomaly_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.stateful import streaming_anomaly_parity

    return streaming_anomaly_parity(spark, sf)


def _register_streaming_anomaly_parity() -> None:
    # deferred: oracle = the batch ext_anomaly_zscore SQL (ext module
    # imports at the bottom of this file); the applyInPandasWithState
    # fold must reproduce the batch window plan exactly
    register(
        "streaming_anomaly_parity",
        _streaming_anomaly_parity,
        REGISTRY["ext_anomaly_zscore"].oracle,
    )


def _streaming_interval_join_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.subscribe import (
        streaming_interval_join_parity,
    )

    return streaming_interval_join_parity(spark, sf)


def _streaming_dedup_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.subscribe import streaming_dedup_parity

    return streaming_dedup_parity(spark, sf)


def _register_streaming_dedup_parity() -> None:
    # Ingest idempotence: the slice is written twice (at-least-once
    # replay) and the streaming exact dedup must emit each distinct row
    # exactly once.
    register(
        "streaming_dedup_parity",
        _streaming_dedup_parity,
        f"""WITH {MEAS_CTE_SQL}
SELECT DISTINCT id, time, value, flag FROM measurements
WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS}
ORDER BY id, time, value, flag""",
    )


def _register_streaming_interval_join_parity() -> None:
    # The watermarked stream-stream T-join: errors ⋈ trailing-15-min
    # context, aggregated per error event. Oracle = the batch range join
    # over the same slice (closed [t−W, t] bounds, context side
    # pass-all).
    register(
        "streaming_interval_join_parity",
        _streaming_interval_join_parity,
        f"""WITH {MEAS_CTE_SQL},
m AS (SELECT id, time, value, flag FROM measurements
      WHERE id IN {_ids_sql(IDS)} AND time BETWEEN {FROM_MS} AND {TO_MS})
SELECT e.id AS id, e.time AS time, e.value AS value,
       count(*) AS n_ctx, round(sum(c.value), 4) AS sum_ctx_value
FROM m e JOIN m c
  ON c.id = e.id AND c.time BETWEEN e.time - 900000 AND e.time
WHERE (e.flag & {FLAG_ERROR}) = {FLAG_ERROR}
GROUP BY e.id, e.time, e.value
ORDER BY id, time, value""",
    )

# --- W2: derived-series downsample with distributed id allocation --------

def _derived_series(spark: SparkSession, sf: str) -> DataFrame:
    """scheme/scheme.cpp derived parameters (``param.average.day``) as a
    driver-checked query: a FRESH catalog per call, so every source id
    binds a synthetic ``series<id>`` name and every derived id allocates
    distributedly above the source-id max — semantics the oracle
    reproduces exactly (join + row_number over the name order)."""
    from dariadb_spark.operators.downsample import downsample_to_series
    from dariadb_spark.scheme import SeriesCatalog

    cat = SeriesCatalog(spark)
    return downsample_to_series(
        measurements(spark, sf), cat, "average", "day", sync_catalog=False
    ).orderBy("id", "time")


register(
    "ext_derived_series",
    _derived_series,
    f"""WITH {MEAS_CTE_SQL},
ids AS (SELECT DISTINCT id FROM measurements),
mx AS (SELECT CAST(max(id) AS BIGINT) AS max_id FROM ids),
alloc AS (
  SELECT id, max_id + row_number() OVER (
      ORDER BY concat('series', CAST(id AS VARCHAR), '.average.day')
  ) AS derived_id
  FROM ids, mx),
agg AS (
  SELECT id, {bucket_sql('day')} AS bucket_ms,
         (round(sum(value), 6) / count(value)) AS value
  FROM measurements GROUP BY id, bucket_ms)
SELECT a.derived_id AS id, g.bucket_ms AS time,
       CAST(g.value AS DOUBLE) AS value, CAST(0 AS BIGINT) AS flag
FROM agg g JOIN alloc a ON g.id = a.id
ORDER BY id, time""",
)

# --- [EXT] modules register on import (import last: they need register) --

from dariadb_spark.ext import relational as _ext_rel  # noqa: E402,F401
from dariadb_spark.ext import analytics as _ext_analytics  # noqa: E402,F401
from dariadb_spark.ext import dedup as _ext_dedup  # noqa: E402,F401
from dariadb_spark.ext import text as _ext_text  # noqa: E402,F401
from dariadb_spark.ext import similarity as _ext_sim  # noqa: E402,F401
from dariadb_spark.ext import multimodal as _ext_mm  # noqa: E402,F401
from dariadb_spark.ext import timeseries as _ext_ts  # noqa: E402,F401
from dariadb_spark.ext import sampling as _ext_sampling  # noqa: E402,F401
from dariadb_spark.ext import curation as _ext_curation  # noqa: E402,F401
from dariadb_spark.ext import sketches as _ext_sketches  # noqa: E402,F401
from dariadb_spark.ext import tokenizer as _ext_tokenizer  # noqa: E402,F401
from dariadb_spark.ext import train as _ext_train  # noqa: E402,F401
from dariadb_spark.ext import pipeline as _ext_pipeline  # noqa: E402,F401

# ext_session_window exists now — register the streaming parity twin.
# Guarded: a UDF worker re-entering this module mid-import (see
# harness_ordered) may not have the ext registrations yet.
if "ext_session_window" in REGISTRY:
    _register_streaming_sessionize_parity()
if "ext_anomaly_zscore" in REGISTRY:
    _register_streaming_anomaly_parity()
if "streaming_anomaly_parity" in REGISTRY:
    _register_streaming_interval_join_parity()
    _register_streaming_dedup_parity()


def _streaming_sketch_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.sketch import streaming_sketch_parity

    return streaming_sketch_parity(spark, sf)


if "ext_sketch_cms_rollup" in REGISTRY:
    # Guarded on the rollup composite so the sketches module has
    # finished registering (test_plans.py pins all three lazy
    # streaming-sketch twins, so a stale guard cannot deregister one).
    # The corpus folds through the complete-mode streaming aggregation
    # one file per micro-batch; the standing cell table must equal the
    # one-shot batch build (CMS additivity).
    from dariadb_spark.ext.sketches import STREAMING_CMS_CELLS_SQL

    register(
        "streaming_sketch_parity",
        _streaming_sketch_parity,
        STREAMING_CMS_CELLS_SQL,
    )


def _streaming_hdr_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.sketch import streaming_hdr_parity

    return streaming_hdr_parity(spark, sf)


if "ext_sketch_quantile_report" in REGISTRY:
    # Same guard rule as above. The slice folds through the
    # complete-mode HDR aggregation one file per micro-batch; the
    # standing bucket table must equal the one-shot batch build
    # (additive cells make batching invisible).
    from dariadb_spark.ext.sketches import STREAMING_HDR_CELLS_SQL

    register(
        "streaming_hdr_parity",
        _streaming_hdr_parity,
        STREAMING_HDR_CELLS_SQL,
    )


def _streaming_kmv_parity(spark: SparkSession, sf: str) -> DataFrame:
    from dariadb_spark.streaming.sketch import streaming_kmv_parity

    return streaming_kmv_parity(spark, sf)


if "ext_sketch_kmv_report" in REGISTRY:
    # Same guard rule as above. Per-language k-minimum hash state
    # folds one file per micro-batch through applyInPandasWithState with
    # EXPLICITLY bounded ≤k-row state; the latest standing sketch must
    # equal the batch k-smallest-distinct-hash table (k-min
    # mergeability makes batching invisible).
    from dariadb_spark.ext.sketches import STREAMING_KMV_CELLS_SQL

    register(
        "streaming_kmv_parity",
        _streaming_kmv_parity,
        STREAMING_KMV_CELLS_SQL,
    )


# Later [EXT] queries register at the bottom of their HOME ext module,
# not here — the only placement that survives every import order. A test
# importing, say, ext.curation FIRST re-enters this module while curation
# is partially initialized, so a from-import of curation names here would
# crash. A home-module bottom register() runs exactly when its names
# exist, whichever module imports first. ext_preprocess_funnel's oracle
# composes constants from ext.dedup, so it registers from whichever of
# pipeline.py / dedup.py finishes importing LAST (guarded at both).

# --- driver check-window ordering ----------------------------------------
# The driver's correctness harness hash-checks the FIRST 50 queries it sees
# from ``__spark_entry__.queries()``. CHECK_WINDOW is the explicit,
# harness-facing ordering for that window. It is consumed ONLY by
# ``__spark_entry__.py`` (via ``harness_ordered()``); the shared REGISTRY
# keeps pure registration order for every other consumer (tests, tools),
# so rotating the window never reorders a test sweep.
#
# ROTATION POLICY: a 50-slot window cannot re-check every query each
# round, so it is filled in priority order:
#   1. the CORE dariadb reference surface (interval/asof/stat/fn/bucket/
#      scheme/partition/erase rows) once it is three rounds without a
#      driver row (stale-3);
#   2. every newly registered query — driver-checked from day one;
#   3. the oldest-checked [EXT] queries, oldest first.
# CAPACITY LINE: long-green [EXT] rows may reach stale-5, which holds
# iff ceil(N/50) <= 5, i.e. N <= 250 registered queries. Window
# staleness bounds driver re-check latency, not verification:
# tests/test_oracle_parity.py and tools/full_sweep.py value-check every
# query. Pinned by tests/test_plans.py::test_check_window_rotation_policy.
#
# MERGES: growth toward 250 is absorbed by folding a query into a
# registered composite that provably subsumes it — same input slice,
# each original a projection/filter of the composite that the oracle
# can express. The folded operators stay implemented and pytest-covered,
# and each merge has a projection test (fn_all, kmv/hll/quantile/ann
# report composites, set_ops, asof_report, cms_rollup).

#: The staged cohort for the NEXT registration round. Each name carries
#: its op function, SQL oracle and a pytest reference
#: (tools/stage_check.py, pinned by
#: tests/test_plans.py::test_staged_cohort_discipline_is_complete) and
#: sits in the staged plan pre-pin
#: (tests/test_plans.py::test_staged_cohort_matches_plan_pin).
#: Maps query name -> (module, op callable name, oracle constant name).
STAGED_NEXT = {
    "ext_part_assortativity": (
        "dariadb_spark.ext.relational",
        "part_assortativity", "PART_ASSORTATIVITY_SQL",
    ),
    "ext_series_vr_test": (
        "dariadb_spark.ext.timeseries",
        "series_vr_test", "SERIES_VR_TEST_SQL",
    ),
    "ext_orders_seasonality": (
        "dariadb_spark.ext.relational",
        "orders_seasonality", "ORDERS_SEASONALITY_SQL",
    ),
    "ext_basket_size_mix": (
        "dariadb_spark.ext.relational",
        "basket_size_mix", "BASKET_SIZE_MIX_SQL",
    ),
    "streaming_seasonality_parity": (
        "dariadb_spark.streaming.seasonality",
        "streaming_seasonality_parity", None,  # oracle: the batch SQL
    ),
    "ext_customer_tenure": (
        "dariadb_spark.ext.relational",
        "customer_tenure", "CUSTOMER_TENURE_SQL",
    ),
    "ext_trade_flows": (
        "dariadb_spark.ext.relational",
        "trade_flows", "TRADE_FLOWS_SQL",
    ),
    "ext_referential_fsck": (
        "dariadb_spark.ext.relational",
        "referential_fsck", "REFERENTIAL_FSCK_SQL",
    ),
    "ext_promo_revenue": (
        "dariadb_spark.ext.relational",
        "promo_revenue", "PROMO_REVENUE_SQL",
    ),
    "ext_docs_length_mix": (
        "dariadb_spark.ext.curation",
        "docs_length_mix", "DOCS_LENGTH_MIX_SQL",
    ),
    "ext_part_price_size": (
        "dariadb_spark.ext.relational",
        "part_price_size", "PART_PRICE_SIZE_SQL",
    ),
    "ext_part_skyline": (
        "dariadb_spark.ext.relational",
        "part_skyline", "PART_SKYLINE_SQL",
    ),
    "ext_docs_chunk_plan": (
        "dariadb_spark.ext.sampling",
        "docs_chunk_plan", "DOCS_CHUNK_PLAN_SQL",
    ),
    "streaming_skyline_parity": (
        "dariadb_spark.streaming.skyline",
        "streaming_skyline_parity", None,  # oracle: the batch SQL
    ),
}

CHECK_WINDOW = [
    # priority 1: the thirteen core reference rows at stale-3
    "bucket_hour", "bucket_minute30", "current_value", "erase_old_check",
    "fn_all", "interval_scan", "interval_scan_flag", "load_min_max",
    "min_max_time", "partition_file_stats_multi", "scheme_resolve",
    "stat_block", "timepoint_asof",
    # priority 2: round-18 registrations (the ten r17-staged ops) —
    # driver-checked from day one
    "ext_discount_response", "ext_events_burstiness",
    "ext_orders_cohort_ltv", "ext_part_jaccard_sim", "ext_part_kcore",
    "ext_series_rs_range", "ext_series_tail_excess", "ext_ship_latency",
    "streaming_burst_parity", "streaming_ltv_parity",
    # priority 3: the 27 stale-5 [EXT] rows, ledger order
    "ext_event_markov", "ext_ewma", "ext_gap_fill",
    "ext_media_audio_dedup", "ext_media_frames", "ext_media_meta",
    "ext_ngram_novelty", "ext_pack_shards", "ext_profile_documents",
    "ext_rate", "ext_rollup_cascade", "ext_sample_stratified",
    "ext_series_acf", "ext_series_mase", "ext_series_perm_entropy",
    "ext_series_psi", "ext_series_sax", "ext_sim_ann_ivf",
    "ext_sim_kmeans", "ext_sim_topk_cosine", "ext_split_train_test",
    "ext_text_bm25", "ext_text_bpe_tokens", "ext_text_fingerprint",
    "ext_text_gopher_quality", "ext_text_lang_histogram",
    "ext_text_langid",
]


def harness_ordered() -> dict[str, QuerySpec]:
    """REGISTRY re-ordered for the external driver: CHECK_WINDOW first,
    then the remainder in registration order. Pure function — does not
    mutate REGISTRY. Tolerates window names missing from REGISTRY (a UDF
    worker re-importing an ext module can re-enter this module before all
    register() calls have run; on the driver the import is always
    complete and tests pin the full window)."""
    in_window = set(CHECK_WINDOW)
    ordered = {n: REGISTRY[n] for n in CHECK_WINDOW if n in REGISTRY}
    ordered.update({n: s for n, s in REGISTRY.items() if n not in in_window})
    return ordered
