"""Per-series summary operators.

* ``min_max_time`` — reference ``Engine::minMaxTime(id)`` /
  ``Engine::loadMinMax()`` (libdariadb/engine.cpp): earliest/latest
  timestamp per series, merged across storage layers.
* ``stat_block`` — reference ``Engine::stat(id, from, to)`` returning
  ``Statistic {count, minTime, maxTime, min/max value, sum, mean}``
  (libdariadb/stat.h): one aggregation pass over the filtered interval.

Plan shape: each verb is one SQL statement
(:func:`~dariadb_spark.model.verb_sql`): filter → ``GROUP BY id``, a
partial aggregate on the map side (no full shuffle of rows). With
``ids`` given the answer is gathered into one partition
(``COALESCE(1)``) and sorted there (``SORT BY``); ``ids=None`` keeps the
global ``ORDER BY``.

Sum/avg are rounded to 4 decimals in both engine and oracle so the
value-hash is insensitive to floating-point accumulation order across
partitions (SURVEY.md §7.3.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dariadb_spark.model import ids_predicate_sql, scan_predicate_sql, verb_sql


def min_max_time(meas: DataFrame, ids: list[int] | None = None) -> DataFrame:
    """(id, min_time, max_time) per series; ids=None → all series
    (reference loadMinMax → Id2MinMax)."""
    return verb_sql(
        meas,
        "id, min(time) AS min_time, max(time) AS max_time FROM {m} "
        f"WHERE {ids_predicate_sql(ids)} GROUP BY id",
        bool(ids),
        "id",
    )


def stat_block(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """The reference's Statistic block per series over a closed interval.
    The mean is round(sum, 6)/count, bit-identical across engines;
    round(avg, 4) diverges when 2-decimal inputs put the true mean
    exactly on a .xxxx5 boundary (see downsample.py)."""
    return verb_sql(
        meas,
        "id, count(value) AS cnt, min(time) AS min_time, "
        "max(time) AS max_time, min(value) AS min_value, "
        "max(value) AS max_value, round(sum(value), 4) AS sum_value, "
        "round(sum(value), 6) / count(value) AS mean_value FROM {m} WHERE "
        f"{scan_predicate_sql(meas, ids, from_ms, to_ms, flag)} GROUP BY id",
        bool(ids),
        "id",
    )


def partition_stats_op(meas: DataFrame) -> DataFrame:
    """Manifest/fsck view (storage/manifest.cpp analog): per
    day-partition row counts, series counts, and time bounds. When the
    PHYSICAL partition column ``_p_date`` is present (ParquetTsStore
    reads carry it), a ``bounds_ok`` flag verifies every row's
    time-derived UTC day renders to its physical partition — the real
    torn-partition check (a file landed in the wrong ``p_date=`` dir).
    Partition-less sources have no physical placement to validate, so
    the column is omitted rather than emitting a tautology."""
    from dariadb_spark.model import RAW_DAY

    day_ms = 86_400_000
    aggs = [
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_series"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
    ]
    if RAW_DAY in meas.columns:
        derived_day = F.date_format(
            F.timestamp_millis(F.col("time")), "yyyy-MM-dd"
        )
        return (
            meas.groupBy(F.col(RAW_DAY).alias("p_date"))
            .agg(
                *aggs,
                F.min((derived_day == F.col(RAW_DAY)).cast("long")).alias(
                    "bounds_ok"
                ),
            )
            .orderBy("p_date")
        )
    day = (F.col("time") - F.pmod(F.col("time"), F.lit(day_ms))).alias(
        "day_ms"
    )
    return meas.groupBy(day).agg(*aggs).orderBy("day_ms")


def partition_file_stats_op(meas: DataFrame) -> DataFrame:
    """Per-FILE fsck view — the ``.pagei`` page-index analog (reference:
    storage/pages/page_manager.cpp keeps per-page (id, minTime, maxTime)
    entries so fsck/repack can name the offending PAGE, not just the
    day). Groups by ``input_file_name()`` basename: per-file row count,
    series count, and time bounds — evaluated at the scan, one map-side
    combine, no row shuffle beyond the tiny per-file aggregate.

    When the physical ``_p_date`` partition column is present
    (ParquetTsStore reads), each file also carries its partition dir and
    a ``bounds_ok`` flag (every row's time-derived UTC day == the dir) —
    so a torn partition is localized to the exact file that landed in
    the wrong ``p_date=`` directory."""
    from dariadb_spark.model import RAW_DAY

    fname = F.regexp_extract(F.input_file_name(), r"([^/]+)$", 1).alias("file")
    aggs = [
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_series"),
        F.min("time").alias("min_time"),
        F.max("time").alias("max_time"),
    ]
    if RAW_DAY in meas.columns:
        derived_day = F.date_format(
            F.timestamp_millis(F.col("time")), "yyyy-MM-dd"
        )
        return (
            meas.groupBy(F.col(RAW_DAY).alias("p_date"), fname)
            .agg(
                *aggs,
                F.min((derived_day == F.col(RAW_DAY)).cast("long")).alias(
                    "bounds_ok"
                ),
            )
            .orderBy("p_date", "file")
        )
    return meas.groupBy(fname).agg(*aggs).orderBy("file")
