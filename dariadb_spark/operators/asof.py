"""As-of / latest-point operators.

* ``read_time_point`` — reference ``Engine::readTimePoint(QueryTimePoint)``
  (libdariadb/engine.cpp): for each *requested* id, the latest point with
  ``time <= time_point``; ids with no candidate yield a synthesized
  ``Meas{id, time=tp, value=0, flag=_NO_DATA}``. One row per distinct
  requested id — the reference answers with an ``Id2Meas`` map
  (SURVEY.md §7.3.1).
* ``current_value`` — reference ``Engine::currentValue(ids, flag)``:
  latest value per series.

Plan shape: filter → one ``groupBy("id")`` taking ``max(struct(time,
value, flag))``, a partial aggregate on the map side, so the shuffle
carries at most one row per id per input partition. ``read_time_point``
unions one ``_NO_DATA`` filler row per requested id into that aggregate,
from a LocalRelation (no job to build it), under a leading ``hit`` field
of 0 so that any real candidate outranks it. No join and no window. At
100 TB the heavy lifting is the pushed-down ``time <= tp AND id IN (...)``
scan prune. With ``ids`` given the answer has at most ``len(ids)`` rows,
so it is sorted inside one partition rather than range-partitioned
(:func:`~dariadb_spark.model.sort_result`).

Determinism: duplicate (id, time) pairs are broken by (value, flag)
descending — struct comparison is field by field, the same total order
as the DuckDB oracle's ``ORDER BY time DESC, value DESC, flag DESC``,
NaN above every number and ``-0.0 = 0.0`` included, so engine and oracle
agree bit-for-bit (SURVEY.md §7.3.4 LWW policy pick).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import (
    FLAGS_NO_DATA,
    flag_predicate,
    ids_in_sql,
    ids_predicate,
    local_frame,
    pushdown_time_bounds,
    sort_result,
)


def _latest(keyed: DataFrame) -> DataFrame:
    """(id, time, value, flag) of the greatest ``m`` struct per id."""
    return (
        keyed.groupBy("id")
        .agg(F.max("m").alias("m"))
        .select("id", "m.time", "m.value", "m.flag")
    )


def read_time_point(
    spark: SparkSession,
    meas: DataFrame,
    ids: list[int],
    time_point_ms: int,
    flag: int = 0,
) -> DataFrame:
    """One row per requested id: latest point at/before ``time_point_ms``,
    or a ``_NO_DATA`` filler row (value=0, time=tp)."""
    hits = meas.where(
        F.expr(ids_in_sql(ids))
        & pushdown_time_bounds(meas, None, time_point_ms)
        & flag_predicate(flag)
    ).select(
        "id",
        F.struct(F.lit(1).alias("hit"), "time", "value", "flag").alias("m"),
    )
    fillers = local_frame(spark, "id bigint", {"id": ids}).select(
        "id",
        F.struct(
            F.lit(0).alias("hit"),
            F.lit(time_point_ms).cast("bigint").alias("time"),
            F.lit(0.0).alias("value"),
            F.lit(FLAGS_NO_DATA).cast("bigint").alias("flag"),
        ).alias("m"),
    )
    return sort_result(_latest(hits.unionByName(fillers)), ids, "id")


def current_value(
    meas: DataFrame, ids: list[int] | None = None, flag: int = 0
) -> DataFrame:
    """Latest measurement per series (no ``_NO_DATA`` synthesis — the
    reference returns only series that exist; empty ids = all series)."""
    hits = meas.where(ids_predicate(ids) & flag_predicate(flag)).select(
        "id", F.struct("time", "value", "flag").alias("m")
    )
    return sort_result(_latest(hits), ids, "id")
