"""As-of / latest-point operators.

* ``read_time_point`` — reference ``Engine::readTimePoint(QueryTimePoint)``
  (libdariadb/engine.cpp): for each *requested* id, the latest point with
  ``time <= time_point``; ids with no candidate yield a synthesized
  ``Meas{id, time=tp, value=0, flag=_NO_DATA}``. One row per distinct
  requested id — the reference answers with an ``Id2Meas`` map
  (SURVEY.md §7.3.1).
* ``current_value`` — reference ``Engine::currentValue(ids, flag)``:
  latest value per series.

Plan shape: each verb is one SQL statement
(:func:`~dariadb_spark.model.verb_sql`): filter → one ``GROUP BY id``
taking ``max(named_struct(time, value, flag))``, a partial aggregate on
the map side, so the shuffle carries at most one row per id per input
partition. ``read_time_point`` adds one ``_NO_DATA`` filler row per
requested id to that aggregate with ``UNION ALL`` over a ``VALUES`` list
(a local relation, no job to build it), under a leading ``hit`` field of
0 so that any real candidate outranks it. No join and no window. At
100 TB the heavy lifting is the pushed-down ``time <= tp AND id IN (...)``
scan prune. With ``ids`` given the answer has at most ``len(ids)`` rows,
so it is gathered into one partition (``COALESCE(1)``) and sorted there
(``SORT BY``) rather than range-partitioned.

Determinism: duplicate (id, time) pairs are broken by (value, flag)
descending — struct comparison is field by field, the same total order
as the DuckDB oracle's ``ORDER BY time DESC, value DESC, flag DESC``,
NaN above every number and ``-0.0 = 0.0`` included, so engine and oracle
agree bit-for-bit (SURVEY.md §7.3.4 LWW policy pick).
"""

from __future__ import annotations

import operator

from pyspark.sql import DataFrame

from dariadb_spark.model import (
    FLAGS_NO_DATA,
    flag_predicate_sql,
    ids_in_sql,
    ids_predicate_sql,
    time_bounds_sql,
    verb_sql,
)


def _latest(meas: DataFrame, keyed: str, ids: list[int] | None) -> DataFrame:
    """(id, time, value, flag) of the greatest ``m`` struct per id, over
    the ``(id, m)`` rows of the query text ``keyed``."""
    return verb_sql(
        meas,
        "id, m.time AS time, m.value AS value, m.flag AS flag FROM "
        f"(SELECT id, max(m) AS m FROM ({keyed}) k GROUP BY id) g",
        bool(ids),
        "id",
    )


def read_time_point(
    meas: DataFrame,
    ids: list[int],
    time_point_ms: int,
    flag: int = 0,
) -> DataFrame:
    """One row per requested id: latest point at/before ``time_point_ms``,
    or a ``_NO_DATA`` filler row (value=0, time=tp)."""
    tp = operator.index(time_point_ms)
    keyed = (
        "SELECT id, named_struct('hit', 1, 'time', time, 'value', value, "
        "'flag', flag) AS m FROM {m} WHERE "
        f"{ids_in_sql(ids)} AND {time_bounds_sql(meas, None, tp)} "
        f"AND {flag_predicate_sql(flag)}"
    )
    if ids:
        fillers = ", ".join(f"({operator.index(i)}L)" for i in ids)
        keyed += (
            " UNION ALL SELECT id, named_struct('hit', 0, "
            f"'time', CAST({tp} AS BIGINT), 'value', 0.0D, "
            f"'flag', CAST({FLAGS_NO_DATA} AS BIGINT)) AS m "
            f"FROM VALUES {fillers} AS f(id)"
        )
    return _latest(meas, keyed, ids)


def current_value(
    meas: DataFrame, ids: list[int] | None = None, flag: int = 0
) -> DataFrame:
    """Latest measurement per series (no ``_NO_DATA`` synthesis — the
    reference returns only series that exist; empty ids = all series)."""
    keyed = (
        "SELECT id, named_struct('time', time, 'value', value, 'flag', flag)"
        f" AS m FROM {{m}} WHERE {ids_predicate_sql(ids)}"
        f" AND {flag_predicate_sql(flag)}"
    )
    return _latest(meas, keyed, ids)
