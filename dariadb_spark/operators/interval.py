"""Interval scan — the reference's ``Engine::readInterval(QueryInterval)``
(libdariadb/engine.cpp) / ``foreach``.

The reference assembles per-layer cursors (mem/WAL/pages), k-way merges
them by time and filters per point (storage/readers.cpp, MergeSortReader).
On Spark the whole pipeline is one declarative plan: parquet scan with the
id/time/flag predicates pushed to the reader (row-group pruning = the
``.pagei`` min/max index), then a sort. Catalyst owns layer-merge, pruning
and decompression.

Plan shape: ``read_interval`` is one SQL statement
(:func:`~dariadb_spark.model.verb_sql`): scan → filter → sort. With
``ids`` given the answer is request-sized, so a ``REPARTITION(1)`` hint
puts a single-partition exchange above the still-parallel scan and
``SORT BY`` sorts inside that one partition; ``ids=None`` keeps the
global range-partitioned ``ORDER BY``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dariadb_spark.model import scan_predicate_sql, verb_sql


def scan_interval(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """The interval scan WITHOUT the final MeasArray ordering — the input
    shape for operators that immediately aggregate/window/join: their own
    hash exchange discards any upstream global sort, so taking
    ``read_interval`` there executes a range-partition exchange + sort
    whose output order is thrown away one operator later (a full wasted
    shuffle of the scan at 100 TB). Use ``read_interval`` only where the
    per-series time order is itself the contract being returned."""
    return meas.where(
        F.expr(scan_predicate_sql(meas, ids, from_ms, to_ms, flag))
    ).select("id", "time", "value", "flag")


def read_interval(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """All measurements of ``ids`` with ``from <= time <= to`` matching
    ``flag``, time-ordered per series (the MeasArray contract)."""
    return verb_sql(
        meas,
        "id, time, value, flag FROM {m} WHERE "
        + scan_predicate_sql(meas, ids, from_ms, to_ms, flag),
        bool(ids),
        "id, time",
        gather="REPARTITION",
    )
