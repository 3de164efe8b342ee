"""Interval scan — the reference's ``Engine::readInterval(QueryInterval)``
(libdariadb/engine.cpp) / ``foreach``.

The reference assembles per-layer cursors (mem/WAL/pages), k-way merges
them by time and filters per point (storage/readers.cpp, MergeSortReader).
On Spark the whole pipeline is one declarative plan: parquet scan with the
id/time/flag predicates pushed to the reader (row-group pruning = the
``.pagei`` min/max index), then a sort. Catalyst owns layer-merge, pruning
and decompression. With ``ids`` given the answer is request-sized, so the
sort runs in one partition behind a single-partition exchange (the scan
stays parallel); ``ids=None`` keeps the global range-partitioned sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dariadb_spark.model import flag_predicate, ids_predicate, pushdown_time_bounds


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
        ids_predicate(ids)
        & pushdown_time_bounds(meas, from_ms, to_ms)
        & flag_predicate(flag)
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
    scanned = scan_interval(meas, ids, from_ms, to_ms, flag)
    if ids:
        return scanned.repartition(1).sortWithinPartitions("id", "time")
    return scanned.orderBy("id", "time")
