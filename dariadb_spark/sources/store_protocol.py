"""The store seam — the interface contract behind SURVEY.md §1.3's
"swap ParquetTsStore for a Delta/Iceberg table" mapping, made executable
(VERDICT r14 item 6) instead of prose.

:class:`TsStore` is a :class:`typing.Protocol` (structural): any class
with these members IS a store — `TsEngine` only ever duck-types through
them, so a transaction-log backend slots in without touching the engine.
The contract each verb must keep, backend-agnostic:

* ``append(meas, isolated=False) -> int`` — ingest (id, time, value,
  flag) rows, return the count written. ``isolated=True`` must make
  concurrent appends from separate writers safe (a log backend gets
  this for free — commits are the log's job; the parquet backend
  stages + renames).
* ``read() -> DataFrame`` — the LIVE rows: exactly the union of data
  files the backend currently considers committed. A log backend must
  resolve its snapshot here (adds minus removes), NOT list directories
  — a removed file that still exists on disk must be invisible.
* ``read_snapshot() -> DataFrame`` — like ``read`` but pinned: the
  frame must keep seeing the same rows even if a writer commits during
  the query's jobs. (For a log backend every read is naturally a
  pinned snapshot; ``read`` may simply alias this.)
* ``compact(files_per_partition=1)`` — rewrite partitions into few
  (id, time)-sorted files without changing the row multiset.
* ``erase_old(cutoff_ms)`` — delete rows with ``time < cutoff``:
  whole expired day partitions dropped WITHOUT reading their data,
  only the boundary day rewritten.

The engine's fsck/stats verbs (``partition_stats`` /
``partition_file_stats``) are READS over ``read()``'s output — they
come for free once ``read()`` carries the partition lineage column
(``_p_date``; optional — the ops degrade to stats-only without it).

The executable proof is tests/test_delta_seam.py: a minimal
transaction-log store (mock ``_delta_log`` with add/remove actions,
snapshot resolution, logical deletes) passes the SAME lifecycle drive
as the parquet store — including the log-specific property a directory
listing cannot express (removed-but-on-disk files stay invisible).

Since round 16 the seam also has a SHIPPED second backend:
:class:`dariadb_spark.sources.log_store.LogTsStore` (versioned-manifest
commits, optimistic concurrency, vacuum GC), selectable via
``TsEngine.open(path, backend="log")`` and exercised by the
parametrized lifecycle matrix in tests/test_engine.py.
"""

from __future__ import annotations

from pathlib import Path
from typing import Protocol, runtime_checkable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_FIELDS, RAW_DAY, STORE_DDL, local_frame


@runtime_checkable
class TsStore(Protocol):
    """Structural interface every measurement-store backend satisfies.

    Cited reference surface: Engine::append / interval scan /
    compress_all / eraseOld (SURVEY.md §2 rows S1, S3–S5, T4, T5); the
    reference's Manifest/WAL roles collapse into whatever commit
    mechanism the backend uses (filesystem rename here, a transaction
    log on Delta/Iceberg — SURVEY.md §1.3 table).
    """

    def append(self, meas: DataFrame, isolated: bool = False) -> int:
        ...

    def read(self) -> DataFrame:
        ...

    def read_snapshot(self) -> DataFrame:
        ...

    def compact(self, files_per_partition: int = 1) -> None:
        ...

    def erase_old(self, cutoff_ms: int) -> None:
        ...


def read_days(
    spark: SparkSession, base_dir: Path, paths: list[str]
) -> DataFrame:
    """Rows of the parquet files or day directories ``paths`` of a store
    laid out as ``<base_dir>/p_date=YYYY-MM-DD/``, with ``p_date``
    discovered from the directory names. The schema is given, not
    inferred, so building the frame reads no footer and launches no Spark
    job. No paths gives an empty frame of the same schema."""
    if not paths:
        return local_frame(
            spark, STORE_DDL, {c: [] for c in (*MEAS_FIELDS, "p_date")}
        )
    return (
        spark.read.option("basePath", str(base_dir))
        .schema(STORE_DDL)
        .parquet(*paths)
    )


def live_rows(days: DataFrame) -> DataFrame:
    """What ``read()`` returns: the measurement columns plus the day
    partition as ``_p_date``, which ``pushdown_time_bounds`` turns into
    a partition filter (a bound on ``time`` alone prunes row groups but
    not day directories). Operators project it away."""
    return days.select(*MEAS_FIELDS, F.col("p_date").alias(RAW_DAY))
