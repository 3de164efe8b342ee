"""The store seam — the interface contract behind SURVEY.md §1.3's
"swap ParquetTsStore for a Delta/Iceberg table" mapping, made executable
(VERDICT r14 item 6) instead of prose.

:class:`TsStore` is a :class:`typing.Protocol` (structural): any class
with these members IS a store — `TsEngine` only ever duck-types through
them, so a transaction-log backend slots in without touching the engine.
The contract each verb must keep, backend-agnostic:

* ``append(meas, isolated=False) -> int`` — ingest (id, time, value,
  flag) rows, return the count written. ``meas`` is a DataFrame (bulk
  loads, derived series: a Spark write) or a ``pyarrow.Table`` of rows
  already on the driver (a request-sized append: one parquet segment
  per day, written by :func:`write_segments` without a Spark job).
  ``isolated=True`` must make concurrent DataFrame appends from
  separate writers safe (a log backend gets this for free — commits
  are the log's job; the parquet backend stages + renames). It applies
  to DataFrames only: segment appends are always concurrent-safe.
* ``read() -> DataFrame`` — the LIVE rows: exactly the union of data
  files the backend currently considers committed. A log backend must
  resolve its snapshot here (adds minus removes), NOT list directories
  — a removed file that still exists on disk must be invisible.
* ``read_snapshot() -> DataFrame`` — like ``read`` but pinned: the
  frame must keep seeing the same rows even if a writer commits during
  the query's jobs. (For a log backend every read is naturally a
  pinned snapshot; ``read`` may simply alias this.)
* ``compact(files_per_partition=1)`` — rewrite each day holding more
  than ``files_per_partition`` files into at most that many
  (id, time)-sorted files, without changing the row multiset; a day
  holding at most that many files is left as written. All dirty days
  are rewritten by one Spark job (:func:`sorted_rewrite`).
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

import os
import uuid
from pathlib import Path
from typing import Protocol, runtime_checkable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import (
    _DAY_MS,
    MEAS_ARROW_SCHEMA,
    MEAS_FIELDS,
    RAW_DAY,
    STORE_DDL,
    _day_str,
    local_frame,
)

#: name pattern of a segment not yet renamed into place: ``.``-prefixed
#: and not ``*.parquet``, so no read or file-stream source lists it
SEGMENT_TMP_GLOB = ".part-*.tmp"


@runtime_checkable
class TsStore(Protocol):
    """Structural interface every measurement-store backend satisfies.

    Cited reference surface: Engine::append / interval scan /
    compress_all / eraseOld (SURVEY.md §2 rows S1, S3–S5, T4, T5); the
    reference's Manifest/WAL roles collapse into whatever commit
    mechanism the backend uses (filesystem rename here, a transaction
    log on Delta/Iceberg — SURVEY.md §1.3 table).
    """

    def append(self, meas: DataFrame | pa.Table, isolated: bool = False) -> int:
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


def with_day(meas: DataFrame) -> DataFrame:
    """``meas`` plus its UTC day as ``p_date``, the partition column of
    every store write."""
    return meas.withColumn(
        "p_date", F.date_format(F.timestamp_millis(F.col("time")), "yyyy-MM-dd")
    )


def sorted_rewrite(days: DataFrame, n: int) -> DataFrame:
    """The frame maintenance writes with ``partitionBy("p_date")``:
    ``days`` (which must already carry ``p_date``) in at most ``n``
    partitions, each sorted by (p_date, id, time).

    ``coalesce`` merges scan partitions without a shuffle, so the rewrite
    is one single-stage job, and a day's rows land in at most ``n``
    tasks, hence at most ``n`` files. The sort satisfies the ordering the
    partitioned write needs, so Spark adds no sort of its own and every
    file comes out sorted by (id, time): row-group statistics then prune
    on both."""
    return days.coalesce(n).sortWithinPartitions("p_date", "id", "time")


def live_rows(days: DataFrame) -> DataFrame:
    """What ``read()`` returns: the measurement columns plus the day
    partition as ``_p_date``, which ``pushdown_time_bounds`` turns into
    a partition filter (a bound on ``time`` alone prunes row groups but
    not day directories). Operators project it away. ``days`` is in
    :data:`~dariadb_spark.model.STORE_DDL` order, so a rename gives that
    (a rename builds the frame in a third of a ``select``'s time)."""
    return days.withColumnRenamed("p_date", RAW_DAY)


def write_segments(base_dir: Path, table: pa.Table) -> list[tuple[str, Path]]:
    """Write driver-side measurement rows under ``<base_dir>/p_date=D/``
    as one parquet segment per UTC day, without Spark; return
    ``(day, path)`` per segment written.

    Rows are split by ``time // 86_400_000`` and each day is named by
    :func:`~dariadb_spark.model._day_str`, the function the ``_p_date``
    pruning bound uses, so a row is always in the directory a read of
    its time looks at. Each segment is written to a hidden temp name in
    its day directory (``.``-prefixed, not ``*.parquet``: Spark's file
    listing and the file-stream source skip it) and then renamed to a
    unique ``part-<token>.parquet``, so a reader never sees half a file.

    The contract: a row is acknowledged once its segment is renamed, and
    that survives a crash of this process. Nothing is fsynced (Spark's
    committer does not fsync either), so a machine crash may lose it.
    Every day's temp file is written before the first rename, and an
    append that raises (a full disk, a pyarrow error) deletes its temp
    files and any segment it already renamed, so it publishes nothing
    and a retry cannot duplicate rows. A crash before the renames leaves
    only hidden temp files, which no read sees and maintenance deletes;
    only a crash during the renames (one per day, in a tight loop) can
    leave the earlier days of a multi-day append visible."""
    table = table.select(list(MEAS_FIELDS)).cast(MEAS_ARROW_SCHEMA)
    if table.num_rows == 0:
        return []
    days = np.floor_divide(table.column("time").to_numpy(), _DAY_MS)
    token = uuid.uuid4().hex
    uniq = np.unique(days)
    staged: list[tuple[str, Path]] = []
    out: list[tuple[str, Path]] = []
    try:
        for d in uniq:
            rows = table if len(uniq) == 1 else table.filter(pa.array(days == d))
            day = _day_str(int(d) * _DAY_MS)
            day_dir = base_dir / f"p_date={day}"
            day_dir.mkdir(parents=True, exist_ok=True)
            tmp = day_dir / SEGMENT_TMP_GLOB.replace("*", token)
            staged.append((day, tmp))
            pq.write_table(rows, tmp)
        for day, tmp in staged:
            dest = tmp.with_name(f"part-{token}.parquet")
            os.rename(tmp, dest)
            out.append((day, dest))
    except BaseException:
        for _, path in staged + out:
            path.unlink(missing_ok=True)
        raise
    return out
