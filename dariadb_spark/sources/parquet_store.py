"""Parquet-backed measurement store — the Spark-native rendering of the
reference's 3-layer LSM pipeline (SURVEY.md §1.3).

Reference storage (libdariadb/storage/):
  * WAL (wal/wal_manager.cpp)        → small append-delta parquet files:
    a request-sized append is one driver-written segment per day,
    acknowledged once renamed into place (no Spark job)
  * Pages + .pagei index (pages/)    → compacted parquet, sorted (id,time)
    within files so row-group min/max stats prune by both id and time —
    the exact role of the chunk index
  * Dropper background WAL→page drop → ``compact()``
  * eraseOld retention (engine.cpp)  → partition-pruned rewrite/drop
  * Manifest                         → the filesystem listing (on a real
    deployment this store is one Delta/Iceberg table and the transaction
    log plays manifest/WAL; this class keeps the same interface)

Layout: ``<root>/data/p_date=YYYY-MM-DD/part-*.parquet`` — hive-partitioned
by UTC day derived from the epoch-ms ``time`` column. Day partitioning
bounds every interval query to the touched days (partition pruning) and
makes retention a partition drop; at 100 TB each day is still split across
many files so per-day parallelism is preserved.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_DDL, MEAS_FIELDS
from dariadb_spark.sources.store_protocol import (
    live_rows,
    read_days,
    write_segments,
)

_DAY_MS = 86_400_000


def _with_day(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "p_date", F.date_format(F.timestamp_millis(F.col("time")), "yyyy-MM-dd")
    )


class ParquetTsStore:
    """Append/scan/compact/retention over a partitioned parquet directory.

    Concurrency contract (the manifest-free analog of a Delta/Iceberg
    transaction log — on a real deployment swap this class for one table
    and the log subsumes all of this):

    * ``append()`` concurrent with ``read()``/``subscribe`` is safe at
      FILE granularity: every file reaches its final ``*.parquet`` name
      by an atomic rename (a driver-written segment, or Spark's
      committer), so a directory listing never observes half a file. A
      multi-day append is NOT atomic as a whole — a reader listing
      mid-append can see some of its days only. A frame from ``read()``
      or ``read_snapshot()`` keeps the listing taken when it was built,
      so it does not change between its own jobs.
    * ``compact()`` / ``erase_old()`` rewrite directories in place and
      require a single-maintainer window: no concurrent append, and
      concurrent readers may fail mid-swap and must retry. A swap that
      raises is undone at once, and a crash inside it is repaired when
      the store is next opened (:meth:`_recover_compaction`), so do not
      open the store from a second process while one compacts it.
    * Appends of driver-side rows (a ``pyarrow.Table``: engine tuples and
      both wire encodings) are safe concurrent with each other from any
      number of threads or processes: each segment has a unique name and
      no staging is shared.
    * DataFrame appends concurrent with other appends from SEPARATE
      driver processes are NOT safe with the default Hadoop committer:
      both jobs stage under the same ``<path>/_temporary`` tree, and the
      first committer's cleanup can silently drop the other job's
      in-flight task files. Within ONE application, sequential DataFrame
      appends are fine. A multi-ingest deployment passes
      ``append(df, isolated=True)`` — per-append unique staging +
      uniquely-named renames, no shared state between writers (contract
      pinned by ``test_isolated_appends_are_concurrent_safe``); the trade
      (crash mid-publish leaves a partial, never corrupt, append) is on
      the method docstring. Full multi-writer ATOMICITY — not just
      isolation — is the log backend's commit.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.data_dir = self.root / "data"
        self._recover_compaction()
        self.data_dir.mkdir(parents=True, exist_ok=True)

    def _recover_compaction(self) -> None:
        """Repair what an interrupted :meth:`compact` left behind.
        ``compact`` writes ``_compact_tmp/``, renames ``data/`` to
        ``_old_data/``, renames ``_compact_tmp/`` to ``data/`` and deletes
        ``_old_data/``. The swap finished only if ``_compact_tmp/`` is
        gone and ``data/`` is there: then ``data/`` is the whole
        compacted copy and ``_old_data/`` (perhaps half deleted) goes.
        Otherwise the untouched ``_old_data/`` is the store and goes
        back. A ``data/`` beside it holds only what was appended after
        the first rename (an append ``mkdir``s its day directory), so
        those files move into ``_old_data/`` first. Last, a leftover
        ``_compact_tmp/`` is an unfinished rewrite and goes."""
        old = self.root / "_old_data"
        tmp = self.root / "_compact_tmp"
        if old.exists():
            if self.data_dir.exists() and not tmp.exists():
                shutil.rmtree(old)
            else:
                if self.data_dir.exists():
                    for f in self.data_dir.glob("p_date=*/*.parquet"):
                        day = old / f.parent.name
                        day.mkdir(exist_ok=True)
                        os.rename(f, day / f.name)
                    shutil.rmtree(self.data_dir)
                old.rename(self.data_dir)
        if tmp.exists():
            shutil.rmtree(tmp)

    # -- S1: append (Engine::append) ------------------------------------
    def append(self, meas: DataFrame | pa.Table, isolated: bool = False) -> int:
        """Append measurements (id, time, value, flag); returns the
        appended row count (the reference's Status.writed).

        A ``pyarrow.Table`` holds rows already on the driver. They are
        published as one parquet segment per day under ``data/p_date=D/``
        by :func:`~dariadb_spark.sources.store_protocol.write_segments`,
        with no Spark job; a row is acknowledged once its segment is
        renamed into place (the contract is on that function).
        Segment names are unique and nothing is staged in a shared
        place, so ``isolated`` only chooses between the DataFrame write
        paths below (``TsEngine.append`` rejects it with driver rows).

        A DataFrame is written by Spark, and its row count is observed
        DURING the write — a separate ``count()`` would re-run the whole
        input pipeline. ``isolated=True`` is the multi-ingest path (the
        append-vs-append hazard documented on the class): the write
        stages under a per-append unique directory and the part files
        are then renamed into the day partitions under unique names —
        concurrent appends never share a ``_temporary`` tree or a file
        name, from any number of driver processes. The trade, stated
        explicitly: the default committer makes a whole append visible
        at job commit, while the isolated path publishes file-by-file —
        a crash mid-publish leaves a PARTIAL append visible (never a
        corrupt file; renames are atomic). That is at-least-once ingest
        territory, which the streaming exact-dedup path exists to
        absorb."""
        if isinstance(meas, pa.Table):
            write_segments(self.data_dir, meas)
            return meas.num_rows
        from pyspark.sql import Observation

        obs = Observation()
        writer = (
            _with_day(meas.select(*MEAS_FIELDS))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.partitionBy("p_date")
        )
        if not isolated:
            writer.mode("append").parquet(str(self.data_dir))
            return obs.get["n"]
        import uuid

        token = uuid.uuid4().hex
        stage = self.root / f"stage-{token}"
        try:
            writer.mode("errorifexists").parquet(str(stage))
            for pdir in sorted(stage.glob("p_date=*")):
                dest = self.data_dir / pdir.name
                dest.mkdir(parents=True, exist_ok=True)
                for f in sorted(pdir.glob("*.parquet")):
                    os.rename(f, dest / f"{token}-{f.name}")
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return obs.get["n"]

    # -- scan -------------------------------------------------------------
    def read(self) -> DataFrame:
        """The live measurements DataFrame, ``_p_date`` included (see
        :func:`~dariadb_spark.sources.store_protocol.live_rows`).

        Spark lists ``data/`` once, when the frame is built, and a held
        frame keeps that listing: files an ``append()`` commits later are
        not in it. Each engine verb calls ``read()`` afresh, so every
        request sees every append acknowledged before it."""
        return live_rows(
            read_days(self.spark, self.data_dir, [str(self.data_dir)])
        )

    def read_snapshot(self) -> DataFrame:
        """Like :meth:`read`, but over the explicit list of part files
        present NOW rather than a directory: the frame names exactly
        these files, whatever is committed later."""
        files = sorted(
            str(p) for p in self.data_dir.glob("p_date=*/*.parquet")
        )
        return live_rows(read_days(self.spark, self.data_dir, files))

    # -- T5: compaction (Dropper / Engine::compress_all) ------------------
    def compact(self, files_per_partition: int = 1) -> None:
        """Rewrite each day partition into few files sorted by (id, time) —
        the WAL→page drop: small append deltas become scan-optimal files
        whose row-group stats prune on id and time."""
        df = read_days(self.spark, self.data_dir, [str(self.data_dir)])
        tmp = self.root / "_compact_tmp"
        (
            df.repartition(files_per_partition, "p_date")
            .sortWithinPartitions("p_date", "id", "time")
            .write.partitionBy("p_date")
            .mode("overwrite")
            .parquet(str(tmp))
        )
        swap = self.root / "_old_data"
        try:
            self.data_dir.rename(swap)
            tmp.rename(self.data_dir)
        except BaseException:
            self._recover_compaction()
            raise
        shutil.rmtree(swap)

    # -- T4: retention (Engine::eraseOld) ---------------------------------
    def erase_old(self, cutoff_ms: int) -> None:
        """Delete measurements with ``time < cutoff``. Whole days before
        the cutoff are dropped without reading them (partition prune);
        only the single boundary day is rewritten."""
        cutoff_day = (cutoff_ms // _DAY_MS) * _DAY_MS
        boundary = None
        for part in sorted(self.data_dir.glob("p_date=*")):
            day = part.name.split("=", 1)[1]
            import datetime as _dt

            day_ms = int(
                _dt.datetime.strptime(day, "%Y-%m-%d")
                .replace(tzinfo=_dt.timezone.utc)
                .timestamp()
                * 1000
            )
            if day_ms + _DAY_MS <= cutoff_ms:
                shutil.rmtree(part)  # fully expired day
            elif day_ms == cutoff_day:
                boundary = part
        if boundary is not None:
            kept = (
                read_days(self.spark, self.data_dir, [str(boundary)])
                .where(F.col("time") >= cutoff_ms)
                .select(*MEAS_FIELDS)
            )
            tmp = self.root / "_erase_tmp"
            kept.write.mode("overwrite").parquet(str(tmp))
            shutil.rmtree(boundary)
            rewritten = self.spark.read.schema(MEAS_DDL).parquet(str(tmp))
            if rewritten.limit(1).count() > 0:
                _with_day(rewritten).write.partitionBy("p_date").mode(
                    "append"
                ).parquet(str(self.data_dir))
            shutil.rmtree(tmp)
