"""Parquet-backed measurement store — the Spark-native rendering of the
reference's 3-layer LSM pipeline (SURVEY.md §1.3).

Reference storage (libdariadb/storage/):
  * WAL (wal/wal_manager.cpp)        → small append-delta parquet files
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

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_DDL, MEAS_FIELDS
from dariadb_spark.sources.store_protocol import live_rows, read_days

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
      FILE granularity: Spark commits parquet files by rename, so a
      directory listing never observes half a file. A multi-day append
      is NOT atomic as a whole — a reader listing mid-commit can see
      some of its days only. A frame from ``read()`` or
      ``read_snapshot()`` keeps the listing taken when it was built, so
      it does not change between its own jobs.
    * ``compact()`` / ``erase_old()`` rewrite directories in place and
      require a single-maintainer window: no concurrent append, and
      concurrent readers may fail mid-swap and must retry (rename-aside
      order guarantees no data loss on a crash — the aside dir survives).
    * ``append()`` concurrent with ``append()`` from SEPARATE driver
      processes is NOT safe with the default Hadoop committer: both
      jobs stage under the same ``<path>/_temporary`` tree, and the
      first committer's cleanup can silently drop the other job's
      in-flight task files. Within ONE application, appends issued
      sequentially (this class's usage) are fine. A multi-ingest
      deployment passes ``append(..., isolated=True)`` — per-append
      unique staging + uniquely-named renames, no shared state between
      writers (contract pinned by
      ``test_isolated_appends_are_concurrent_safe``); the trade (crash
      mid-publish leaves a partial, never corrupt, append) is on the
      method docstring. Full multi-writer ATOMICITY — not just
      isolation — is the Delta/Iceberg swap, whose transaction log
      makes concurrent appends first-class; a homegrown commit log
      here would be rebuilding that badly.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.data_dir = self.root / "data"
        self.data_dir.mkdir(parents=True, exist_ok=True)

    # -- S1: append (Engine::append) ------------------------------------
    def append(self, meas: DataFrame, isolated: bool = False) -> int:
        """Append a measurements DataFrame (id,time,value,flag). Returns
        the appended row count (the reference's Status.writed), observed
        DURING the write action — a separate ``count()`` would re-run the
        whole input pipeline a second time.

        ``isolated=True`` is the multi-ingest path (the executable form
        of the append-vs-append hazard documented on the class): the
        write stages under a per-append unique directory and the part
        files are then renamed into the day partitions under unique
        names — concurrent appends never share a ``_temporary`` tree or
        a file name, from any number of driver processes. The trade,
        stated explicitly: the default committer makes a whole append
        visible atomically at job commit, while the isolated path
        publishes file-by-file — a crash mid-publish leaves a PARTIAL
        append visible (never a corrupt file; renames are atomic).
        That is at-least-once ingest territory, which the streaming
        exact-dedup path exists to absorb; full multi-writer atomicity
        is the Delta/Iceberg swap's job, not a hand-rolled log here."""
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
        import os
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
        self.data_dir.rename(swap)
        tmp.rename(self.data_dir)
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
