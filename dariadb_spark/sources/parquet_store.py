"""Parquet-backed measurement store — the Spark-native rendering of the
reference's 3-layer LSM pipeline (SURVEY.md §1.3).

Reference storage (libdariadb/storage/):
  * WAL (wal/wal_manager.cpp)        → small append-delta parquet files:
    a request-sized append is one driver-written segment per day,
    acknowledged once renamed into place (no Spark job)
  * Pages + .pagei index (pages/)    → compacted parquet, sorted (id,time)
    within files so row-group min/max stats prune by both id and time —
    the exact role of the chunk index
  * Dropper background WAL→page drop → ``compact()`` of the dirty days
  * eraseOld retention (engine.cpp)  → partition drop + boundary rewrite
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
from fnmatch import fnmatch
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import _DAY_STR_MAX, MEAS_FIELDS, _day_str
from dariadb_spark.sources.store_protocol import (
    SEGMENT_TMP_GLOB,
    live_rows,
    read_days,
    sorted_rewrite,
    with_day,
    write_segments,
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
    * ``compact()`` / ``erase_old()`` write only the days they change
      into ``_compact_tmp/``, hard-link every other live file beside
      them and swap that tree in for ``data/`` (:meth:`_publish`).
      Readers see the whole old ``data/`` until the swap; a frame built
      before it still finds the untouched days' files at the same paths.
      They require a single-maintainer window: no concurrent append, and
      a reader of a rewritten day may fail after the swap and must
      retry. A swap that raises is undone at once, and a crash at any
      step is repaired when the store is next opened
      (:meth:`_recover_swap`), so do not open the store from a second
      process while one maintains it.
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
        self._recover_swap()
        self.data_dir.mkdir(parents=True, exist_ok=True)

    def _recover_swap(self) -> None:
        """Repair what an interrupted :meth:`_publish` left behind: it
        builds ``_compact_tmp/``, renames ``data/`` to ``_old_data/`` and
        ``_compact_tmp/`` to ``data/``, then deletes ``_old_data/``. If
        ``data/`` is there and ``_compact_tmp/`` gone, the swap finished
        and ``_old_data/`` (perhaps half deleted) goes. Otherwise the
        untouched ``_old_data/`` is the store and goes back. A ``data/``
        beside it holds only what was appended after the first rename (an
        append ``mkdir``s its day directory), so those files move into
        ``_old_data/`` first. Last, a leftover ``_compact_tmp/`` is an
        unfinished rewrite and goes."""
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
            with_day(meas.select(*MEAS_FIELDS))
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

    # -- maintenance: rewrite some days, then swap the tree ---------------
    def _publish(
        self, rewrite: list[str], keep: list[Path], n: int, where: str = "true"
    ) -> None:
        """Swap in a ``data/`` of the ``where`` rows of the day directories
        ``rewrite``, written by one Spark job as at most ``n`` sorted files
        per day, plus hard links to every file of the day directories
        ``keep``; any other day is left out."""
        tmp = self.root / "_compact_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        if rewrite:
            rows = read_days(self.spark, self.data_dir, rewrite).where(where)
            sorted_rewrite(rows, n).write.partitionBy("p_date").parquet(str(tmp))
        tmp.mkdir(exist_ok=True)
        for day in keep:
            (tmp / day.name).mkdir()
            for f in day.iterdir():
                if not fnmatch(f.name, SEGMENT_TMP_GLOB):
                    os.link(f, tmp / day.name / f.name)
        swap = self.root / "_old_data"
        try:
            self.data_dir.rename(swap)
            tmp.rename(self.data_dir)
        except BaseException:
            self._recover_swap()
            raise
        shutil.rmtree(swap)

    # -- T5: compaction (Dropper / Engine::compress_all) ------------------
    def compact(self, files_per_partition: int = 1) -> None:
        """The WAL→page drop: rewrite each day holding more than
        ``files_per_partition`` files into at most that many files sorted
        by (id, time), all in one Spark job. Other days are left as
        written. With nothing to rewrite there is no job and no swap, and
        only leftover ``.part-*.tmp`` segments are deleted."""
        days = sorted(self.data_dir.glob("p_date=*"))
        n = files_per_partition
        dirty = [d for d in days if len(list(d.glob("*.parquet"))) > n]
        if not dirty:
            for f in self.data_dir.glob(f"p_date=*/{SEGMENT_TMP_GLOB}"):
                f.unlink()
            return
        keep = [d for d in days if d not in dirty]
        self._publish([str(d) for d in dirty], keep, n)

    # -- T4: retention (Engine::eraseOld) ---------------------------------
    def erase_old(self, cutoff_ms: int) -> None:
        """Delete measurements with ``time < cutoff``. Days wholly before
        it are left out of the new tree unread, the cutoff's own day is
        the one rewrite (one Spark job) and later days are hard-linked.
        Nothing is deleted before the swap, so a crash loses no kept row."""
        cut = f"p_date={_day_str(min(cutoff_ms, _DAY_STR_MAX))}"
        days = sorted(self.data_dir.glob("p_date=*"))
        keep = [d for d in days if d.name > cut]
        boundary = [str(d) for d in days if d.name == cut]
        if len(keep) < len(days):
            self._publish(boundary, keep, 1, f"time >= {cutoff_ms}")
