"""Versioned-manifest measurement store — the shippable form of the
transaction-log backend the store seam was built for (SURVEY.md §1.3's
"swap ParquetTsStore for a Delta/Iceberg table" row, VERDICT r15 item 4).

tests/test_delta_seam.py proved the INTERFACE with a mock; this module is
the backend a deployment without Delta/Iceberg jars can actually run: the
same commit protocol a real transaction log uses (atomic O_EXCL version
files, snapshot by log replay, logical deletes, optimistic-concurrency
retry with conflict validation). DataFrame writes (bulk loads, compaction,
the retention rewrite) run as Spark jobs; rows already on the driver (a
request-sized append) are written as one parquet segment per day by
:func:`~dariadb_spark.sources.store_protocol.write_segments`, with no
Spark job. Either way the files stay invisible until the log commit.

Reference storage roles (libdariadb/storage/) under this backend:
  * WAL + Manifest  → the ``_log/`` versioned commits (one JSON per
    version; the log IS the manifest, and an un-committed write is
    invisible exactly like an un-flushed WAL entry)
  * Pages/.pagei    → the immutable hive-laid parquet files under
    ``files/`` (row-group stats prune on id/time within a file)
  * Dropper         → :meth:`compact` (add merged files, remove inputs —
    one atomic commit)
  * eraseOld        → :meth:`erase_old` (expired days are REMOVE ACTIONS
    ONLY — a logical delete that never reads the data; the boundary day
    is the single rewrite)
  * fsck/GC         → :meth:`vacuum` (delete on-disk files no snapshot
    references — safe because committed versions are immutable)

Commit protocol (the essence of Delta's, scoped to one filesystem):

* A commit is the atomic ``O_EXCL`` creation of ``_log/<v>.json`` at the
  next version. Two racing writers: exactly one wins the version; the
  loser re-reads the log and RETRIES.
* Append commits touch disjoint new files, so a lost race retries
  blindly — appends from any number of writers serialize without data
  conflicts (this is why a log backend gets ``isolated`` appends for
  free; the flag is accepted and ignored).
* Maintenance commits (compact/erase) name files they REMOVE; after a
  lost race the retry re-validates that every such file is still live
  and raises :class:`ConcurrentModificationError` if a concurrent commit
  took any of them — the optimistic-concurrency conflict rule.
* Readers replay ``add`` minus ``remove`` actions into a snapshot and
  read THAT file list (never a directory listing): a removed file that
  still exists on disk is invisible, and every read is naturally pinned.

Scale notes (100 TB): data files are hive-laid (``files/p_date=…/``) and
read through an explicit file list with ``basePath``, so Catalyst still
applies directory-level PartitionFilters — the same pruning the parquet
backend gets, pinned by the parametrized engine tests. Snapshot replay is
O(since the last checkpoint): every ``CHECKPOINT_INTERVAL``-th commit
also writes ``_log/<v>.checkpoint.json`` — the full live file map as of
that version, the exact compaction of the action stream Delta checkpoints
/ Iceberg manifest lists perform — and :meth:`_snapshot` replays only the
tail past the newest checkpoint at-or-before the target version (pinned
by a replay-count pytest). Checkpoints are derived, idempotent data:
concurrent writers racing the same checkpoint write byte-identical
content through an atomic replace, so no coordination is needed.
:meth:`vacuum` takes a ``retain_last`` version horizon — files referenced
by any snapshot within the horizon survive GC, so pinned old-version
readers (time travel) keep working; ``retain_last=0`` is the aggressive
current-snapshot-only GC.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections import Counter
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


class ConcurrentModificationError(RuntimeError):
    """A maintenance commit lost its optimistic-concurrency race: a file
    it planned to remove was already removed (or rewritten) by a
    concurrent commit. The caller re-plans from a fresh snapshot."""


class LogTsStore:
    """Versioned-manifest parquet measurement store.

    Layout::

        <root>/files/p_date=YYYY-MM-DD/<token>-part-*.parquet  # Spark
        <root>/files/p_date=YYYY-MM-DD/part-<token>.parquet    # segment
        <root>/_log/<version 020d>.json   # {"add": [{"path","p_date"}],
                                          #  "remove": ["path", ...]}
        <root>/stage-<token>/             # transient Spark write staging

    Satisfies :class:`dariadb_spark.sources.store_protocol.TsStore`
    structurally; selectable via ``TsEngine.open(path, backend="log")``.
    """

    #: bounded optimistic-concurrency retries before giving up — each
    #: attempt re-reads the log, so only pathological contention exhausts
    #: this (a real deployment tunes it like a Delta client's)
    MAX_COMMIT_RETRIES = 50

    #: write a snapshot checkpoint every Nth commit (Delta's default
    #: cadence) so log replay stays O(interval) however old the table
    #: grows; tests shrink it per-instance to exercise the machinery
    CHECKPOINT_INTERVAL = 10

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.files_dir = self.root / "files"
        self.log_dir = self.root / "_log"
        self.files_dir.mkdir(parents=True, exist_ok=True)
        self.log_dir.mkdir(parents=True, exist_ok=True)

    @property
    def data_dir(self) -> Path:
        """The directory the engine's streaming verbs (subscribe /
        streaming_stat_blocks) tail — same role as ParquetTsStore's.
        For the APPEND path the semantics match exactly: every commit
        publishes new unique file names under ``files/`` and the file
        stream's checkpoint is the subscription cursor. Maintenance
        caveat (shared verbatim with the parquet backend): compaction
        publishes MERGED files that a directory tail would deliver as
        new rows — run subscriptions against append-only stores or
        pause them over maintenance windows (subscribe.py's no-replay
        contract is about appends, the reference semantics)."""
        return self.files_dir

    # -- log machinery ----------------------------------------------------
    def _version_files(self) -> list[Path]:
        return sorted(
            p for p in self.log_dir.glob("*.json")
            if ".checkpoint." not in p.name and not p.name.startswith(".")
        )

    def _read_actions(self, vfile: Path) -> dict:
        """One version file's action record (factored so the replay-count
        pytest can spy on exactly how much log a snapshot reads)."""
        return json.loads(vfile.read_text())

    def _checkpoint_files(self) -> list[Path]:
        return sorted(self.log_dir.glob("*.checkpoint.json"))

    def _latest_checkpoint(
        self, at_or_before: int
    ) -> tuple[int, dict[str, str]] | None:
        """(version, live map) of the newest checkpoint whose version is
        <= ``at_or_before``, or None when replay must start from v0."""
        best: Path | None = None
        best_v = -1
        for p in self._checkpoint_files():
            v = int(p.name.split(".", 1)[0])
            if best_v < v <= at_or_before:
                best, best_v = p, v
        if best is None:
            return None
        data = json.loads(best.read_text())
        return best_v, dict(data["live"])

    def _write_checkpoint(self, version: int) -> None:
        """Materialize the snapshot as of ``version`` next to the log.
        Idempotent derived data: the content is a pure function of the
        immutable version prefix, so two racing writers produce the same
        bytes and the atomic replace makes either publish correct."""
        target = self.log_dir / f"{version:020d}.checkpoint.json"
        if target.exists():
            return
        live = self._snapshot(version)
        tmp = self.log_dir / f".tmp-cp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps({"version": version, "live": live}))
        os.replace(tmp, target)

    def checkpoint(self) -> int | None:
        """Force a checkpoint of the current snapshot (the automatic
        every-``CHECKPOINT_INTERVAL`` cadence makes this optional);
        returns the checkpointed version, or None on an empty log."""
        v = self.latest_version()
        if v < 0:
            return None
        self._write_checkpoint(v)
        return v

    def _snapshot(self, version: int | None = None) -> dict[str, str]:
        """path -> p_date of the live files — the newest checkpoint
        at-or-before the target plus a replay of only the action tail
        past it (O(CHECKPOINT_INTERVAL), not O(log length)); ``version``
        pins time travel, else the full log (the current snapshot)."""
        vfiles = self._version_files()
        target = len(vfiles) - 1
        if version is not None:
            target = min(version, target)
        live: dict[str, str] = {}
        start = 0
        cp = self._latest_checkpoint(target)
        if cp is not None:
            start, live = cp[0] + 1, cp[1]
        for i in range(start, target + 1):
            actions = self._read_actions(vfiles[i])
            for add in actions.get("add", []):
                live[add["path"]] = add["p_date"]
            for rm in actions.get("remove", []):
                live.pop(rm, None)
        return live

    def latest_version(self) -> int:
        """The highest committed version number (−1 on an empty log)."""
        return len(self._version_files()) - 1

    def history(self) -> list[dict]:
        """One entry per committed version — the audit surface a Delta
        user reads with ``DESCRIBE HISTORY``: version number, add/remove
        counts, and the commit kind inferred from them (append /
        maintenance / retention)."""
        out = []
        for i, v in enumerate(self._version_files()):
            actions = json.loads(v.read_text())
            na, nr = len(actions.get("add", [])), len(
                actions.get("remove", [])
            )
            kind = (
                "append" if nr == 0
                else "retention" if na == 0
                else "maintenance"
            )
            out.append(
                {"version": i, "n_add": na, "n_remove": nr, "kind": kind}
            )
        return out

    def _try_commit(self, adds: list[dict], removes: list[str]) -> int | None:
        """One O_EXCL attempt at the next version; the committed version
        number on success, None on a lost race."""
        n = len(self._version_files())
        target = self.log_dir / f"{n:020d}.json"
        tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps({"add": adds, "remove": removes}))
        try:
            # link(2) is the atomic-exclusive publish: it fails with
            # FileExistsError if the version exists and never exposes a
            # half-written commit (the tmp file is complete before link)
            os.link(tmp, target)
            return n
        except FileExistsError:
            return None
        finally:
            tmp.unlink(missing_ok=True)

    def _commit(
        self, adds: list[dict], removes: list[str], validate: bool = False
    ) -> None:
        """Commit with optimistic-concurrency retry. ``validate=True``
        (maintenance commits) re-checks after every lost race that all
        ``removes`` are still live; appends retry blindly — new files
        cannot conflict."""
        for _ in range(self.MAX_COMMIT_RETRIES):
            if validate and removes:
                live = self._snapshot()
                gone = [p for p in removes if p not in live]
                if gone:
                    raise ConcurrentModificationError(
                        f"files removed by a concurrent commit: {gone[:3]}"
                    )
            v = self._try_commit(adds, removes)
            if v is not None:
                # Delta's cadence: every Nth commit compacts the action
                # stream into a checkpoint so replay stays O(interval).
                # Done AFTER the commit is durable — a crash here loses
                # only derived data the next writer re-creates.
                if (v + 1) % self.CHECKPOINT_INTERVAL == 0:
                    self._write_checkpoint(v)
                return
        raise ConcurrentModificationError(
            f"lost {self.MAX_COMMIT_RETRIES} straight version races"
        )

    # -- data-file writing ------------------------------------------------
    def _write_files(
        self, df: DataFrame, files_per_day: int | None = None
    ) -> list[dict]:
        """Spark-write ``df`` hive-partitioned by day into a unique
        staging dir, then rename the part files into ``files/`` under
        unique names; return the add actions. Rename-into-place is safe
        from any number of concurrent writers (nothing shared, names
        unique) and the files stay INVISIBLE until the log commit. With
        ``files_per_day`` the write is a maintenance rewrite: at most that
        many (id, time)-sorted files per day (:func:`sorted_rewrite`)."""
        token = uuid.uuid4().hex
        stage = self.root / f"stage-{token}"
        adds: list[dict] = []
        rows = with_day(df.select(*MEAS_FIELDS))
        if files_per_day:
            rows = sorted_rewrite(rows, files_per_day)
        try:
            rows.write.partitionBy("p_date").mode("errorifexists").parquet(
                str(stage)
            )
            for pdir in sorted(stage.glob("p_date=*")):
                day = pdir.name.split("=", 1)[1]
                dest = self.files_dir / pdir.name
                dest.mkdir(parents=True, exist_ok=True)
                for f in sorted(pdir.glob("*.parquet")):
                    out = dest / f"{token}-{f.name}"
                    os.rename(f, out)
                    adds.append({"path": str(out), "p_date": day})
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return adds

    # -- TsStore surface ---------------------------------------------------
    def append(self, meas: DataFrame | pa.Table, isolated: bool = False) -> int:
        """Ingest measurements; returns the appended row count. A
        ``pyarrow.Table`` (rows already on the driver) is written as one
        segment per day under ``files/p_date=D/`` without a Spark job; a
        DataFrame is written by Spark, its count observed during the
        write (no second pipeline run). All files of one append are added
        in ONE log commit, so the whole append becomes visible at that
        commit or not at all: it is acknowledged once committed, and a
        segment that was never committed is invisible to every read.
        Multi-writer-safe by the log protocol itself, so ``isolated`` is
        accepted for interface parity and ignored."""
        if isinstance(meas, pa.Table):
            segments = write_segments(self.files_dir, meas)
            adds = [{"path": str(p), "p_date": day} for day, p in segments]
            n = meas.num_rows
        else:
            from pyspark.sql import Observation

            obs = Observation()
            adds = self._write_files(
                meas.select(*MEAS_FIELDS).observe(
                    obs, F.count(F.lit(1)).alias("n")
                )
            )
            n = obs.get["n"]
        if adds:
            self._commit(adds, [])
        return n

    def read(self) -> DataFrame:
        """The live rows — resolved from the LOG, never a directory
        listing (a removed-but-on-disk file is invisible). Every read is
        a pinned snapshot by construction."""
        return self.read_snapshot()

    def read_snapshot(self) -> DataFrame:
        return self.read_version(None)

    def read_version(self, version: int | None) -> DataFrame:
        """Time travel: the rows as of log ``version`` (None = latest).
        Raises ``IndexError`` on a version the log never committed and
        ``FileNotFoundError`` when a referenced data file was vacuumed
        away — the Delta trade, surfaced loudly instead of as a Spark
        scan error. ``vacuum(retain_last=k)`` keeps every file any of
        the last k+1 snapshots references, so versions inside that
        horizon stay readable after GC; versions past it whose files
        were rewritten by compact/erase_old stop being readable once
        vacuumed."""
        if version is not None:
            latest = self.latest_version()
            if not (0 <= version <= latest):
                raise IndexError(
                    f"version {version} out of range [0, {latest}]"
                )
        live = self._snapshot(version)
        if version is not None:
            missing = [p for p in sorted(live) if not Path(p).exists()]
            if missing:
                raise FileNotFoundError(
                    f"version {version} references {len(missing)} "
                    f"vacuumed data file(s), e.g. {missing[0]}"
                )
        # ONE scan over the explicit file list; basePath re-derives the
        # hive p_date so Catalyst still prunes whole day directories
        # (PartitionFilters) — pinned by the parametrized engine test.
        return live_rows(read_days(self.spark, self.files_dir, sorted(live)))

    def compact(self, files_per_partition: int = 1) -> None:
        """Fold the files of each day holding more than
        ``files_per_partition`` into at most that many (id, time)-sorted
        files: one Spark job for all such days, and adds + removes in ONE
        atomic commit, so readers see either the old layout or the new,
        never both. Other days are left as written; with none to fold
        there is no job and no commit."""
        live = self._snapshot()
        per_day = Counter(live.values())
        dirty = sorted(
            p for p, day in live.items() if per_day[day] > files_per_partition
        )
        if dirty:
            merged = read_days(self.spark, self.files_dir, dirty)
            adds = self._write_files(merged, files_per_partition)
            self._commit(adds, dirty, validate=True)

    def erase_old(self, cutoff_ms: int) -> None:
        """Retention: fully-expired days are REMOVE ACTIONS ONLY — a
        logical delete that reads nothing (the at-scale win over any
        rewrite); the single boundary day is rewritten to keep
        ``time >= cutoff``."""
        cutoff_day = _day_str(min(cutoff_ms, _DAY_STR_MAX))
        live = self._snapshot()
        adds: list[dict] = []
        removes: list[str] = []
        boundary: list[str] = []
        for path, day in sorted(live.items()):
            if day < cutoff_day:
                removes.append(path)
            elif day == cutoff_day:
                boundary.append(path)
        if boundary:
            kept = read_days(self.spark, self.files_dir, boundary).where(
                F.col("time") >= cutoff_ms
            )
            adds.extend(self._write_files(kept, 1))
            removes.extend(boundary)
        if adds or removes:
            self._commit(adds, removes, validate=True)

    # -- GC ----------------------------------------------------------------
    def vacuum(self, retain_last: int = 0) -> int:
        """Delete on-disk data files no retained snapshot references;
        returns the number deleted. ``retain_last`` is the retention
        horizon (Delta's retention window, in versions): files referenced
        by ANY snapshot in the last ``retain_last + 1`` versions survive,
        so time travel to those versions — and pinned readers of them —
        keeps working after GC; ``retain_last=0`` keeps only the current
        snapshot (the aggressive default). Safe because commits only ever
        add new unique names — a file absent from every retained live set
        can never become live again — provided no append is in flight: an
        append's files are on disk before its commit names them, so run
        vacuum in a maintenance window. Hidden temp segments an
        interrupted append left behind are deleted too, and so are the
        ``stage-<token>/`` directories of a crashed Spark write (an
        append, compact or erase_old that died before renaming its files
        into ``files/``): with no write in flight, none is in use.

        The union of live sets over [horizon, latest] is computed as
        live(horizon) ∪ {files added after the horizon}: any file live at
        some retained version either already existed at the horizon or
        was added past it — one snapshot replay plus an O(retain_last)
        action-tail scan, never retain_last full replays."""
        latest = self.latest_version()
        horizon = max(0, latest - max(0, retain_last))
        live = set(self._snapshot(horizon))
        vfiles = self._version_files()
        for i in range(horizon + 1, latest + 1):
            actions = self._read_actions(vfiles[i])
            live.update(add["path"] for add in actions.get("add", []))
        dropped = 0
        for f in sorted(self.files_dir.glob("p_date=*/*.parquet")):
            if str(f) not in live:
                f.unlink()
                dropped += 1
        for f in self.files_dir.glob(f"p_date=*/{SEGMENT_TMP_GLOB}"):
            f.unlink()
        for stage in self.root.glob("stage-*"):
            shutil.rmtree(stage)
        # prune now-empty day dirs so directory listings stay honest
        for d in sorted(self.files_dir.glob("p_date=*")):
            if not any(d.iterdir()):
                d.rmdir()
        return dropped
