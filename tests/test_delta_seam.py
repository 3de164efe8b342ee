"""Executable proof of the store seam (VERDICT r14 item 6): the
SURVEY.md §1.3 "swap ParquetTsStore for a Delta table" mapping is an
interface contract, not prose.

`_LogTsStore` below is a MINIMAL transaction-log measurement store —
a mock ``_delta_log`` of versioned JSON commits holding add/remove
file actions, snapshot resolution by log replay, logical deletes (a
removed file stays on disk but becomes invisible), atomic commits via
O_EXCL create. It satisfies `dariadb_spark.sources.store_protocol.
TsStore` structurally and passes the same lifecycle drive as the
parquet store through an unmodified `TsEngine` — append round-trip,
interval reads, compaction invariance, retention boundary semantics,
and fsck stats — plus the log-specific property a directory listing
cannot express.

This is a test double, not a Delta client: the point is that every
engine verb flows through the protocol surface, so the real swap is a
backend implementation task with no engine changes.
"""

from __future__ import annotations

import json
import uuid
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.model import MEAS_FIELDS
from dariadb_spark.sources.store_protocol import TsStore

_DAY_MS = 86_400_000


def _day_of(ms: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(
        (ms // _DAY_MS) * 86_400, dt.timezone.utc
    ).strftime("%Y-%m-%d")


class _LogTsStore:
    """Transaction-log measurement store (mocked log). Layout:

    ``<root>/files/<uuid>.parquet``      — immutable data files
    ``<root>/_delta_log/<v>.json``       — one JSON commit per version:
        {"add": [{"path", "p_date"}], "remove": ["path", ...]}

    Commit = create the next version file with O_EXCL (two racing
    writers: exactly one wins the version — the essence of the log
    protocol). Snapshot = replay adds minus removes. Readers NEVER
    list the files directory."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = Path(root)
        self.files_dir = self.root / "files"
        self.log_dir = self.root / "_delta_log"
        self.files_dir.mkdir(parents=True, exist_ok=True)
        self.log_dir.mkdir(parents=True, exist_ok=True)

    # -- log machinery ----------------------------------------------------
    def _versions(self) -> list[Path]:
        return sorted(self.log_dir.glob("*.json"))

    def _snapshot(self) -> dict[str, str]:
        """path -> p_date for live files, by log replay."""
        live: dict[str, str] = {}
        for v in self._versions():
            actions = json.loads(v.read_text())
            for add in actions.get("add", []):
                live[add["path"]] = add["p_date"]
            for rm in actions.get("remove", []):
                live.pop(rm, None)
        return live

    def _commit(self, adds: list[dict], removes: list[str]) -> None:
        n = len(self._versions())
        target = self.log_dir / f"{n:020d}.json"
        # O_EXCL create: a concurrent committer at the same version
        # loses with FileExistsError (would retry in a real client)
        with open(target, "x") as f:
            json.dump({"add": adds, "remove": removes}, f)

    def _write_files(self, df: DataFrame) -> list[dict]:
        """Write one parquet file per day present in df; return add
        actions. (One file per day keeps the mock simple — a real
        client writes many per commit.)"""
        if isinstance(df, pa.Table):  # rows already on the driver
            pdf = df.select(list(MEAS_FIELDS)).to_pandas()
        else:
            pdf = df.select(*MEAS_FIELDS).toPandas()
        adds = []
        if not len(pdf):
            return adds
        pdf["p_date"] = [
            _day_of(int(t)) for t in pdf["time"]
        ]
        for day, part in pdf.groupby("p_date"):
            path = self.files_dir / f"{uuid.uuid4().hex}.parquet"
            part.drop(columns=["p_date"]).to_parquet(path, index=False)
            adds.append({"path": str(path), "p_date": day})
        return adds

    # -- TsStore surface ---------------------------------------------------
    def append(self, meas: DataFrame | pa.Table, isolated: bool = False) -> int:
        pdf_count_before = (
            meas.num_rows if isinstance(meas, pa.Table) else meas.count()
        )
        adds = self._write_files(meas)
        self._commit(adds, [])
        return pdf_count_before

    def read(self) -> DataFrame:
        return self.read_snapshot()

    def read_snapshot(self) -> DataFrame:
        live = self._snapshot()
        if not live:
            return self.spark.createDataFrame(
                [], "id bigint, time bigint, value double, flag bigint"
            )
        frames = []
        for path, day in sorted(live.items()):
            frames.append(
                self.spark.read.parquet(path)
                .select(*MEAS_FIELDS)
                .withColumn("_p_date", F.lit(day))
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def compact(self, files_per_partition: int = 1) -> None:
        live = self._snapshot()
        by_day: dict[str, list[str]] = {}
        for path, day in live.items():
            by_day.setdefault(day, []).append(path)
        adds, removes = [], []
        for day, paths in sorted(by_day.items()):
            if len(paths) <= files_per_partition:
                continue
            merged = (
                self.spark.read.parquet(*paths)
                .select(*MEAS_FIELDS)
                .orderBy("id", "time")
            )
            adds.extend(self._write_files(merged))
            removes.extend(paths)
        if adds or removes:
            self._commit(adds, removes)

    def erase_old(self, cutoff_ms: int) -> None:
        cutoff_day = _day_of(cutoff_ms)
        live = self._snapshot()
        adds, removes = [], []
        for path, day in sorted(live.items()):
            if day < cutoff_day:
                removes.append(path)  # logical delete, file stays on disk
            elif day == cutoff_day:
                kept = (
                    self.spark.read.parquet(path)
                    .where(F.col("time") >= cutoff_ms)
                    .select(*MEAS_FIELDS)
                )
                adds.extend(self._write_files(kept))
                removes.append(path)
        if adds or removes:
            self._commit(adds, removes)


_T0 = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC


def _rows(day: int, ids: range, base: float):
    return [
        (i, _T0 + day * _DAY_MS + i * 60_000, base + i, 1 << (i % 3))
        for i in ids
    ]


def test_log_store_satisfies_protocol_and_engine_lifecycle(spark, tmp_path):
    from dariadb_spark.engine import TsEngine
    from dariadb_spark.sources.parquet_store import ParquetTsStore

    store = _LogTsStore(spark, str(tmp_path / "logstore"))
    assert isinstance(store, TsStore)  # runtime structural check
    assert isinstance(
        ParquetTsStore(spark, str(tmp_path / "pq")), TsStore
    )

    eng = TsEngine(spark, store.read, store=store)

    # append round-trip across 3 days, two commits
    n1 = eng.append(_rows(0, range(8), 1.0) + _rows(1, range(8), 2.0))
    n2 = eng.append(_rows(1, range(8, 12), 2.0) + _rows(2, range(8), 3.0))
    assert (n1, n2) == (16, 12)
    assert eng.meas().count() == 28

    # interval read with closed ends + flag mask through the engine
    got = eng.read_interval([1, 2, 3], _T0, _T0 + 3 * _DAY_MS, 0).collect()
    assert len(got) == 3 * 2 + 3  # ids 1-3: day0, day1, day2(id<8 only)=3+3+3
    flagged = eng.read_interval(None, _T0, _T0 + 3 * _DAY_MS, 2).collect()
    assert all(r.flag & 2 == 2 for r in flagged)

    # fsck stats see the log's partition lineage
    stats = {r.p_date: r.n_rows for r in eng.partition_stats().collect()}
    assert stats == {"2024-01-01": 8, "2024-01-02": 12, "2024-01-03": 8}
    fstats = eng.partition_file_stats().collect()
    assert all(r.bounds_ok == 1 for r in fstats)

    # compaction: multiset unchanged, the twice-touched day collapses
    # to one live file
    before = sorted(map(tuple, eng.meas().select(*MEAS_FIELDS).collect()))
    mid_before = [p for p, d in store._snapshot().items() if d == "2024-01-02"]
    assert len(mid_before) == 2  # both commits wrote 2024-01-02
    eng.compact()
    after = sorted(map(tuple, eng.meas().select(*MEAS_FIELDS).collect()))
    assert after == before
    by_day: dict[str, int] = {}
    for _p, d in store._snapshot().items():
        by_day[d] = by_day.get(d, 0) + 1
    assert by_day == {"2024-01-01": 1, "2024-01-02": 1, "2024-01-03": 1}

    # THE log-specific property: removed files still exist on disk but
    # are invisible — a directory listing would double-count
    on_disk = len(list(store.files_dir.glob("*.parquet")))
    assert on_disk > len(store._snapshot())

    # retention: cutoff mid day-2 → day-1 dropped WITHOUT a rewrite
    # (remove actions only), boundary day rewritten, day-3 untouched
    cutoff = _T0 + 1 * _DAY_MS + 6 * 60_000  # keeps ids >= 6 of day 2
    eng.erase_old(cutoff)
    rem = eng.meas()
    assert rem.where(F.col("time") < cutoff).count() == 0
    per_day = {
        r.p_date: r.n_rows for r in eng.partition_stats().collect()
    }
    assert "2024-01-01" not in per_day
    assert per_day["2024-01-02"] == 12 - 6  # ids 0-5 of the 12 erased
    assert per_day["2024-01-03"] == 8

    # the boundary rewrite is value-correct, not just count-correct
    vals = sorted(
        r.id for r in rem.where(
            (F.col("time") >= cutoff) & (F.col("time") < _T0 + 2 * _DAY_MS)
        ).collect()
    )
    assert vals == [6, 7, 8, 9, 10, 11]


def test_log_store_commit_is_exclusive(spark, tmp_path):
    """Two committers racing for the same log version: exactly one
    wins (O_EXCL), the loser gets FileExistsError — the property a
    real log client builds its retry loop on."""
    import pytest

    store = _LogTsStore(spark, str(tmp_path / "race"))
    store._commit([{"path": "a", "p_date": "2024-01-01"}], [])
    n = len(store._versions())
    # simulate the loser: try to create the SAME version file
    target = store.log_dir / f"{n - 1:020d}.json"
    with pytest.raises(FileExistsError):
        with open(target, "x") as f:
            f.write("{}")
