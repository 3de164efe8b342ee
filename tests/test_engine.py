"""TsEngine lifecycle tests — the Spark rendering of the reference's
shared round-trip property (unittests/test_common.cpp,
dariadb_test::storage_test_check): append a deterministic grid of
measurements, then assert every query verb returns exactly what the grid
implies — interval reads complete and time-sorted, as-of reads correct at
boundaries with _NO_DATA synthesis, current/min-max/statistics matching
hand-computed values — plus compaction/retention/subscribe semantics the
reference exercises in engine_test.cpp / wal_test / pages_test.
"""

from __future__ import annotations

import datetime
import math

import pytest

from dariadb_spark.engine import TsEngine
from dariadb_spark.model import FLAGS_NO_DATA

T0 = 1_704_067_200_000  # 2024-01-01 00:00:00 UTC
STEP = 21_600_000  # 6 h → 20 steps span 5 UTC days
N_IDS = 5
N_STEPS = 20
FLAG_CYCLE = [1, 2, 4, 8, 16]


def _grid() -> list[tuple[int, int, float, int]]:
    return [
        (i, T0 + k * STEP, float(i * 100 + k), FLAG_CYCLE[k % 5])
        for i in range(N_IDS)
        for k in range(N_STEPS)
    ]


@pytest.fixture(scope="module", params=["parquet", "log"])
def engine(spark, tmp_path_factory, request):
    # parametrized over BOTH store backends (VERDICT r15 item 4): every
    # query-verb/lifecycle test below runs against the directory-listing
    # parquet store AND the versioned-manifest log store through an
    # unmodified TsEngine — the seam contract as a test matrix
    eng = TsEngine.open(
        spark, str(tmp_path_factory.mktemp("store")), backend=request.param
    )
    grid = _grid()
    # three appends → several small files per day partition (the WAL-ish
    # state compact() later folds up)
    for part in (grid[:30], grid[30:70], grid[70:]):
        assert eng.append(part) == len(part)
    return eng


def _live_files(store) -> list[str]:
    """Backend-agnostic live-file listing: the log store's truth is its
    snapshot (disk may hold logically-deleted files); the parquet
    store's is the directory tree."""
    from dariadb_spark.sources.log_store import LogTsStore

    if isinstance(store, LogTsStore):
        return sorted(store._snapshot())
    return sorted(str(p) for p in store.data_dir.rglob("*.parquet"))


def test_read_interval_complete_and_sorted(engine):
    rows = engine.read_interval(None, T0, T0 + N_STEPS * STEP).collect()
    assert [(r.id, r.time, r.value, r.flag) for r in rows] == sorted(_grid())


def test_read_interval_closed_ends(engine):
    # from/to land exactly on sample times: both ends must be included
    rows = engine.read_interval([1], T0 + STEP, T0 + 3 * STEP).collect()
    assert [r.time for r in rows] == [T0 + k * STEP for k in (1, 2, 3)]


def test_read_interval_flag_bitmask(engine):
    rows = engine.read_interval(None, T0, T0 + N_STEPS * STEP, flag=16).collect()
    assert len(rows) == N_IDS * (N_STEPS // 5)
    assert all(r.flag & 16 == 16 for r in rows)
    # flag=0 means no filter, not "flag equals zero"
    assert (
        len(engine.read_interval(None, T0, T0 + N_STEPS * STEP, flag=0).collect())
        == N_IDS * N_STEPS
    )


def test_read_time_point_asof_and_no_data(engine):
    tp = T0 + 5 * STEP + 1  # just after step 5
    rows = {r.id: r for r in engine.read_time_point([0, 3, 999], tp).collect()}
    assert set(rows) == {0, 3, 999}  # one row per REQUESTED id, always
    for i in (0, 3):
        assert rows[i].time == T0 + 5 * STEP
        assert rows[i].value == float(i * 100 + 5)
    assert rows[999].time == tp
    assert rows[999].value == 0.0
    assert rows[999].flag == FLAGS_NO_DATA


def test_read_time_point_boundary_and_before_first(engine):
    # tp exactly ON a sample time: that sample is the as-of value (<=)
    rows = {r.id: r for r in engine.read_time_point([2], T0 + 4 * STEP).collect()}
    assert rows[2].value == 204.0
    # tp before every sample → _NO_DATA even for existing series
    rows = {r.id: r for r in engine.read_time_point([2], T0 - 1).collect()}
    assert rows[2].flag == FLAGS_NO_DATA


def test_read_time_point_empty_ids_answers_no_rows(engine):
    # no requested id, no row: an empty id list must not widen to "all
    # series" the way ids_predicate([]) does for the other verbs
    assert engine.read_time_point([], T0 + 5 * STEP).collect() == []


def test_current_value_and_min_max(engine):
    cur = {r.id: r for r in engine.current_value().collect()}
    assert len(cur) == N_IDS
    for i in range(N_IDS):
        assert cur[i].time == T0 + (N_STEPS - 1) * STEP
        assert cur[i].value == float(i * 100 + N_STEPS - 1)
    mm = {r.id: r for r in engine.min_max_time().collect()}
    for i in range(N_IDS):
        assert (mm[i].min_time, mm[i].max_time) == (
            T0,
            T0 + (N_STEPS - 1) * STEP,
        )


def test_stat_and_calc_match_hand_computed(engine):
    vals = [float(1 * 100 + k) for k in range(N_STEPS)]
    st = {r.id: r for r in engine.stat([1], T0, T0 + N_STEPS * STEP).collect()}[1]
    assert st.cnt == N_STEPS
    assert st.min_value == min(vals) and st.max_value == max(vals)
    assert st.sum_value == round(sum(vals), 4)
    calc = engine.calc(
        ["average", "sigma", "count", "nonsense"], [1], T0, T0 + N_STEPS * STEP
    ).collect()[0]
    assert calc.average == pytest.approx(sum(vals) / len(vals))
    mean = sum(vals) / len(vals)
    assert calc.sigma == pytest.approx(
        round(math.sqrt(sum((v - mean) ** 2 for v in vals) / len(vals)), 4)
    )
    assert calc["count"] == N_STEPS  # Row.count is the tuple method
    assert "nonsense" not in calc.__fields__  # unknown names ignored
    with pytest.raises(ValueError):
        engine.calc(["nonsense"], [1], T0, T0 + N_STEPS * STEP)


def test_foreach_visits_every_row(engine):
    seen: list[tuple] = []
    engine.foreach(
        lambda r: seen.append((r.id, r.time, r.value, r.flag)),
        None,
        T0,
        T0 + N_STEPS * STEP,
    )
    assert seen == sorted(_grid())


def test_compact_preserves_results_and_shrinks_files(engine):
    store = engine.store
    before_files = len(_live_files(store))
    before_rows = engine.read_interval(None, 0, 2**60).collect()
    store.compact()
    after_files = len(_live_files(store))
    assert after_files <= before_files
    n_days = len({f.rsplit("p_date=", 1)[1].split("/", 1)[0]
                  for f in _live_files(store)})
    assert after_files == n_days  # 1 live file per day
    assert engine.read_interval(None, 0, 2**60).collect() == before_rows
    # the .pagei-analog file stats track the COMPACTED layout: one file
    # per day partition, every file self-consistent, totals preserved
    pfs = engine.partition_file_stats().collect()
    assert len(pfs) == after_files
    assert all(r.bounds_ok == 1 for r in pfs)
    assert sum(r.n_rows for r in pfs) == len(before_rows)


def test_isolated_appends_are_concurrent_safe(spark, tmp_path):
    """The executable form of the append-vs-append hazard: 4 threads
    appending disjoint slices concurrently with ``isolated=True`` must
    land every row exactly once (unique staging dirs + uniquely-named
    renames — nothing shared between writers), leave no stage-* litter,
    and keep the store readable. The default path stays documented-only
    for cross-process use (same app sequential appends are its
    contract)."""
    from concurrent.futures import ThreadPoolExecutor

    from dariadb_spark.sources.parquet_store import ParquetTsStore

    store = ParquetTsStore(spark, str(tmp_path / "s"))
    t0 = 1_704_067_200_000
    per = 500

    def one(i: int) -> int:
        rows = spark.range(per).selectExpr(
            f"CAST({i} AS BIGINT) AS id",
            f"{t0} + id * 1000 AS time",
            "CAST(id AS DOUBLE) AS value",
            "CAST(1 AS BIGINT) AS flag",
        )
        return store.append(rows, isolated=True)

    with ThreadPoolExecutor(max_workers=4) as ex:
        counts = list(ex.map(one, range(4)))
    assert counts == [per] * 4
    got = store.read().groupBy("id").count().collect()
    assert {r.id: r["count"] for r in got} == {i: per for i in range(4)}
    assert not list((tmp_path / "s").glob("stage-*"))
    # every value exactly once per id (no dropped or doubled files)
    tot = store.read().groupBy().sum("value").collect()[0][0]
    assert tot == 4 * (per - 1) * per / 2


def test_log_store_concurrent_writers_all_commit(spark, tmp_path):
    """The concurrent-writer test the O_EXCL commit protocol supports
    (VERDICT r15 item 4): 4 threads appending disjoint slices through
    the LOG backend race for versions, the losers retry, and every
    append lands exactly once — full multi-writer ATOMICITY, the step
    past the parquet backend's isolated-append file-level safety."""
    from concurrent.futures import ThreadPoolExecutor

    from dariadb_spark.sources.log_store import LogTsStore

    store = LogTsStore(spark, str(tmp_path / "s"))
    t0 = 1_704_067_200_000
    per = 500

    def one(i: int) -> int:
        rows = spark.range(per).selectExpr(
            f"CAST({i} AS BIGINT) AS id",
            f"{t0} + id * 1000 AS time",
            "CAST(id AS DOUBLE) AS value",
            "CAST(1 AS BIGINT) AS flag",
        )
        return store.append(rows)

    with ThreadPoolExecutor(max_workers=4) as ex:
        counts = list(ex.map(one, range(4)))
    assert counts == [per] * 4
    # one commit per append, consecutive versions, no gaps or orphans
    assert len(store._version_files()) == 4
    got = store.read().groupBy("id").count().collect()
    assert {r.id: r["count"] for r in got} == {i: per for i in range(4)}
    tot = store.read().groupBy().sum("value").collect()[0][0]
    assert tot == 4 * (per - 1) * per / 2
    assert not list((tmp_path / "s").glob("stage-*"))


def test_log_store_commit_race_and_conflict_rules(spark, tmp_path):
    """The two optimistic-concurrency rules, driven directly: an append
    commit that loses a version race RETRIES at the next version; a
    maintenance commit whose remove-set was taken by a concurrent commit
    raises ConcurrentModificationError instead of double-removing."""
    import json

    from dariadb_spark.sources.log_store import (
        ConcurrentModificationError,
        LogTsStore,
    )

    store = LogTsStore(spark, str(tmp_path / "s"))
    store._commit([{"path": "a", "p_date": "2024-01-01"}], [])
    # occupy the next version out-of-band: the append retry must land at
    # the one after, not fail
    (store.log_dir / f"{1:020d}.json").write_text(
        json.dumps({"add": [{"path": "b", "p_date": "2024-01-01"}],
                    "remove": []})
    )
    store._commit([{"path": "c", "p_date": "2024-01-02"}], [])
    assert len(store._version_files()) == 3
    assert set(store._snapshot()) == {"a", "b", "c"}
    # maintenance conflict: removing a file another commit already took
    store._commit([], ["b"], validate=True)  # legal: b is live
    with pytest.raises(ConcurrentModificationError):
        store._commit([], ["b"], validate=True)  # b no longer live
    assert set(store._snapshot()) == {"a", "c"}


def test_log_store_logical_delete_and_vacuum(spark, tmp_path):
    """erase_old on the log backend is remove-actions-only for expired
    days (the file STAYS on disk but becomes invisible — the property a
    directory listing cannot express), and vacuum() then reclaims
    exactly the unreferenced files."""
    from dariadb_spark.sources.log_store import LogTsStore

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend="log")
    eng.append(_grid())
    store = eng.store
    live_before = set(store._snapshot())
    on_disk_before = {
        str(p) for p in store.files_dir.glob("p_date=*/*.parquet")
    }
    assert live_before == on_disk_before
    cutoff = T0 + 10 * STEP + 1  # days 1-2 expired, day 3 is boundary
    eng.erase_old(cutoff)
    rows = eng.read_interval(None, 0, 2**60).collect()
    expect = sorted(t for t in _grid() if t[1] >= cutoff)
    assert [(r.id, r.time, r.value, r.flag) for r in rows] == expect
    # expired + boundary-rewritten files are logically gone but on disk
    live_after = set(store._snapshot())
    on_disk_after = {
        str(p) for p in store.files_dir.glob("p_date=*/*.parquet")
    }
    removed = live_before - live_after
    assert removed and removed <= on_disk_after
    # vacuum reclaims exactly the unreferenced files and nothing live
    assert store.vacuum() == len(on_disk_after - live_after)
    on_disk_final = {
        str(p) for p in store.files_dir.glob("p_date=*/*.parquet")
    }
    assert on_disk_final == live_after
    assert [
        (r.id, r.time, r.value, r.flag)
        for r in eng.read_interval(None, 0, 2**60).collect()
    ] == expect


def test_erase_old_partition_drop_and_boundary_rewrite(spark, tmp_path):
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    cutoff = T0 + 10 * STEP + 1  # mid-day-3: days 1-2 dropped, day 3 rewritten
    eng.erase_old(cutoff)
    rows = eng.read_interval(None, 0, 2**60).collect()
    expect = sorted(t for t in _grid() if t[1] >= cutoff)
    assert [(r.id, r.time, r.value, r.flag) for r in rows] == expect
    # fully-expired day partitions are gone without a rewrite
    days = {p.name for p in eng.store.data_dir.glob("p_date=*")}
    assert "p_date=2024-01-01" not in days and "p_date=2024-01-02" not in days


def test_store_interval_scan_prunes_partitions(engine):
    """Day partitions outside the queried interval must be pruned at the
    directory level (PartitionFilters), not just via row-group stats —
    at scale this is the difference between listing 7 and 3650 dirs."""
    import re

    plan = engine.read_interval(
        None, T0 + 4 * STEP, T0 + 7 * STEP  # day 2 only (6h steps)
    )._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    # the day-range bounds must actually be IN the partition filter —
    # the 'PartitionFilters:' label alone prints even when it's empty
    assert ">= 2024-01-02" in m.group(1) and "<= 2024-01-02" in m.group(1)
    # and the result is still exactly right
    rows = engine.read_interval(None, T0 + 4 * STEP, T0 + 7 * STEP).collect()
    assert [r.time for r in rows if r.id == 0] == [
        T0 + k * STEP for k in (4, 5, 6, 7)
    ]


def _spark_jobs(spark, action) -> int:
    """How many Spark jobs ``action()`` launches, counted through a
    private job group and the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc._jsc.clearJobGroup()
    # the status tracker is fed by the listener bus: drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _final_plan(df) -> str:
    """The executed physical plan after the frame has run (AQE final)."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_store_read_launches_no_job(engine):
    """The store reads with its schema given, so building the frame
    reads no parquet footer and runs nothing."""
    assert _spark_jobs(engine.spark, engine.store.read) == 0
    assert _spark_jobs(engine.spark, engine.store.read_snapshot) == 0


def test_id_bounded_verbs_sort_in_one_partition(engine):
    """Given ids, an answer is request-sized: no verb range-partitions it
    (no sampling job), and each runs as one job in the serving session
    (no adaptive re-planning job for its shuffle). ids=None keeps the
    global range sort."""
    end = T0 + N_STEPS * STEP
    bounded = {
        "read_time_point": lambda: engine.read_time_point([0, 3, 999], end),
        "current_value": lambda: engine.current_value([1, 2]),
        "read_interval": lambda: engine.read_interval([1, 2], T0, end),
        "stat": lambda: engine.stat([1, 2], T0, end),
        "calc": lambda: engine.calc(["average", "median"], [1, 2], T0, end),
        "downsample": lambda: engine.downsample("day", [1, 2], T0, end),
        "min_max_time": lambda: engine.min_max_time([1, 2]),
    }
    for verb, build in bounded.items():
        assert "rangepartitioning" not in _final_plan(build()), verb
        assert _spark_jobs(engine.spark, lambda: build().collect()) == 1, verb
    unbounded = {
        "current_value": lambda: engine.current_value(None),
        "read_interval": lambda: engine.read_interval(None, T0, end),
        "stat": lambda: engine.stat(None, T0, end),
        "calc": lambda: engine.calc(["average"], None, T0, end),
        "downsample": lambda: engine.downsample("day"),
        "min_max_time": lambda: engine.min_max_time(None),
    }
    for verb, build in unbounded.items():
        assert "rangepartitioning" in _final_plan(build()), verb


def test_pattern_scan_runs_at_most_two_jobs(engine):
    """read_interval_by_pattern sorts its answer in one partition above
    the scan and the catalog join: the catalog's broadcast and the scan,
    no range sort's sampling jobs."""
    for sid in (1, 2):
        engine.scheme.register(f"pin.sensor{sid}", sid)
    end = T0 + N_STEPS * STEP
    rows = []
    n = _spark_jobs(
        engine.spark,
        lambda: rows.extend(
            engine.read_interval_by_pattern("pin.*", T0, end).collect()
        ),
    )
    assert n <= 2
    direct = engine.read_interval([1, 2], T0, end).collect()
    assert [(r.id, r.time) for r in rows] == [(r.id, r.time) for r in direct]
    assert len(rows) > 0
    assert "rangepartitioning" not in _final_plan(
        engine.read_interval_by_pattern("pin.*", T0, end)
    )


def test_id_bounded_read_interval_keeps_a_parallel_scan(engine):
    """read_interval gathers its answer through a single-partition
    exchange above the scan, so the scan itself keeps its partitions."""
    plan = _final_plan(engine.read_interval([1, 2], T0, T0 + N_STEPS * STEP))
    lines = plan.splitlines()

    def first(marker: str) -> int:
        return next(i for i, ln in enumerate(lines) if marker in ln)

    # the plan prints top-down: sort, then the exchange, then the scan
    sort, exchange = first("Sort ["), first("Exchange SinglePartition")
    assert sort < exchange < first("Scan parquet"), plan


# -- request-sized appends: driver-written parquet segments ----------------

DAY = 86_400_000


def _files_by_day(store) -> dict[str, set[str]]:
    """Every ``*.parquet`` file on disk under the store's day
    directories, by day (the log store's committed files included)."""
    out: dict[str, set[str]] = {}
    for f in store.data_dir.glob("p_date=*/*.parquet"):
        out.setdefault(f.parent.name.split("=", 1)[1], set()).add(str(f))
    return out


def _new_files_per_day(before, after) -> dict[str, int]:
    return {
        day: len(files - before.get(day, set()))
        for day, files in after.items()
        if files - before.get(day, set())
    }


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_tuple_append_runs_no_job_and_writes_one_file_per_day(
    spark, tmp_path, backend
):
    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    grid = _grid()  # 5 UTC days
    for part in (grid[:30], grid[30:]):
        before = _files_by_day(eng.store)
        n = []
        assert _spark_jobs(spark, lambda: n.append(eng.append(part))) == 0
        assert n == [len(part)]
        days = {datetime.datetime.fromtimestamp(t / 1000, datetime.UTC)
                .strftime("%Y-%m-%d") for _i, t, _v, _f in part}
        assert _new_files_per_day(before, _files_by_day(eng.store)) == {
            d: 1 for d in days
        }
    got = eng.read_interval(None, 0, 2**60).collect()
    assert [tuple(r) for r in got] == sorted(grid)


def test_isolated_append_of_driver_rows_is_rejected(spark, tmp_path):
    """``isolated=True`` selects a DataFrame write path; with rows on the
    driver (tuples or a table) it raises instead of being ignored, and
    writes nothing."""
    from dariadb_spark.model import meas_table

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    rows = [(1, T0, 1.0, 1)]
    for given in (rows, meas_table(*zip(*rows))):
        with pytest.raises(ValueError, match="isolated"):
            eng.append(given, isolated=True)
    assert _files_by_day(eng.store) == {}


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_segment_day_matches_spark_day_and_pruning_bound(
    spark, tmp_path, backend
):
    """A segment lands in the day directory Spark's ``with_day`` and
    the pruning bound's ``_day_str`` give its time: before 1970, at
    midnight - 1 ms, at midnight, and for one append spanning two days
    (one file in each)."""
    from dariadb_spark.model import _day_str, local_frame
    from dariadb_spark.sources.store_protocol import with_day

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    appends = [
        [(1, -DAY - 5, 1.0, 1)],  # 1969-12-30 23:59:59.995
        [(2, -1, 2.0, 1)],  # 1969-12-31 23:59:59.999
        [(3, T0 - 1, 3.0, 1)],  # midnight - 1 ms
        [(4, T0, 4.0, 1)],  # midnight
        [(5, T0 + DAY - 1, 5.0, 1), (5, T0 + DAY, 6.0, 1)],  # two days
    ]
    for rows in appends:
        before = _files_by_day(eng.store)
        eng.append(rows)
        added = _new_files_per_day(before, _files_by_day(eng.store))
        assert added == {_day_str(t): 1 for _i, t, _v, _f in rows}
    landed = {
        r.time: str(r._p_date)
        for r in eng.store.read().select("time", "_p_date").collect()
    }
    times = sorted(landed)
    spark_day = {
        r.time: r.p_date
        for r in with_day(
            local_frame(spark, "time bigint", {"time": times})
        ).collect()
    }
    assert landed == spark_day == {t: _day_str(t) for t in times}
    assert landed[-1] == "1969-12-31" and landed[T0] == "2024-01-01"
    assert landed[T0 - 1] == "2023-12-31"


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_tuple_and_dataframe_appends_answer_identically(
    spark, tmp_path, backend
):
    from dariadb_spark.model import MEAS_DDL, local_frame

    grid = _grid()
    by_tuples = TsEngine.open(spark, str(tmp_path / "t"), backend=backend)
    by_frame = TsEngine.open(spark, str(tmp_path / "f"), backend=backend)
    by_tuples.append(grid)
    cols = {c: list(v) for c, v in zip(("id", "time", "value", "flag"),
                                       zip(*grid))}
    by_frame.append(local_frame(spark, MEAS_DDL, cols))
    end = T0 + N_STEPS * STEP
    for ask in (
        lambda e: e.read_interval(None, T0, end),
        lambda e: e.read_interval([1, 3], T0 + STEP, end - STEP, 4),
        lambda e: e.current_value(None),
        lambda e: e.current_value([0, 2], 2),
        lambda e: e.stat(None, T0, end),
        lambda e: e.stat([1, 4], T0 + 3 * STEP, end),
    ):
        assert ask(by_tuples).collect() == ask(by_frame).collect()


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_concurrent_tuple_appends_land_every_row_once(
    spark, tmp_path, backend
):
    import sys
    from concurrent.futures import ThreadPoolExecutor

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    writers, per = 8, 500

    def one(i: int) -> int:
        # each writer spans two new days, so they race to create the
        # day directories and then share them
        return eng.append(
            [(i, T0 - DAY // 2 + k * 300_000, float(k), 1)
             for k in range(per)]
        )

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=writers) as ex:
            counts = list(ex.map(one, range(writers), timeout=120))
    finally:
        sys.setswitchinterval(switch)
    assert counts == [per] * writers
    got = eng.store.read().groupBy("id").count().collect()
    assert {r.id: r["count"] for r in got} == {
        i: per for i in range(writers)
    }
    tot = eng.store.read().groupBy().sum("value").collect()[0][0]
    assert tot == writers * (per - 1) * per / 2
    if backend == "log":
        assert len(eng.store._version_files()) == writers


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_leftover_temp_segment_is_invisible_and_cleaned(
    spark, tmp_path, backend
):
    """A crash between writing a segment and renaming it leaves a hidden
    temp file: no read or subscription sees it, and maintenance
    deletes it (compact on the parquet store, vacuum on the log store).
    On the log store a segment renamed but never committed is invisible
    too."""
    import shutil

    from dariadb_spark.model import meas_table
    from dariadb_spark.sources.store_protocol import (
        SEGMENT_TMP_GLOB,
        write_segments,
    )

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    grid = _grid()
    eng.append(grid)
    # a whole, readable parquet file under the temp name: were it listed,
    # its rows would show up twice
    seg = next(iter(eng.store.data_dir.glob("p_date=2024-01-01/*.parquet")))
    leftover = seg.parent / SEGMENT_TMP_GLOB.replace("*", "interrupted")
    shutil.copyfile(seg, leftover)
    assert eng.store.read().count() == len(grid)
    got: list[tuple] = []
    q = eng.subscribe(
        None,
        0,
        lambda df, _bid: got.extend(tuple(r) for r in df.collect()),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    assert sorted(got) == sorted(grid)
    if backend == "log":
        write_segments(
            eng.store.data_dir, meas_table([9], [T0 + 60_000], [9.0], [1])
        )
        assert eng.store.read().count() == len(grid)
    if backend == "parquet":
        eng.compact()
    else:
        eng.store.vacuum()
    assert not leftover.exists()
    assert not list(eng.store.data_dir.glob(f"p_date=*/{SEGMENT_TMP_GLOB}"))
    assert sorted(
        tuple(r) for r in eng.read_interval(None, 0, 2**60).collect()
    ) == sorted(grid)


@pytest.mark.parametrize(
    "crash",
    [
        "before_swap",
        "between_renames",
        "between_renames_after_append",
        "after_swap",
    ],
)
def test_reopen_recovers_interrupted_compaction(spark, tmp_path, crash):
    """Each state an interrupted compact() swap can leave on disk reopens
    with every row. compact() writes ``_compact_tmp/``, renames
    ``data/`` to ``_old_data/``, renames ``_compact_tmp/`` to ``data/``
    and deletes ``_old_data/``; an append between the two renames
    creates a fresh ``data/`` holding only its own segment, and that
    state must keep both the original rows and the appended one."""
    import shutil

    from dariadb_spark.model import meas_table
    from dariadb_spark.sources.parquet_store import ParquetTsStore

    grid = _grid()
    # a compacted copy of the same rows, to plant as _compact_tmp/ or data/
    twin = ParquetTsStore(spark, str(tmp_path / "twin"))
    for part in (grid[:30], grid[30:70], grid[70:]):
        TsEngine(spark, twin.read, twin).append(part)
    twin.compact()

    root = tmp_path / "s"
    store = ParquetTsStore(spark, str(root))
    for part in (grid[:30], grid[30:70], grid[70:]):
        TsEngine(spark, store.read, store).append(part)
    data, old, tmp = root / "data", root / "_old_data", root / "_compact_tmp"
    expect = list(grid)
    if crash == "before_swap":
        # the rewrite died half way: one day of the compacted copy
        day = next(twin.data_dir.glob("p_date=*"))
        shutil.copytree(day, tmp / day.name)
    elif crash.startswith("between_renames"):
        shutil.copytree(twin.data_dir, tmp)
        data.rename(old)
        if crash == "between_renames_after_append":
            late = [(7, T0 + 5 * DAY, 7.5, 1)]
            store.append(meas_table(*zip(*late)))
            expect += late
    else:
        data.rename(old)
        shutil.copytree(twin.data_dir, data)
        shutil.rmtree(next(old.glob("p_date=*")))  # half deleted
    want = {
        "before_swap": {"data", "_compact_tmp"},
        "between_renames": {"_old_data", "_compact_tmp"},
        "between_renames_after_append": {"data", "_old_data", "_compact_tmp"},
        "after_swap": {"data", "_old_data"},
    }[crash]
    assert {p.name for p in root.iterdir()} == want

    reopened = ParquetTsStore(spark, str(root))
    assert {p.name for p in root.iterdir()} == {"data"}
    got = reopened.read().select("id", "time", "value", "flag").collect()
    assert sorted(map(tuple, got)) == sorted(expect)


def test_compaction_swap_undone_when_an_append_races_it(
    spark, tmp_path, monkeypatch
):
    """An append landing between compact()'s two renames makes the
    second rename fail (``data/`` exists again). compact() raises and
    leaves one whole ``data/`` in place: the original rows plus the
    racing append, with nothing left to repair on reopen. The grid is
    appended in parts so that compact() has days to rewrite."""
    import pathlib

    from dariadb_spark.model import meas_table
    from dariadb_spark.sources.parquet_store import ParquetTsStore

    root = tmp_path / "s"
    store = ParquetTsStore(spark, str(root))
    eng = TsEngine(spark, store.read, store)
    grid = _grid()
    for part in (grid[:30], grid[30:70], grid[70:]):
        eng.append(part)
    late = [(7, T0 + 5 * DAY, 7.5, 1)]
    rename = pathlib.Path.rename

    def racing_rename(src, dst):
        out = rename(src, dst)
        if src.name == "data":
            store.append(meas_table(*zip(*late)))
        return out

    monkeypatch.setattr(pathlib.Path, "rename", racing_rename)
    with pytest.raises(OSError):
        store.compact()
    monkeypatch.undo()
    assert {p.name for p in root.iterdir()} == {"data"}
    got = store.read().select("id", "time", "value", "flag").collect()
    assert sorted(map(tuple, got)) == sorted(grid + late)


def _inodes(store) -> dict[str, int]:
    return {
        str(f): f.stat().st_ino
        for f in store.data_dir.glob("p_date=*/*.parquet")
    }


def test_compact_rewrites_only_the_dirty_day_in_one_job(spark, tmp_path):
    """A compaction with one day holding two files runs one Spark job and
    rewrites that day only: every other day keeps its file at the same
    path with the same inode (hard-linked into the new tree)."""
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    grid = _grid()
    eng.append(grid)  # one segment per day
    late = [(0, T0 + 1, 0.5, 1)]  # a second file in 2024-01-01
    eng.append(late)
    before = _inodes(eng.store)
    dirty = {f for f in before if "p_date=2024-01-01" in f}
    assert len(dirty) == 2
    assert _spark_jobs(spark, eng.compact) == 1
    after = _inodes(eng.store)
    rewritten = {f for f in after if "p_date=2024-01-01" in f}
    assert len(rewritten) == 1 and not rewritten & dirty
    assert {f: i for f, i in after.items() if f not in rewritten} == {
        f: i for f, i in before.items() if f not in dirty
    }
    got = eng.read_interval(None, 0, 2**60).collect()
    assert [tuple(r) for r in got] == sorted(grid + late)


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_compact_with_nothing_to_rewrite_runs_no_job(spark, tmp_path, backend):
    """Every day holds one file: compact() runs no job and publishes
    nothing (no swap on the parquet store, no commit on the log store),
    and the parquet store still deletes a leftover temp segment."""
    from dariadb_spark.sources.store_protocol import SEGMENT_TMP_GLOB

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    eng.append(_grid())
    store = eng.store
    day = next(store.data_dir.glob("p_date=*"))
    leftover = day / SEGMENT_TMP_GLOB.replace("*", "interrupted")
    leftover.write_bytes(b"half a segment")
    tree = store.data_dir.stat().st_ino
    before = _inodes(store)
    version = store.latest_version() if backend == "log" else None
    assert _spark_jobs(spark, eng.compact) == 0
    assert store.data_dir.stat().st_ino == tree
    assert _inodes(store) == before
    if backend == "log":
        assert store.latest_version() == version
    else:
        assert not leftover.exists()
        assert {p.name for p in store.root.iterdir()} == {"data"}


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_compact_writes_dirty_days_sorted_in_one_job(spark, tmp_path, backend):
    """Two dirty days are folded by one Spark job into one file each,
    sorted by (id, time) (read back with pyarrow: the appended rows came
    last, so an unsorted merge would show)."""
    import pyarrow.parquet as pq

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    grid = _grid()
    eng.append(grid)
    late = [(0, T0 + 1, 0.5, 1), (1, T0 + 2 * DAY + 1, 1.5, 1)]
    eng.append(late)
    assert _spark_jobs(spark, eng.compact) == 1
    files = {
        f: day
        for f in _live_files(eng.store)
        for day in ("2024-01-01", "2024-01-03")
        if f"p_date={day}/" in f
    }
    assert sorted(files.values()) == ["2024-01-01", "2024-01-03"]
    for f in files:
        t = pq.read_table(f, columns=["id", "time"])
        keys = list(zip(*(t.column(c).to_pylist() for c in ("id", "time"))))
        assert keys == sorted(keys) and len(keys) == 21
    got = eng.read_interval(None, 0, 2**60).collect()
    assert [tuple(r) for r in got] == sorted(grid + late)


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_erase_old_runs_one_job_and_never_reads_an_expired_day(
    spark, tmp_path, backend
):
    """erase_old rewrites the boundary day in one Spark job and drops the
    expired days unread: one of them is corrupted, so any read of it
    would raise."""
    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    grid = _grid()
    eng.append(grid)
    for f in eng.store.data_dir.glob("p_date=2024-01-01/*.parquet"):
        f.write_bytes(b"not parquet")
    cutoff = T0 + 10 * STEP + 1  # days 1-2 expired, day 3 is the boundary
    assert _spark_jobs(spark, lambda: eng.erase_old(cutoff)) == 1
    got = eng.read_interval(None, 0, 2**60).collect()
    assert [tuple(r) for r in got] == sorted(t for t in grid if t[1] >= cutoff)


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_erase_old_past_every_day_empties_the_store(spark, tmp_path, backend):
    """A cutoff past the last day a date can name (the 2**60 "whole
    history" sentinel) expires every day instead of raising."""
    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    eng.append(_grid())
    eng.erase_old(2**60)
    assert eng.store.read().count() == 0


@pytest.mark.parametrize(
    "crash", ["mid_link", "before_swap", "between_renames", "after_swap"]
)
def test_reopen_recovers_interrupted_erase(
    spark, tmp_path, monkeypatch, crash
):
    """A process dying at any step of erase_old's tree swap (its undo
    never runs) leaves a store that reopens with exactly the rows before
    the call or exactly the rows after it: the expired days and the
    boundary day's old file are never deleted before the swap."""
    import os
    import pathlib
    import shutil

    from dariadb_spark.sources.parquet_store import ParquetTsStore

    class Crash(Exception):
        pass

    root = tmp_path / "s"
    store = ParquetTsStore(spark, str(root))
    grid = _grid()
    for part in (grid[:30], grid[30:70], grid[70:]):
        TsEngine(spark, store.read, store).append(part)
    cutoff = T0 + 10 * STEP + 1
    link, rename, rmtree = os.link, pathlib.Path.rename, shutil.rmtree
    links = []

    def crashing_link(src, dst):
        links.append(dst)
        if crash == "mid_link" and len(links) == 2:
            raise Crash
        return link(src, dst)

    def crashing_rename(src, dst):
        if (crash, src.name) in {
            ("before_swap", "data"), ("between_renames", "_compact_tmp")
        }:
            raise Crash
        return rename(src, dst)

    def crashing_rmtree(path, *args, **kwargs):
        if crash == "after_swap" and pathlib.Path(path).name == "_old_data":
            rmtree(next(pathlib.Path(path).glob("p_date=*")))  # half deleted
            raise Crash
        return rmtree(path, *args, **kwargs)

    monkeypatch.setattr(os, "link", crashing_link)
    monkeypatch.setattr(pathlib.Path, "rename", crashing_rename)
    monkeypatch.setattr(shutil, "rmtree", crashing_rmtree)
    monkeypatch.setattr(ParquetTsStore, "_recover_swap", lambda self: None)
    with pytest.raises(Crash):
        store.erase_old(cutoff)
    monkeypatch.undo()
    want = {
        "mid_link": {"data", "_compact_tmp"},
        "before_swap": {"data", "_compact_tmp"},
        "between_renames": {"_old_data", "_compact_tmp"},
        "after_swap": {"data", "_old_data"},
    }[crash]
    assert {p.name for p in root.iterdir()} == want

    reopened = ParquetTsStore(spark, str(root))
    assert {p.name for p in root.iterdir()} == {"data"}
    got = reopened.read().select("id", "time", "value", "flag").collect()
    after = [t for t in grid if t[1] >= cutoff]
    assert sorted(map(tuple, got)) == sorted(
        after if crash == "after_swap" else grid
    )


@pytest.mark.parametrize("fail_at", ["write", "rename"])
@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_failed_segment_append_publishes_nothing(
    spark, tmp_path, monkeypatch, backend, fail_at
):
    """An append spanning two days whose second day fails to write (or,
    after both writes, to rename) raises and leaves no file of its own
    behind: no read sees any of its rows, so a retry cannot duplicate
    the first day."""
    import os

    from dariadb_spark.sources import store_protocol

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    grid = _grid()
    eng.append(grid)
    before = _files_by_day(eng.store)
    real = {"write": store_protocol.pq.write_table, "rename": os.rename}[
        fail_at
    ]
    calls = []

    def second_fails(*args, **kwargs):
        calls.append(args)
        if len(calls) == 2:
            raise OSError(28, "No space left on device")
        return real(*args, **kwargs)

    if fail_at == "write":
        monkeypatch.setattr(store_protocol.pq, "write_table", second_fails)
    else:
        monkeypatch.setattr(store_protocol.os, "rename", second_fails)
    rows = [(1, T0 + 6 * DAY - 1, 1.0, 1), (1, T0 + 6 * DAY, 2.0, 1)]
    with pytest.raises(OSError):
        eng.append(rows)
    monkeypatch.undo()
    assert len(calls) == 2
    assert _files_by_day(eng.store) == before
    leftovers = eng.store.data_dir.glob("p_date=*/.*")
    assert not list(leftovers)
    got = eng.read_interval(None, 0, 2**60).collect()
    assert sorted(map(tuple, got)) == sorted(grid)


@pytest.mark.parametrize("backend", ["parquet", "log"])
def test_subscribe_pushes_only_matching(spark, tmp_path, backend):
    eng = TsEngine.open(spark, str(tmp_path / "s"), backend=backend)
    eng.append(_grid())
    got: list[tuple] = []
    q = eng.subscribe(
        [0, 1],
        16,
        lambda df, _bid: got.extend(
            (r.id, r.time, r.value, r.flag) for r in df.collect()
        ),
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(120)
    expect = sorted(
        t for t in _grid() if t[0] in (0, 1) and (t[3] & 16) == 16
    )
    assert sorted(got) == expect


def test_subscribe_no_replay_across_five_batches(spark, tmp_path):
    """Upstream ``Engine::subscribe`` pushes appends made AFTER the
    subscription — never history (SURVEY §2.8 T1, no-replay contract).
    Spark rendering: the checkpoint is the subscription cursor. Five
    append→drain micro-batches through one checkpoint; the id/flag
    predicate changes mid-stream (drains 4-5 use a WIDER filter that
    matches earlier batches' rows) — yet rows from batches already
    drained are never delivered again, because the checkpoint has
    consumed their files. Only the not-yet-consumed appends flow
    through the new predicate."""
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    ckpt = str(tmp_path / "ckpt")
    t0 = 1_704_067_200_000
    batches = [
        [(sid, t0 + b * 60_000 + sid, float(b * 10 + sid), 1 << (b % 3))
         for sid in range(4)]
        for b in range(5)
    ]
    delivered: list[list[tuple]] = []
    for b, rows in enumerate(batches):
        eng.append(rows)
        got: list[tuple] = []
        # drains 1-3: only series 0-1, flag bit 1; drains 4-5: ALL
        # series, flag 0 (pass-everything — would match every
        # historical row if replay happened)
        ids, flag = ([0, 1], 1) if b < 3 else (None, 0)
        q = eng.subscribe(
            ids,
            flag,
            lambda df, _bid: got.extend(
                (r.id, r.time, r.value, r.flag) for r in df.collect()
            ),
            checkpoint=ckpt,
            available_now=True,
        )
        q.awaitTermination(120)
        delivered.append(sorted(got))
    # ≥5 micro-batches total were processed (one per drain minimum)
    assert len(delivered) == 5
    # narrow-predicate drains: only matching rows of THAT batch
    for b in range(3):
        expect = sorted(
            t for t in batches[b] if t[0] in (0, 1) and (t[3] & 1) == 1
        )
        assert delivered[b] == expect, b
    # wide-predicate drains: every row of THAT batch — and nothing from
    # batches 0-2, though flag=0/ids=None matches all of them
    for b in (3, 4):
        assert delivered[b] == sorted(batches[b]), b
    all_delivered = {r for d in delivered for r in d}
    replayed = {
        t for b in range(3) for t in batches[b]
        if not (t[0] in (0, 1) and (t[3] & 1) == 1)
    } & all_delivered
    assert not replayed


def test_streaming_current_value_matches_batch(spark, tmp_path):
    from dariadb_spark.streaming.subscribe import streaming_current_value

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    q = streaming_current_value(spark, str(eng.store.data_dir), "cv_test")
    q.awaitTermination(120)
    live = sorted(map(tuple, spark.table("cv_test").collect()))
    batch = sorted(map(tuple, eng.current_value().collect()))
    assert live == batch


def test_streaming_stat_blocks_matches_batch_downsample(spark, tmp_path):
    from dariadb_spark.streaming.stateful import streaming_stat_blocks

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    q = streaming_stat_blocks(
        spark, str(eng.store.data_dir), "day", "stat_blocks_test"
    )
    q.awaitTermination(120)
    live = sorted(
        (r.id, r.bucket_ms, r.cnt, r.min_value, r.max_value, r.sum_value)
        for r in spark.table("stat_blocks_test").collect()
    )
    batch = sorted(
        (r.id, r.bucket_ms, r.cnt, r.min_value, r.max_value, r.sum_value)
        for r in eng.downsample("day").collect()
    )
    assert live == batch


def test_streaming_downsample_matches_batch(spark, tmp_path):
    from dariadb_spark.streaming.subscribe import streaming_downsample

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    q = streaming_downsample(
        spark, str(eng.store.data_dir), "day", query_name="ds_live_test"
    )
    q.awaitTermination(120)
    live = sorted(map(tuple, spark.table("ds_live_test").collect()))
    batch = sorted(map(tuple, eng.downsample("day").collect()))
    assert live == batch


def test_streaming_anomaly_alerts_batch_split_invariant(spark, tmp_path):
    """Alerts are a pure fold over the per-series time order, so HOW the
    ordered stream is chopped into micro-batches must not matter: one
    big batch and five small ones produce identical alert sets (the
    state hand-off is exact, not approximate)."""
    import os
    import shutil

    from dariadb_spark.streaming.stateful import streaming_anomaly_alerts

    base = 1_704_067_200_000
    # two series with planted spikes at different points
    rows = []
    for sid in (3, 4):
        for k in range(50):
            v = 10.0 + (k % 5) * 0.2
            if (sid, k) in ((3, 35), (4, 48)):
                v = 200.0
            rows.append((sid, base + k * 1000, v, 1))
    rows.sort(key=lambda r: (r[1], r[0]))  # global time order

    def run(splits: int, tag: str) -> set:
        d = tmp_path / f"split_{tag}"
        d.mkdir()
        chunk = (len(rows) + splits - 1) // splits
        for i in range(splits):
            part_rows = rows[i * chunk : (i + 1) * chunk]
            if not part_rows:
                continue
            staging = str(tmp_path / f"sstage_{tag}_{i}")
            spark.createDataFrame(
                part_rows, "id bigint, time bigint, value double, flag bigint"
            ).coalesce(1).write.parquet(staging)
            part = next(
                p for p in os.listdir(staging) if p.endswith(".parquet")
            )
            dst = str(d / f"b{i}.parquet")
            shutil.move(f"{staging}/{part}", dst)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        q = streaming_anomaly_alerts(
            spark, str(d), query_name=f"alert_split_{tag}",
            max_files_per_trigger=1,
        )
        q.awaitTermination(120)
        return {
            (r.id, r.time, r.value, r.n_trail, r.z)
            for r in spark.table(f"alert_split_{tag}").collect()
        }

    one = run(1, "one")
    five = run(5, "five")
    assert one == five
    assert {(i, t) for i, t, *_ in one} == {
        (3, base + 35_000), (4, base + 48_000),
    }


def test_streaming_anomaly_alerts_incremental_state(spark, tmp_path):
    """The custom-stateful alert fold must carry its trailing window
    ACROSS micro-batches: 30 flat points arrive in batch 1, a spike in
    batch 2 — the spike can only be scored against state saved from
    batch 1 (its own batch holds nothing else). Flat points never
    alert; the spike does, with a full 20-point trail."""
    import os
    import shutil

    from dariadb_spark.streaming.stateful import streaming_anomaly_alerts

    base = 1_704_067_200_000
    flat = [(5, base + k * 1000, 10.0 + (k % 3) * 0.1, 1) for k in range(30)]
    spike = [(5, base + 30_000, 100.0, 1)]
    stream_dir = tmp_path / "alert_stream"
    stream_dir.mkdir()
    for i, rows in enumerate((flat, spike)):
        staging = str(tmp_path / f"astage_{i}")
        spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        ).coalesce(1).write.parquet(staging)
        part = next(p for p in os.listdir(staging) if p.endswith(".parquet"))
        dst = str(stream_dir / f"abatch_{i}.parquet")
        shutil.move(f"{staging}/{part}", dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    q = streaming_anomaly_alerts(
        spark, str(stream_dir), query_name="alert_inc_test",
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    alerts = spark.table("alert_inc_test").collect()
    assert len(alerts) == 1
    a = alerts[0]
    assert (a.id, a.time, a.value) == (5, base + 30_000, 100.0)
    assert a.n_trail == 20 and a.z > 3.0


class _FakeGroupState:
    """The three GroupState members the alert fold touches — lets tests
    drive exact micro-batch sequences through the fold deterministically
    (the file-source route can't express 'this batch arrives after that
    one but carries earlier timestamps' without racing mtime ordering)."""

    def __init__(self) -> None:
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_alert_fold_out_of_order_arrival_policy():
    """SCALE.md §5 policy, pinned: a LATE point (event time earlier than
    points already folded) is scored against the trailing window AS-OF
    ARRIVAL — the last `window` points in arrival order, even though
    their event times all exceed the late point's — and alerts already
    emitted in earlier batches are never retracted or re-emitted. Order
    within one batch is still (time, value, flag)-sorted; order ACROSS
    batches is arrival. The batch query is the reconciliation of record
    (reference merge-on-read accepts arbitrary lateness; VERDICT r5
    item 3)."""
    import pandas as pd

    from dariadb_spark.streaming.stateful import _make_alert_fold

    fold = _make_alert_fold(5, 3, 2.0)
    state = _FakeGroupState()

    def run(rows):
        pdf = pd.DataFrame(
            rows, columns=["time", "value", "flag"]
        ).astype({"time": "int64", "value": "float64", "flag": "int64"})
        (out,) = list(fold((7,), iter([pdf]), state))
        return [tuple(r) for r in out.itertuples(index=False, name=None)]

    # batch 1: 6 near-flat points at t=0..5s (10.0/10.2 alternating, so
    # the trail has nonzero std), plus an in-batch spike at t=9s
    b1 = [(k * 1000, 10.0 + (k % 2) * 0.2, 1) for k in range(6)] + [
        (9_000, 90.0, 1)
    ]
    alerts1 = run(b1)
    assert [(t, v) for _, t, v, *_ in alerts1] == [(9_000, 90.0)]
    # batch 2: ONE late point (t=2.5s, before every batch-1 time) — its
    # trail is the last 5 points by ARRIVAL, which includes the t=9s
    # spike (mean shifted to ~26, std ~32), not the 5 near-flat points
    # that surround t=2.5s in event time
    alerts2 = run([(2_500, 10.0, 1), (12_000, 10.2, 1)])
    times2, values2, flags2 = state.get
    # state appended the late point in batch-sorted order, before 12s,
    # then trimmed to the last `window`=5 arrivals
    assert times2 == [4_000, 5_000, 9_000, 2_500, 12_000]
    # late 10.0 vs arrival-trail mean≈26.1/std≈32 → z≈-0.5: no alert;
    # had the fold re-sorted globally by event time the trail would be
    # the near-flat neighborhood and the expectations differ — this
    # pins as-of-arrival. Batch-1's alert is not re-emitted.
    assert alerts2 == []
    # batch 3: a late SPIKE at t=6s scores against the arrival-order
    # tail [9s:90, 2.5s:10, 12s:10.2, + 4s,5s flat] last-5 window
    alerts3 = run([(6_000, 500.0, 1)])
    assert len(alerts3) == 1
    (_, t3, v3, _, n3, z3) = alerts3[0]
    assert (t3, v3, n3) == (6_000, 500.0, 5)
    assert z3 > 2.0


def test_parity_queries_clean_their_scratch_dirs(spark, sf_dir):
    """The streaming parity queries mkdtemp a fixture slice per
    invocation; they must remove it (and drop the memory-sink view)
    before returning — repeated bench/test sweeps in one session must
    not accumulate disk or driver catalog entries (VERDICT r5 item 5)."""
    import glob
    import tempfile

    from dariadb_spark.streaming.rollup import streaming_current_value_parity
    from dariadb_spark.streaming.stateful import streaming_anomaly_parity

    from dariadb_spark.registry import REGISTRY

    pattern = f"{tempfile.gettempdir()}/dariadb_*_parity_*"
    fstats_pattern = f"{tempfile.gettempdir()}/dariadb_fstats_multi_*"
    before = set(glob.glob(pattern)) | set(glob.glob(fstats_pattern))
    views_before = {v.name for v in spark.catalog.listTables()}
    assert streaming_current_value_parity(spark, sf_dir).count() > 0
    assert streaming_anomaly_parity(spark, sf_dir).count() >= 0
    assert REGISTRY["partition_file_stats_multi"].fn(spark, sf_dir).count() > 0
    assert (
        set(glob.glob(pattern)) | set(glob.glob(fstats_pattern))
    ) == before
    leaked = {
        v.name for v in spark.catalog.listTables()
    } - views_before
    assert not {n for n in leaked if "_parity_" in n}


def test_downsample_to_series_derived_names(spark, tmp_path):
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    derived = eng.downsample_to_series("average", "day", append=True)
    # derived scheme names registered, one per source series
    did = eng.scheme.id_by_param("series1.average.day")
    assert did is not None
    day = 86_400_000
    rows = {
        r.time: r.value
        for r in eng.read_interval([did], 0, 2**60).collect()
        if True
    }
    # hand-computed day means for id=1: 4 samples/day, 5 days
    for d in range(5):
        day_start = T0 + d * day
        vals = [
            float(100 + k)
            for k in range(N_STEPS)
            if day_start <= T0 + k * STEP < day_start + day
        ]
        assert rows[day_start] == sum(vals) / len(vals)
    # derived rows are flag=0 synthesized measurements
    assert all(r.flag == 0 for r in derived.collect())
    # rerun is idempotent: the distributed allocator resolves the derived
    # names to their EXISTING catalog ids (no fresh allocation drift)
    again = eng.downsample_to_series("average", "day")
    assert did in {r.id for r in again.select("id").distinct().collect()}
    assert eng.scheme.id_by_param("series1.average.day") == did
    # first-run allocation sat strictly above every then-existing source id
    grid_max = max(r[0] for r in _grid())
    first_ids = {r.id for r in derived.select("id").distinct().collect()}
    assert min(first_ids) > grid_max


def test_fixture_events_is_single_file_named_events_parquet():
    """The `partition_file_stats` oracle states 'events.parquet' as a
    constant because every fixture events table is one plain parquet
    FILE of that name (TESTDATA.md). If the fixtures are ever
    regenerated as multi-file datasets this assumption must fail HERE,
    loudly, not as a silent driver hash mismatch (ADVICE r5). The
    multi-file semantics have their own driver query
    (`partition_file_stats_multi`, over a real partitioned store)."""
    import glob
    import os

    dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert dirs, "no testdata fixtures found"
    for d in dirs:
        p = f"{d}/events.parquet"
        assert os.path.isfile(p), f"{p} is not a single plain file"


def test_partition_stats_detects_torn_partition(spark, tmp_path):
    """The fsck flag must catch a file physically placed in the WRONG
    p_date dir (the torn-partition case a time-derived check can never
    see): move one day's parquet into another day's directory and the
    moved rows' derived day no longer renders to their partition."""
    import glob
    import shutil

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    clean = {r.p_date: r.bounds_ok for r in eng.partition_stats().collect()}
    assert clean and all(v == 1 for v in clean.values())

    days = sorted(glob.glob(str(tmp_path / "s" / "data" / "p_date=*")))
    assert len(days) >= 2
    victim = glob.glob(f"{days[0]}/*.parquet")[0]
    # both dirs may hold same-named part files (same write job) — rename
    shutil.move(victim, f"{days[1]}/torn-{victim.rsplit('/', 1)[-1]}")
    torn = {r.p_date: r.bounds_ok for r in eng.partition_stats().collect()}
    # partition_stats keys by datetime.date (Spark's partition-type
    # inference for p_date=YYYY-MM-DD dirs) — match that, don't cast.
    bad_day = datetime.date.fromisoformat(days[1].rsplit("=", 1)[-1])
    assert isinstance(next(iter(torn)), datetime.date)
    assert torn[bad_day] == 0
    # file-level fsck (.pagei analog) localizes the torn FILE: exactly
    # one file reports bounds_ok=0, it is the moved one, and it sits in
    # the wrong p_date dir — the repair job knows what to move back.
    by_file = eng.partition_file_stats().collect()
    bad_files = [r for r in by_file if r.bounds_ok == 0]
    assert len(bad_files) == 1
    assert bad_files[0].file.startswith("torn-")
    assert bad_files[0].p_date == bad_day
    # every other file in the store is still self-consistent
    assert all(r.bounds_ok == 1 for r in by_file if r.file != bad_files[0].file)
    # frame-backed engines have no physical placement → no bounds_ok col
    eng2 = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            _grid(), "id bigint, time bigint, value double, flag bigint"
        ),
    )
    assert "bounds_ok" not in eng2.partition_stats().columns
    assert "bounds_ok" not in eng2.partition_file_stats().columns


def test_changepoint_seasonal_rolling_hand_computed(spark):
    """Round-3 verbs on purpose-built series: a clean level shift puts
    the CUSUM argmax exactly at the step; hour-of-day means recover the
    planted diurnal pattern; the rolling median tracks the plateau."""
    step_rows = [(7, T0 + k * 1000, 10.0 if k < 10 else 20.0, 1) for k in range(20)]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            step_rows, "id bigint, time bigint, value double, flag bigint"
        ),
    )
    cp = eng.changepoint_cusum([7], T0, T0 + 60_000).collect()[0]
    # D_k = n*S_k - k*T peaks at the step boundary (k=10, the last 10.0):
    # |20*10000 - 10*30000| cents = 100000 -> score 100000/(20*100) = 50
    assert cp.changepoint_time == T0 + 9 * 1000
    assert cp.cusum_score == 50.0

    hour = 3_600_000
    diurnal = [
        (8, T0 + d * 86_400_000 + h * hour, 100.0 if h == 0 else 200.0, 1)
        for d in range(3)
        for h in (0, 1)
    ]
    eng2 = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            diurnal, "id bigint, time bigint, value double, flag bigint"
        ),
    )
    prof = {
        r.hour_of_day: (r.hour_mean, r.seasonal_dev)
        for r in eng2.seasonal_profile([8], 0, 2**60).collect()
    }
    assert prof[0] == (100.0, -50.0) and prof[1] == (200.0, 50.0)

    med = eng.rolling_median([7], T0, T0 + 60_000).collect()
    # by the 15th sample the trailing-10 frame is majority 20.0
    assert med[-1].roll_median == 20.0
    assert med[0].roll_median == 10.0


def test_decode_media_real_png(spark):
    """The real-codec branch (round-2 VERDICT item 6) decodes ACTUAL
    image bytes — a 3×2 RGB PNG built in-test — both directly and
    through the same mapInPandas plumbing the stub query uses. PIL is
    used when installed; this container exercises the stdlib PNG/IHDR
    fallback."""
    import struct
    import zlib

    from dariadb_spark.ext.multimodal import decode_frames, decode_media_real

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    w, h = 3, 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = b"".join(b"\x00" + bytes([40, 80, 120] * w) for _ in range(h))
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )

    assert decode_media_real(png, "image") == [(0, 3, 2, 3)]

    media = spark.createDataFrame(
        [(1, "image", bytearray(png))],
        "doc_id bigint, media_type string, payload binary",
    )
    rows = decode_frames(media, decode_media_real).collect()
    assert [tuple(r) for r in rows] == [(1, "image", 0, 3, 2, 3)]

    import pytest

    with pytest.raises(ValueError):
        decode_media_real(b"not an image", "image")


def test_phash_banding_is_complete(spark, sf_dir):
    """The pigeonhole claim behind the chunked candidate join: every
    pair within PHASH_MAX_HAMMING must be found. Brute-force all fp
    pairs at sf0.001 (500 docs → 125k Python XORs) and compare to the
    banded pipeline's output exactly."""
    from itertools import combinations

    from dariadb_spark.ext.multimodal import (
        _phash_fingerprints,
        PHASH_MAX_HAMMING,
        media_phash_dedup,
    )
    from dariadb_spark.model import load_table

    fps = {
        r.doc_id: r.fp
        for r in _phash_fingerprints(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    brute = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for a, b in combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= PHASH_MAX_HAMMING
    }
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in media_phash_dedup(spark, sf_dir).collect()
    }
    assert banded == brute and len(brute) > 0


def test_phash_matches_pure_python_reference(spark, sf_dir):
    """Third-implementation check (hashlib, plain dicts) of the whole
    fingerprint: bigrams → 60-bin histogram → mean-threshold aHash —
    same blind-spot coverage the CMS/KMV sketches have in
    tests/test_sketches.py."""
    import hashlib

    from dariadb_spark.ext.multimodal import PHASH_BINS, _phash_fingerprints
    from dariadb_spark.model import load_table

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    spark_fps = {
        r.doc_id: r.fp
        for r in _phash_fingerprints(
            load_table(spark, sf_dir, "documents")
        ).collect()
    }
    for doc_id, text in docs.items():
        w = text.split(" ")
        if len(w) < 2:
            assert doc_id not in spark_fps
            continue
        hist = [0] * PHASH_BINS
        for i in range(len(w) - 1):
            bg = w[i] + " " + w[i + 1]
            h = int(hashlib.md5(bg.encode()).hexdigest()[:15], 16)
            hist[h % PHASH_BINS] += 1
        n = len(w) - 1
        ref = sum(
            1 << q for q in range(PHASH_BINS) if PHASH_BINS * hist[q] > n
        )
        assert ref == spark_fps[doc_id], doc_id


def test_asof_join_semantics(spark):
    from dariadb_spark.operators.asof_join import asof_join

    def mk(rows):
        return spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        )

    left = mk([(1, 100, 10.0, 1), (1, 200, 20.0, 1), (2, 100, 30.0, 1)])
    right = mk([(1, 100, 7.0, 2), (1, 150, 8.0, 2), (9, 50, 9.0, 2)])
    out = {
        (r.id, r.time): (r.rv, r.rt)
        for r in asof_join(left, right, "rv", "rt").collect()
    }
    assert out[(1, 100)] == (7.0, 100)  # simultaneous right row IS visible
    assert out[(1, 200)] == (8.0, 150)  # latest at-or-before
    assert out[(2, 100)] == (None, None)  # no right rows for this id


def test_asof_and_nearest_null_right_values_stay_paired(spark):
    """Round-2 ADVICE regression: a right row with a NULL value must
    contribute its (time, value) as ONE unit. With independent IGNORE
    NULLS passes the value pass skips the null row while the time pass
    counts it, pairing a stale value with a newer time."""
    from dariadb_spark.operators.asof_join import asof_join, nearest_join

    def mk(rows):
        return spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        )

    left = mk([(1, 300, 10.0, 1)])
    right = mk([(1, 100, 7.0, 2), (1, 250, None, 2)])

    a = asof_join(left, right, "rv", "rt").collect()[0]
    # latest right row at-or-before 300 is (250, NULL) — both fields from it
    assert (a.rt, a.rv) == (250, None)

    n = nearest_join(left, right, tolerance_ms=1000).collect()[0]
    assert (n.nearest_time, n.nearest_value, n.dist_ms) == (250, None, 50)


@pytest.mark.parametrize("backend", ["json", "table"])
def test_scheme_catalog_roundtrip(spark, tmp_path, backend):
    """Identical lifecycle through BOTH catalog backends: the driver-dict
    JSON catalog and the parquet-table-backed one (whose to_df/resolve/
    match read path is a cluster-side table scan — the at-scale J2
    shape, VERDICT r5 item 7)."""
    from dariadb_spark.scheme import SeriesCatalog, TableSeriesCatalog

    def make():
        if backend == "json":
            return SeriesCatalog(spark, str(tmp_path / "scheme.json"))
        return TableSeriesCatalog(spark, str(tmp_path / "scheme_tbl"))

    cat = make()
    a = cat.add_param("host0.cpu0.load")
    b = cat.add_param("host0.cpu1.load")
    assert cat.add_param("host0.cpu0.load") == a  # idempotent
    assert cat.id_by_param("host0.cpu1.load") == b
    assert cat.id_by_param("missing") is None
    # persisted catalog reloads with the same mapping
    cat2 = make()
    assert cat2.id_by_param("host0.cpu1.load") == b
    # glob match works identically over both to_df renderings
    assert {r.name for r in cat2.match("host0.*").collect()} == {
        "host0.cpu0.load",
        "host0.cpu1.load",
    }
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            [(a, T0, 1.0, 1), (b, T0, 2.0, 1), (12345, T0, 3.0, 1)],
            "id bigint, time bigint, value double, flag bigint",
        ),
    )
    named = {r.id: r.name for r in cat.resolve(eng.meas()).collect()}
    assert named[a] == "host0.cpu0.load"
    assert named[12345] is None  # uncataloged series keep flowing (left join)


def test_table_catalog_register_bulk_distributed(spark, tmp_path):
    """TableSeriesCatalog.register_bulk merges and validates the
    derived-id mapping as a Spark job (the parent collects it): pairs
    land in the next catalog version, a rerun with identical pairs is
    idempotent, and a name→different-id conflict (vs the table or
    within the batch) raises without writing a new version."""
    from dariadb_spark.scheme import TableSeriesCatalog

    cat = TableSeriesCatalog(spark, str(tmp_path / "cat"))
    cat.register("s0", 0)
    mapping = spark.createDataFrame(
        [(0, "s0", "s0.avg.day", 100), (1, "s1", "s1.avg.day", 101)],
        "id bigint, base string, dname string, derived_id bigint",
    )
    cat.register_bulk(mapping)
    assert cat.id_by_param("s1.avg.day") == 101
    assert cat.id_by_param("s1") == 1
    n_versions = len(cat._versions())
    cat.register_bulk(mapping)  # idempotent rerun: no conflict
    assert cat.id_by_param("s0.avg.day") == 100
    # fresh reload sees the merged table
    cat2 = TableSeriesCatalog(spark, str(tmp_path / "cat"))
    assert cat2.id_by_param("s1.avg.day") == 101
    # conflict: s1 already bound to 1
    bad = spark.createDataFrame(
        [(7, "s1", "s1.avg.hour", 102)],
        "id bigint, base string, dname string, derived_id bigint",
    )
    with pytest.raises(ValueError, match="s1"):
        cat2.register_bulk(bad)
    assert cat2.id_by_param("s1.avg.hour") is None


def test_table_catalog_bulk_at_cardinality(spark, tmp_path):
    """The distributed bulk path at non-toy cardinality: 20k derived
    mappings registered in one job, glob match and resolve run straight
    off the table, and a reload round-trips every binding."""
    from pyspark.sql import functions as F

    from dariadb_spark.scheme import TableSeriesCatalog

    cat = TableSeriesCatalog(spark, str(tmp_path / "bigcat"))
    mapping = spark.range(20_000).select(
        F.col("id"),
        F.concat(F.lit("host"), (F.col("id") % 200), F.lit(".s"), F.col("id"))
        .alias("base"),
        F.concat(
            F.lit("host"),
            (F.col("id") % 200),
            F.lit(".s"),
            F.col("id"),
            F.lit(".avg.day"),
        ).alias("dname"),
        (F.col("id") + 1_000_000).alias("derived_id"),
    )
    cat.register_bulk(mapping)
    assert cat.to_df().count() == 40_000
    assert cat.match("host7.s*.avg.day").count() == 100  # ids ≡ 7 mod 200
    cat2 = TableSeriesCatalog(spark, str(tmp_path / "bigcat"))
    assert cat2.id_by_param("host7.s7.avg.day") == 1_000_007


def test_table_catalog_through_engine_lifecycle(spark, tmp_path):
    """TsEngine.open(catalog='table'): derived-series registration and
    name-pattern scans run against the parquet-backed scheme, and a
    reopened engine sees the persisted catalog (the JSON default keeps
    its ephemeral semantics)."""
    from dariadb_spark.scheme import TableSeriesCatalog

    eng = TsEngine.open(spark, str(tmp_path / "s"), catalog="table")
    assert isinstance(eng.scheme, TableSeriesCatalog)
    eng.append(_grid())
    for sid in range(3):
        eng.scheme.register(f"host0.sensor{sid}.load", sid)
    rows = eng.read_interval_by_pattern(
        "host0.sensor*.load", T0, T0 + 3 * STEP
    ).collect()
    assert {r.id for r in rows} == {0, 1, 2}
    # reopen: the table-backed scheme survives the process boundary
    eng2 = TsEngine.open(spark, str(tmp_path / "s"), catalog="table")
    assert eng2.scheme.id_by_param("host0.sensor2.load") == 2
    derived = eng2.downsample_to_series("average", "day")
    assert eng2.scheme.id_by_param("host0.sensor0.load.average.day") in {
        r.id for r in derived.select("id").distinct().collect()
    }


def test_scheme_pattern_match_and_scan(spark, tmp_path):
    """Hierarchical glob lookup (scheme/scheme.h dot-tree): the catalog
    match resolves globs on the DataFrame side, and the engine verb
    composes it with the interval scan as a broadcast join."""
    from dariadb_spark.scheme import SeriesCatalog

    cat = SeriesCatalog(spark)
    names = [f"host{h}.cpu{c}.load" for h in range(3) for c in range(2)]
    ids = {n: cat.add_param(n) for n in names}
    assert {r.name for r in cat.match("host1.*").collect()} == {
        "host1.cpu0.load", "host1.cpu1.load",
    }
    assert {r.name for r in cat.match("*.cpu0.load").collect()} == {
        f"host{h}.cpu0.load" for h in range(3)
    }
    assert {r.name for r in cat.match("host?.cpu1.load").collect()} == {
        f"host{h}.cpu1.load" for h in range(3)
    }
    # literal % / _ in a name never acts as a wildcard
    cat.add_param("weird%name")
    assert [r.name for r in cat.match("weird%name").collect()] == [
        "weird%name"
    ]
    assert cat.match("weirdXname").count() == 0
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            [(ids[n], T0 + k * 1000, float(k), 1)
             for n in names for k in range(3)],
            "id bigint, time bigint, value double, flag bigint",
        ),
    )
    eng.scheme = cat
    rows = eng.read_interval_by_pattern("host1.*", T0, T0 + 60_000).collect()
    assert len(rows) == 6  # 2 matched series × 3 points
    assert {r.name for r in rows} == {
        "host1.cpu0.load", "host1.cpu1.load",
    }
    by_id = {}
    for r in rows:
        by_id.setdefault(r.id, []).append(r.time)
    assert all(ts == sorted(ts) for ts in by_id.values())


def test_resample_verbs_hand_computed(engine):
    """rate / gap_fill / interpolate on the deterministic grid: 6 h sample
    step, value = id*100 + k → rate is the constant 1/STEP·1000 per second,
    a 3 h grid alternates observed/filled buckets, and 3 h-midpoint
    interpolation lands exactly halfway between adjacent values."""
    span = (N_STEPS - 1) * STEP
    half = STEP // 2  # 3 h

    rows = engine.rate([1], T0, T0 + span).collect()
    assert len(rows) == N_STEPS - 1
    expect_rate = round((1.0 / STEP) * 1000.0, 6)
    assert all(r.dt_ms == STEP and r.rate_per_s == expect_rate for r in rows)

    rows = engine.gap_fill([1], T0, T0 + span, half).collect()
    assert len(rows) == 2 * (N_STEPS - 1) + 1
    for j, r in enumerate(rows):
        assert r.bucket_ms == T0 + j * half
        assert r.is_observed == (1 if j % 2 == 0 else 0)
        assert r.locf_value == 100.0 + j // 2

    rows = engine.interpolate([2], T0, T0 + span, half).collect()
    assert len(rows) == 2 * (N_STEPS - 1) + 1
    for j, r in enumerate(rows):
        expected = 200.0 + j / 2  # exact at samples, midpoint between them
        assert r.interp_value == expected, (j, r)


def test_streaming_sessionize_matches_batch(spark, tmp_path):
    """Bursts 10 min apart merge into one session; a 3 h-later straggler
    opens a second — the streaming session_window output must equal the
    same aggregation run in batch over the identical store."""
    from pyspark.sql import functions as F

    from dariadb_spark.streaming.subscribe import streaming_sessionize

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    minute = 60_000
    rows = []
    for i in range(3):
        base = T0 + i * 2 * 3_600_000
        rows += [
            (i, base, 1.0, 1),
            (i, base + 10 * minute, 2.0, 2),
            (i, base + 20 * minute, 3.0, 4),
            (i, base + 3 * 3_600_000, 4.0, 8),
        ]
    eng.append(rows)
    q = streaming_sessionize(spark, str(eng.store.data_dir), query_name="sess_test")
    q.awaitTermination(120)
    live = sorted(map(tuple, spark.table("sess_test").collect()))
    batch = sorted(
        map(
            tuple,
            eng.meas()
            .groupBy(
                "id",
                F.session_window(
                    F.timestamp_millis(F.col("time")), "30 minutes"
                ).alias("sw"),
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                "id",
                F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
                F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
                "n_events",
            )
            .collect(),
        )
    )
    assert live == batch
    assert len(live) == 6  # 2 sessions per id
    assert sorted(r[3] for r in live) == [1, 1, 1, 3, 3, 3]


def test_streaming_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (errors ⋈ trailing
    purchases) must emit exactly the pairs the equivalent batch range
    join produces over the same store."""
    from pyspark.sql import functions as F

    from dariadb_spark.streaming.subscribe import streaming_interval_join

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    minute = 60_000
    rows = []
    for i in range(3):
        base = T0 + i * 3_600_000
        rows += [
            (i, base, 10.0, 8),               # purchase
            (i, base + 5 * minute, 11.0, 8),  # purchase
            (i, base + 10 * minute, 1.0, 16),  # error ← joins both
            (i, base + 40 * minute, 2.0, 16),  # error ← joins none (>15 min)
        ]
    eng.append(rows)
    q = streaming_interval_join(
        spark, str(eng.store.data_dir), 16, 8, 15 * minute,
        query_name="ssj_test",
    )
    q.awaitTermination(120)
    live = sorted(map(tuple, spark.table("ssj_test").collect()))
    meas = eng.meas()
    errs = meas.where(F.col("flag").bitwiseAND(16) == 16).select(
        F.col("id"), F.col("time"), F.col("value")
    )
    purch = meas.where(F.col("flag").bitwiseAND(8) == 8).select(
        F.col("id").alias("p_id"),
        F.col("time").alias("ctx_time"),
        F.col("value").alias("ctx_value"),
    )
    batch = sorted(
        map(
            tuple,
            errs.join(
                purch,
                (F.col("id") == F.col("p_id"))
                & (F.col("ctx_time") >= F.col("time") - 15 * minute)
                & (F.col("ctx_time") <= F.col("time")),
            )
            .select("id", "time", "value", "ctx_time", "ctx_value")
            .collect(),
        )
    )
    assert live == batch
    assert len(live) == 6  # 2 purchases × first error × 3 ids


def test_streaming_rollup_incremental_merge_and_compact(spark, tmp_path):
    """The WAL-analog rollup layer: two separate ingest rounds append
    partials via checkpointed availableNow runs; merge-on-read equals the
    batch downsample after each round; compaction shrinks the partials
    layer without changing a single value."""
    import glob

    from dariadb_spark.streaming.rollup import (
        compact_rollup,
        read_rollup,
        streaming_rollup,
    )

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    grid = _grid()

    def run_round():
        q = streaming_rollup(spark, str(eng.store.data_dir), rollup_dir, ckpt, "day")
        q.awaitTermination(120)

    eng.append(grid[:40])
    run_round()
    live1 = sorted(map(tuple, read_rollup(spark, rollup_dir).collect()))
    batch1 = sorted(map(tuple, eng.downsample("day").collect()))
    assert live1 == batch1

    eng.append(grid[40:])
    run_round()  # checkpoint: only the NEW files process this round
    live2 = sorted(map(tuple, read_rollup(spark, rollup_dir).collect()))
    batch2 = sorted(map(tuple, eng.downsample("day").collect()))
    assert live2 == batch2

    n_files_before = len(
        glob.glob(f"{rollup_dir}/**/*.parquet", recursive=True)
    )
    compact_rollup(spark, rollup_dir)
    n_files_after = len(
        glob.glob(f"{rollup_dir}/**/*.parquet", recursive=True)
    )
    assert n_files_after < n_files_before
    assert sorted(map(tuple, read_rollup(spark, rollup_dir).collect())) == batch2


def test_rollup_compact_skips_uncommitted_batch(spark, tmp_path):
    """At-least-once replay race (round-2 ADVICE): a batch dir written
    but never checkpoint-committed must NOT be folded by compaction —
    otherwise the restarted stream's replay recreates it and its
    partials double-count on top of the compacted layer. With the
    checkpoint dir passed, compact folds only committed batches; the
    replay's overwrite of the surviving dir stays idempotent."""
    import glob
    import shutil

    from dariadb_spark.streaming.rollup import (
        compact_rollup,
        last_committed_batch,
        read_rollup,
        streaming_rollup,
    )

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    rollup_dir = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    grid = _grid()

    eng.append(grid[:40])
    q = streaming_rollup(spark, str(eng.store.data_dir), rollup_dir, ckpt, "day")
    q.awaitTermination(120)
    eng.append(grid[40:])
    q = streaming_rollup(spark, str(eng.store.data_dir), rollup_dir, ckpt, "day")
    q.awaitTermination(120)
    committed = last_committed_batch(ckpt)
    assert committed >= 1

    # simulate the crash: batch_id=<committed+1> written, commit file never
    # landed (clone a real batch dir so the partials are well-formed)
    uncommitted = f"{rollup_dir}/batch_id={committed + 1}"
    shutil.copytree(f"{rollup_dir}/batch_id={committed}", uncommitted)
    before = sorted(map(tuple, read_rollup(spark, rollup_dir).collect()))

    compact_rollup(spark, rollup_dir, checkpoint_dir=ckpt)
    # the uncommitted dir survived; committed dirs folded away
    assert glob.glob(f"{uncommitted}/*.parquet")
    assert not glob.glob(f"{rollup_dir}/batch_id={committed}")
    assert sorted(map(tuple, read_rollup(spark, rollup_dir).collect())) == before

    # the replay: same batch id, same rows, mode("overwrite") — values
    # must not double-count on top of the compacted layer (materialize
    # the rows first: the real replay recomputes from source, it does
    # not lazily read the dir it is overwriting)
    replay_df = spark.read.parquet(uncommitted)
    rows = replay_df.collect()
    spark.createDataFrame(rows, replay_df.schema).write.mode(
        "overwrite"
    ).parquet(uncommitted)
    assert sorted(map(tuple, read_rollup(spark, rollup_dir).collect())) == before


def test_analytic_verbs_hand_computed(spark):
    """anomaly_zscore / time_weighted_avg / ewma as TsEngine verbs,
    against hand-computed values on purpose-built series."""
    from decimal import ROUND_HALF_UP, Decimal

    # anomaly: 20 alternating 10/12 samples (mean 11, var exactly 1),
    # then a 100.0 spike → z = (100-11)/1 = 89; the alternation itself
    # never crosses |z| > 3
    rows = [(5, T0 + k * 1000, 10.0 if k % 2 == 0 else 12.0, 1) for k in range(20)]
    rows.append((5, T0 + 20_000, 100.0, 1))
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(rows, "id bigint, time bigint, value double, flag bigint"),
    )
    anom = eng.anomaly_zscore([5], T0, T0 + 30_000).collect()
    assert [(r.time, r.z) for r in anom] == [(T0 + 20_000, 89.0)]

    # twa: holds of 1 s @10 and 2 s @20 over a 3 s span → (10·1+20·2)/3
    rows = [(7, T0, 10.0, 1), (7, T0 + 1000, 20.0, 1), (7, T0 + 3000, 30.0, 1)]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(rows, "id bigint, time bigint, value double, flag bigint"),
    )
    twa = eng.time_weighted_avg([7], T0, T0 + 3000).collect()
    assert len(twa) == 1 and abs(twa[0].twa - 50_000 / 3000) < 1e-9

    # ewma over values 1,2,3: (3 + 0.9·2 + 0.81·1) / (1 + 0.9 + 0.81)
    rows = [(9, T0 + k * 1000, float(k + 1), 1) for k in range(3)]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(rows, "id bigint, time bigint, value double, flag bigint"),
    )
    got = [r.ewma for r in eng.ewma([9], T0, T0 + 3000).collect()]
    expect = []
    for j in range(3):
        num = sum(0.9 ** k * (j + 1 - k) for k in range(j + 1))
        den = sum(0.9 ** k for k in range(j + 1))
        expect.append(
            float(Decimal(repr(num / den)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        )
    assert got == expect


def test_gap_fill_unaligned_origin(spark):
    """gap_fill with a from_ms NOT aligned to step_ms: buckets are keyed
    relative to the GRID ORIGIN, so every sample still lands in its
    bucket. (Regression: epoch-aligned bucketing made every join key
    miss and the whole grid came back is_observed=0 / locf NULL.)"""
    span = (N_STEPS - 1) * STEP
    half = STEP // 2  # 3 h
    assert (T0 - 1000) % half != 0
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            _grid(), "id bigint, time bigint, value double, flag bigint"
        ),
    )
    rows = eng.gap_fill([1], T0 - 1000, T0 + span, half).collect()
    # grid = origin + k*step; samples sit 1000 ms into every even bucket
    assert len(rows) == 2 * (N_STEPS - 1) + 1
    assert sum(r.is_observed for r in rows) == N_STEPS
    for j, r in enumerate(rows):
        assert r.bucket_ms == (T0 - 1000) + j * half
        assert r.is_observed == (1 if j % 2 == 0 else 0)
        assert r.locf_value == 100.0 + j // 2


def test_streaming_rollup_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the same micro-batch
    (fresh checkpoint, same input files, same batch_id) must REPLACE its
    previous partials, not append a second copy that double-counts."""
    from dariadb_spark.streaming.rollup import read_rollup, streaming_rollup

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(_grid())
    rollup_dir = str(tmp_path / "rollup")

    for round_no in (1, 2):  # second run = a replay of batch 0
        q = streaming_rollup(
            spark,
            str(eng.store.data_dir),
            rollup_dir,
            str(tmp_path / f"ckpt{round_no}"),
            "day",
        )
        q.awaitTermination(120)
    live = sorted(map(tuple, read_rollup(spark, rollup_dir).collect()))
    batch = sorted(map(tuple, eng.downsample("day").collect()))
    assert live == batch


def test_read_snapshot_isolated_from_append(spark, tmp_path):
    """read_snapshot pins the file listing: rows appended after the
    snapshot is taken are invisible to it, while a fresh read() sees
    them — the single-writer/many-reader contract."""
    eng = TsEngine.open(spark, str(tmp_path / "s"))
    grid = _grid()
    eng.append(grid[:50])
    snap = eng.store.read_snapshot()
    assert snap.count() == 50
    eng.append(grid[50:])
    assert snap.count() == 50  # re-running the snapshot plan: unchanged
    assert eng.store.read().count() == len(grid)


def test_streaming_current_value_tie_break_matches_batch(spark, tmp_path):
    """Rows tied on (time, value) but differing in flag: the streaming
    max_by must use the same (time, value, flag) total order as the
    batch verb, so both return the max-flag row."""
    from dariadb_spark.streaming.subscribe import streaming_current_value

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    eng.append(
        [(0, T0, 1.0, 9), (0, T0, 1.0, 5), (1, T0, 2.0, 3), (1, T0, 2.0, 7)]
    )
    q = streaming_current_value(spark, str(eng.store.data_dir), "cv_tie_test")
    q.awaitTermination(120)
    live = sorted(map(tuple, spark.table("cv_tie_test").collect()))
    batch = sorted(map(tuple, eng.current_value().collect()))
    assert live == batch == [(0, T0, 1.0, 9), (1, T0, 2.0, 7)]


def test_streaming_dedup_exact_matches_batch_distinct(spark, tmp_path):
    """Duplicated appends (an at-least-once producer replay): the
    streaming dedup emits each distinct row exactly once — equal to
    batch DISTINCT over the same store, in both state modes."""
    from dariadb_spark.streaming.subscribe import streaming_dedup_exact

    eng = TsEngine.open(spark, str(tmp_path / "s"))
    grid = _grid()
    eng.append(grid)
    eng.append(grid[:40])  # replayed slice → exact duplicates on disk
    batch = sorted(map(tuple, eng.store.read().select(
        "id", "time", "value", "flag").distinct().collect()))
    assert len(batch) == len(grid)

    q = streaming_dedup_exact(spark, str(eng.store.data_dir), "dedup_t1")
    q.awaitTermination(120)
    assert sorted(map(tuple, spark.table("dedup_t1").collect())) == batch

    q = streaming_dedup_exact(
        spark, str(eng.store.data_dir), "dedup_t2", watermark="30 days"
    )
    q.awaitTermination(120)
    assert sorted(map(tuple, spark.table("dedup_t2").collect())) == batch


def test_ohlc_and_counter_rate_hand_computed(spark):
    """OHLC bars and counter-reset rate on purpose-built series."""
    minute = 60_000
    rows = [  # one series, one hour bucket: open=5, high=9, low=2, close=7
        (3, T0 + 1 * minute, 5.0, 1),
        (3, T0 + 10 * minute, 9.0, 1),
        (3, T0 + 20 * minute, 2.0, 1),
        (3, T0 + 30 * minute, 7.0, 1),
        # second bucket: single sample → open=high=low=close
        (3, T0 + 70 * minute, 4.0, 1),
    ]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        ),
    )
    bars = eng.ohlc(3_600_000, [3], T0, T0 + 2 * 3_600_000).collect()
    assert [
        (r.bucket_ms, r.open, r.high, r.low, r.close, r.n_samples)
        for r in bars
    ] == [
        (T0, 5.0, 9.0, 2.0, 7.0, 4),
        (T0 + 3_600_000, 4.0, 4.0, 4.0, 4.0, 1),
    ]

    # counter: 10 → 25 → 3 (reset!) → 8; increases 15, 3, 5
    rows = [
        (4, T0, 10.0, 1),
        (4, T0 + 1000, 25.0, 1),
        (4, T0 + 2000, 3.0, 1),
        (4, T0 + 3000, 8.0, 1),
    ]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        ),
    )
    cr = eng.counter_rate([4], T0, T0 + 10_000).collect()
    assert [(r.time, r.increase, r.rate_per_s) for r in cr] == [
        (T0 + 1000, 15.0, 15.0),
        (T0 + 2000, 3.0, 3.0),
        (T0 + 3000, 5.0, 5.0),
    ]


def test_downsample_floors_negative_times(spark):
    """Pre-1970 (negative epoch-ms) samples must land in the bucket that
    STARTS at or before them — pmod floor semantics, not Spark's
    truncate-toward-zero %. (ADVICE round 1: `time - time % width` put
    negative times in the bucket after them.)"""
    hour = 3_600_000
    rows = [
        (0, -hour - 1, 1.0, 1),   # → bucket [-2h, -1h)
        (0, -hour, 2.0, 1),       # exactly on a boundary → bucket -1h
        (0, -1, 3.0, 1),          # → bucket [-1h, 0)
        (0, 0, 4.0, 1),           # → bucket 0
        (0, 1, 5.0, 1),           # → bucket 0
    ]
    eng = TsEngine.from_dataframe(
        spark,
        spark.createDataFrame(
            rows, "id bigint, time bigint, value double, flag bigint"
        ),
    )
    got = {r.bucket_ms: (r.cnt, r.min_value, r.max_value)
           for r in eng.downsample("hour").collect()}
    assert got == {
        -2 * hour: (1, 1.0, 1.0),
        -hour: (2, 2.0, 3.0),
        0: (2, 4.0, 5.0),
    }


def test_engine_optimize_bucketed_layout_lifecycle(spark, tmp_path):
    """TsEngine.optimize (r7 verdict item 5): the zero-Exchange
    per-series layout is a product verb, not a bench-only artifact.
    Full lifecycle — open → append → optimize → every read verb equal
    on both engines — plus the plan assertion THROUGH the engine API:
    per-series aggregation and window plans over the optimized engine
    contain zero Exchange nodes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dariadb_spark.engine import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "store"))
    rows = [
        (i % 7, 1_700_000_000_000 + i * 60_000, float(i % 13) / 2.0, 1)
        for i in range(600)
    ]
    eng.append(rows)
    try:
        opt = eng.optimize(4, table="meas_opt_lifecycle_test")

        # read verbs agree between the raw and optimized engines
        for verb in (
            lambda e: e.read_interval(None, 0, 2**62),
            lambda e: e.current_value(),
            lambda e: e.min_max_time(),
            lambda e: e.stat(0, 0, 2**62),
        ):
            a = sorted(map(tuple, verb(eng).collect()))
            b = sorted(map(tuple, verb(opt).collect()))
            assert a == b and len(a) > 0

        # per-series plans through the optimized engine: zero Exchange
        agg = opt.meas().groupBy("id").agg(F.sum("value").alias("s"))
        assert (
            agg._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )
            == 0
        )
        w = Window.partitionBy("id").orderBy("time")
        win = opt.meas().select("id", F.lag("value").over(w).alias("p"))
        assert (
            win._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )
            == 0
        )

        # the same plans on the un-optimized engine DO shuffle (the
        # comparison that proves optimize changed the physical layout)
        raw_agg = eng.meas().groupBy("id").agg(F.sum("value").alias("s"))
        assert (
            raw_agg._jdf.queryExecution().executedPlan().toString().count(
                "Exchange"
            )
            > 0
        )

        # re-optimize after more appends folds the new rows in
        eng.append([(99, 1_800_000_000_000, 42.0, 2)])
        opt2 = eng.optimize(4, table="meas_opt_lifecycle_test")
        assert opt2.meas().count() == 601
        assert opt2.current_value([99]).collect()[0].value == 42.0
    finally:
        spark.sql("DROP TABLE IF EXISTS meas_opt_lifecycle_test")


def test_engine_optimize_empty_store_and_default_name(spark, tmp_path):
    """Edges of the optimize verb: an empty store optimizes to an empty
    (but queryable, zero-Exchange) table, and the default table name is
    derived from the store path (sanitized, stable)."""
    from pyspark.sql import functions as F

    from dariadb_spark.engine import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "empty_store"))
    opt = eng.optimize(2)
    try:
        assert opt.meas().count() == 0
        agg = opt.meas().groupBy("id").agg(F.count("*").alias("n"))
        assert agg.collect() == []
        # frame-backed: no second write path
        import pytest as _pytest

        with _pytest.raises(ValueError):
            opt.compact()
    finally:
        for t in spark.catalog.listTables():
            if t.name.startswith("dariadb_bucketed_"):
                spark.sql(f"DROP TABLE IF EXISTS {t.name}")


def test_log_store_time_travel_versions_history_and_vacuum_horizon(
    spark, tmp_path
):
    """Time travel on the versioned manifest (the Delta-shaped read a
    production user asks for next): every committed version is a pinned
    readable snapshot — appends accumulate, retention's logical delete
    leaves the PRIOR version fully readable, compact changes files but
    not rows at ANY pinned version — until vacuum deletes the rewritten
    files, at which point the pre-compact version raises LOUDLY instead
    of a Spark scan error. history() narrates the log."""
    import pytest

    from dariadb_spark import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend="log")
    store = eng.store
    day = 86_400_000
    t0 = 1_704_067_200_000  # 2024-01-01
    eng.append([(1, t0, 1.0, 1), (1, t0 + 2 * day, 2.0, 1)])   # v0
    eng.append([(2, t0 + 2 * day, 3.0, 1)])                    # v1
    # cutoff inside EMPTY day 2 → removes-only commit (pure retention)
    eng.erase_old(t0 + day)                                    # v2
    eng.append([(3, t0 + 3 * day, 4.0, 1)])                    # v3
    store.compact()                                            # v4

    assert store.latest_version() == 4
    want_by_version = {
        0: {(1, t0), (1, t0 + 2 * day)},
        1: {(1, t0), (1, t0 + 2 * day), (2, t0 + 2 * day)},
        2: {(1, t0 + 2 * day), (2, t0 + 2 * day)},
        3: {(1, t0 + 2 * day), (2, t0 + 2 * day), (3, t0 + 3 * day)},
        4: {(1, t0 + 2 * day), (2, t0 + 2 * day), (3, t0 + 3 * day)},
    }
    for v, want in want_by_version.items():
        got = {
            (r.id, r.time)
            for r in store.read_version(v).select("id", "time").collect()
        }
        assert got == want, v
    # engine facade: latest == read(), pinned == the same rows
    assert {
        (r.id, r.time)
        for r in eng.read_version(None).select("id", "time").collect()
    } == want_by_version[4]
    hist = store.history()
    assert [h["kind"] for h in hist] == [
        "append", "append", "retention", "append", "maintenance"
    ]
    assert hist[2]["n_add"] == 0 and hist[2]["n_remove"] > 0
    with pytest.raises(IndexError):
        store.read_version(5)
    with pytest.raises(IndexError):
        store.read_version(-1)
    # vacuum drops the files versions 0-3 reference (rewritten by
    # erase_old + compact); the pinned reads now fail LOUDLY while the
    # current snapshot stays whole
    assert store.vacuum() > 0
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        store.read_version(0)
    assert store.read().count() == 3


def test_log_store_checkpoint_bounds_snapshot_replay(spark, tmp_path):
    """Snapshot checkpointing (VERDICT r16 item 3): every Nth commit
    compacts the action stream into ``<v>.checkpoint.json``, and
    ``_snapshot`` replays ONLY the tail past the newest checkpoint —
    O(interval), not O(log length). Pinned by spying on the action
    reader: a long log must read exactly latest − checkpoint version
    files, and the checkpointed snapshot must byte-equal the full
    replay."""
    from dariadb_spark import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend="log")
    store = eng.store
    store.CHECKPOINT_INTERVAL = 4  # shrink the cadence for the test
    day = 86_400_000
    t0 = 1_704_067_200_000
    for i in range(10):  # v0..v9 — checkpoints auto-land at v3 and v7
        eng.append([(i, t0 + i * day, float(i), 1)])
    assert store.latest_version() == 9
    cps = [p.name for p in store._checkpoint_files()]
    assert cps == [f"{3:020d}.checkpoint.json", f"{7:020d}.checkpoint.json"]

    reads: list[str] = []
    orig = store._read_actions
    store._read_actions = lambda vf: (reads.append(vf.name), orig(vf))[1]
    with_cp = store._snapshot()
    # only the tail past the v7 checkpoint: versions 8 and 9
    assert reads == [f"{8:020d}.json", f"{9:020d}.json"]
    # time travel to v5 replays from the v3 checkpoint: versions 4, 5
    reads.clear()
    at5 = store._snapshot(5)
    assert reads == [f"{4:020d}.json", f"{5:020d}.json"]
    store._read_actions = orig

    # the checkpointed snapshot equals the full v0-replay (spoof a
    # checkpoint-less store over the same log)
    no_cp = store._latest_checkpoint
    store._latest_checkpoint = lambda at_or_before: None
    assert store._snapshot() == with_cp
    assert store._snapshot(5) == at5
    store._latest_checkpoint = no_cp
    assert eng.meas().count() == 10

    # the explicit checkpoint verb covers the cadence gap (v9)
    assert store.checkpoint() == 9
    reads2: list[str] = []
    store._read_actions = lambda vf: (reads2.append(vf.name), orig(vf))[1]
    assert store._snapshot() == with_cp
    assert reads2 == []  # pure checkpoint read, zero version files
    store._read_actions = orig


def test_log_store_vacuum_retention_horizon(spark, tmp_path):
    """vacuum(retain_last=k) keeps every file any of the last k+1
    snapshots references, so time travel inside the horizon survives GC
    (the Delta retention window, VERDICT r16 item 3); retain_last=0 is
    the aggressive current-snapshot-only GC the prior test pins."""
    import pytest

    from dariadb_spark import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend="log")
    store = eng.store
    day = 86_400_000
    t0 = 1_704_067_200_000
    eng.append([(1, t0, 1.0, 1)])        # v0
    eng.append([(1, t0, 2.0, 1)])        # v1 (same day — compactable)
    store.compact()                      # v2 rewrites the day's files
    assert store.latest_version() == 2

    # horizon 2 spans v0..v2: every file is referenced by some retained
    # snapshot, so nothing is dropped and v0 stays readable
    assert store.vacuum(retain_last=2) == 0
    assert store.read_version(0).count() == 1

    # horizon 0 keeps only the current snapshot: the pre-compact files
    # go, v0/v1 raise loudly, the live rows are whole
    assert store.vacuum(retain_last=0) > 0
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        store.read_version(0)
    assert store.read().count() == 2


def test_log_store_vacuum_deletes_a_crashed_writes_stage_dir(spark, tmp_path):
    """A Spark write that died before renaming its files into ``files/``
    leaves its ``stage-<token>/`` directory behind; with no write in
    flight, vacuum deletes it and leaves every live row readable."""
    import shutil

    from dariadb_spark import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "s"), backend="log")
    store = eng.store
    eng.append([(1, 1_704_067_200_000, 1.0, 1)])
    stage = store.root / "stage-0123456789abcdef"
    day = stage / "p_date=2024-01-01"
    day.mkdir(parents=True)
    live = next(store.files_dir.glob("p_date=*/*.parquet"))
    shutil.copyfile(live, day / "part-0.parquet")
    assert store.vacuum() == 0
    assert not stage.exists()
    assert store.read().count() == 1


def test_engine_read_version_requires_log_backend(spark, tmp_path):
    """The parquet backend has no version manifest — the engine facade
    says so instead of AttributeError-ing."""
    import pytest

    from dariadb_spark import TsEngine

    eng = TsEngine.open(spark, str(tmp_path / "p"), backend="parquet")
    with pytest.raises(ValueError, match="version-manifested"):
        eng.read_version(0)
