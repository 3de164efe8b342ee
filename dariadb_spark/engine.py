"""TsEngine — the facade mirroring the reference's ``Engine`` class
(libdariadb/engine.h, class Engine : IMeasStorage), re-expressed as thin
wrappers over declarative DataFrame plans against either an in-memory
measurements DataFrame or a :class:`ParquetTsStore`.

Verb mapping (reference symbol → method):
  Engine::append            → append
  Engine::readInterval      → read_interval
  Engine::foreach           → foreach
  Engine::readTimePoint     → read_time_point
  Engine::currentValue      → current_value
  Engine::minMaxTime        → min_max_time
  Engine::loadMinMax        → load_min_max
  Engine::stat              → stat
  statistic/calculator.h    → calc (statistic functions by name)
  scheme (scheme/scheme.h)  → series catalog name↔id resolution
  Engine::subscribe         → subscribe (streaming module)
  Engine::eraseOld          → erase_old
  Engine::compress_all/compact → compact
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.functions.statistics import apply_functions
from dariadb_spark.model import (
    MEAS_FIELDS,
    meas_table,
    measurements,
    scan_predicate_sql,
    verb_sql,
)
from dariadb_spark.operators.asof import current_value as _current_value
from dariadb_spark.operators.asof import read_time_point as _read_time_point
from dariadb_spark.operators.downsample import downsample as _downsample
from dariadb_spark.operators.interval import read_interval as _read_interval
from dariadb_spark.operators.stats import min_max_time as _min_max_time
from dariadb_spark.operators.stats import stat_block as _stat_block
from dariadb_spark.scheme import SeriesCatalog
from dariadb_spark.session import in_session, serving_session
from dariadb_spark.sources.parquet_store import ParquetTsStore
from dariadb_spark.sources.store_protocol import TsStore

#: A pattern scan over a catalog of at most this many series is
#: request-sized, like ``read_interval`` with ids; over a larger catalog a
#: glob may match a store-sized share of it, and the answer is sorted
#: like an all-series one.
PATTERN_REQUEST_MAX_SERIES = 1_000


class TsEngine:
    """Facade over a measurements source.

    Construct with one of:
      * ``TsEngine.from_dataframe(spark, df)`` — query an existing frame;
      * ``TsEngine.open(spark, path)`` — writable parquet-backed store;
      * ``TsEngine.from_events(spark, sf_dir)`` — driver fixture mapping.
    """

    def __init__(
        self,
        spark: SparkSession,
        source: Callable[[], DataFrame],
        store: "TsStore | None" = None,
        scheme: SeriesCatalog | None = None,
    ):
        # `store` is the structural seam (sources/store_protocol.py):
        # any TsStore backend works for the append/read/compact/
        # erase_old lifecycle — tests/test_delta_seam.py drives this
        # engine over a transaction-log mock. The streaming verbs
        # (subscribe / streaming_stat_blocks) and optimize() addition-
        # ally use the parquet backend's data_dir/root layout; a log
        # backend supplies its own streaming source for those.
        self.spark = spark
        self._source = source
        self.store = store
        self.scheme = scheme if scheme is not None else SeriesCatalog(spark)

    # -- constructors ----------------------------------------------------
    @classmethod
    def from_dataframe(cls, spark: SparkSession, df: DataFrame) -> "TsEngine":
        return cls(spark, lambda: df)

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        catalog: str = "json",
        backend: str = "parquet",
    ) -> "TsEngine":
        """``catalog="json"`` keeps the scheme as an ephemeral driver
        dict (reference scheme.json layout via ``SeriesCatalog(path)``
        when persistence is wanted); ``catalog="table"`` persists it as
        a parquet table under ``<path>/scheme`` whose read path is a
        cluster-side scan (:class:`~dariadb_spark.scheme.
        TableSeriesCatalog`) — the at-scale J2 deployment shape.

        ``backend`` selects the store behind the :class:`TsStore` seam:
        ``"parquet"`` is the directory-listing store
        (:class:`ParquetTsStore`); ``"log"`` is the versioned-manifest
        store (:class:`~dariadb_spark.sources.log_store.LogTsStore`) —
        snapshot reads, atomic multi-writer commits, logical-delete
        retention, the Delta/Iceberg-shaped deployment without external
        jars. Both pass the same parametrized lifecycle tests."""
        from dariadb_spark.scheme import TableSeriesCatalog

        if backend == "log":
            from dariadb_spark.sources.log_store import LogTsStore

            store: "TsStore" = LogTsStore(spark, path)
        elif backend == "parquet":
            store = ParquetTsStore(spark, path)
        else:
            raise ValueError(f"unknown backend: {backend!r}")
        scheme = (
            TableSeriesCatalog(spark, str(store.root / "scheme"))
            if catalog == "table"
            else None
        )
        return cls(spark, store.read, store, scheme=scheme)

    @classmethod
    def from_events(cls, spark: SparkSession, sf_dir: str) -> "TsEngine":
        return cls(spark, lambda: measurements(spark, sf_dir))

    # -- source ----------------------------------------------------------
    def meas(self) -> DataFrame:
        return self._source()

    def _request_meas(self, bounded: bool) -> DataFrame:
        """The frame a read verb runs over. A store's request-sized read
        (``bounded``: the request named its series) moves to the serving
        session (:func:`~dariadb_spark.session.serving_session`: no AQE,
        no codegen), where it runs one Spark job and compiles no class.
        Everything else, the store's own ``read()`` included, keeps the
        frame's session."""
        meas = self.meas()
        if bounded and self.store is not None:
            return in_session(meas, serving_session(self.spark))
        return meas

    # -- write path ------------------------------------------------------
    def append(
        self,
        rows: DataFrame | pa.Table | Iterable[tuple],
        isolated: bool = False,
    ) -> int:
        """Engine::append — ingest a DataFrame, a ``pyarrow.Table``
        (:func:`~dariadb_spark.model.meas_table`) or an iterable of
        (id, time_ms, value, flag) tuples; returns rows written. Rows
        already on the driver (tuples, a table) are written by the store
        as one parquet segment per day and run no Spark job
        (:func:`~dariadb_spark.sources.store_protocol.write_segments`);
        a DataFrame is written by a Spark job. ``isolated=True`` selects
        the multi-ingest-safe Spark write of a DataFrame (see
        ``ParquetTsStore.append`` for the contract and its trade); with
        driver rows it raises, since segment appends never share
        staging."""
        if self.store is None:
            raise ValueError("append requires a writable store (TsEngine.open)")
        if isinstance(rows, DataFrame):
            rows = rows.select(*MEAS_FIELDS)
        elif isolated:
            raise ValueError(
                "isolated=True applies to DataFrame appends only: rows on "
                "the driver are always written as uniquely named segments"
            )
        elif not isinstance(rows, pa.Table):
            tuples = [
                (int(i), int(t), float(v), int(fl)) for (i, t, v, fl) in rows
            ]
            cols = [list(c) for c in zip(*tuples)] or [[]] * 4
            rows = meas_table(*cols)
        return self.store.append(rows, isolated=isolated)

    # -- read path -------------------------------------------------------
    def read_interval(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        meas = self._request_meas(bool(ids))
        return _read_interval(meas, ids, from_ms, to_ms, flag)

    def read_version(self, version: int | None) -> DataFrame:
        """Time-travel measurements view: the store's rows as of log
        ``version`` (None = latest). Requires a version-manifested
        backend (``TsEngine.open(path, backend='log')``); compose with
        :meth:`from_dataframe` to run any engine verb against the
        pinned snapshot. See ``LogTsStore.read_version`` for the
        vacuum-horizon contract."""
        rv = getattr(self.store, "read_version", None)
        if rv is None:
            raise ValueError(
                "time travel requires a version-manifested store "
                "(TsEngine.open(path, backend='log'))"
            )
        return rv(version)

    def read_interval_by_pattern(
        self, pattern: str, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """J2+F1–F3 composed: resolve a hierarchical name glob
        (``host1.*``) through the catalog and scan the matching series —
        a broadcast join against the matched catalog slice, so the id
        set never round-trips through the driver (the scale-safe form of
        ``read_interval(ids=...)`` when names drive the query). Returns
        (id, name, time, value, flag) time-ordered per series.

        One SQL statement. Over a catalog of at most
        :data:`PATTERN_REQUEST_MAX_SERIES` series the answer is
        request-sized and served like ``read_interval`` with ids: in the
        serving session, sorted in one partition above the parallel scan
        and join. Over a larger catalog it keeps the global ``ORDER BY``
        in the engine's session."""
        bounded = self.scheme.size() <= PATTERN_REQUEST_MAX_SERIES
        meas = self._request_meas(bounded)
        matched = in_session(self.scheme.match(pattern), meas.sparkSession)
        return verb_sql(
            meas,
            "m.id AS id, c.name AS name, m.time AS time, m.value AS value, "
            "m.flag AS flag FROM {m} m JOIN {c} c ON m.id = c.id WHERE "
            + scan_predicate_sql(meas, None, from_ms, to_ms, flag),
            bounded,
            "id, time, value, flag",
            gather="REPARTITION",
            c=F.broadcast(matched),
        )

    def foreach(
        self,
        callback: Callable[[Row], None],
        ids: list[int] | None,
        from_ms: int,
        to_ms: int,
        flag: int = 0,
    ) -> None:
        """Engine::foreach — push-based visitor (IReadCallback). Streams
        partitions through the driver iterator; use read_interval for
        distributed processing."""
        for row in self.read_interval(ids, from_ms, to_ms, flag).toLocalIterator():
            callback(row)

    def read_time_point(
        self, ids: list[int], time_point_ms: int, flag: int = 0
    ) -> DataFrame:
        meas = self._request_meas(bool(ids))
        return _read_time_point(meas, ids, time_point_ms, flag)

    def current_value(self, ids: list[int] | None = None, flag: int = 0) -> DataFrame:
        return _current_value(self._request_meas(bool(ids)), ids, flag)

    def min_max_time(self, ids: list[int] | None = None) -> DataFrame:
        return _min_max_time(self._request_meas(bool(ids)), ids)

    def load_min_max(self) -> DataFrame:
        return _min_max_time(self.meas(), None)

    def stat(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        meas = self._request_meas(bool(ids))
        return _stat_block(meas, ids, from_ms, to_ms, flag)

    def calc(
        self,
        names: list[str],
        ids: list[int] | None,
        from_ms: int,
        to_ms: int,
        flag: int = 0,
    ) -> DataFrame:
        """Calculator::apply — named statistic functions per series."""
        meas = self._request_meas(bool(ids))
        return apply_functions(meas, names, ids, from_ms, to_ms, flag)

    def downsample(
        self,
        interval: str,
        ids: list[int] | None = None,
        from_ms: int | None = None,
        to_ms: int | None = None,
        flag: int = 0,
    ) -> DataFrame:
        meas = self._request_meas(bool(ids))
        return _downsample(meas, interval, ids, from_ms, to_ms, flag)

    def rate(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """Per-series derivative (value-units/sec) between adjacent
        samples (operators/resample.py)."""
        from dariadb_spark.operators.resample import rate as _rate

        return _rate(self.meas(), ids, from_ms, to_ms, flag)

    def gap_fill(
        self, ids: list[int], from_ms: int, to_ms: int, step_ms: int,
        flag: int = 0,
    ) -> DataFrame:
        """LOCF regularization onto a fixed grid (operators/resample.py)."""
        from dariadb_spark.operators.resample import gap_fill as _gf

        return _gf(self.meas(), ids, from_ms, to_ms, step_ms, flag)

    def interpolate(
        self, ids: list[int], from_ms: int, to_ms: int, step_ms: int,
        flag: int = 0,
    ) -> DataFrame:
        """Linear interpolation at grid points (operators/resample.py)."""
        from dariadb_spark.operators.resample import interpolate as _ip

        return _ip(self.meas(), ids, from_ms, to_ms, step_ms, flag)

    def anomaly_zscore(
        self, ids: list[int] | None, from_ms: int, to_ms: int,
        window: int = 20, min_n: int = 10, threshold: float = 3.0,
        flag: int = 0,
    ) -> DataFrame:
        """Trailing-window z-score outliers (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import anomaly_zscore_op

        return anomaly_zscore_op(
            self.meas(), ids, from_ms, to_ms, window, min_n, threshold, flag
        )

    def time_weighted_avg(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """LOCF-weighted mean per series (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import time_weighted_avg_op

        return time_weighted_avg_op(self.meas(), ids, from_ms, to_ms, flag)

    def ewma(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """Windowed exponentially-weighted moving average
        (ext/timeseries.py; α=0.9 over the trailing 20 samples)."""
        from dariadb_spark.ext.timeseries import ewma_op

        return ewma_op(self.meas(), ids, from_ms, to_ms, flag)

    def ohlc(
        self, width_ms: int, ids: list[int] | None, from_ms: int,
        to_ms: int, flag: int = 0,
    ) -> DataFrame:
        """Per-bucket open/high/low/close bars (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import ohlc_op

        return ohlc_op(self.meas(), width_ms, ids, from_ms, to_ms, flag)

    def counter_rate(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """Counter-reset-aware rate, PromQL semantics
        (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import counter_rate_op

        return counter_rate_op(self.meas(), ids, from_ms, to_ms, flag)

    def changepoint_cusum(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """Per-series CUSUM changepoint score + argmax location
        (ext/timeseries.py; integer-exact Page statistic)."""
        from dariadb_spark.ext.timeseries import changepoint_cusum_op

        return changepoint_cusum_op(self.meas(), ids, from_ms, to_ms, flag)

    def seasonal_profile(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """Hour-of-day seasonal means and deviations per series
        (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import seasonal_profile_op

        return seasonal_profile_op(self.meas(), ids, from_ms, to_ms, flag)

    def rolling_median(
        self, ids: list[int] | None, from_ms: int, to_ms: int, flag: int = 0
    ) -> DataFrame:
        """10-sample trailing median filter per series
        (ext/timeseries.py)."""
        from dariadb_spark.ext.timeseries import rolling_median_op

        return rolling_median_op(self.meas(), ids, from_ms, to_ms, flag)

    def partition_stats(self) -> DataFrame:
        """Manifest/fsck view (operators/stats.py partition_stats_op):
        per-partition counts + time bounds; on a store-backed engine the
        physical ``_p_date`` column is present, so ``bounds_ok`` checks
        every row's time-derived day against its ACTUAL partition dir —
        a file moved/written into the wrong ``p_date=`` dir reports 0."""
        from dariadb_spark.operators.stats import partition_stats_op

        # store-backed engines' meas() already carries _p_date (the op
        # keys on its presence); frame-backed engines emit stats only
        return partition_stats_op(self.meas())

    def partition_file_stats(self) -> DataFrame:
        """File-level fsck view (operators/stats.py
        partition_file_stats_op — the ``.pagei`` index analog, reference
        storage/pages/page_manager.cpp): per-file counts + time bounds;
        on a store-backed engine ``bounds_ok`` localizes a torn
        partition to the exact FILE sitting in the wrong ``p_date=``
        dir, which is what a repair job needs to move/rewrite."""
        from dariadb_spark.operators.stats import partition_file_stats_op

        return partition_file_stats_op(self.meas())

    def downsample_to_series(
        self, fn_name: str, interval: str, append: bool = False
    ) -> DataFrame:
        """W2 derived-series downsampling (scheme/scheme.cpp): aggregate
        each series per bucket with ``fn_name`` and emit measurement rows
        under derived catalog names ``<name>.<fn>.<interval>``. With
        ``append=True`` the derived series are persisted to the store."""
        from dariadb_spark.operators.downsample import (
            downsample_to_series as _dts,
        )

        rows = _dts(self.meas(), self.scheme, fn_name, interval)
        if append:
            if self.store is None:
                raise ValueError("append=True requires a writable store")
            self.store.append(rows)
        return rows

    # -- maintenance -----------------------------------------------------
    def erase_old(self, cutoff_ms: int) -> None:
        if self.store is None:
            raise ValueError("erase_old requires a writable store")
        self.store.erase_old(cutoff_ms)

    def compact(self) -> None:
        if self.store is None:
            raise ValueError("compact requires a writable store")
        self.store.compact()

    def optimize(
        self, n_buckets: int, table: str | None = None
    ) -> "TsEngine":
        """Rewrite the store's current contents as an id-bucketed,
        (id, time)-sorted catalog table and return a read-optimized
        engine over it — the product entry point for the zero-Exchange
        per-series layout (plans/bucketing.py; r7 verdict item 5,
        previously reachable only from the stress harness).

        The Spark rendering of the reference's repack-into-clustered-
        pages step (storage/pages — chunks are single-id) and of Delta's
        ``OPTIMIZE ... ZORDER BY``: a one-off layout rewrite after which
        every per-series verb on the RETURNED engine — groupBy("id")
        aggregates, Window.partitionBy("id") — plans with ZERO Exchange
        nodes, and id-to-id joins co-locate without shuffling either
        side (plan-pinned in tests/test_engine.py through this API).

        ``n_buckets`` at 100 TB: ~2–4× executor count. The snapshot is
        as-of the rewrite; later appends land in the original store —
        re-run ``optimize`` to fold them in (same table name is safe:
        the write is mode("overwrite")). The returned engine shares the
        scheme and keeps ``store=None`` (it is a read layout, not a
        second write path)."""
        if self.store is None:
            raise ValueError("optimize requires a writable store")
        from dariadb_spark.plans.bucketing import write_bucketed

        name = table or (
            "dariadb_bucketed_"
            + "".join(c if c.isalnum() else "_" for c in str(self.store.root))
        ).strip("_")
        write_bucketed(
            self.meas().select(*MEAS_FIELDS),
            name,
            n_buckets,
            path=str(self.store.root / "bucketed"),
        )
        return TsEngine(
            self.spark, lambda: self.spark.table(name), scheme=self.scheme
        )

    # -- streaming -------------------------------------------------------
    def streaming_stat_blocks(self, interval: str = "hour", **kwargs):
        """Incremental per-(id, bucket) Statistic maintenance with explicit
        operator state (streaming/stateful.py) — the eager-cache pattern
        of the reference's currentValue, generalized to stat blocks."""
        from dariadb_spark.streaming.stateful import (
            streaming_stat_blocks as _ssb,
        )

        if self.store is None:
            raise ValueError("streaming requires a writable store")
        return _ssb(self.spark, str(self.store.data_dir), interval, **kwargs)

    def subscribe(self, ids, flag, callback, **kwargs):
        from dariadb_spark.streaming.subscribe import subscribe as _subscribe

        if self.store is None:
            raise ValueError("subscribe requires a writable store")
        return _subscribe(
            self.spark, str(self.store.data_dir), ids, flag, callback, **kwargs
        )
