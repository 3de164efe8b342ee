"""The dariadb data model on Spark.

Reference: ``libdariadb/meas.h (struct Meas {Id id; Time time; Value value;
Flag flag})`` — ``Time`` is int64 epoch-milliseconds, ``Value`` is double,
``Flag`` a uint32 bitmask. Spark schema:

    id    BIGINT      -- series identifier
    time  BIGINT      -- epoch milliseconds (the reference's native unit)
    value DOUBLE
    flag  BIGINT      -- uint32 held safely in int64

The driver fixture maps the synthetic ``events`` table onto measurements
(see FIXTURES.md): ``user_id → id``, ``ts → time`` (ns → ms floor),
``value → value``, ``event_type → flag`` (bitmask-style code).

Both the Spark plan and the DuckDB oracle CTE below implement the *same*
mapping so the correctness harness compares like with like.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.session import ensure_runtime_confs

#: Flags::_NO_DATA — all-ones uint32 marking "no value existed as-of t"
#: (reference: libdariadb/meas.h, Flags::_NO_DATA).
FLAGS_NO_DATA: int = 0xFFFFFFFF  # 4294967295

MEAS_FIELDS = ("id", "time", "value", "flag")

#: the measurement schema as DDL, for every explicit-schema read and
#: every frame built from driver-side rows
MEAS_DDL = "id bigint, time bigint, value double, flag bigint"

#: the stores' on-disk schema: measurements plus the hive ``p_date`` day
#: partition. Reads pass it explicitly, so building a frame never runs a
#: footer-inference job.
STORE_DDL = MEAS_DDL + ", p_date date"

#: raw parquet event-time column (ns) carried for scan-pruning pushdown
RAW_TS = "_raw_ts"

#: hive day-partition column (a date) carried by store reads for
#: partition-pruning pushdown
RAW_DAY = "_p_date"

_DAY_MS = 86_400_000

#: ms range whose UTC day renders as a 4-digit year (0001..9999); bounds
#: outside it (e.g. the 2**60 "whole history" sentinel) simply skip the
#: day-pruning predicate — correct, just unpruned.
_DAY_STR_MIN = -62_135_596_800_000
_DAY_STR_MAX = 253_402_300_799_000


def _day_str(ms: int) -> str | None:
    if not (_DAY_STR_MIN <= ms <= _DAY_STR_MAX):
        return None
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        (ms // _DAY_MS) * 86_400, tz=_dt.timezone.utc
    ).strftime("%Y-%m-%d")

#: event_type → flag bitmask code (FIXTURES.md canonical mapping).
EVENT_FLAG_CASE_SQL = (
    "CAST(CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2 "
    "WHEN 'signup' THEN 4 WHEN 'purchase' THEN 8 "
    "WHEN 'error' THEN 16 ELSE 0 END AS BIGINT)"
)

#: DuckDB CTE defining the identical measurements view for every oracle.
MEAS_CTE_SQL = (
    "measurements AS (SELECT user_id AS id, epoch_ms(ts) AS time, "
    "value AS value, " + EVENT_FLAG_CASE_SQL + " AS flag FROM events)"
)


def local_frame(spark: SparkSession, ddl: str, columns: dict) -> DataFrame:
    """A LocalRelation over columns already in driver memory (``name →
    sequence``, in ``ddl`` order). It goes through Arrow, so neither
    building nor scanning it launches a Spark job; ``createDataFrame``
    over a Python list builds a Python RDD, which does."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), ddl)


def meas_frame(spark: SparkSession, ids, times, values, flags) -> DataFrame:
    """Request-sized measurement rows as a one-partition frame, so that
    appending them writes one file per day."""
    return local_frame(
        spark,
        MEAS_DDL,
        {"id": ids, "time": times, "value": values, "flag": flags},
    ).coalesce(1)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table (parquet, column-pruned at scan)."""
    ensure_runtime_confs(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical measurements DataFrame derived from ``events``.

    ``events.ts`` is TIMESTAMP(NANOS) in parquet, which Spark surfaces
    differently across builds — handle every shape it can arrive in:

    * ``bigint`` — raw int64 nanos (builds honoring
      ``spark.sql.legacy.parquet.nanosAsLong``): ``ts DIV 1000000``
      floors to ms exactly like DuckDB's ``epoch_ms``. Integer division —
      not ``/`` — because float division loses precision above 2**53.
    * ``timestamp_ntz`` — newer builds read NANOS as a no-timezone
      timestamp truncated (floored) to µs; ``unix_millis`` after an
      NTZ→LTZ cast (identity on the wall clock: session tz is pinned to
      UTC by ``ensure_runtime_confs``) floors µs→ms, composing to the
      same ns→ms floor as ``epoch_ms``.
    * ``timestamp`` (LTZ) — pre-truncated fixtures: ``unix_millis``.

    In every case the raw column is kept as ``_raw_ts``: `time` is a
    derived expression Catalyst cannot invert, so time-range predicates
    on it never reach the parquet scan. Operators add an equivalent bound
    on ``_raw_ts`` (:func:`pushdown_time_bounds`) and project it away
    before returning.
    """
    events = load_table(spark, sf_dir, "events")
    ts_type = dict(events.dtypes)["ts"]
    cols = [
        F.col("user_id").alias("id"),
        None,  # time, filled below
        F.col("value").alias("value"),
        F.expr(EVENT_FLAG_CASE_SQL).alias("flag"),
        F.col("ts").alias(RAW_TS),
    ]
    if ts_type == "bigint":
        cols[1] = F.expr("ts DIV 1000000").alias("time")
    elif ts_type == "timestamp_ntz":
        cols[1] = F.unix_millis(F.col("ts").cast("timestamp")).alias("time")
    else:  # "timestamp" (LTZ)
        cols[1] = F.unix_millis(F.col("ts")).alias("time")
    return events.select(*cols)


def flag_predicate(flag: int) -> Column:
    """dariadb flag filter (reference: libdariadb/meas.h, Meas::inFlag):
    query flag 0 matches everything, otherwise bitmask containment
    ``(meas.flag & q.flag) == q.flag``.
    """
    if flag == 0:
        return F.lit(True)
    return F.col("flag").bitwiseAND(F.lit(flag)) == F.lit(flag)


def flag_predicate_sql(flag: int) -> str:
    """The oracle-side rendering of :func:`flag_predicate` (pre-folded)."""
    if flag == 0:
        return "TRUE"
    return f"((flag & {flag}) = {flag})"


def pushdown_time_bounds(
    meas: DataFrame, from_ms: int | None, to_ms: int | None
) -> Column:
    """Closed-interval containment ``from <= time <= to`` (reference:
    libdariadb/meas.h, Meas::inInterval; SURVEY.md §7.3.3 pins closed
    ends, matching the oracle's BETWEEN), plus — when the frame still
    carries the raw parquet ``ts`` column — the equivalent bound on it,
    so the range reaches the scan as a PushedFilter (parquet row-group
    min/max pruning, the reference's ``.pagei`` chunk index role).
    ``time = ts DIV 1e6`` (floor), hence
    ``time ∈ [a, b] ⟺ ts ∈ [a·1e6, b·1e6 + 999999]``."""
    cond = F.lit(True)
    if from_ms is not None:
        cond = cond & (F.col("time") >= F.lit(from_ms))
    if to_ms is not None:
        cond = cond & (F.col("time") <= F.lit(to_ms))
    raw_type = dict(meas.dtypes).get(RAW_TS)
    if raw_type is not None:
        # Bounds only for sane wall-clock values: a sentinel like 2**60
        # would overflow the int64 ns/µs literal — skip the scan-pruning
        # predicate there (correct, just unpruned; `time` bound still
        # applies).
        def _sane(ms: int | None) -> int | None:
            if ms is None or not (_DAY_STR_MIN <= ms <= _DAY_STR_MAX):
                return None
            return ms

        lo, hi = _sane(from_ms), _sane(to_ms)
        if raw_type == "bigint":  # raw int64 ns: time = ts DIV 1e6
            # tighter clamp than _sane: the ns literal itself must fit
            # int64 (ms past ~year 2262 × 1e6 overflows; Spark would then
            # emit a decimal literal — comparison still correct via
            # widening, but the parquet row-group pushdown is silently
            # lost, and int64 ts values can't exceed this anyway, so
            # dropping the bound predicate loses nothing)
            if lo is not None and lo * 1_000_000 >= -(2**63):
                cond = cond & (F.col(RAW_TS) >= F.lit(lo * 1_000_000))
            if hi is not None and hi * 1_000_000 + 999_999 <= 2**63 - 1:
                cond = cond & (F.col(RAW_TS) <= F.lit(hi * 1_000_000 + 999_999))
        else:  # timestamp[_ntz] at µs: time = floor(µs / 1000)
            def _ts_lit(us: int) -> Column:
                lit = F.timestamp_micros(F.lit(us))  # LTZ from epoch-µs
                if raw_type == "timestamp_ntz":
                    # session tz is UTC → NTZ wall clock == UTC instant
                    lit = lit.cast("timestamp_ntz")
                return lit

            if lo is not None:
                cond = cond & (F.col(RAW_TS) >= _ts_lit(lo * 1_000))
            if hi is not None:
                cond = cond & (F.col(RAW_TS) <= _ts_lit(hi * 1_000 + 999))
    if RAW_DAY in meas.columns:
        # hive PARTITION pruning: a bound on `time` does not imply one on
        # the p_date directory key, so without this every day directory is
        # listed and footer-read. yyyy-MM-dd compares lexicographically ==
        # chronologically, and the filter lands in PartitionFilters.
        lo = _day_str(from_ms) if from_ms is not None else None
        hi = _day_str(to_ms) if to_ms is not None else None
        if lo is not None:
            cond = cond & (F.col(RAW_DAY) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(RAW_DAY) <= F.lit(hi))
    return cond


def ids_predicate(ids: list[int] | None) -> Column:
    """QueryInterval.ids filter; empty/None = all series (reference:
    libdariadb/query_param.h, struct QueryInterval)."""
    if not ids:
        return F.lit(True)
    return F.col("id").isin(ids)


def sort_result(df: DataFrame, ids: list[int] | None, *cols: str) -> DataFrame:
    """Order a per-series answer by ``cols``. Given ``ids``, the answer
    is bounded by what the caller passed in, so it is gathered into one
    partition and sorted there: no range-partition exchange and no
    sampling job. ``ids=None`` (all series) keeps the global sort."""
    if ids:
        return df.coalesce(1).sortWithinPartitions(*cols)
    return df.orderBy(*cols)
