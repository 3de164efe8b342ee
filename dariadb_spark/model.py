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

import operator
import os
import stat
import threading

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dariadb_spark.session import ensure_runtime_confs

#: Flags::_NO_DATA — all-ones uint32 marking "no value existed as-of t"
#: (reference: libdariadb/meas.h, Flags::_NO_DATA).
FLAGS_NO_DATA: int = 0xFFFFFFFF  # 4294967295

MEAS_FIELDS = ("id", "time", "value", "flag")

#: the measurement schema as Arrow, for rows held on the driver
#: (:func:`meas_table`) and the parquet segments written from them
MEAS_ARROW_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("time", pa.int64()),
        ("value", pa.float64()),
        ("flag", pa.int64()),
    ]
)

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
#: outside it (e.g. the 2**60 "whole history" sentinel) skip the raw-column
#: and day-pruning predicates: correct, just unpruned.
_DAY_STR_MIN = -62_135_596_800_000
_DAY_STR_MAX = 253_402_300_799_000


def _day_str(ms: int) -> str:
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


def local_frame(spark: SparkSession, schema, columns) -> DataFrame:
    """A LocalRelation over data already in driver memory: ``columns`` is
    a ``pyarrow.Table`` or a mapping ``name → sequence`` in ``schema``
    order; ``schema`` is a DDL string or a ``StructType``. It goes through
    Arrow, so building it and ``collect`` launch no Spark job (the Arrow
    ``toPandas`` path still runs one short JVM-only job).
    ``createDataFrame`` over Python rows would build a Python RDD instead,
    and every action on it would start Python workers. This is the one
    place in the package that turns driver-side rows into a frame."""
    if not isinstance(columns, pa.Table):
        columns = pa.table(columns)
    return spark.createDataFrame(columns, schema)


def meas_table(ids, times, values, flags) -> pa.Table:
    """Measurement rows held on the driver as a ``pyarrow.Table`` of
    :data:`MEAS_ARROW_SCHEMA`, which a store appends as one parquet
    segment per day without a Spark job. Columns that are already numpy
    arrays of the schema's dtypes (what the wire decoder returns) are
    wrapped without a copy."""
    cols = (ids, times, values, flags)
    return pa.table(
        [
            pa.array(np.asarray(col, dtype=field.type.to_pandas_dtype()))
            for col, field in zip(cols, MEAS_ARROW_SCHEMA)
        ],
        schema=MEAS_ARROW_SCHEMA,
    )


#: session confs that change the schema Spark infers from a parquet footer
_PARQUET_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)

#: (resolved path, size, mtime_ns, infer confs) → inferred schema; the
#: schema depends on nothing else, so one memo serves every session
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_MEMO_MAX = 256
_SCHEMA_MEMO_LOCK = threading.Lock()


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet file ``path``, inferred
    once per file version. Inference runs a Spark job; a read given the
    schema runs none. The memo key is the resolved path, size and
    ``mtime_ns`` plus the session's inference confs, so a rewritten file
    or a changed conf infers again. A path the local filesystem cannot
    stat as a regular file (a directory, a remote URI) is inferred on
    every call."""
    try:
        real = os.path.realpath(path)
        st = os.stat(real)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path).schema
    key = (
        real,
        st.st_size,
        st.st_mtime_ns,
        *(spark.conf.get(k, None) for k in _PARQUET_INFER_CONFS),
    )
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        with _SCHEMA_MEMO_LOCK:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                del _SCHEMA_MEMO[next(iter(_SCHEMA_MEMO))]
            _SCHEMA_MEMO[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver fixture table (parquet, column-pruned at scan),
    reading with its memoized schema (:func:`parquet_schema`)."""
    ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


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
    if ts_type == "bigint":
        time_sql = "ts DIV 1000000"
    elif ts_type == "timestamp_ntz":
        time_sql = "unix_millis(CAST(ts AS TIMESTAMP))"
    else:  # "timestamp" (LTZ)
        time_sql = "unix_millis(ts)"
    return events.selectExpr(
        "user_id AS id",
        f"{time_sql} AS time",
        "value",
        f"{EVENT_FLAG_CASE_SQL} AS flag",
        f"ts AS {RAW_TS}",
    )


def flag_predicate(flag: int) -> Column:
    """dariadb flag filter (reference: libdariadb/meas.h, Meas::inFlag):
    query flag 0 matches everything, otherwise bitmask containment
    ``(meas.flag & q.flag) == q.flag``. One SQL expression, shared with
    the oracle (:func:`flag_predicate_sql`)."""
    return F.expr(flag_predicate_sql(flag))


def flag_predicate_sql(flag: int) -> str:
    """:func:`flag_predicate` as SQL text, for Spark and DuckDB alike.
    ``flag`` may come off the wire, so anything but an integer raises
    rather than reaching the SQL text."""
    flag = operator.index(flag)
    if flag == 0:
        return "TRUE"
    return f"((flag & {flag}) = {flag})"


def _sane_ms(ms: int | None) -> int | None:
    """``ms`` if it is a wall-clock value whose UTC day has a 4-digit
    year, else None. A sentinel like 2**60 would overflow the raw ns/µs
    literal, so its raw-column and day bounds are skipped: correct, just
    unpruned, since the ``time`` bound still applies."""
    if ms is None or not (_DAY_STR_MIN <= ms <= _DAY_STR_MAX):
        return None
    return ms


def pushdown_time_bounds(
    meas: DataFrame, from_ms: int | None, to_ms: int | None
) -> Column:
    """:func:`time_bounds_sql` as a Column."""
    return F.expr(time_bounds_sql(meas, from_ms, to_ms))


def time_bounds_sql(
    meas: DataFrame, from_ms: int | None, to_ms: int | None
) -> str:
    """Closed-interval containment ``from <= time <= to`` (reference:
    libdariadb/meas.h, Meas::inInterval; SURVEY.md §7.3.3 pins closed
    ends, matching the oracle's BETWEEN), plus the equivalent bounds on
    the raw columns the frame still carries, as one SQL expression. The
    bounds may come off the wire, so anything but an integer raises
    rather than reaching the SQL text.

    * raw parquet ``ts`` (``_raw_ts``): the range reaches the scan as a
      PushedFilter (parquet row-group min/max pruning, the reference's
      ``.pagei`` chunk index role). ``time = ts DIV 1e6`` (floor), hence
      ``time ∈ [a, b] ⟺ ts ∈ [a·1e6, b·1e6 + 999999]``; at µs precision
      ``ts ∈ [a·1e3, b·1e3 + 999]``.
    * the store's hive day directory (``_p_date``): a bound on ``time``
      does not imply one on the directory key, so without this every day
      directory is listed and footer-read. yyyy-MM-dd compares
      lexicographically == chronologically, and the filter lands in
      PartitionFilters."""
    conds = []
    if from_ms is not None:
        from_ms = operator.index(from_ms)
        conds.append(f"time >= {from_ms}")
    if to_ms is not None:
        to_ms = operator.index(to_ms)
        conds.append(f"time <= {to_ms}")
    types = dict(meas.dtypes)
    raw_type = types.get(RAW_TS)
    lo, hi = _sane_ms(from_ms), _sane_ms(to_ms)
    if raw_type == "bigint":  # raw int64 ns: time = ts DIV 1e6
        # the ns literal itself must fit int64: past ~year 2262 Spark
        # would type it as a decimal and the row-group pushdown would be
        # lost, and no int64 ts value can lie beyond it anyway
        if lo is not None and lo * 1_000_000 >= -(2**63):
            conds.append(f"{RAW_TS} >= {lo * 1_000_000}")
        if hi is not None and hi * 1_000_000 + 999_999 <= 2**63 - 1:
            conds.append(f"{RAW_TS} <= {hi * 1_000_000 + 999_999}")
    elif raw_type is not None:  # timestamp[_ntz] at µs
        def ts_lit(us: int) -> str:
            lit = f"timestamp_micros({us})"  # LTZ from epoch-µs
            # session tz is UTC → NTZ wall clock == UTC instant
            if raw_type == "timestamp_ntz":
                return f"CAST({lit} AS TIMESTAMP_NTZ)"
            return lit

        if lo is not None:
            conds.append(f"{RAW_TS} >= {ts_lit(lo * 1_000)}")
        if hi is not None:
            conds.append(f"{RAW_TS} <= {ts_lit(hi * 1_000 + 999)}")
    if RAW_DAY in types:
        if lo is not None:
            conds.append(f"{RAW_DAY} >= '{_day_str(lo)}'")
        if hi is not None:
            conds.append(f"{RAW_DAY} <= '{_day_str(hi)}'")
    return " AND ".join(conds) if conds else "TRUE"


def ids_predicate(ids: list[int] | None) -> Column:
    """:func:`ids_predicate_sql` as a Column."""
    return F.expr(ids_predicate_sql(ids))


def ids_predicate_sql(ids: list[int] | None) -> str:
    """QueryInterval.ids filter; empty/None = all series (reference:
    libdariadb/query_param.h, struct QueryInterval)."""
    return ids_in_sql(ids) if ids else "TRUE"


def ids_in_sql(ids: list[int]) -> str:
    """``id IN (...)`` as SQL text, matching exactly ``ids``: an empty
    list matches no row (unlike :func:`ids_predicate_sql`, where it means
    every series). Ids may come off the wire, so anything but an integer
    raises rather than reaching the SQL text."""
    if not ids:
        return "FALSE"
    return f"id IN ({', '.join(str(operator.index(i)) for i in ids)})"


def scan_predicate_sql(
    meas: DataFrame,
    ids: list[int] | None,
    from_ms: int | None,
    to_ms: int | None,
    flag: int,
) -> str:
    """The WHERE text of an interval scan of ``meas``: ids (None or
    empty = all series), closed time bounds with their raw-column
    pushdowns, flag."""
    return " AND ".join(
        (
            ids_predicate_sql(ids),
            time_bounds_sql(meas, from_ms, to_ms),
            flag_predicate_sql(flag),
        )
    )


def verb_sql(
    meas: DataFrame,
    select: str,
    bounded: bool,
    order: str,
    gather: str = "COALESCE",
    **frames: DataFrame,
) -> DataFrame:
    """One store verb as one ``spark.sql`` statement, ``SELECT <select>``
    plus its sort, run in ``meas``'s own session with ``meas`` bound as
    ``{m}`` (and each of ``frames`` as ``{name}``) in ``select``. A bound
    frame becomes a temp view of its own session, and is dropped once the
    statement is analyzed, so every frame must come from ``meas``'s
    session. Request values reach ``select`` only as integers
    (:func:`ids_in_sql`, :func:`time_bounds_sql`,
    :func:`flag_predicate_sql`) or inside a bound frame.

    ``bounded`` (the request named its series) marks the answer as
    request-sized: the ``gather`` hint puts it into one partition
    (``COALESCE`` merges the partitions below it, ``REPARTITION``
    shuffles into one and keeps the scan below parallel) and ``SORT BY``
    sorts it there, with no range-partition exchange and no sampling
    job. Otherwise (all series) the statement keeps the global
    ``ORDER BY``."""
    head = f"SELECT /*+ {gather}(1) */" if bounded else "SELECT"
    sort = "SORT BY" if bounded else "ORDER BY"
    return meas.sparkSession.sql(
        f"{head} {select} {sort} {order}", m=meas, **frames
    )
