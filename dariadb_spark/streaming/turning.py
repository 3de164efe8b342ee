"""Streaming turning-points maintenance — the ingest twin of
``ext_series_turning_points``.

Registered as ``streaming_turning_parity`` from ext/timeseries.py.
The batch side is
``series_turning_points_op`` (ext/timeseries.py): per-series count of
STRICT local extrema in the tie-safe (time, value, flag) sample order,
plus the Kendall E/Var normalization. THIS module is its ingest twin —
the randomness monitor a live feed runs, where the standing state per
series is (n, t_points, the last TWO cent values, the last order key)
and every batch folds in O(batch) integer comparisons. The final
projection is ``turning_report`` — the SAME DataFrame function the
batch operator ends in — and the oracle (`SERIES_TURNING_POINTS_SQL`)
is shared too: statefulness must make the micro-batching invisible.

Like the rate/run-length folds — and unlike the OHLC/level-shift
sums — extremum detection reads the SEQUENCE, so there IS an in-order
contract: within a batch rows are sorted by the tie-safe total order,
and a row arriving in a LATER micro-batch that sorts at-or-before the
standing last key raises ``ValueError`` loudly instead of silently
corrupting the census (the rate fold's in-order guard;
exact-duplicate rows are fine WITHIN a batch, where the sort makes
them adjacent and equal neighbors never count as extrema).

Quantization happens JVM-SIDE in the stream projection (the same
``CAST(round(value * 100) AS BIGINT)`` the batch plan compiles) —
numpy's banker's rounding would diverge on exact .5 cents.

State width: 4 × int64 + 1 × float64 + 2 × int64 per series,
independent of history length.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dariadb_spark.model import MEAS_DDL
from dariadb_spark.streaming.scratch import (
    file_stream,
    interval_slice,
    land_time_split,
    run_parity,
    to_memory,
)

#: emitted per batch per touched series: the standing census counts —
#: the turning_report input schema
_OUT_DDL = "id BIGINT, n BIGINT, t_points BIGINT"

#: ypp/yp are the last two cent values (ypp meaningful iff n >= 2);
#: (last_t, last_v, last_f) is the tie-safe order key of the last row
_STATE_DDL = (
    "n BIGINT, t_points BIGINT, ypp BIGINT, yp BIGINT, "
    "last_t BIGINT, last_v DOUBLE, last_f BIGINT"
)


def _turning_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series fold: sort the batch slice in the tie-safe order,
    enforce the cross-batch in-order contract, then slide the 3-sample
    window — each arriving sample decides whether the PREVIOUS one was
    a strict extremum."""
    if state.exists:
        n, tp, ypp, yp, last_t, last_v, last_f = state.get
    else:
        n, tp, ypp, yp, last_t, last_v, last_f = 0, 0, 0, 0, None, None, None
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "id": pd.Series([], dtype=np.int64),
                "n": pd.Series([], dtype=np.int64),
                "t_points": pd.Series([], dtype=np.int64),
            }
        )
        return
    t = np.concatenate([p["time"].to_numpy(np.int64) for p in parts])
    v = np.concatenate([p["value"].to_numpy(np.float64) for p in parts])
    fl = np.concatenate([p["flag"].to_numpy(np.int64) for p in parts])
    y = np.concatenate([p["y"].to_numpy(np.int64) for p in parts])
    order = np.lexsort((fl, v, t))
    t, v, fl, y = t[order], v[order], fl[order], y[order]
    if last_t is not None and (
        (int(t[0]), float(v[0]), int(fl[0]))
        < (int(last_t), float(last_v), int(last_f))
    ):
        # Strictly-before is disorder; an EXACT-duplicate key landing in
        # a later micro-batch is an in-order plateau sample (equal
        # neighbors are never strict extrema, so the batch operator
        # counts duplicate-bearing input fine — the streaming twin must
        # too).
        raise ValueError(
            f"turning-points fold: sample (id={key[0]}, time={int(t[0])})"
            f" sorts before the standing last key"
            f" (time={int(last_t)}); cross-batch out-of-order input"
            " violates the in-order ingest contract"
        )
    for i in range(len(y)):
        yi = int(y[i])
        if n >= 2 and ((ypp < yp > yi) or (ypp > yp < yi)):
            tp += 1
        ypp, yp = yp, yi
        n += 1
    state.update(
        (n, tp, int(ypp), int(yp), int(t[-1]), float(v[-1]), int(fl[-1]))
    )
    yield pd.DataFrame(
        {
            "id": np.array([key[0]], dtype=np.int64),
            "n": np.array([n], dtype=np.int64),
            "t_points": np.array([tp], dtype=np.int64),
        }
    )


def streaming_turning_log(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "turning_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-series census incrementally (availableNow here;
    a production monitor runs unbounded)."""
    stream = file_stream(
        spark, MEAS_DDL, meas_dir, max_files_per_trigger
    ).selectExpr(
        "id", "time", "value", "flag",
        "CAST(round(value * 100) AS BIGINT) AS y",
    )
    log = stream.groupBy("id").applyInPandasWithState(
        _turning_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)


def turning_from_log(log: DataFrame) -> DataFrame:
    """The standing report: the latest census row per series (n is
    monotone, so max selects it) run through the SHARED
    ``turning_report`` projection — column-identical to the batch
    operator and the oracle."""
    from dariadb_spark.ext.timeseries import turning_report

    w = Window.partitionBy("id").orderBy(F.desc("n"))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("id", "n", "t_points")
    )
    return turning_report(latest)


def streaming_turning_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-census parity: land the batch input
    slice in THREE parquet drops cut at the time terciles (the sliding
    3-window must carry ypp/yp across both cuts), fold one file per
    micro-batch, and report the standing table. Oracle = the batch
    ``SERIES_TURNING_POINTS_SQL``."""
    return run_parity(
        spark,
        "turning_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=3
        ),
        lambda data_dir, qname: streaming_turning_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        turning_from_log,
    )
