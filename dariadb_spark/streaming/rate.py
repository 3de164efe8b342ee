"""Streaming counter-rate maintenance — the PromQL ``rate()`` fold at ingest.

Registered as ``streaming_counter_rate_parity`` from ext/timeseries.py.
The batch side is
``counter_rate_op`` (ext/timeseries.py): one lag-window pass with the
reset convention (a negative delta means the counter restarted, so the
increase is the new value itself). THIS module is its ingest twin — the
fold every metrics scraper runs: per series the state is the SINGLE
(last_time, last_value) pair, each arriving sample emitting its
increase/rate row exactly once, across micro-batch boundaries.

Float-parity recipe: the delta is one float64 subtraction (IEEE —
bit-identical in numpy and the JVM); the reset CASE picks between two
already-exact doubles; the round(·, 6) and the rate division + round
happen JVM-side in the standing-table projection, so the only roundings
the output sees are Spark's own, identical to the batch plan and to
DuckDB's round (the contract ``COUNTER_RATE_SQL`` already proves).

State model (100 TB / unbounded-stream argument): TWO scalars per
series — independent of throughput and history; RocksDB-backed in
production exactly like the other stateful twins. In-order arrival per
series is the module contract (the parity lands drops cut on an
epoch-ms boundary, so LWW-duplicate times never straddle a batch).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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

#: emitted per sample past the first: the raw row plus the EXACT float
#: increase; round + rate division stay JVM-side
_OUT_DDL = "id BIGINT, time BIGINT, value DOUBLE, dt_ms BIGINT, inc DOUBLE"

#: the whole fold state: the last seen sample
_STATE_DDL = "last_time BIGINT, last_value DOUBLE"


def _rate_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series fold: LWW-dedup the batch slice, emit one
    increase row per sample that has a predecessor, carry the last."""
    if state.exists:
        last_t, last_v = state.get
    else:
        last_t, last_v = None, None
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "id": pd.Series([], dtype=np.int64),
                "time": pd.Series([], dtype=np.int64),
                "value": pd.Series([], dtype=np.float64),
                "dt_ms": pd.Series([], dtype=np.int64),
                "inc": pd.Series([], dtype=np.float64),
            }
        )
        return
    t = np.concatenate([p["time"].to_numpy(np.int64) for p in parts])
    v = np.concatenate([p["value"].to_numpy(np.float64) for p in parts])
    fl = np.concatenate([p["flag"].to_numpy(np.int64) for p in parts])
    # LWW dedup inside the slice — same total order as dedup_lww
    # (operators/resample.py): per time keep max (value, flag)
    order = np.lexsort((fl, v, t))
    t, v = t[order], v[order]
    keep = np.ones(len(t), dtype=bool)
    keep[:-1] = t[1:] != t[:-1]
    t, v = t[keep], v[keep]
    out_t, out_v, out_dt, out_inc = [], [], [], []
    for i in range(len(t)):
        ti, vi = int(t[i]), float(v[i])
        if last_t is not None and ti <= last_t:
            # Out-of-contract input: a duplicate or
            # out-of-order (id, time) arriving in a LATER micro-batch
            # than its successor. Silently treating it as new would
            # emit dt_ms <= 0 rows (garbage rate_per_s). The in-order
            # contract is documented in the module docstring; fail
            # loudly instead of corrupting the standing output.
            # Class note (fold taxonomy): EQUALITY raises here, unlike the
            # turning fold which accepts an exact-duplicate key as a
            # plateau — the difference is principled, not drift: this
            # fold's batch oracle LWW-DEDUPS on time, so a duplicate
            # time landing after the state advanced is unresolvable
            # (the late row might have won LWW retroactively), whereas
            # turning's batch oracle keeps duplicates as samples.
            raise ValueError(
                f"counter-rate fold: sample (id={key[0]}, time={ti}) "
                f"arrived after state already advanced to {last_t}; "
                "cross-batch out-of-order input violates the in-order "
                "ingest contract"
            )
        if last_t is not None:
            delta = vi - last_v  # one IEEE float64 subtraction
            out_t.append(ti)
            out_v.append(vi)
            out_dt.append(ti - last_t)
            out_inc.append(vi if delta < 0 else delta)
        last_t, last_v = ti, vi
    state.update((last_t, last_v))
    yield pd.DataFrame(
        {
            "id": np.full(len(out_t), key[0], dtype=np.int64),
            "time": np.array(out_t, dtype=np.int64),
            "value": np.array(out_v, dtype=np.float64),
            "dt_ms": np.array(out_dt, dtype=np.int64),
            "inc": np.array(out_inc, dtype=np.float64),
        }
    )


def streaming_counter_rate_log(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "rate_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the increase stream incrementally (availableNow here; a
    production ingest runs unbounded into a parquet/Delta sink)."""
    stream = file_stream(spark, MEAS_DDL, meas_dir, max_files_per_trigger)
    log = stream.groupBy("id").applyInPandasWithState(
        _rate_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)

def counter_rate_from_log(log: DataFrame) -> DataFrame:
    """The JVM-side closure: the two rounds + the rate division,
    identical to the batch plan's final projection (and the oracle)."""
    return (
        log.select(
            "id",
            "time",
            "value",
            "dt_ms",
            F.round(F.col("inc"), 6).alias("increase"),
            F.round(F.col("inc") / F.col("dt_ms") * 1000.0, 6).alias(
                "rate_per_s"
            ),
        )
        .orderBy("id", "time")
    )


def streaming_counter_rate_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful parity: land the batch
    ``ext_counter_rate`` input slice (interval scan, flags intact for
    the LWW dedup) in TWO parquet drops cut on an epoch-ms boundary —
    every series' counter genuinely straddles the cut, so the
    (last_time, last_value) pair must carry across micro-batches — fold
    one file per batch. Oracle = the batch ``COUNTER_RATE_SQL``:
    statefulness must make batching invisible."""
    return run_parity(
        spark,
        "rate_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=2
        ),
        lambda data_dir, qname: streaming_counter_rate_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        counter_rate_from_log,
    )
