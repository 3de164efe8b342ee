"""Streaming EWMA maintenance — the trailing-window smoother at ingest.

Registered as ``streaming_ewma_parity`` at the bottom of
ext/timeseries.py, whose EWMA_SQL is the shared oracle. The batch side is
``ext_ewma`` (ext/timeseries.py): a 20-lag windowed Σ wₖ·lag(value, k)
chain. THIS module is its ingest twin: the per-series trailing buffer
(the last ≤20 deduped samples) is EXPLICIT operator state
(``applyInPandasWithState``), so every arriving sample emits its
smoothed value exactly once, across micro-batch boundaries — the one
part of the batch plan (the lag window) a stream cannot replay without
state.

Float-parity recipe: the batch expression accumulates num/den
LEFT-TO-RIGHT over k = 0..19 in doubles; the fold replays the identical
order with float64 scalars (IEEE-exact), and the FINAL division + round
happen JVM-side in the standing-table projection — so the one rounding
the output sees is Spark's own, bit-identical to the batch plan and to
DuckDB's round (the contract ``EWMA_SQL`` already proves).

State model (100 TB / unbounded-stream argument): ≤20 (time, value)
pairs per series — independent of throughput and history; RocksDB-backed
in production exactly like the other stateful twins. In-order arrival
per series is the module contract (the parity lands drops cut on an
epoch-ms boundary, so LWW-duplicate times never straddle a batch), and
the fold ENFORCES it (the fold-contract taxonomy of
tests/test_fold_contracts.py): this is an LWW-class fold like rate.py — its batch oracle LWW-dedups on time, so
a cross-batch duplicate-or-before time raises (it would rewrite
already-emitted smoothed rows); in-batch duplicates are LWW'd
silently, matching the batch plan. An out-of-order production feed
puts a watermarked sort buffer in front, which changes nothing here.
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

#: emitted per sample: the raw row plus the EXACT float num/den the
#: batch lag-chain would produce; the division+round stay JVM-side
_OUT_DDL = "id BIGINT, time BIGINT, value DOUBLE, num DOUBLE, den DOUBLE"

#: state: the trailing ≤20-sample ring buffer (deduped, time-ascending)
_STATE_DDL = "times ARRAY<BIGINT>, vals ARRAY<DOUBLE>"


def _ewma_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series fold: LWW-dedup the batch slice, chain it onto the
    carried buffer, emit one smoothed row per surviving sample, carry
    the trailing 20 forward."""
    from dariadb_spark.ext.timeseries import _EWMA_W

    if state.exists:
        times, vals = list(state.get[0]), list(state.get[1])
    else:
        times, vals = [], []
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "id": pd.Series([], dtype=np.int64),
                "time": pd.Series([], dtype=np.int64),
                "value": pd.Series([], dtype=np.float64),
                "num": pd.Series([], dtype=np.float64),
                "den": pd.Series([], dtype=np.float64),
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
    if times and int(t[0]) <= times[-1]:
        # LWW-class in-order contract (the fold taxonomy, rate.py
        # precedent): EQUALITY raises too — this fold's batch oracle
        # LWW-DEDUPS on time, so a duplicate time arriving in a LATER
        # trigger would have to rewrite already-emitted smoothed rows
        # (unlike turning/burst, whose batch oracles keep duplicates
        # as samples). In-batch duplicates are LWW'd above; only the
        # cross-batch case is disorder.
        raise ValueError(
            f"ewma fold: sample (id={key[0]}, time={int(t[0])}) does "
            f"not advance past the carried buffer tail ({times[-1]}); "
            "cross-batch duplicate-or-before input violates the "
            "in-order ingest contract"
        )
    out_num = np.empty(len(t), dtype=np.float64)
    out_den = np.empty(len(t), dtype=np.float64)
    for i in range(len(t)):
        times.append(int(t[i]))
        vals.append(float(v[i]))
        if len(times) > len(_EWMA_W):
            times.pop(0)
            vals.pop(0)
        m = len(vals)
        num = 0.0
        den = 0.0
        # the batch chain's exact accumulation order: k = 0..19
        # left-to-right; absent lags are skipped, which the batch
        # expression's +0.0 terms match on every reachable value (the
        # only divergence would be a -0.0 accumulator, which the batch
        # chain normalizes to +0.0 anyway; pinned bit-identical by
        # tests on real data)
        for k, wk in enumerate(_EWMA_W):
            if k < m:
                num += wk * vals[m - 1 - k]
                den += wk
        out_num[i] = num
        out_den[i] = den
    state.update((times, vals))
    yield pd.DataFrame(
        {
            "id": np.full(len(t), key[0], dtype=np.int64),
            "time": t,
            "value": v,
            "num": out_num,
            "den": out_den,
        }
    )


def streaming_ewma_log(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "ewma_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the smoothed stream incrementally (availableNow here; a
    production ingest runs unbounded into a parquet/Delta sink)."""
    stream = file_stream(spark, MEAS_DDL, meas_dir, max_files_per_trigger)
    log = stream.groupBy("id").applyInPandasWithState(
        _ewma_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)


def ewma_from_log(log: DataFrame) -> DataFrame:
    """The JVM-side closure: one division + one round, identical to the
    batch plan's final projection (and to the DuckDB oracle)."""
    return (
        log.select(
            "id",
            "time",
            "value",
            F.round(F.col("num") / F.col("den"), 6).alias("ewma"),
        )
        .orderBy("id", "time")
    )


def streaming_ewma_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-buffer parity: land the batch ``ext_ewma``
    input slice (interval scan, flags intact for the LWW dedup) in TWO
    parquet drops cut on an epoch-ms boundary — series histories
    genuinely straddle the cut, so the trailing buffer must carry
    across micro-batches — fold one file per batch, and close the
    arithmetic JVM-side. Oracle = the batch ``EWMA_SQL``: statefulness
    must make batching invisible."""
    return run_parity(
        spark,
        "ewma_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=2
        ),
        lambda data_dir, qname: streaming_ewma_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        ewma_from_log,
    )


#: oracle: the standing smoothed log must equal the batch windowed EWMA
from dariadb_spark.ext.timeseries import EWMA_SQL as STREAMING_EWMA_SQL  # noqa: E402,E501
