"""Streaming exceedance-episode maintenance — the alerting fold at ingest.

Registered as ``streaming_run_lengths_parity`` from ext/timeseries.py.
The batch side is
``series_run_lengths_op`` (ext/timeseries.py): gaps-and-islands on the
``value > threshold`` predicate. THIS module is its ingest twin — the
fold a real alerting pipeline runs, where "the episode is still open"
IS the state: per series a single row of counters (samples, exceeds,
episodes, the open run's length/start/last, the longest run seen), each
arriving sample folding in O(1) regardless of history. The standing
output is the per-series summary; statefulness must make micro-batching
invisible, so the oracle is the BATCH ``SERIES_RUN_LENGTHS_SQL``.

State model (100 TB / unbounded-stream argument): EIGHT int64 counters
per series — independent of throughput and history; RocksDB-backed in
production exactly like the other stateful twins. In-order arrival per
series is the module contract (the parity lands drops cut on an
epoch-ms boundary, so LWW-duplicate times never straddle a batch); an
out-of-order production feed puts a watermarked sort buffer in front.

Each batch emits the series' cumulative summary row; the standing-table
projection keeps the latest (max n_samples — cumulative, hence
monotone) per series and closes the exceed fraction JVM-side with the
shared HALF_UP ratio, identical to the batch plan and the oracle.
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

#: one cumulative summary row per series per batch
_OUT_DDL = (
    "id BIGINT, n_samples BIGINT, n_episodes BIGINT, longest_run BIGINT, "
    "longest_run_ms BIGINT, n_exceed BIGINT"
)

#: the whole fold state: eight counters + the last seen sample time
#: (the in-order guard — see the ValueError in the fold)
_STATE_DDL = (
    "n_samples BIGINT, n_exceed BIGINT, n_episodes BIGINT, "
    "cur_run BIGINT, cur_t0 BIGINT, cur_t1 BIGINT, "
    "longest_run BIGINT, longest_run_ms BIGINT, last_time BIGINT"
)


def _runlen_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series fold: LWW-dedup the batch slice, walk it in time
    order updating the episode counters, emit the cumulative summary."""
    from dariadb_spark.ext.timeseries import RUN_THRESHOLD

    if state.exists:
        (n_samples, n_exceed, n_episodes, cur_run, cur_t0, cur_t1,
         longest_run, longest_run_ms, last_time) = state.get
    else:
        n_samples = n_exceed = n_episodes = cur_run = 0
        cur_t0 = cur_t1 = 0
        longest_run = longest_run_ms = 0
        last_time = None
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {c: pd.Series([], dtype=np.int64)
             for c in ("id", "n_samples", "n_episodes", "longest_run",
                       "longest_run_ms", "n_exceed")}
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
    if last_time is not None and len(t) and int(t[0]) <= last_time:
        # Out-of-contract input: a duplicate or
        # out-of-order (id, time) arriving in a LATER micro-batch than
        # its successor would be silently folded as a NEW sample,
        # double-counting the episode walk. Fail loudly instead.
        # Class note (fold taxonomy): equality raises here for the same
        # reason as the rate fold — the batch oracle LWW-dedups on
        # time, so a cross-batch duplicate is unresolvable; the
        # turning fold's equality-accept is the OTHER correct answer
        # for a batch oracle that keeps duplicates (see rate.py).
        raise ValueError(
            f"run-length fold: sample (id={key[0]}, time={int(t[0])}) "
            f"arrived after state already advanced to {last_time}; "
            "cross-batch out-of-order input violates the in-order "
            "ingest contract"
        )
    for i in range(len(t)):
        n_samples += 1
        if float(v[i]) > RUN_THRESHOLD:  # same IEEE compare as the plan
            n_exceed += 1
            if cur_run == 0:
                n_episodes += 1
                cur_t0 = int(t[i])
            cur_run += 1
            cur_t1 = int(t[i])
            if cur_run > longest_run:
                longest_run = cur_run
            if cur_t1 - cur_t0 > longest_run_ms:
                longest_run_ms = cur_t1 - cur_t0
        else:
            cur_run = 0
    if len(t):
        last_time = int(t[-1])
    state.update((n_samples, n_exceed, n_episodes, cur_run, cur_t0,
                  cur_t1, longest_run, longest_run_ms, last_time))
    yield pd.DataFrame(
        {
            "id": np.array([key[0]], dtype=np.int64),
            "n_samples": np.array([n_samples], dtype=np.int64),
            "n_episodes": np.array([n_episodes], dtype=np.int64),
            "longest_run": np.array([longest_run], dtype=np.int64),
            "longest_run_ms": np.array([longest_run_ms], dtype=np.int64),
            "n_exceed": np.array([n_exceed], dtype=np.int64),
        }
    )


def streaming_run_lengths_log(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "runlen_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-series episode summary incrementally
    (availableNow here; a production ingest runs unbounded)."""
    stream = file_stream(spark, MEAS_DDL, meas_dir, max_files_per_trigger)
    log = stream.groupBy("id").applyInPandasWithState(
        _runlen_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)

def run_lengths_from_log(log: DataFrame) -> DataFrame:
    """The standing summary: the latest cumulative row per series
    (n_samples is monotone, so max selects it), fraction closed
    JVM-side — column-identical to the batch plan and the oracle."""
    from dariadb_spark.ext.exact import ratio_round_spark

    w = Window.partitionBy("id").orderBy(F.desc("n_samples"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .selectExpr(
            "id",
            "n_samples",
            "n_episodes",
            "longest_run",
            "longest_run_ms",
            "n_exceed",
            ratio_round_spark("n_exceed", "n_samples", 4) + " AS exceed_frac",
        )
        .orderBy("id")
    )


def streaming_run_lengths_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-counter parity: land the batch
    ``ext_series_run_lengths`` input slice (interval scan, flags intact
    for the LWW dedup) in TWO parquet drops cut on an epoch-ms boundary
    — open episodes genuinely straddle the cut, so the episode counters
    must carry across micro-batches — fold one file per batch, and keep
    the standing summary. Oracle = the batch ``SERIES_RUN_LENGTHS_SQL``:
    statefulness must make batching invisible."""
    return run_parity(
        spark,
        "runlen_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=2
        ),
        lambda data_dir, qname: streaming_run_lengths_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        run_lengths_from_log,
    )
