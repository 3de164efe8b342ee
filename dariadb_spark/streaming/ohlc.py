"""Streaming OHLC bar maintenance — the ingest twin of ``ext_ohlc``.

Registered as ``streaming_ohlc_parity`` from ext/timeseries.py.
The batch side is
``ohlc_op`` (ext/timeseries.py): per (id, bucket) open/high/low/close
via ``min_by``/``max_by`` on the (time, value, flag) total order. THIS
module is its ingest twin — the fold a live bar-charting pipeline
runs, where "the current bar" IS the state: per (id, bucket) one row
of extremes (the min-key and max-key (t, v, f) triples, whose value
fields ARE open/close, plus high/low/count), merged with each
micro-batch's candidates in O(batch) numpy. The oracle is the batch
``OHLC_SQL``: statefulness must make the micro-batching invisible —
a bar that straddles a batch cut must finish byte-identical to the
one-shot aggregate.

State is bounded by ACTIVE (id, bucket) pairs (each group's state is
one fixed-width row); a production deployment ages finished buckets
out with a timeout — kept NoTimeout here so the parity covers every
bucket in the fixture window.

Unlike the rate/run-length folds there is NO in-order contract: min/
max merging is commutative over arrival order (duplicates fold to the
same extremes the batch groupBy sees), so late or re-ordered samples
are first-class, exactly as in the batch aggregate.
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

#: emitted per batch per touched bucket: the cumulative bar
_OUT_DDL = (
    "id BIGINT, bucket_ms BIGINT, open DOUBLE, high DOUBLE, low DOUBLE, "
    "close DOUBLE, n_samples BIGINT"
)

#: the whole fold state: min-key triple, max-key triple, extremes, count
_STATE_DDL = (
    "o_t BIGINT, o_v DOUBLE, o_f BIGINT, "
    "c_t BIGINT, c_v DOUBLE, c_f BIGINT, "
    "high DOUBLE, low DOUBLE, n BIGINT"
)


def _ohlc_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-(id, bucket) fold: merge the batch's (time, value, flag)
    extremes into the standing bar. min/max over a total order is
    associative + commutative, so the merged bar equals the one-shot
    batch ``min_by``/``max_by`` aggregate regardless of batching."""
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "id": pd.Series([], dtype=np.int64),
                "bucket_ms": pd.Series([], dtype=np.int64),
                "open": pd.Series([], dtype=np.float64),
                "high": pd.Series([], dtype=np.float64),
                "low": pd.Series([], dtype=np.float64),
                "close": pd.Series([], dtype=np.float64),
                "n_samples": pd.Series([], dtype=np.int64),
            }
        )
        return
    t = np.concatenate([p["time"].to_numpy(np.int64) for p in parts])
    v = np.concatenate([p["value"].to_numpy(np.float64) for p in parts])
    fl = np.concatenate([p["flag"].to_numpy(np.int64) for p in parts])
    order = np.lexsort((fl, v, t))  # (time, value, flag) total order
    lo_i, hi_i = order[0], order[-1]
    cand = [
        (int(t[lo_i]), float(v[lo_i]), int(fl[lo_i])),
        (int(t[hi_i]), float(v[hi_i]), int(fl[hi_i])),
    ]
    b_high, b_low, b_n = float(v.max()), float(v.min()), len(t)
    if state.exists:
        o_t, o_v, o_f, c_t, c_v, c_f, high, low, n = state.get
        if cand[0] < (o_t, o_v, o_f):
            o_t, o_v, o_f = cand[0]
        if cand[1] > (c_t, c_v, c_f):
            c_t, c_v, c_f = cand[1]
        high = max(high, b_high)
        low = min(low, b_low)
        n += b_n
    else:
        (o_t, o_v, o_f), (c_t, c_v, c_f) = cand
        high, low, n = b_high, b_low, b_n
    state.update((o_t, o_v, o_f, c_t, c_v, c_f, high, low, n))
    yield pd.DataFrame(
        {
            "id": np.array([key[0]], dtype=np.int64),
            "bucket_ms": np.array([key[1]], dtype=np.int64),
            "open": np.array([o_v], dtype=np.float64),
            "high": np.array([high], dtype=np.float64),
            "low": np.array([low], dtype=np.float64),
            "close": np.array([c_v], dtype=np.float64),
            "n_samples": np.array([n], dtype=np.int64),
        }
    )


def streaming_ohlc_log(
    spark: SparkSession,
    meas_dir: str,
    width_ms: int,
    query_name: str = "ohlc_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-(id, bucket) bars incrementally (availableNow
    here; a production ingest runs unbounded with a state timeout)."""
    stream = file_stream(
        spark, MEAS_DDL, meas_dir, max_files_per_trigger
    ).withColumn("bucket_ms", F.col("time") - F.col("time") % F.lit(width_ms))
    log = stream.groupBy("id", "bucket_ms").applyInPandasWithState(
        _ohlc_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)

def ohlc_from_log(log: DataFrame) -> DataFrame:
    """The standing bars: the latest cumulative row per (id, bucket)
    (n_samples is monotone, so max selects it) — column-identical to
    the batch ``ohlc_op`` output and the oracle."""
    w = Window.partitionBy("id", "bucket_ms").orderBy(F.desc("n_samples"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("id", "bucket_ms", "open", "high", "low", "close", "n_samples")
        .orderBy("id", "bucket_ms")
    )


def streaming_ohlc_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-bar parity: land the batch ``ext_ohlc``
    input slice in TWO parquet drops cut on the median time — hourly
    bars genuinely straddle the cut, so the bar state must carry across
    micro-batches — fold one file per batch, and keep the standing
    bars. Oracle = the batch ``OHLC_SQL``."""
    from dariadb_spark.ext.timeseries import HOUR_MS

    return run_parity(
        spark,
        "ohlc_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=2
        ),
        lambda data_dir, qname: streaming_ohlc_log(
            spark, data_dir, HOUR_MS, qname, max_files_per_trigger=1
        ),
        ohlc_from_log,
    )
