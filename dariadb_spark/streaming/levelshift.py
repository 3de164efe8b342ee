"""Streaming A/B level-shift maintenance — the ingest twin of
``ext_series_level_shift``.

Registered as ``streaming_level_shift_parity`` from ext/timeseries.py.
The batch side is
``series_level_shift_op`` (ext/timeseries.py): per-series Welch t²
between the two sides of a split timestamp, from exact cent-quantized
n/Σy/Σy² per side. THIS module is its ingest twin — the monitor a live
deploy/incident review runs, where the standing state per series is
exactly those SIX int64 accumulators and every batch folds in O(batch)
integer additions. The final Welch projection is ``level_shift_report``
— the SAME DataFrame function the batch operator ends in, so the float
pipeline is shared verbatim and the oracle (`SERIES_LEVEL_SHIFT_SQL`)
is shared too: statefulness must make the micro-batching invisible.

Like the OHLC fold — and unlike the rate/run-length folds — there is
NO in-order contract: integer sums are commutative and associative
over arrival order, so late or re-ordered samples land in their side's
accumulators exactly as the batch aggregate would count them.

Quantization happens JVM-SIDE in the stream projection (the same
``CAST(round(value * 100) AS BIGINT)`` expression the batch plan
compiles), never in Python — numpy's banker's rounding would diverge
from Spark's HALF-UP ``round`` on exact .5 cents.

State width: 6 × int64 per series. The Σy² accumulator bounds the
contract: |y| ≤ Y cents for N samples needs N·Y² < 2⁶³ (at Y = 10⁶ —
$10k values — that is ~9e6 samples per side per series; past that,
pre-scale values or shard the window, the token_budget_plan
convention).
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

#: emitted per batch per touched series: the cumulative sums table —
#: the level_shift_report input schema
_OUT_DDL = (
    "id BIGINT, n_a BIGINT, n_b BIGINT, sa BIGINT, sb BIGINT, "
    "ssa BIGINT, ssb BIGINT"
)

_STATE_DDL = (
    "n_a BIGINT, n_b BIGINT, sa BIGINT, sb BIGINT, ssa BIGINT, ssb BIGINT"
)


def _shift_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-series fold: add the batch's per-side (count, Σy, Σy²) into
    the standing accumulators. Pure int64 sums — commutative, so the
    standing row equals the one-shot batch aggregate regardless of
    batching or arrival order."""
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                c: pd.Series([], dtype=np.int64)
                for c in ("id", "n_a", "n_b", "sa", "sb", "ssa", "ssb")
            }
        )
        return
    s = np.concatenate([p["s"].to_numpy(np.int64) for p in parts])
    y = np.concatenate([p["y"].to_numpy(np.int64) for p in parts])
    # python ints for the squares: exact past any numpy dtype worry
    ya, yb = y[s == 0], y[s == 1]
    acc = [
        int(len(ya)), int(len(yb)),
        int(ya.sum()) if len(ya) else 0,
        int(yb.sum()) if len(yb) else 0,
        sum(int(v) * int(v) for v in ya),
        sum(int(v) * int(v) for v in yb),
    ]
    if state.exists:
        prev = state.get
        acc = [a + b for a, b in zip(prev, acc)]
    state.update(tuple(acc))
    yield pd.DataFrame(
        {
            "id": np.array([key[0]], dtype=np.int64),
            "n_a": np.array([acc[0]], dtype=np.int64),
            "n_b": np.array([acc[1]], dtype=np.int64),
            "sa": np.array([acc[2]], dtype=np.int64),
            "sb": np.array([acc[3]], dtype=np.int64),
            "ssa": np.array([acc[4]], dtype=np.int64),
            "ssb": np.array([acc[5]], dtype=np.int64),
        }
    )


def streaming_level_shift_log(
    spark: SparkSession,
    meas_dir: str,
    split_ms: int,
    query_name: str = "level_shift_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-series side accumulators incrementally
    (availableNow here; a production monitor runs unbounded)."""
    # quantization + side assignment are the BATCH plan's JVM
    # expressions, evaluated before rows reach Python
    stream = file_stream(
        spark, MEAS_DDL, meas_dir, max_files_per_trigger
    ).selectExpr(
        "id",
        f"CAST(time >= {split_ms} AS BIGINT) AS s",
        "CAST(round(value * 100) AS BIGINT) AS y",
    )
    log = stream.groupBy("id").applyInPandasWithState(
        _shift_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)

def level_shift_from_log(log: DataFrame) -> DataFrame:
    """The standing report: the latest cumulative sums row per series
    (n_a + n_b is monotone, so max selects it) run through the SHARED
    ``level_shift_report`` projection — column-identical to the batch
    operator and the oracle."""
    from dariadb_spark.ext.timeseries import level_shift_report

    w = Window.partitionBy("id").orderBy(F.desc(F.col("n_a") + F.col("n_b")))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("id", "n_a", "n_b", "sa", "sb", "ssa", "ssb")
    )
    return level_shift_report(latest)


def streaming_level_shift_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible stateful-shift parity: land the batch input slice
    in THREE parquet drops cut at the time terciles — both sides
    genuinely span a batch cut (the split sits inside drop 2), so the
    per-side accumulators must carry across micro-batches — fold one
    file per batch, and report the standing table. Oracle = the batch
    ``SERIES_LEVEL_SHIFT_SQL``."""
    from dariadb_spark.ext.timeseries import LEVEL_SHIFT_SPLIT_MS

    return run_parity(
        spark,
        "lshift_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=3
        ),
        lambda data_dir, qname: streaming_level_shift_log(
            spark,
            data_dir,
            LEVEL_SHIFT_SPLIT_MS,
            qname,
            max_files_per_trigger=1,
        ),
        level_shift_from_log,
    )
