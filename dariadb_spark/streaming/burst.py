"""Stateful inter-arrival burstiness maintenance — the streaming twin
of ``ext_events_burstiness`` (ext/analytics.py).

A cadence monitor wants CV² LIVE — "did this event type just turn
bursty?" — without re-scanning history. The gap statistics pool from
(n, Σg, Σg²) partials, so the state per (id, flag) group is FOUR plain
int64s (last arrival ms + the three accumulators): the fold appends
each batch's gaps to the accumulators and the standing per-group
partials finish through the SAME ``burstiness_report`` projection the
batch operator uses — statefulness can only show up in the partials.

In-order contract (the fold-contract taxonomy of
tests/test_fold_contracts.py):
gap extraction reads the SEQUENCE, so a later micro-batch whose first
sample sorts STRICTLY before the standing last arrival raises
ValueError; an EXACT-duplicate arrival time is accepted as a
legitimate 0-second gap — the batch operator has no LWW dedup, so
duplicates are samples there too (the turning precedent, not the
rate/runlen one — those folds dedup and must reject equality).

Scale: state is O(series × types) × 4 int64s; each micro-batch does
per-group numpy work linear in its own rows. The finishing groupBy
runs over the standing partials table (series × types rows), never
the history. Cites the reference subscription surface the way
subscribe.py does — this is the derived-statistic maintenance a
dariadb user builds ON TOP of subscribe().
"""

from __future__ import annotations

from typing import Any, Iterator

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

#: emitted per batch per touched group: the standing partials —
#: burstiness_report's input schema plus the group keys
_OUT_DDL = "id BIGINT, flag BIGINT, n_gaps BIGINT, sum_gap_s BIGINT, sum_gap2 BIGINT"

#: last arrival (ms) + the three exact accumulators (whole-second gaps
#: keep sum_gap2 inside int64 — the envelope the batch op documents)
_STATE_DDL = "last_t BIGINT, n BIGINT, s BIGINT, q BIGINT"


def _burst_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-(id, flag) fold: sort the batch slice by (time, value, flag)
    (gaps only read time, but the total order keeps the walk
    deterministic), enforce the in-order contract, then extend the
    whole-second gap accumulators."""
    if state.exists:
        last_t, n, s, q = state.get
    else:
        last_t, n, s, q = None, 0, 0, 0
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "id": pd.Series([], dtype=np.int64),
                "flag": pd.Series([], dtype=np.int64),
                "n_gaps": pd.Series([], dtype=np.int64),
                "sum_gap_s": pd.Series([], dtype=np.int64),
                "sum_gap2": pd.Series([], dtype=np.int64),
            }
        )
        return
    t = np.concatenate([p["time"].to_numpy(np.int64) for p in parts])
    v = np.concatenate([p["value"].to_numpy(np.float64) for p in parts])
    fl = np.concatenate([p["flag"].to_numpy(np.int64) for p in parts])
    order = np.lexsort((fl, v, t))
    t = t[order]
    if last_t is not None and int(t[0]) < int(last_t):
        # Strictly-before is disorder; an exact-duplicate arrival time
        # is an in-order 0-gap sample (module docstring).
        raise ValueError(
            f"burstiness fold: sample (id={key[0]}, flag={key[1]}, "
            f"time={int(t[0])}) sorts before the standing last arrival "
            f"(time={int(last_t)}); cross-batch out-of-order input "
            "violates the in-order ingest contract"
        )
    ts = t // 1000  # whole seconds, same floor as the batch operator
    prev = np.empty_like(ts)
    prev[1:] = ts[:-1]
    if last_t is not None:
        prev[0] = int(last_t) // 1000
        g = ts - prev
    else:
        g = (ts - prev)[1:]
    n += int(g.size)
    # Exact accumulation: numpy int64 would wrap SILENTLY past the
    # Σg² envelope while the batch twin's ANSI sum raises LOUD — the
    # asymmetry exact.py warns about. Fast numpy path only when
    # provably safe (max|g|²·count < 2⁶²), else Python bigints; a
    # final int64-fit check raises like ANSI does.
    if g.size:
        gmax = float(np.abs(g).max())
        if gmax * gmax * g.size < float(2**62):
            ds, dq = int(g.sum()), int((g * g).sum())
        else:
            ds = sum(int(x) for x in g)
            dq = sum(int(x) * int(x) for x in g)
        s += ds
        q += dq
    if not (-(2**63) <= s < 2**63 and 0 <= q < 2**63):
        raise OverflowError(
            f"burstiness fold: accumulator overflow for (id={key[0]}, "
            f"flag={key[1]}) — sum_gap_s={s}, sum_gap2={q} exceed the "
            "int64 state envelope (the fold is STRICTER than the "
            "non-ANSI batch twin, whose sum would wrap silently past "
            "int64)"
        )
    state.update((int(t[-1]), n, s, q))
    yield pd.DataFrame(
        {
            "id": np.array([key[0]], dtype=np.int64),
            "flag": np.array([key[1]], dtype=np.int64),
            "n_gaps": np.array([n], dtype=np.int64),
            "sum_gap_s": np.array([s], dtype=np.int64),
            "sum_gap2": np.array([q], dtype=np.int64),
        }
    )


def streaming_burst_log(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "burst_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-(id, flag) gap accumulators incrementally
    (availableNow here; a production monitor runs unbounded)."""
    stream = file_stream(spark, MEAS_DDL, meas_dir, max_files_per_trigger)
    log = stream.groupBy("id", "flag").applyInPandasWithState(
        _burst_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "update", query_name)

def burst_from_log(log: DataFrame) -> DataFrame:
    """The standing report: the latest partials per (id, flag) (n_gaps
    is monotone, so max selects them), pooled per flag and run through
    the SHARED ``burstiness_report`` projection — column-identical to
    the batch operator and the oracle."""
    from pyspark.sql import Window

    from dariadb_spark.ext.analytics import burstiness_report

    w = Window.partitionBy("id", "flag").orderBy(F.desc("n_gaps"))
    latest = (
        log.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("id", "flag", "n_gaps", "sum_gap_s", "sum_gap2")
    )
    pooled = latest.groupBy("flag").agg(
        F.sum("n_gaps").alias("n_gaps"),
        F.sum("sum_gap_s").alias("sum_gap_s"),
        F.sum("sum_gap2").alias("sum_gap2"),
    )
    return burstiness_report(pooled)


def streaming_burst_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-cadence parity: land the batch input
    slice in THREE parquet drops cut at the time terciles (the gap
    accumulators must bridge both cuts), fold one file per micro-batch,
    and report the standing table. Oracle = the batch
    ``EVENTS_BURSTINESS_SQL``."""
    return run_parity(
        spark,
        "burst_parity",
        lambda data_dir: land_time_split(
            interval_slice(spark, sf_dir), data_dir, n_drops=3
        ),
        lambda data_dir, qname: streaming_burst_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        burst_from_log,
    )
