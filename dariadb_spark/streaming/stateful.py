"""Custom stateful streaming operator — incremental per-series statistics.

The reference maintains an eager latest-value cache per series on every
append (Engine::currentValue / memstorage, SURVEY.md §2.8 T2). This module
generalizes that pattern to the full Statistic block (§2.4 A4) per time
bucket (§2.5 W1), maintained incrementally with *explicit* operator state
via ``applyInPandasWithState`` — the Spark rendering of "custom stateful
operator" (built-in windowed aggregation covers the simple cases; explicit
state is the extension point for semantics Spark lacks, e.g. the
reference's no-watermark accept-all-late-data policy).

State model (scale argument): one group per series id, state = open
buckets → (cnt, min, max, sum). State size is bounded by
|series| × |open buckets per series| — independent of throughput. Each
micro-batch emits only the buckets it touched (update semantics); late
data simply re-opens a bucket (no watermark eviction — matching the
reference's merge-on-read acceptance of arbitrarily late appends; a
production deployment bounds state with a timeout if the series set is
unbounded).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dariadb_spark.model import MEAS_DDL
from dariadb_spark.operators.downsample import MS
from dariadb_spark.streaming.scratch import (
    file_stream,
    interval_slice,
    land_sorted,
    run_parity,
    to_memory,
)

#: emitted row schema — the incremental Statistic block per (id, bucket)
STAT_DDL = (
    "id BIGINT, bucket_ms BIGINT, cnt BIGINT, min_value DOUBLE, "
    "max_value DOUBLE, sum_value DOUBLE"
)

#: state schema: parallel arrays (bucket -> running aggregates)
_STATE_DDL = (
    "buckets ARRAY<BIGINT>, cnts ARRAY<BIGINT>, mins ARRAY<DOUBLE>, "
    "maxs ARRAY<DOUBLE>, sums ARRAY<DOUBLE>"
)


def _make_state_fold(bucket_width: int) -> Callable:
    """Build the per-group state-fold function (closure pickles cleanly to
    executors; a function attribute would not survive cloudpickle reliably)."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (series_id,) = key
        if state.exists:
            buckets, cnts, mins, maxs, sums = state.get
            acc = {
                b: [c, lo, hi, s]
                for b, c, lo, hi, s in zip(buckets, cnts, mins, maxs, sums)
            }
        else:
            acc = {}
        touched: set[int] = set()
        for pdf in pdfs:
            if not len(pdf):
                continue
            t = pdf["time"].to_numpy(np.int64)
            v = pdf["value"].to_numpy(np.float64)
            b = t - t % bucket_width  # numpy % matches Python floor-mod
            # stable sort groups rows by bucket without reordering within
            # a bucket; cnt/min/max are accumulation-order-insensitive
            # (exact), while reduceat segment SUMS use numpy's internal
            # blocking — associativity differences vs a strict
            # left-to-right fold are last-ulp-scale, the same class as
            # Spark's own partition-merge order, and absorbed by the
            # round(sum,·)/cnt recipe wherever stat blocks are compared
            # cross-engine (rollup.py derives avg at read time)
            order = np.argsort(b, kind="stable")
            b, v = b[order], v[order]
            starts = np.concatenate(([0], np.nonzero(np.diff(b))[0] + 1))
            seg_b = b[starts]
            seg_cnt = np.diff(np.concatenate((starts, [len(b)])))
            seg_min = np.minimum.reduceat(v, starts)
            seg_max = np.maximum.reduceat(v, starts)
            seg_sum = np.add.reduceat(v, starts)
            for bk, c, lo, hi, s in zip(seg_b, seg_cnt, seg_min, seg_max, seg_sum):
                bk = int(bk)
                touched.add(bk)
                slot = acc.get(bk)
                if slot is None:
                    acc[bk] = [int(c), float(lo), float(hi), float(s)]
                else:
                    slot[0] += int(c)
                    slot[1] = min(slot[1], float(lo))
                    slot[2] = max(slot[2], float(hi))
                    slot[3] += float(s)
        ordered = sorted(acc)
        state.update(
            (
                ordered,
                [acc[b][0] for b in ordered],
                [acc[b][1] for b in ordered],
                [acc[b][2] for b in ordered],
                [acc[b][3] for b in ordered],
            )
        )
        out = sorted(touched)
        yield pd.DataFrame(
            {
                "id": [int(series_id)] * len(out),
                "bucket_ms": out,
                "cnt": [acc[b][0] for b in out],
                "min_value": [acc[b][1] for b in out],
                "max_value": [acc[b][2] for b in out],
                "sum_value": [acc[b][3] for b in out],
            }
        )

    return update


#: emitted alert row schema — matches the batch anomaly_zscore_op output
ALERT_DDL = (
    "id BIGINT, time BIGINT, value DOUBLE, flag BIGINT, "
    "n_trail BIGINT, z DOUBLE"
)

#: alert state: the trailing tail of the series, ≤ window points
_ALERT_STATE_DDL = (
    "times ARRAY<BIGINT>, values ARRAY<DOUBLE>, flags ARRAY<BIGINT>"
)


def _round_half_up(x: float, places: int) -> float:
    """Spark/DuckDB ``round()`` (BigDecimal HALF_UP on the exact binary
    value of the double) — Python's builtin ``round`` is HALF_EVEN and
    would diverge on .5 boundaries."""
    import decimal

    q = decimal.Decimal(1).scaleb(-places)
    return float(
        decimal.Decimal(x).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _round_half_up_vec(a: np.ndarray, places: int) -> np.ndarray:
    """Vectorized :func:`_round_half_up` with identical results. The
    fast path scales/floors in float64; any element whose scaled value
    sits within a guard band of a ``.5`` HALF_UP boundary (where the one
    multiplication's rounding error could flip the decision — the band
    is ~1e4× wider than the worst-case error), or that is too large to
    carry fractional precision, is recomputed through the exact-decimal
    scalar path. Exact ties (distance 0) always land in the band, so
    away-from-zero tie behavior is inherited, never reimplemented.

    Non-finite inputs pass through the fast path (inf→inf, nan→nan)
    whereas the scalar :func:`_round_half_up` raises
    ``decimal.InvalidOperation`` on them — deliberate: a
    vectorized fold must not abort a whole batch because one series'
    sum overflowed; the inf/nan propagates into the z-score, fails the
    ``|z| > threshold`` comparison as NaN (no alert) or alerts at ±inf,
    and is visible downstream rather than masked by an exception."""
    p = 10.0 ** places  # powers of 10 up to 1e22 are exact in float64
    scaled = a * p
    mag = np.abs(scaled)
    k = np.floor(mag + 0.5)
    out = np.copysign(k, scaled) / p
    finite = np.isfinite(scaled)
    dist = np.abs(mag - np.floor(mag) - 0.5)
    band = mag * 1e-12 + 1e-9
    risky = finite & ((dist <= band) | (mag >= 2.0**52))
    if risky.any():
        idx = np.nonzero(risky)[0]
        out[idx] = [_round_half_up(float(a[i]), places) for i in idx]
    return out


def _exactify_boundary_sums(
    vals: np.ndarray,
    csarr: np.ndarray,
    av: np.ndarray,
    g: np.ndarray,
    start: np.ndarray,
    window: int,
) -> None:
    """Recompute, in place and via the definitional sequential fold, any
    window sum whose prefix-difference value sits within a guard band of
    a ``round(·,6)`` HALF_UP boundary (the prefix-sum recipe
    carries float error the fresh per-frame fold did not, so a boundary
    flip vs the batch oracle was possible in principle).

    Error model: rounding errors committed BEFORE ``start`` are shared
    by ``cs[g]`` and ``cs[start]`` and cancel exactly in the
    subtraction, so the difference's error is only the ≤``window``
    window-local accumulation steps — bounded by
    ``(window+4)·eps·(|cs[g]|+|cs[start]|)`` — NOT length-of-prefix
    dependent. The band is 16× that worst case. With arbitrary-real
    values the band admits a few percent of sums (it scales with the
    prefix magnitude), so the recompute is vectorized too: risky frames
    are gathered into an ``(R, window)`` matrix, zero-padded past each
    frame's end (adding 0.0 is exact), and re-summed with
    ``np.cumsum(axis=1)`` — NumPy's ``add.accumulate`` is a strict
    sequential per-row fold, so the last column is fl-identical to the
    naive left-to-right reference fold (the scalar decimal rounding
    that follows then matches byte-for-byte)."""
    eps = np.finfo(np.float64).eps
    band = (np.abs(csarr[g]) + np.abs(csarr[start])) * (
        (window + 4) * eps * 16.0
    ) + 1e-12
    scaled = np.abs(vals) * 1e6
    dist = np.abs(scaled - np.floor(scaled) - 0.5)
    risky = np.nonzero(dist <= band * 1e6)[0]
    if not len(risky):
        return
    rs, rg = start[risky], g[risky]
    idx = rs[:, None] + np.arange(window)
    frame = np.where(
        idx < rg[:, None], av[np.minimum(idx, len(av) - 1)], 0.0
    )
    vals[risky] = np.cumsum(frame, axis=1)[:, -1]


def _make_alert_fold(window: int, min_n: int, threshold: float) -> Callable:
    """Per-series online z-score alert fold. State = the last ``window``
    (time, value, flag) points; each new point is scored against the
    trailing window that PRECEDES it — arithmetic identical to the
    batch ``anomaly_zscore_op`` (round(sum,6)/n moments, HALF_UP
    rounding), so a time-ordered replay reproduces the batch alerts
    bit-for-bit. Late data is scored against the state as-of arrival
    (already-emitted alerts are never retracted); the batch path is the
    reconciliation of record — SCALE.md §5's policy."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (series_id,) = key
        if state.exists:
            t0, v0, f0 = state.get
            st_times = np.asarray(t0, np.int64)
            st_values = np.asarray(v0, np.float64)
            st_flags = np.asarray(f0, np.int64)
        else:
            st_times = np.empty(0, np.int64)
            st_values = np.empty(0, np.float64)
            st_flags = np.empty(0, np.int64)
        parts = [p for p in pdfs if len(p)]
        if parts:
            bt = np.concatenate(
                [p["time"].to_numpy(np.int64) for p in parts]
            )
            bv = np.concatenate(
                [p["value"].to_numpy(np.float64) for p in parts]
            )
            bf = np.concatenate(
                [p["flag"].to_numpy(np.int64) for p in parts]
            )
            # batch semantics order points by (time, value, flag)/series
            order = np.lexsort((bf, bv, bt))
            bt, bv, bf = bt[order], bv[order], bf[order]
        else:
            bt = np.empty(0, np.int64)
            bv = np.empty(0, np.float64)
            bf = np.empty(0, np.int64)
        n_tail, n_new = len(st_values), len(bv)
        av = np.concatenate((st_values, bv))
        # O(1) per point via prefix sums: each point's trailing-window
        # moments are two cumsum differences instead of an O(window)
        # per-point Python loop. The
        # subtraction perturbs the sum by ≲1e-16·|s| relative to the
        # window frame's fresh fold — absorbed by the same round(·,6)
        # that already absorbs Spark-vs-DuckDB accumulation-order skew.
        av2 = av * av  # elementwise fl(x·x), shared by cumsum + recompute
        cs = np.concatenate(([0.0], np.cumsum(av)))
        cs2 = np.concatenate(([0.0], np.cumsum(av2)))
        g = np.arange(n_tail, n_tail + n_new)
        start = np.maximum(g - window, 0)
        n = g - start
        nsafe = np.maximum(n, 1)
        s = cs[g] - cs[start]
        s2 = cs2[g] - cs2[start]
        # boundary-risky sums fall back to the exact sequential frame
        # fold — cold on fixture-shaped data, structural
        # parity on adversarial boundary-adjacent values
        _exactify_boundary_sums(s, cs, av, g, start, window)
        _exactify_boundary_sums(s2, cs2, av2, g, start, window)
        mean = _round_half_up_vec(s, 6) / nsafe
        ex2 = _round_half_up_vec(s2, 6) / nsafe
        std = np.sqrt(np.maximum(ex2 - mean * mean, 0.0))
        scorable = (n >= min_n) & (std > 0)
        z = np.zeros(n_new)
        if scorable.any():
            z[scorable] = _round_half_up_vec(
                (bv[scorable] - mean[scorable]) / std[scorable], 4
            )
        alert = scorable & (np.abs(z) > threshold)
        state.update(
            (
                np.concatenate((st_times, bt))[-window:].tolist(),
                np.concatenate((st_values, bv))[-window:].tolist(),
                np.concatenate((st_flags, bf))[-window:].tolist(),
            )
        )
        yield pd.DataFrame(
            {
                "id": np.full(int(alert.sum()), int(series_id), np.int64),
                "time": bt[alert],
                "value": bv[alert],
                "flag": bf[alert],
                "n_trail": n[alert].astype(np.int64),
                "z": z[alert],
            }
        )

    return update


def streaming_anomaly_alerts(
    spark: SparkSession,
    data_dir: str,
    window: int = 20,
    min_n: int = 10,
    threshold: float = 3.0,
    query_name: str = "anomaly_alerts_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Start the online anomaly-alert stream — the push half of the
    reference's subscribe pattern pointed at a quality gate: every
    appended point is scored against its own series' trailing window
    and alert rows land in the in-memory table ``query_name``.

    Plan shape: file/Delta stream → one shuffle on ``id`` (stable state
    partitioning) → Arrow-batched state fold holding ≤ window points
    per series — state is |series| × window regardless of throughput."""
    stream = file_stream(spark, MEAS_DDL, data_dir, max_files_per_trigger)
    updated = stream.groupBy("id").applyInPandasWithState(
        _make_alert_fold(window, min_n, threshold),
        ALERT_DDL,
        _ALERT_STATE_DDL,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return to_memory(updated, "update", query_name)


def streaming_anomaly_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible custom-stateful parity: run the REAL
    applyInPandasWithState alert stream over the fixture slice the
    batch ``ext_anomaly_zscore`` query covers and return the alert
    table. Oracle = that query's SQL — the explicit-state fold must
    reproduce the batch window plan exactly (same trailing-20 moments,
    same HALF_UP rounding, same (time, value, flag) total order)."""
    def land(data_dir: str) -> None:
        # ONE sorted file → the availableNow replay feeds each series its
        # points in (time, value, flag) order, the precondition for exact
        # batch parity (out-of-order arrival is policy-scored, not parity)
        land_sorted(
            interval_slice(spark, sf_dir),
            data_dir,
            ("id", "time", "value", "flag"),
            mode="error",  # single drop: a stale dir fails loudly
        )

    # 15-series harness slice → 4 state partitions, not the session's
    # OLAP default (addBatch ~2× faster; see streaming/scratch.py)
    return run_parity(
        spark,
        "alert_parity",
        land,
        lambda data_dir, qname: streaming_anomaly_alerts(
            spark, data_dir, query_name=qname
        ),
        lambda sink: sink.orderBy("id", "time", "value", "flag"),
    )


def streaming_stat_blocks(
    spark: SparkSession,
    data_dir: str,
    interval: str = "hour",
    query_name: str = "stat_blocks_live",
) -> StreamingQuery:
    """Start the incremental statistic maintenance stream; query the
    in-memory table ``query_name`` for the live per-(id, bucket) blocks.

    Plan shape: file/Delta stream → one shuffle on ``id`` (the state
    partitioning key, stable across batches) → Arrow-batched state fold.
    """
    stream = file_stream(spark, MEAS_DDL, data_dir)
    updated = stream.groupBy("id").applyInPandasWithState(
        _make_state_fold(MS[interval]),
        STAT_DDL,
        _STATE_DDL,
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return to_memory(updated, "update", query_name)
