"""Stateful Pareto-front maintenance — the streaming twin of
``ext_part_skyline`` (ext/relational.py).

A catalog service wants the per-brand (price, size) dominance front
LIVE as parts land. The front is a SET statistic — order-insensitive
over the input multiset — so this twin sits in the commutative class
of the fold-contract taxonomy (like the seasonality mix and unlike the
LWW/sequence folds): there is no in-order contract by construction,
and the batching-invariance pin asserts the FINAL front is identical
however the stream is cut.

State per brand is the standing front itself as two parallel arrays —
cents ascending, sizes strictly descending (the staircase invariant) —
the textbook bounded-state shape for skyline maintenance: the front
can never exceed the distinct-price domain of one brand, regardless of
throughput. Each batch point is probed against the standing staircase
(one bisect per point); points NOT dominated at arrival are emitted as
append-mode candidate rows, then the staircase absorbs the batch.

Why candidates and not the front directly: a point on the front NOW
may be dominated LATER, and append mode cannot retract. The emitted
log is instead a provable SUPERSET of the final front (a true front
point is undominated by everything, so it is undominated at arrival
and always emitted; a dominated point's dominator chain ends at an
emitted front member by transitivity), so the standing log finishes
through the SHARED ``skyline_filter`` — the same two-frame window
pass the batch operator runs, column-identical to the oracle.

Cents are rounded HALF-UP in the Spark projection BEFORE the fold
(numpy's banker's rounding diverges from Spark/DuckDB ``round`` on
exact .5 cents).

Scale: state is O(front) per brand — value-domain bounded, not
throughput bounded; per-batch work is O(batch · log front); the
finish filters the candidate log, which the standing-front probe
keeps front-sized per batch in steady state.
"""

from __future__ import annotations

from typing import Any, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from dariadb_spark.streaming.scratch import (
    file_stream,
    persisted_slice,
    run_parity,
    to_memory,
)

_PART_DDL = (
    "p_partkey BIGINT, p_brand STRING, p_size INT,"
    " p_retailprice DOUBLE"
)

#: append-mode candidate rows — skyline_filter's input shape
_OUT_DDL = (
    "p_brand STRING, p_partkey BIGINT, price_cents BIGINT,"
    " p_size BIGINT"
)

#: the standing staircase: cents ascending, sizes strictly descending
_STATE_DDL = "fc ARRAY<BIGINT>, fs ARRAY<BIGINT>"


def _staircase(
    cs: np.ndarray, ss: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce (cents, size) points to the skyline staircase: per cents
    keep the min size, then keep a cell only if its size strictly
    undercuts every kept cheaper cell. Fully vectorized — lexsort,
    first-per-group, exclusive running min."""
    order = np.lexsort((ss, cs))
    cs, ss = cs[order], ss[order]
    first = np.ones(len(cs), dtype=bool)
    first[1:] = cs[1:] != cs[:-1]  # first of each cents = its min size
    cs, ss = cs[first], ss[first]
    cm = np.minimum.accumulate(ss)
    keep = np.ones(len(ss), dtype=bool)
    keep[1:] = ss[1:] < cm[:-1]  # strictly undercut all cheaper cells
    return cs[keep], ss[keep]


def _skyline_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-brand fold: probe each batch point against the standing
    staircase (one vectorized searchsorted per batch), emit the
    undominated arrivals, absorb the batch into the staircase. Probes
    use the pre-batch front only — within-batch dominance is left to
    the shared finishing filter (the emitted log must only be a
    superset of the final front)."""
    if state.exists:
        fc_l, fs_l = state.get
        fc = np.asarray(fc_l, dtype=np.int64)
        fs = np.asarray(fs_l, dtype=np.int64)
    else:
        fc = fs = np.empty(0, dtype=np.int64)
    parts = [p for p in pdfs if len(p)]
    ks = cs = ss = np.empty(0, dtype=np.int64)
    if parts:
        pdf = pd.concat(parts, ignore_index=True)
        ks = pdf["p_partkey"].to_numpy(np.int64)
        cs = pdf["price_cents"].to_numpy(np.int64)
        ss = pdf["p_size"].to_numpy(np.int64)
        if len(fc):
            # rightmost front index with front cents ≤ point cents;
            # clip −1 (no such index) to 0, mask it out via idx ≥ 0
            idx = np.searchsorted(fc, cs, side="right") - 1
            safe = np.clip(idx, 0, None)
            dominated = (idx >= 0) & (
                (fs[safe] < ss)
                | ((fs[safe] == ss) & (fc[safe] < cs))
            )
        else:
            dominated = np.zeros(len(cs), dtype=bool)
        ks, out_c, out_s = ks[~dominated], cs[~dominated], ss[~dominated]
        fc, fs = _staircase(
            np.concatenate([fc, cs]), np.concatenate([fs, ss])
        )
        state.update((fc.tolist(), fs.tolist()))
        cs, ss = out_c, out_s
    yield pd.DataFrame(
        {
            "p_brand": pd.Series([key[0]] * len(ks), dtype=object),
            "p_partkey": ks,
            "price_cents": cs,
            "p_size": ss,
        }
    )


def streaming_skyline_log(
    spark: SparkSession,
    part_dir: str,
    query_name: str = "skyline_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-brand front-candidate log incrementally
    (availableNow here; a production catalog runs unbounded)."""
    # the batch operator's NULL-coordinate contract, applied BEFORE
    # the fold: a row without both measures is not a point (and a NaN
    # reaching the fold's to_numpy(int64) would kill the stream)
    stream = file_stream(
        spark, _PART_DDL, part_dir, max_files_per_trigger
    ).selectExpr(
        "p_brand",
        "p_partkey",
        "CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents",
        "CAST(p_size AS BIGINT) AS p_size",
    ).where("price_cents IS NOT NULL AND p_size IS NOT NULL")
    log = stream.groupBy("p_brand").applyInPandasWithState(
        _skyline_fold, _OUT_DDL, _STATE_DDL, "append", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "append", query_name)


def skyline_from_log(log: DataFrame) -> DataFrame:
    """The standing front: the accumulated candidate rows run through
    the SHARED ``skyline_filter`` brand pass — column-identical to the
    batch operator and the oracle."""
    from dariadb_spark.ext.relational import skyline_filter

    return skyline_filter(
        log.select("p_brand", "p_partkey", "price_cents", "p_size"),
        ["p_brand"],
    ).orderBy("p_brand", "price_cents", "p_size", "p_partkey")


def streaming_skyline_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible stateful-front parity: land the full part table
    in THREE parquet drops cut at the partkey terciles (every brand
    bridges the cuts), fold one file per micro-batch, and report the
    standing front. Oracle = ``PART_SKYLINE_SQL`` — the batch
    definitional dominance test over the same table. No slice: the
    fold has exactly |brands| groups (25 at fixture scale), so
    per-group python overhead is nil regardless of volume."""
    from dariadb_spark.model import load_table

    def land(data_dir: str) -> None:
        sl = load_table(spark, sf_dir, "part").select(
            "p_partkey", "p_brand", "p_size", "p_retailprice"
        )
        with persisted_slice(sl) as part:
            cuts = part.agg(
                F.expr(
                    "percentile_approx(p_partkey, array(0.33, 0.66),"
                    " 10000)"
                ).alias("c")
            ).collect()[0]["c"]
            c1, c2 = int(cuts[0]), int(cuts[1])
            for pred in (
                f"p_partkey <= {c1}",
                f"p_partkey > {c1} AND p_partkey <= {c2}",
                # a NULL partkey fails every range predicate; it rides the
                # last drop so the three cuts partition the WHOLE table
                f"p_partkey > {c2} OR p_partkey IS NULL",
            ):
                part.where(pred).coalesce(1).write.mode("append").parquet(
                    data_dir
                )

    return run_parity(
        spark,
        "skyline_parity",
        land,
        lambda data_dir, qname: streaming_skyline_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        skyline_from_log,
    )
