"""Stateful calendar-mix maintenance — the streaming twin of
``ext_orders_seasonality`` (ext/relational.py).

A demand planner wants the month-of-year mix LIVE as orders land. The
mix is sums over (month, count, cents) facts — commutative-class in
the fold-contract taxonomy (tests/test_fold_contracts.py): per-month
count/cents addition is order-insensitive over the input multiset, so
there is NO in-order
contract by construction (like the OHLC bar merge and unlike the
LWW/sequence folds). State per month is TWO int64s — twelve groups
total, the tightest state bound of any stateful twin in the repo.

Cents are rounded HALF-UP in the Spark projection BEFORE the fold
(as in the LTV twin: numpy's banker's rounding diverges from
Spark/DuckDB ``round`` on exact .5 cents), and the month
comes from Spark's own ``month()`` so both engines bin identically.

Each trigger EMITS the standing per-month row (update mode); the
report finishes through the SHARED ``seasonality_report`` projection —
column-identical to the batch operator and the oracle.

Scale: state is 12 × 2 int64s regardless of throughput; per-batch work
is one 12-key shuffle + an O(batch) Arrow fold; the finish aggregates
a 12-row table.
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

_ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,"
    " o_orderdate TIMESTAMP"
)

#: standing per-month row — seasonality_report's input shape
_OUT_DDL = "month INT, n_orders BIGINT, cents BIGINT"

_STATE_DDL = "n BIGINT, cents BIGINT"


def _season_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-month fold: add the batch slice's count and cents into the
    standing pair and emit the updated row. Commutative — exact int64
    sums, no ordering read anywhere."""
    if state.exists:
        n, cents = state.get
    else:
        n, cents = 0, 0
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += int(len(pdf))
        # per-batch cent sums stay far inside int64 (month revenue at
        # 10⁶-cent orders needs ~10¹² orders to threaten 2⁶³), but the
        # running total must fail LOUD like the batch twin's ANSI sum,
        # never wrap (the burst.py convention) — numpy's int64 sum is
        # exact here because the batch is bounded; the standing total
        # is re-checked each trigger
        cents += int(pdf["cents"].to_numpy(np.int64).sum())
    if not (0 <= n < 2**63 and -(2**63) <= cents < 2**63):
        raise OverflowError(
            f"seasonality fold: accumulator overflow for month "
            f"{key[0]} — n={n}, cents={cents} exceed the int64 state "
            "envelope (the fold is STRICTER than the non-ANSI batch "
            "twin, whose sum would wrap silently past int64)"
        )
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "month": np.array([key[0]], dtype=np.int32),
            "n_orders": np.array([n], dtype=np.int64),
            "cents": np.array([cents], dtype=np.int64),
        }
    )


def streaming_seasonality_state(
    spark: SparkSession,
    orders_dir: str,
    query_name: str = "season_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-month (count, cents) pairs incrementally
    (availableNow here; a production dashboard runs unbounded)."""
    stream = file_stream(
        spark, _ORDERS_DDL, orders_dir, max_files_per_trigger
    ).selectExpr(
        "month(o_orderdate) AS month",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
    )
    live = stream.groupBy("month").applyInPandasWithState(
        _season_fold, _OUT_DDL, _STATE_DDL, "update", GroupStateTimeout.NoTimeout
    )
    return to_memory(live, "update", query_name)


def seasonality_from_state(standing: DataFrame) -> DataFrame:
    """The standing mix: the LATEST per-month row (the memory sink
    holds one row per trigger per updated group; n_orders is monotone,
    so max selects the newest — the burst_from_log convention) run
    through the SHARED ``seasonality_report`` projection —
    column-identical to the batch operator and the oracle."""
    from pyspark.sql import Window

    from dariadb_spark.ext.relational import seasonality_report

    w = Window.partitionBy("month").orderBy(F.desc("n_orders"))
    latest = (
        standing.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("month", "n_orders", "cents")
    )
    return seasonality_report(latest)


def streaming_seasonality_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible stateful-mix parity: land the full orders table
    in THREE parquet drops cut at the order-date terciles (every month
    group bridges the cuts), fold one file per micro-batch, and report
    the standing mix. Oracle = ``ORDERS_SEASONALITY_SQL`` — the batch
    mix over the same table. No slice: the fold has exactly 12 groups,
    so per-group python overhead is nil regardless of volume."""
    from dariadb_spark.model import load_table

    def land(data_dir: str) -> None:
        sl = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
        )
        with persisted_slice(sl) as orders:
            cuts = orders.agg(
            F.expr(
                    "percentile_approx(unix_millis(CAST(o_orderdate AS"
                    " TIMESTAMP)), array(0.33, 0.66), 10000)"
                ).alias("c")
            ).collect()[0]["c"]
            c1, c2 = int(cuts[0]), int(cuts[1])
            ms = "unix_millis(CAST(o_orderdate AS TIMESTAMP))"
            for pred in (
                f"{ms} <= {c1}",
                f"{ms} > {c1} AND {ms} <= {c2}",
                f"{ms} > {c2}",
            ):
                orders.where(pred).coalesce(1).write.mode("append").parquet(
                    data_dir
                )

    return run_parity(
        spark,
        "season_parity",
        land,
        lambda data_dir, qname: streaming_seasonality_state(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        seasonality_from_state,
    )
