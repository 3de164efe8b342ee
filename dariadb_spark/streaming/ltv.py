"""Stateful cohort-LTV maintenance — the streaming twin of
``ext_orders_cohort_ltv`` (ext/relational.py).

A growth dashboard wants the LTV curve LIVE as orders land. The curve
is sums over (cohort, age, customer, cents) facts, and a customer's
cohort is its FIRST order's year — a value that is only stable if
orders arrive date-ordered per customer. So the fold carries the
in-order contract (the fold-contract taxonomy of
tests/test_fold_contracts.py): state per customer is TWO int64s
(cohort year + the last (epoch-day, orderkey) order key packed as two
fields); a later micro-batch whose first order sorts strictly before
the standing key raises (an earlier date would rewrite the cohort
retroactively — exactly the corruption the contract exists to refuse);
an exact-duplicate key is an in-order sample (no dedup in the batch
operator: duplicate order rows are revenue there too).

Each batch EMITS delta rows (o_custkey, cohort_year, age_years, cents)
— the same shape the batch operator's ``tagged`` intermediate has — in
append mode, and the standing delta log finishes through the SHARED
``ltv_curve`` projection: exact distinct-customer counts survive
because custkey rides every delta row, and int64 cents sums commute.

Scale: state is O(customers) × 4 int64s; per-batch work is linear in
the batch; the finish aggregates the delta log, which is at most
(customers × ages) rows after in-batch pre-aggregation.
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
    land_sorted,
    persisted_slice,
    run_parity,
    to_memory,
)

_ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,"
    " o_orderdate TIMESTAMP"
)

#: per-batch delta rows — ltv_curve's input shape
_OUT_DDL = (
    "o_custkey BIGINT, cohort_year INT, age_years INT, cents BIGINT"
)

#: cohort year + the tie-safe last order key (epoch day, orderkey)
_STATE_DDL = "cohort_year BIGINT, last_day BIGINT, last_key BIGINT"


def _ltv_fold(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-customer fold: sort the batch by (orderdate, orderkey),
    enforce the cross-batch in-order contract, tag each order with
    (cohort, age), and emit the per-age cents deltas."""
    if state.exists:
        cohort, last_day, last_key = state.get
    else:
        cohort, last_day, last_key = None, None, None
    parts = [p for p in pdfs if len(p)]
    if not parts:
        yield pd.DataFrame(
            {
                "o_custkey": pd.Series([], dtype=np.int64),
                "cohort_year": pd.Series([], dtype=np.int32),
                "age_years": pd.Series([], dtype=np.int32),
                "cents": pd.Series([], dtype=np.int64),
            }
        )
        return
    pdf = pd.concat(parts, ignore_index=True)
    d = pdf["o_orderdate"]
    days = (d.values.astype("datetime64[D]").astype(np.int64))
    years = pd.DatetimeIndex(d).year.to_numpy(np.int64)
    keys = pdf["o_orderkey"].to_numpy(np.int64)
    # cents arrive pre-rounded from the Spark projection (HALF-UP
    # ``round`` — numpy's banker's rounding would diverge on exact
    # .5 cents, same guard as levelshift/turning).
    cents = pdf["cents"].to_numpy(np.int64)
    order = np.lexsort((keys, days))
    days, years, keys, cents = (
        days[order], years[order], keys[order], cents[order]
    )
    if last_day is not None and (
        (int(days[0]), int(keys[0])) < (int(last_day), int(last_key))
    ):
        # Strictly-before would rewrite the cohort retroactively; an
        # exact-duplicate order key is an in-order sample (module
        # docstring).
        raise ValueError(
            f"ltv fold: order (cust={key[0]}, key={int(keys[0])}) sorts "
            f"before the standing last order (day={int(last_day)}); "
            "cross-batch out-of-order input violates the in-order "
            "ingest contract"
        )
    if cohort is None:
        cohort = int(years[0])
    ages = years - cohort
    agg: dict[int, int] = {}
    for a, c in zip(ages, cents):
        agg[int(a)] = agg.get(int(a), 0) + int(c)
    state.update((int(cohort), int(days[-1]), int(keys[-1])))
    items = sorted(agg.items())
    yield pd.DataFrame(
        {
            "o_custkey": np.full(len(items), key[0], dtype=np.int64),
            "cohort_year": np.array(
                [cohort] * len(items), dtype=np.int32
            ),
            "age_years": np.array([a for a, _ in items], dtype=np.int32),
            "cents": np.array([c for _, c in items], dtype=np.int64),
        }
    )


def streaming_ltv_log(
    spark: SparkSession,
    orders_dir: str,
    query_name: str = "ltv_log",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the per-customer cohort/age delta log incrementally
    (availableNow here; a production dashboard runs unbounded)."""
    stream = file_stream(
        spark, _ORDERS_DDL, orders_dir, max_files_per_trigger
    ).selectExpr(
        "o_orderkey",
        "o_custkey",
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents",
        "o_orderdate",
    )
    log = stream.groupBy("o_custkey").applyInPandasWithState(
        _ltv_fold, _OUT_DDL, _STATE_DDL, "append", GroupStateTimeout.NoTimeout
    )
    return to_memory(log, "append", query_name)


def ltv_from_log(log: DataFrame) -> DataFrame:
    """The standing curve: the accumulated delta rows run through the
    SHARED ``ltv_curve`` projection — column-identical to the batch
    operator and the oracle."""
    from dariadb_spark.ext.relational import ltv_curve

    return ltv_curve(
        log.select("cohort_year", "age_years", "o_custkey", "cents")
    )


def streaming_ltv_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible stateful-curve parity: land a 1-in-LTV_PARITY_MOD
    customer slice of the orders table in THREE parquet drops cut at
    the order-date terciles (the cohort assignment must bridge both
    cuts), fold one file per micro-batch, and report the standing
    curve. Oracle = ``ORDERS_COHORT_LTV_PARITY_SQL`` — the batch curve
    SQL over the SAME slice (the IDS-slice convention every stateful
    parity row uses: fold cost is per-group python overhead, so the
    slice measures the operator, not the harness; the 2M-row stress
    covers volume)."""
    from dariadb_spark.ext.relational import (
        LTV_PARITY_MOD,
        LTV_PARITY_RESIDUE,
    )
    from dariadb_spark.model import load_table

    def land(data_dir: str) -> None:
        sl = load_table(spark, sf_dir, "orders").where(
            f"o_custkey % {LTV_PARITY_MOD} = {LTV_PARITY_RESIDUE}"
        ).select(
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
            for i, pred in enumerate((
                f"{ms} <= {c1}",
                f"{ms} > {c1} AND {ms} <= {c2}",
                f"{ms} > {c2}",
            )):
                land_sorted(
                    orders.where(pred), data_dir,
                    ("o_custkey", "o_orderdate", "o_orderkey"),
                    # first drop error-if-exists: a stale dir fails loudly
                    mode="append" if i else "error",
                )

    # 32 partitions: ~750 customer groups per batch — the fold's cost is
    # per-group python overhead, so the state layer is sized to group
    # cardinality, not the 15-series parity default (at sf0.1
    # best-of-3: 5.94 s at n=4 vs 5.40 s at 32; explicit so an
    # externally-built session's default, e.g. 200, cannot schedule 200
    # near-empty state tasks per batch)
    return run_parity(
        spark,
        "ltv_parity",
        land,
        lambda data_dir, qname: streaming_ltv_log(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        ltv_from_log,
        partitions=32,
    )
