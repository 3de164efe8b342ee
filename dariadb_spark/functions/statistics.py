"""Statistic-function registry — reference ``statistic/calculator.h``
(class Calculator / FunctionFactory, IFunction impls: average, median,
percentile90, percentile99, sigma, minimum, maximum, count, sum).

The reference evaluates functions requested *by name* over one series'
interval, silently ignoring unknown names (Calculator::apply). Here each
name maps to a pair of equivalent expressions:

* a Spark ``Column`` aggregate (JVM-side, whole-stage-codegen'd), and
* the DuckDB SQL rendering used by the correctness oracle,

so the registry is the single source of truth for both engines.

Definition pins (unverifiable against the empty reference checkout,
SURVEY.md §7.3):
* percentiles/median — continuous (linear) interpolation: Spark exact
  ``percentile()`` == DuckDB ``quantile_cont()``;
* sigma — population standard deviation (``stddev_pop`` both sides);
* accumulation-order-sensitive results rounded to 4 decimals both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dariadb_spark.model import (
    flag_predicate,
    ids_predicate,
    pushdown_time_bounds,
    sort_result,
)

ROUND = 4


def _r(col: Column) -> Column:
    return F.round(col, ROUND)


#: name → (spark aggregate over `value`, duckdb aggregate SQL over `value`)
FUNCTION_REGISTRY: dict[str, tuple[Callable[[], Column], str]] = {
    # average as round(sum,6)/count, NOT round(avg,4): fixture values are
    # 2-decimal so true means land exactly on .xxxx5 rounding boundaries,
    # where Spark (HALF_UP on shortest decimal repr) and DuckDB (binary
    # rounding) disagree. The rounded sum is bit-identical across engines
    # and IEEE division is deterministic → exact float equality.
    "average": (
        lambda: F.round(F.sum("value"), 6) / F.count("value"),
        "(round(sum(value), 6) / count(value))",
    ),
    "median": (
        lambda: _r(F.expr("percentile(value, 0.5)")),
        f"round(quantile_cont(value, 0.5), {ROUND})",
    ),
    "percentile90": (
        lambda: _r(F.expr("percentile(value, 0.9)")),
        f"round(quantile_cont(value, 0.9), {ROUND})",
    ),
    "percentile99": (
        lambda: _r(F.expr("percentile(value, 0.99)")),
        f"round(quantile_cont(value, 0.99), {ROUND})",
    ),
    "sigma": (lambda: _r(F.stddev_pop("value")), f"round(stddev_pop(value), {ROUND})"),
    "minimum": (lambda: F.min("value"), "min(value)"),
    "maximum": (lambda: F.max("value"), "max(value)"),
    "count": (lambda: F.count("value"), "count(value)"),
    "sum": (lambda: _r(F.sum("value")), f"round(sum(value), {ROUND})"),
}


def function_names() -> list[str]:
    return list(FUNCTION_REGISTRY)


def apply_functions(
    meas: DataFrame,
    names: list[str],
    ids: list[int] | None,
    from_ms: int,
    to_ms: int,
    flag: int = 0,
) -> DataFrame:
    """Per-series evaluation of the named statistic functions over a closed
    interval. Unknown names are ignored (Calculator semantics). One output
    column per function, aliased by function name."""
    known = [n for n in names if n in FUNCTION_REGISTRY]
    if not known:
        raise ValueError(f"no known statistic functions in {names!r}")
    aggs = [FUNCTION_REGISTRY[n][0]().alias(n) for n in known]
    agg = (
        meas.where(
            ids_predicate(ids)
            & pushdown_time_bounds(meas, from_ms, to_ms)
            & flag_predicate(flag)
        )
        .groupBy("id")
        .agg(*aggs)
    )
    return sort_result(agg, ids, "id")
