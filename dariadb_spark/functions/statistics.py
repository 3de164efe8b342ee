"""Statistic-function registry — reference ``statistic/calculator.h``
(class Calculator / FunctionFactory, IFunction impls: average, median,
percentile90, percentile99, sigma, minimum, maximum, count, sum).

The reference evaluates functions requested *by name* over one series'
interval, silently ignoring unknown names (Calculator::apply). Here each
name maps to a pair of equivalent aggregate texts:

* the Spark SQL rendering, used by :func:`apply_functions` and (through
  ``F.expr``) by ``downsample_to_series``, and
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

from pyspark.sql import DataFrame

from dariadb_spark.model import scan_predicate_sql, verb_sql

ROUND = 4


#: name → (Spark SQL aggregate over `value`, DuckDB aggregate over `value`)
FUNCTION_REGISTRY: dict[str, tuple[str, str]] = {
    # average as round(sum,6)/count, NOT round(avg,4): fixture values are
    # 2-decimal so true means land exactly on .xxxx5 rounding boundaries,
    # where Spark (HALF_UP on shortest decimal repr) and DuckDB (binary
    # rounding) disagree. The rounded sum is bit-identical across engines
    # and IEEE division is deterministic → exact float equality.
    "average": (
        "(round(sum(value), 6) / count(value))",
        "(round(sum(value), 6) / count(value))",
    ),
    "median": (
        f"round(percentile(value, 0.5), {ROUND})",
        f"round(quantile_cont(value, 0.5), {ROUND})",
    ),
    "percentile90": (
        f"round(percentile(value, 0.9), {ROUND})",
        f"round(quantile_cont(value, 0.9), {ROUND})",
    ),
    "percentile99": (
        f"round(percentile(value, 0.99), {ROUND})",
        f"round(quantile_cont(value, 0.99), {ROUND})",
    ),
    "sigma": (
        f"round(stddev_pop(value), {ROUND})",
        f"round(stddev_pop(value), {ROUND})",
    ),
    "minimum": ("min(value)", "min(value)"),
    "maximum": ("max(value)", "max(value)"),
    "count": ("count(value)", "count(value)"),
    "sum": (f"round(sum(value), {ROUND})", f"round(sum(value), {ROUND})"),
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
    column per function, aliased by function name.

    Plan shape: one SQL statement (:func:`~dariadb_spark.model.verb_sql`),
    filter → ``GROUP BY id`` with every function's aggregate; only
    registry names reach the text. With ``ids`` given the answer is
    gathered into one partition and sorted there (``COALESCE(1)`` +
    ``SORT BY``); ``ids=None`` keeps the global ``ORDER BY``."""
    known = [n for n in names if n in FUNCTION_REGISTRY]
    if not known:
        raise ValueError(f"no known statistic functions in {names!r}")
    aggs = ", ".join(f"{FUNCTION_REGISTRY[n][0]} AS {n}" for n in known)
    return verb_sql(
        meas,
        f"id, {aggs} FROM {{m}} WHERE "
        f"{scan_predicate_sql(meas, ids, from_ms, to_ms, flag)} GROUP BY id",
        bool(ids),
        "id",
    )
