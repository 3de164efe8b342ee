"""Engine-exact HALF_UP rounding of INTEGER ratios — a LEAF module (no
registry import), usable from any ext module without the import cycle.

``round(a / b, d)`` on an exact integer ratio is the one place Spark's
and DuckDB's ``round()`` can disagree: when a/b is a true NON-DYADIC
decimal half at digit d+1 (possible only when the reduced denominator
divides 2·10^d and carries a factor of 5), the nearest IEEE double sits
off the half — Spark rounds the double's SHORTEST DECIMAL
REPRESENTATION (``BigDecimal.valueOf``: the half goes UP) while DuckDB
and Python round the BINARY value (typically DOWN). Dyadic halves
(pure power-of-two denominators, e.g. 27/32) are binary-exact and both
engines round them away from zero identically; and a FLOAT-expression
result (ln/exp/sqrt/score sums) can never be a non-dyadic decimal half
exactly, so ``round(float_expr, d)`` remains the established safe
recipe. The flip is therefore confined to exact-integer quotients —
hypothesis found it live in ``quality_calibrate``'s mean
(sum/1e6/n at n=2 → 0.5893335: Spark 0.589334, DuckDB 0.589333).

The closure: HALF_UP(a/b, d) = (2·a·10^d + b) ⌊÷⌋ (2·b), all int64,
then ONE division by 10^d — the result is a d-dp grid value both
engines render identically. NULL propagates like the float form; a must be
NON-NEGATIVE and b positive (integer division truncation differs
between engines for negative operands — the signed variants below
decompose by sign; every call site guards these by construction).

Overflow bound: 2·a·10^d must fit int64, i.e. a ≤ ~4.6·10^(18-d-1);
for d=6 that is a ≤ 4.6e12 — numerators beyond that (corpus-total
token counts past roughly 18 TB of text) pre-scale to kilo-units, the
``token_budget_plan`` convention. DuckDB's HUGEINT sums give the
oracle twice the headroom for free.
"""

from __future__ import annotations


def ratio_round_spark(a: str, b: str, d: int) -> str:
    """Spark SQL expression for HALF_UP(a / b, d) over integer exprs."""
    p = 10**d
    return f"(((2 * ({a}) * {p} + ({b})) DIV (2 * ({b}))) / {p}.0d)"


def ratio_round_duck(a: str, b: str, d: int) -> str:
    """DuckDB SQL expression for HALF_UP(a / b, d) over integer exprs."""
    p = 10**d
    return f"(((2 * ({a}) * {p} + ({b})) // (2 * ({b}))) / {p}.0)"


def ratio_round_signed_spark(a: str, b: str, d: int) -> str:
    """Spark SQL for HALF_UP(a / b, d) where ``a`` may be NEGATIVE
    (b still > 0). HALF_UP rounds halves AWAY FROM ZERO, while Spark's
    ``DIV`` and DuckDB's ``//`` both truncate TOWARD zero (verified on
    DuckDB 1.0: -7 // 2 = -3) — so the signed form must decompose by
    sign explicitly to land on away-from-zero halves; the unsigned
    helpers above are only valid for a ≥ 0."""
    p = 10**d
    mag = f"((2 * abs({a}) * {p} + ({b})) DIV (2 * ({b})))"
    return (
        f"((CASE WHEN ({a}) < 0 THEN -{mag} ELSE {mag} END) / {p}.0d)"
    )


def ratio_round_signed_duck(a: str, b: str, d: int) -> str:
    """DuckDB twin of :func:`ratio_round_signed_spark`."""
    p = 10**d
    mag = f"((2 * abs({a}) * {p} + ({b})) // (2 * ({b})))"
    return f"((CASE WHEN ({a}) < 0 THEN -{mag} ELSE {mag} END) / {p}.0)"


def ratio_round_wide_spark(a: str, b: str, d: int) -> str:
    """Spark twin of :func:`ratio_round_spark` for numerators past the
    int64 bound (a·2·10^d can reach ~1e20, e.g. the χ² sum of squares):
    the product runs in DECIMAL(38, 0); ``DIV`` on decimals returns the
    BIGINT integral part, so the quotient must still fit int64 (every
    call site's OUTPUT is human-scale even when the numerator is not)."""
    p = 10**d
    return (
        f"((2 * CAST(({a}) AS DECIMAL(38, 0)) * {p} + ({b}))"
        f" DIV (2 * ({b})) / {p}.0d)"
    )


def ratio_round_wide_duck(a: str, b: str, d: int) -> str:
    """DuckDB twin of :func:`ratio_round_wide_spark` (HUGEINT)."""
    p = 10**d
    return (
        f"(((2 * CAST(({a}) AS HUGEINT) * {p} + ({b}))"
        f" // (2 * ({b}))) / {p}.0)"
    )


def ratio_round_signed_wide_spark(a: str, b: str, d: int) -> str:
    """Spark SQL for HALF_UP(a / b, d) where ``a`` may be NEGATIVE and
    2·|a|·10^d outgrows int64 (b still > 0, int64): the signed
    decomposition of :func:`ratio_round_signed_spark` with the wide
    DECIMAL(38, 0) magnitude of :func:`ratio_round_wide_spark` — the
    integral quotient must still fit int64 (call-site outputs are
    human-scale)."""
    p = 10**d
    mag = (
        f"((2 * CAST(abs({a}) AS DECIMAL(38, 0)) * {p} + ({b}))"
        f" DIV (2 * ({b})))"
    )
    return f"((CASE WHEN ({a}) < 0 THEN -{mag} ELSE {mag} END) / {p}.0d)"


def ratio_round_signed_wide_duck(a: str, b: str, d: int) -> str:
    """DuckDB twin of :func:`ratio_round_signed_wide_spark` (HUGEINT)."""
    p = 10**d
    mag = (
        f"((2 * CAST(abs({a}) AS HUGEINT) * {p} + ({b})) // (2 * ({b})))"
    )
    return f"((CASE WHEN ({a}) < 0 THEN -{mag} ELSE {mag} END) / {p}.0)"


# --- self-guarding closure (round 12, VERDICT r11 item 5) ------------------
# The narrow int64 closure above silently wraps past its ceiling (a
# ~ 4.6e12 at d=6 — corpus-total token counts around 18 TB of text),
# and "pre-scale to kilo-units" was a per-call-site convention. The
# guarded forms below make the swap AUTOMATIC: one branch on the exact
# ceiling picks the narrow int64 expression (whole-stage-codegen'd
# integer math, the common case) or the wide DECIMAL(38)/HUGEINT
# expression (both operands cast wide — correct to ~1e37) per ROW, so a
# 100 TB run scales cleanly instead of corrupting quotients, with zero
# cost to fixture-scale plans beyond a constant comparison. Operators
# whose numerators grow with corpus size (token_budget_plan's epoch and
# share quotients first) use these; operators with structurally bounded
# numerators (micro-int scores, percentages) keep the narrow form.


def ratio_ceiling(d: int) -> int:
    """Largest value C such that a, b <= C guarantees the narrow int64
    closure cannot overflow: 2*a*10^d + b <= C*(2*10^d + 1) <= 2^63-1,
    and 2*b <= 2^63-1 follows a fortiori."""
    return (2**63 - 1) // (2 * 10**d + 1)


def ratio_round_guarded_spark(a: str, b: str, d: int) -> str:
    """Spark SQL for HALF_UP(a / b, d) with the AUTOMATIC wide swap:
    narrow int64 arithmetic inside the ceiling, DECIMAL(38, 0) on both
    operands beyond it. a >= 0, b > 0 as in the narrow form."""
    c = ratio_ceiling(d)
    p = 10**d
    wide = (
        f"((2 * CAST(({a}) AS DECIMAL(38, 0)) * {p}"
        f" + CAST(({b}) AS DECIMAL(38, 0)))"
        f" DIV (2 * CAST(({b}) AS DECIMAL(38, 0))) / {p}.0d)"
    )
    return (
        f"(CASE WHEN ({a}) <= {c} AND ({b}) <= {c}"
        f" THEN {ratio_round_spark(a, b, d)} ELSE {wide} END)"
    )


def ratio_round_guarded_duck(a: str, b: str, d: int) -> str:
    """DuckDB twin of :func:`ratio_round_guarded_spark` (HUGEINT)."""
    c = ratio_ceiling(d)
    p = 10**d
    wide = (
        f"(((2 * CAST(({a}) AS HUGEINT) * {p}"
        f" + CAST(({b}) AS HUGEINT))"
        f" // (2 * CAST(({b}) AS HUGEINT))) / {p}.0)"
    )
    return (
        f"(CASE WHEN ({a}) <= {c} AND ({b}) <= {c}"
        f" THEN {ratio_round_duck(a, b, d)} ELSE {wide} END)"
    )


# --- finite-int64 screen guard (round 17, VERDICT r16 item 6) --------------
# The Benford class (r15 review + r16 advice) promoted to a shared
# helper. Two hazards, both probed and pinned by test_exact_guard.py:
# (1) ``CAST(double AS BIGINT)`` on NaN/±Inf/|x|≥int64-max — DuckDB
# always raises; Spark raises under ANSI (the Spark 4 default and this
# engine's session config) but silently saturates on a non-ANSI
# deployment; (2) worse, Spark's ``floor(double)`` RETURNS BIGINT and
# saturates silently EVEN UNDER ANSI (NaN→0, -Inf→int64-min,
# 1e21→int64-max) while DuckDB's floor stays DOUBLE and the downstream
# cast raises — so a floor-then-bucket screen fabricates buckets on
# one engine and dies on the other.
#
# CLASS DECISION (pinned by tests/test_exact_guard.py):
#   * data-quality SCREENS over arbitrary input (Benford, the value
#     histogram) get this guard on BOTH engines — a screen must
#     tolerate doctored data, not die on it, and must filter it
#     IDENTICALLY on both engines (and identically whether or not the
#     deployment runs ANSI);
#   * revenue/BI AGGREGATES on the money rule (the
#     ``CAST(round(price * 100) AS BIGINT)`` cents recipe) do NOT
#     silently filter — dropping a row from a revenue sum is worse
#     than failing. Inside the |price| < 9.2e16 envelope both engines
#     agree exactly (identical double round, identical int64 cast);
#     past it BOTH raise (duck always, Spark via ANSI) — the
#     fail-identically contract, pinned by
#     test_cents_recipe_envelope_and_identical_failure.

#: largest double magnitude safely castable to BIGINT on both engines
FINITE_INT64 = 9.2e18


def finite_int64_pred(expr: str) -> str:
    """Engine-shared SQL predicate: ``expr`` is a non-NaN finite double
    whose magnitude fits int64. Textually identical in Spark and DuckDB
    (both have isnan(); both order NaN above every number, so the abs
    comparison alone already rejects NaN/±Inf — the isnan clause is
    belt-and-braces and keeps the intent readable)."""
    return f"((NOT isnan({expr})) AND abs({expr}) < {FINITE_INT64:.1e})"
