"""Staging-discipline checker: every name in ``registry.STAGED_NEXT``
must carry the staging kit before it registers — the op callable, the
DuckDB oracle constant and a pytest that references it (membership in
the staged plan pre-pin is checked by
tests/test_plans.py::test_staged_cohort_matches_plan_pin). Run
standalone (exit 1 on gaps) or via
tests/test_plans.py::test_staged_cohort_discipline_is_complete."""

from __future__ import annotations

import importlib
import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = pathlib.Path(__file__).resolve().parent.parent


def check() -> list[str]:
    from dariadb_spark.registry import REGISTRY, STAGED_NEXT

    problems: list[str] = []
    tests_src = "\n".join(
        p.read_text() for p in (REPO / "tests").glob("test_*.py")
    )
    for name, (mod_name, fn_name, oracle_name) in STAGED_NEXT.items():
        if name in REGISTRY:
            problems.append(
                f"{name}: already registered — remove from STAGED_NEXT"
            )
            continue
        try:
            mod = importlib.import_module(mod_name)
        except Exception as exc:  # noqa: BLE001
            problems.append(f"{name}: module {mod_name} import fails: {exc}")
            continue
        fn = getattr(mod, fn_name, None)
        if not callable(fn):
            problems.append(f"{name}: {mod_name}.{fn_name} missing")
        if oracle_name is not None:
            sql = getattr(mod, oracle_name, None)
            if not isinstance(sql, str) or len(sql) < 40:
                problems.append(
                    f"{name}: oracle {mod_name}.{oracle_name} missing/thin"
                )
        if fn_name not in tests_src:
            problems.append(f"{name}: no pytest references {fn_name}")
    return problems


if __name__ == "__main__":
    probs = check()
    for p in probs:
        print(p)
    print(f"{'FAIL' if probs else 'OK'}: {len(probs)} problems")
    sys.exit(1 if probs else 0)
