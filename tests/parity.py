"""Local replica of the driver's Spark-vs-DuckDB oracle compare.

Checks row count, schema (column names) and an order-insensitive value
compare (columns sorted by name, rows sorted by all columns). Floats
compared exactly — the engine/oracle pair is designed to produce
bit-identical values (rounding applied on both sides wherever
accumulation order could differ).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


def ratio_round_ref(a: int, b: int, d: int) -> float:
    """Pure-python reference twin of ``ext.exact.ratio_round_spark``: the
    SAME integer rational, arbitrary-precision (python ints never
    overflow, so this also serves as the wide variants' reference)."""
    p = 10**d
    return ((2 * a * p + b) // (2 * b)) / p


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # Normalize missing values (NaN/None/NaT) to None so Spark's None and
    # DuckDB's NaN compare equal, then row-sort by a repr key that is
    # total over mixed None/str/num columns (rollup/cube emit NULL keys).
    df = df.astype(object).where(pd.notna(df), None)
    if len(df):
        order = sorted(
            range(len(df)), key=lambda i: repr(tuple(df.iloc[i]))
        )
        df = df.iloc[order].reset_index(drop=True)
    return df


@dataclass
class CompareResult:
    name: str
    rows_spark: int
    rows_oracle: int
    ok: bool
    problems: list[str] = field(default_factory=list)


def compare(name: str, spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> CompareResult:
    sp = _canon(spark_df.toPandas())
    du = _canon(con.execute(sql).fetchdf())
    res = CompareResult(name, len(sp), len(du), True)

    if list(sp.columns) != list(du.columns):
        res.ok = False
        res.problems.append(f"schema: spark={list(sp.columns)} oracle={list(du.columns)}")
        return res
    if len(sp) != len(du):
        res.ok = False
        res.problems.append(f"rowcount: spark={len(sp)} oracle={len(du)}")
        return res

    for col in sp.columns:
        a, b = sp[col].tolist(), du[col].tolist()
        for i, (x, y) in enumerate(zip(a, b)):
            if x is None and y is None:
                continue
            # Driver-strict: the driver hashes typed values, so int64 vs
            # float64 (e.g. DuckDB HUGEINT surfacing as float) must FAIL
            # here even though Python's 0 == 0.0. (round-1 escape: two
            # queries shipped green locally and hash-failed at the driver)
            if x is None or y is None or type(x) is not type(y):
                res.ok = False
                res.problems.append(
                    f"{col}[{i}] dtype: spark={type(x).__name__}({x!r}) "
                    f"oracle={type(y).__name__}({y!r})"
                )
                break
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                if x != y:
                    res.ok = False
                    res.problems.append(f"{col}[{i}]: spark={x!r} oracle={y!r}")
                    break
            elif x != y:
                res.ok = False
                res.problems.append(f"{col}[{i}]: spark={x!r} oracle={y!r}")
                break
    return res
