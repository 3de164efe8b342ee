"""Fixed per-query costs of the shared fixture helpers (model.py): a
fixture read infers its schema once per file version, driver-side rows
enter Spark only through ``model.local_frame``, a warm registered
scan runs no job beyond its shuffle and result, and a warm funnel
latency query runs at most six."""

from __future__ import annotations

import ast
import os
import pathlib
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import dariadb_spark
from dariadb_spark.model import (
    flag_predicate_sql,
    load_table,
    parquet_schema,
    pushdown_time_bounds,
)
from dariadb_spark.registry import REGISTRY
from tests.test_engine import _spark_jobs

PKG = pathlib.Path(dariadb_spark.__file__).parent


def test_load_table_passes_the_inferred_schema(spark, sf_dir):
    names = sorted(p.stem for p in pathlib.Path(sf_dir).glob("*.parquet"))
    assert names
    for name in names:
        path = f"{sf_dir}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        assert parquet_schema(spark, path) == inferred, name
        assert load_table(spark, sf_dir, name).schema == inferred, name


def test_second_load_table_runs_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "events")
    assert _spark_jobs(spark, lambda: load_table(spark, sf_dir, "events")) == 0


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), path)
    assert dict(load_table(spark, str(tmp_path), "t").dtypes) == {"a": "bigint"}
    mtime = os.stat(path).st_mtime_ns
    pq.write_table(pa.table({"a": pa.array(["x", "yz"])}), path)
    os.utime(path, ns=(mtime + 1_000_000, mtime + 1_000_000))
    df = load_table(spark, str(tmp_path), "t")
    assert dict(df.dtypes) == {"a": "string"}
    assert [r.a for r in df.collect()] == ["x", "yz"]


def test_changed_inference_conf_is_inferred_again(spark, tmp_path):
    pq.write_table(
        pa.table({"ts": pa.array([time.time_ns() // 1000], pa.timestamp("us"))}),
        tmp_path / "t.parquet",
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["ts"] == "timestamp_ntz"
        spark.conf.set(key, "false")
        assert dict(load_table(spark, str(tmp_path), "t").dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(key, prev)


def test_create_dataframe_only_in_local_frame():
    """Driver-side rows become a frame in one place, as an Arrow
    LocalRelation: a frame built from Python rows starts Python workers
    for every later action."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    found.append((path.relative_to(PKG).as_posix(), fn.name))
    # a call outside any function would escape the walk above
    text_hits = sum(p.read_text().count("createDataFrame(") for p in PKG.rglob("*.py"))
    assert found == [("model.py", "local_frame")]
    assert text_hits == 1


def test_warm_interval_scan_runs_two_jobs(spark, sf_dir):
    """Shuffle and result: no schema-inference job once the fixture's
    schema is known."""
    fn = REGISTRY["interval_scan"].fn
    fn(spark, sf_dir).toPandas()
    assert _spark_jobs(spark, lambda: fn(spark, sf_dir).toPandas()) == 2


def test_warm_funnel_latency_runs_at_most_six_jobs(spark, oracle_sf_dir):
    """The three stage times share one ``id`` partitioning and the
    per-transition statistics are one aggregate: the localCheckpoint's
    jobs, then the rank window's and the result's."""
    fn = REGISTRY["ext_funnel_latency"].fn
    fn(spark, oracle_sf_dir).toPandas()
    assert _spark_jobs(spark, lambda: fn(spark, oracle_sf_dir).toPandas()) <= 6


def test_predicate_text_rejects_non_numbers(spark):
    """Predicates are SQL text, and flag and bounds can come off the
    wire: a non-number raises instead of landing in the expression."""
    assert flag_predicate_sql(4) == "((flag & 4) = 4)"
    with pytest.raises(TypeError):
        flag_predicate_sql("1) OR (TRUE")
    meas = spark.range(1).selectExpr("id", "id AS time")
    with pytest.raises(TypeError):
        pushdown_time_bounds(meas, "0 OR TRUE", None)
