"""Scratch/localize hygiene guards for the streaming parity queries."""

import os

import pytest

from dariadb_spark.streaming.scratch import (
    MAX_LOCALIZED_ROWS,
    localize_and_cleanup,
    parity_stream_partitions,
)
from tests.test_engine import _spark_jobs


def test_localize_returns_rows_and_removes_scratch(spark, tmp_path):
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    (scratch / "marker").write_text("x")
    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    out = localize_and_cleanup(spark, df.orderBy("id"), str(scratch))
    assert [r.v for r in out.collect()] == [0, 2, 4, 6, 8]
    assert not scratch.exists()


def test_localize_keeps_order_schema_and_nulls_without_a_job(spark, tmp_path):
    """The localized copy is an Arrow LocalRelation: same rows in the same
    order, same schema (nullability included), nulls intact, and a
    ``collect`` that runs no Spark job."""
    scratch = tmp_path / "scratch_arrow"
    scratch.mkdir()
    df = spark.sql(
        "SELECT id, IF(id % 3 = 0, NULL, id * 1.5) AS v, "
        "IF(id % 2 = 0, NULL, concat('s', id)) AS s, "
        "CAST(timestamp_micros(id * 1000000) AS TIMESTAMP_NTZ) AS ts, "
        "array(id, NULL) AS arr FROM range(12) ORDER BY id DESC"
    )
    want = df.collect()
    out = localize_and_cleanup(spark, df, str(scratch))
    assert out.schema == df.schema
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    got = []
    assert _spark_jobs(spark, lambda: got.extend(out.collect())) == 0
    assert got == want
    assert [r.id for r in got] == list(range(11, -1, -1))
    assert got[2].v is None and got[1].s is None and got[0].arr == [11, None]
    assert not scratch.exists()


def test_localize_rejects_oversized_frame(spark, tmp_path):
    """A result beyond the ceiling must raise loudly — and the limit
    bounds what is fetched, so the failure is a clean ValueError, not a
    driver OOM."""
    scratch = tmp_path / "scratch2"
    scratch.mkdir()
    big = spark.range(50)  # ceiling shrunk via max_rows for test speed
    with pytest.raises(ValueError, match="exceeds 10 rows"):
        localize_and_cleanup(spark, big, str(scratch), max_rows=10)
    # cleanup still ran despite the raise
    assert not scratch.exists()
    assert MAX_LOCALIZED_ROWS == 100_000  # documented production ceiling


def test_localize_drops_sink_view(spark, tmp_path):
    scratch = tmp_path / "scratch3"
    scratch.mkdir()
    spark.range(3).createOrReplaceTempView("localize_guard_view")
    localize_and_cleanup(
        spark, spark.range(3), str(scratch), "localize_guard_view"
    )
    assert not spark.catalog.tableExists("localize_guard_view")


def test_parity_stream_partitions_scopes_and_restores(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with parity_stream_partitions(spark, 4):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # restored even when the body raises
    with pytest.raises(RuntimeError):
        with parity_stream_partitions(spark, 4):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
