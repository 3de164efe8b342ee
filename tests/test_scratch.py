"""Scratch/localize hygiene guards and the shared parity driver of the
streaming parity queries."""

import glob
import tempfile

import pytest

from dariadb_spark.streaming.scratch import (
    MAX_LOCALIZED_ROWS,
    localize_and_cleanup,
    parity_stream_partitions,
    scratch_dir,
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


# --- run_parity: the shared parity driver ----------------------------------

_MEAS_DDL = "id BIGINT, time BIGINT, value DOUBLE, flag BIGINT"


def _land_six_rows(spark):
    def land(data_dir):
        spark.range(6).selectExpr(
            "id % 2 AS id", "id AS time", "CAST(id AS DOUBLE) AS value",
            "0L AS flag",
        ).coalesce(1).write.parquet(data_dir)

    return land


def _drive(spark, name, land, start, finish, **kw):
    """Run ``run_parity`` with ``start`` wrapped to record the query name
    it was handed; return (result or raised exception, query names)."""
    from dariadb_spark.streaming.scratch import run_parity

    qnames = []

    def recording_start(data_dir, qname):
        qnames.append(qname)
        return start(data_dir, qname)

    try:
        out = run_parity(
            spark, name, land, recording_start, finish, partitions=3, **kw
        )
    except Exception as exc:  # noqa: BLE001 — the caller asserts on it
        out = exc
    return out, qnames


def _assert_clean(spark, name, qnames, prev_partitions):
    assert glob.glob(f"{tempfile.gettempdir()}/dariadb_{name}_*") == []
    for qname in qnames:
        assert not spark.catalog.tableExists(qname)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_partitions


def test_run_parity_returns_localized_rows_and_cleans_up(spark):
    from dariadb_spark.streaming.scratch import file_stream, to_memory

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out, qnames = _drive(
        spark,
        "harness_ok",
        _land_six_rows(spark),
        lambda data_dir, qname: to_memory(
            file_stream(spark, _MEAS_DDL, data_dir, 1).groupBy("id").count(),
            "complete",
            qname,
        ),
        lambda sink: sink.orderBy("id"),
    )
    assert [tuple(r) for r in out.collect()] == [(0, 3), (1, 3)]
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()
    assert len(qnames) == 1 and qnames[0].startswith("harness_ok_")
    _assert_clean(spark, "harness_ok", qnames, prev)


def test_run_parity_cleans_up_when_the_landing_raises(spark):
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def land(data_dir):
        raise RuntimeError("landing failed")

    out, qnames = _drive(
        spark, "harness_land", land, None, lambda sink: sink
    )
    assert isinstance(out, RuntimeError) and "landing failed" in str(out)
    assert qnames == []  # the stream never started
    _assert_clean(spark, "harness_land", qnames, prev)


def test_run_parity_cleans_up_when_the_fold_raises(spark):
    """A fold that raises inside the stream terminates it with an error;
    its memory-sink view would otherwise stay in the catalog."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dariadb_spark.streaming.scratch import file_stream, to_memory

    def bad_fold(key, pdfs, state):
        raise ValueError("fold boom")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out, qnames = _drive(
        spark,
        "harness_fold",
        _land_six_rows(spark),
        lambda data_dir, qname: to_memory(
            file_stream(spark, _MEAS_DDL, data_dir)
            .groupBy("id")
            .applyInPandasWithState(
                bad_fold, "id BIGINT", "n BIGINT", "update",
                GroupStateTimeout.NoTimeout,
            ),
            "update",
            qname,
        ),
        lambda sink: sink,
    )
    assert isinstance(out, Exception) and "fold boom" in str(out)
    assert len(qnames) == 1
    _assert_clean(spark, "harness_fold", qnames, prev)


def test_run_parity_cleans_up_when_the_await_times_out(spark):
    """A stream that never terminates (an unbounded rate source, not
    availableNow) hits ``timeout_s``: the harness stops it, drops its
    sink view and removes the scratch dir before raising."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out, qnames = _drive(
        spark,
        "harness_timeout",
        lambda data_dir: None,
        lambda data_dir, qname: spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("memory")
        .queryName(qname)
        .start(),
        lambda sink: sink,
        timeout_s=2,
    )
    assert isinstance(out, TimeoutError)
    assert len(qnames) == 1
    _assert_clean(spark, "harness_timeout", qnames, prev)


def test_scratch_dir_is_removed_on_return_and_on_raise():
    with scratch_dir("scratch_guard") as base:
        open(f"{base}/marker", "w").close()
    assert not glob.glob(base)
    with pytest.raises(RuntimeError, match="boom"):
        with scratch_dir("scratch_guard") as base:
            raise RuntimeError("boom")
    assert not glob.glob(base)


def test_partition_file_stats_multi_cleans_up_when_the_landing_raises(
    spark, sf_dir, monkeypatch
):
    """The registry's multi-file fsck query lands a scratch store through
    ``scratch_dir``: a landing that raises leaves no directory behind."""
    from dariadb_spark.registry import REGISTRY
    from dariadb_spark.sources.parquet_store import ParquetTsStore

    pattern = f"{tempfile.gettempdir()}/dariadb_fstats_multi_*"
    before = set(glob.glob(pattern))

    def boom(self, meas, isolated=False):
        raise RuntimeError("landing failed")

    monkeypatch.setattr(ParquetTsStore, "append", boom)
    with pytest.raises(RuntimeError, match="landing failed"):
        REGISTRY["partition_file_stats_multi"].fn(spark, sf_dir)
    assert set(glob.glob(pattern)) == before
