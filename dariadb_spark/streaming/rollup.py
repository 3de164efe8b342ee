"""Incrementally-maintained rollups — the reference's scheme-level
downsampling (scheme/scheme.cpp derived ``param.average.hour`` series)
kept up to date ON INGEST, rendered with dariadb's own storage idea:

* each streaming micro-batch writes ALGEBRAIC PARTIAL aggregates
  (cnt/sum/min/max per (id, bucket)) into its own ``batch_id=<id>``
  subdirectory of an append-only parquet dir — the WAL layer
  (storage/wal/wal_manager.cpp analog: raw, unmerged, bounded-size
  appends);
* readers MERGE ON READ: partials re-aggregate associatively, so the
  view is always exact regardless of how many partials a bucket has
  (storage/readers.cpp MergeSortReader analog);
* ``compact_rollup`` folds all partials into one partial per bucket —
  the Dropper's WAL→page conversion (storage/dropper.cpp analog) —
  shrinking read amplification without changing any value.

Delivery semantics: ``foreachBatch`` is AT-LEAST-ONCE — after a failure
Spark replays the last micro-batch with the SAME ``batch_id`` and the
same input rows. A blind ``mode("append")`` would therefore double-count
replayed partials; writing each batch to its own ``batch_id=<id>``
subdir with ``mode("overwrite")`` makes the replay idempotent (the
rerun replaces its own previous output, end-to-end exactly-once).
Readers list the tree with ``recursiveFileLookup`` (no partition-column
inference), so batch subdirs and compacted top-level files coexist.

At 100 TB: per-batch partials are tiny (one row per touched (id,
bucket)); merge-on-read cost grows with partial count, which compaction
bounds — the same contract dariadb's layered LSM makes. avg is NEVER
stored, always derived from (sum, cnt) at read time, so partials stay
mergeable (the round(sum,6)/count parity recipe applies at the final
merge only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dariadb_spark.model import MEAS_DDL
from dariadb_spark.operators.downsample import MS, floor_bucket
from dariadb_spark.streaming.scratch import (
    await_parity_termination,
    file_stream,
    parity_stream_partitions,
    persisted_slice,
    run_parity,
)

_PARTIAL_COLS = ("id", "bucket_ms", "_cnt", "_sum", "_min", "_max")


def _partials(batch: DataFrame, width_ms: int) -> DataFrame:
    return (
        batch.groupBy(
            "id",
            floor_bucket(F.col("time"), width_ms).alias("bucket_ms"),
        )
        .agg(
            F.count("value").alias("_cnt"),
            F.sum("value").alias("_sum"),
            F.min("value").alias("_min"),
            F.max("value").alias("_max"),
        )
    )


def _read_partials(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """List the whole partial tree (batch subdirs + compacted files)
    without partition inference — ``batch_id=`` is a write-idempotency
    address, not a data column."""
    return (
        spark.read.schema(
            "id bigint, bucket_ms bigint, _cnt bigint, _sum double, "
            "_min double, _max double"
        )
        .option("recursiveFileLookup", "true")
        .parquet(rollup_dir)
    )


def streaming_rollup(
    spark: SparkSession,
    data_dir: str,
    rollup_dir: str,
    checkpoint_dir: str,
    interval: str = "hour",
) -> StreamingQuery:
    """Maintain the append-only partials layer from the ingest stream.
    Idempotent per micro-batch: the batch's partials land in
    ``batch_id=<id>/`` with overwrite, so an at-least-once replay
    replaces rather than duplicates (see module docstring)."""
    width_ms = MS[interval]
    stream = file_stream(spark, MEAS_DDL, data_dir)

    def write_partials(batch: DataFrame, batch_id: int) -> None:
        _partials(batch, width_ms).select(*_PARTIAL_COLS).write.mode(
            "overwrite"
        ).parquet(f"{rollup_dir}/batch_id={batch_id}")

    return (
        stream.writeStream.foreachBatch(write_partials)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_rollup(spark: SparkSession, rollup_dir: str) -> DataFrame:
    """Merge-on-read: re-aggregate partials associatively into the exact
    rollup block (same columns/values as the batch ``downsample()``)."""
    p = _read_partials(spark, rollup_dir)
    return (
        p.groupBy("id", "bucket_ms")
        .agg(
            F.sum("_cnt").alias("cnt"),
            (F.round(F.sum("_sum"), 6) / F.sum("_cnt")).alias("avg_value"),
            F.min("_min").alias("min_value"),
            F.max("_max").alias("max_value"),
            F.round(F.sum("_sum"), 4).alias("sum_value"),
        )
        .orderBy("id", "bucket_ms")
    )


def streaming_rollup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-visible streaming parity: run the REAL incremental
    pipeline — two checkpointed availableNow streaming runs over the
    fixture split at a fixed timestamp, then a committed-batch-guarded
    compaction — and return the merge-on-read rollup. The oracle is the
    plain batch ``downsample('day')`` SQL: partials re-aggregate
    associatively, so streaming ingest must reproduce the batch block
    bit-for-bit under the round(sum,6)/count recipe. This is the
    hash-checked row for streaming maintenance (SURVEY §2.8 T1/T3/T5).

    The merge-on-read result is localized (it is bucket-count-sized)
    and the scratch tree removed before returning."""
    import os

    from dariadb_spark.model import measurements

    split_ms = 1_705_276_800_000  # 2024-01-15 — mid-fixture
    # the partials layer and the checkpoint sit next to the landed data
    layer: dict[str, str] = {}

    def land(data_dir: str) -> None:
        base = os.path.dirname(data_dir)
        layer.update(rollup=f"{base}/rollup", ckpt=f"{base}/ckpt")
        sl = measurements(spark, sf_dir).select("id", "time", "value", "flag")
        with persisted_slice(sl) as m:
            m.where(F.col("time") < split_ms).write.parquet(data_dir)
            # 15-series harness slice → small state layer (see
            # scratch.py); the checkpoint pins partitioning at first
            # start, so both runs are wrapped for consistency
            with parity_stream_partitions(spark):
                q = streaming_rollup(
                    spark, data_dir, layer["rollup"], layer["ckpt"], "day"
                )
            await_parity_termination(q)
            m.where(F.col("time") >= split_ms).write.mode("append").parquet(
                data_dir
            )

    def finish(_no_sink: None) -> DataFrame:
        compact_rollup(spark, layer["rollup"], checkpoint_dir=layer["ckpt"])
        return read_rollup(spark, layer["rollup"])

    return run_parity(
        spark,
        "stream_parity",
        land,
        lambda data_dir, _qname: streaming_rollup(
            spark, data_dir, layer["rollup"], layer["ckpt"], "day"
        ),
        finish,
    )


def streaming_current_value_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Driver-visible T2 parity (current-value maintenance,
    engine.cpp's eager per-series cache): run the streaming max_by
    aggregation — the same micro-batch pipeline ``subscribe`` maintains
    live — over the fixture via an availableNow run into an in-memory
    snapshot, and return it. Oracle = the batch ``current_value`` SQL:
    the stream's LWW total order (time, value, flag) must reproduce the
    batch verb exactly. (The multi-round INCREMENTAL behavior is pinned
    by tests/test_engine.py's checkpointed two-append test; the memory
    sink cannot restart from a checkpoint, so the driver query runs one
    pass.)"""
    from dariadb_spark.model import measurements
    from dariadb_spark.streaming.subscribe import streaming_current_value

    def land(data_dir: str) -> None:
        m = measurements(spark, sf_dir).select("id", "time", "value", "flag")
        m.write.parquet(data_dir)

    # 15-series harness slice → small state layer (see scratch.py)
    return run_parity(
        spark,
        "cv_parity",
        land,
        lambda data_dir, qname: streaming_current_value(spark, data_dir, qname),
        lambda sink: sink.orderBy("id"),
    )


def last_committed_batch(checkpoint_dir: str) -> int:
    """Highest micro-batch id the streaming checkpoint has COMMITTED
    (Structured Streaming writes ``<checkpoint>/commits/<batchId>`` only
    after the batch's foreachBatch completed and the offset is sealed).
    Returns -1 when nothing has committed yet."""
    import os

    commits = os.path.join(checkpoint_dir, "commits")
    best = -1
    if os.path.isdir(commits):
        for name in os.listdir(commits):
            if name.isdigit():
                best = max(best, int(name))
    return best


def compact_rollup(
    spark: SparkSession,
    rollup_dir: str,
    checkpoint_dir: str | None = None,
) -> None:
    """Fold partials into one partial per (id, bucket) — raw moments
    kept raw so the layer stays mergeable.

    Replay safety: foreachBatch is at-least-once, so a batch dir can
    exist whose checkpoint commit never landed (crash between the
    parquet write and the commit file). Folding such a dir and deleting
    it would double-count when the restarted stream replays the batch on
    top of the compacted layer. With ``checkpoint_dir`` given, only
    ``batch_id=N`` dirs with ``N <= last_committed_batch()`` are folded —
    uncommitted dirs are left in place, where the replay's
    ``mode("overwrite")`` keeps them idempotent. Without
    ``checkpoint_dir`` every dir folds; that is only safe after a clean
    stream stop (the original, still-supported contract).

    Swap order: write the merged layer to a tmp dir, move the folded
    inputs ASIDE, move tmp into place, then delete the aside dir. A
    crash between the moves leaves the aside dir intact (recoverable),
    never a lost layer. The swap is still not atomic for CONCURRENT
    readers — a reader listing mid-swap can fail and must retry;
    single-compactor + retry-on-read is the documented contract (same
    as ParquetTsStore.compact)."""
    import os
    import shutil
    import uuid

    cutoff = (
        last_committed_batch(checkpoint_dir)
        if checkpoint_dir is not None
        else None
    )
    foldable: list[str] = []
    for name in sorted(os.listdir(rollup_dir)):
        path = os.path.join(rollup_dir, name)
        if name.startswith("batch_id="):
            bid = name.split("=", 1)[1]
            if cutoff is not None and (not bid.isdigit() or int(bid) > cutoff):
                continue  # uncommitted (or alien) — replay may recreate it
            foldable.append(path)
        elif name.startswith("compacted_") or name.endswith(".parquet"):
            foldable.append(path)  # prior compact output always folds
    if len(foldable) < 2:
        return  # nothing to merge

    merged = (
        spark.read.schema(
            "id bigint, bucket_ms bigint, _cnt bigint, _sum double, "
            "_min double, _max double"
        )
        .option("recursiveFileLookup", "true")
        .parquet(*foldable)
        .groupBy("id", "bucket_ms")
        .agg(
            F.sum("_cnt").alias("_cnt"),
            F.sum("_sum").alias("_sum"),
            F.min("_min").alias("_min"),
            F.max("_max").alias("_max"),
        )
        .select(*_PARTIAL_COLS)
    )
    token = uuid.uuid4().hex[:8]
    tmp = f"{rollup_dir}__compact_{token}"
    # one partial per bucket is small by construction (bounded by the
    # bucket-key cardinality, not raw rows); at larger key domains drop
    # the coalesce and let the write keep its natural partitioning
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    aside = f"{rollup_dir}__old_{token}"
    os.makedirs(aside)
    for path in foldable:
        shutil.move(path, aside)
    shutil.move(tmp, os.path.join(rollup_dir, f"compacted_{token}"))
    shutil.rmtree(aside)
