"""The harness the streaming parity queries share.

A parity query lands a fixture slice as parquet files in a ``mkdtemp``
directory, folds them through a real Structured Streaming query under
``trigger(availableNow=True)``, and returns the finished result as a
driver-local frame. The pieces:

* :func:`file_stream` — the one streaming reader over a directory of
  parquet files (optionally one file per micro-batch);
* :func:`to_memory` — the one memory sink, an ``availableNow`` stream
  named ``query_name`` whose table is the temp view of that name;
* :func:`run_parity` — the driver: scratch dir, landing, stream start
  under :func:`parity_stream_partitions`, bounded await, finish
  projection, then :func:`localize_and_cleanup`. On any failure it
  stops the stream, drops the sink view and removes the directory;
* :func:`scratch_dir` — the one scratch directory of a harness query
  (the parity driver's and the registry's multi-file store fixture),
  removed however its block ends.

:func:`localize_and_cleanup` collects the (tiny: parity outputs are
tens-to-hundreds of rows) result into a driver-local Arrow
LocalRelation whose lineage no longer references the scratch files,
then removes the dir and drops the memory-sink view, so repeated sweeps
accumulate neither disk nor catalog entries.

:func:`parity_stream_partitions` sizes the streaming state layer to the
parity workload: the harness streams cover ≤15 series, but a stream
started under the session-wide OLAP default (32 shuffle partitions)
instantiates 32 state-store partitions — each with its own Python
worker round-trip, store init and commit — for a 15-group fold.
``addBatch`` runs ~2× faster (1.3–1.8 s → 0.6–1.1 s warm) when the
state partitions match the group cardinality. Production entry points
(`streaming_anomaly_alerts`, `streaming_rollup`, …) are untouched and
inherit the session conf — at 100 TB the series set is large and the
session default (or a larger explicit setting) is correct.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable
from contextlib import contextmanager
from typing import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dariadb_spark.model import local_frame

#: Hard ceiling on rows materialized through the driver by
#: :func:`localize_and_cleanup`. Parity results are tens-to-hundreds of
#: rows; anything beyond this is a misuse of the localize path and must
#: fail loudly, not OOM the driver.
MAX_LOCALIZED_ROWS = 100_000


@contextmanager
def scratch_dir(name: str) -> Iterator[str]:
    """A fresh ``dariadb_<name>_*`` temp directory for one harness query,
    removed when the block ends, whether it returns or raises. A block
    that returns a frame localizes it first
    (:func:`localize_and_cleanup`), so nothing it returns reads the
    directory."""
    base = tempfile.mkdtemp(prefix=f"dariadb_{name}_")
    try:
        yield base
    finally:
        shutil.rmtree(base, ignore_errors=True)


def localize_and_cleanup(
    spark: SparkSession,
    df: DataFrame,
    scratch_dir: str,
    view_name: str | None = None,
    max_rows: int = MAX_LOCALIZED_ROWS,
) -> DataFrame:
    """Return an Arrow LocalRelation copy of ``df`` (row order, schema
    and nulls preserved), deleting ``scratch_dir`` and dropping
    ``view_name`` afterwards even if the collect fails. The copy is a
    :func:`~dariadb_spark.model.local_frame`: its ``collect`` runs no
    Spark job and its ``toPandas`` one JVM-only job, where a frame built
    from Python rows would start Python workers for every action.

    Driver-materialization guard: at most ``max_rows`` rows are ever
    collected (the fetch is ``limit(max_rows + 1)``, so driver memory
    is bounded *before* the check, not after) and exceeding the ceiling
    raises ``ValueError``. This path is for parity/harness results that
    are small by construction; a production query returns its (lazy)
    DataFrame directly and never localizes."""
    try:
        table = df.limit(max_rows + 1).toArrow()
        if table.num_rows > max_rows:
            raise ValueError(
                f"localize_and_cleanup: result exceeds {max_rows} rows; "
                "this driver-materialization path is for small parity "
                "results — return the lazy DataFrame instead"
            )
        return local_frame(spark, df.schema, table)
    finally:
        if view_name is not None:
            try:
                spark.catalog.dropTempView(view_name)
            except Exception:
                pass  # sink view may not exist if the stream failed early
        shutil.rmtree(scratch_dir, ignore_errors=True)


def await_parity_termination(q, timeout_s: int = 600) -> None:
    """Block until the parity stream ``q`` terminates; raise on timeout.

    ``StreamingQuery.awaitTermination(timeout)`` returns ``False`` on
    timeout WITHOUT stopping the query — a caller that ignores the
    boolean goes on to read a partially filled memory sink and hands an
    incomplete table to the oracle compare as if it were the parity
    result (net.py's subscribe-timeout handling does the same).
    On timeout the query is stopped first (releasing the scratch dir
    for cleanup), then ``TimeoutError`` is raised."""
    if not q.awaitTermination(timeout_s):
        try:
            q.stop()
        except Exception:
            pass  # best-effort: the timeout, not the stop, is the error
        raise TimeoutError(
            f"parity stream {q.name!r} did not terminate within "
            f"{timeout_s}s; refusing to read a partial sink"
        )


@contextmanager
def persisted_slice(df: DataFrame) -> Iterator[DataFrame]:
    """Persist a parity-slice DataFrame for the duration of the landing
    phase (cut computation + drop writes), unpersisting on exit.

    The landing phase of a streaming parity reads its slice 2–4 times
    (one quantile-cut aggregate plus one write per drop); without the
    persist each pass re-runs the fixture scan + filter (exchange reuse
    only applies within one action). Slices are parity-sized by
    construction (the same smallness contract ``localize_and_cleanup``
    enforces on results), so MEMORY_AND_DISK holds them trivially.
    At sf0.1 (best-of-3) this saves ~0.5 s of the ltv landing and
    ~0.4 s of markov's: one base-table scan instead of four."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def land_sorted(
    df: DataFrame, path: str, sort_cols: Sequence[str], mode: str = "append"
) -> None:
    """Land ``df`` at ``path`` as ONE totally-ordered parquet file.

    ``repartition(1).sortWithinPartitions(...)`` produces a file with
    content identical to the previous ``orderBy(...).coalesce(1)``
    recipe (a total order inside a single partition) while skipping the
    range-partitioner sampling job a global sort submits per write —
    one Spark job instead of two for every landed drop (~0.15 s per
    two-drop landing at sf0.1, identical streamed bytes).

    ``mode``: pass ``"error"`` for the FIRST drop of a landing (a stale
    or double-landed data_dir would otherwise silently double the
    streamed input) and leave the default ``"append"`` for subsequent
    drops."""
    (
        df.repartition(1)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def land_time_split(
    sl: DataFrame,
    data_dir: str,
    n_drops: int = 2,
    sort_cols: Sequence[str] = ("id", "time"),
) -> None:
    """Land a measurement slice as ``n_drops`` sorted single-file drops
    cut at the ``time`` quantiles (median for 2 drops, terciles for 3;
    ms-integer cuts never split sub-ms ties, so drop k strictly
    precedes drop k+1 in the batch total order). One slice scan total:
    the slice is persisted across the quantile pass and every write
    (:func:`persisted_slice`), and each drop lands via
    :func:`land_sorted`."""
    # the tercile literals are 0.33/0.66, NOT 1/3, 2/3: the split they
    # land is part of each parity's fixed, reproducible input
    if n_drops not in (2, 3):
        raise ValueError(f"land_time_split: n_drops must be 2 or 3, got {n_drops}")
    arr = "0.5" if n_drops == 2 else "0.33, 0.66"
    with persisted_slice(sl) as s:
        cuts = s.agg(
            F.expr(
                f"percentile_approx(time, array({arr}), 10000)"
            ).alias("c")
        ).collect()[0]["c"]
        cuts = [int(c) for c in cuts]
        bounds = [None, *cuts, None]
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            d = s
            if lo is not None:
                d = d.where(F.col("time") > lo)
            if hi is not None:
                d = d.where(F.col("time") <= hi)
            # first drop error-if-exists: a stale/double-landed dir
            # fails loudly instead of doubling the stream
            land_sorted(d, data_dir, sort_cols, mode="append" if i else "error")


def interval_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry's interval-scan slice of the measurements fixture
    (series ``IDS`` over the closed ``[FROM_MS, TO_MS]``, every flag) —
    the batch input the measurement parities replay as a stream."""
    from dariadb_spark.model import measurements
    from dariadb_spark.operators.interval import scan_interval
    from dariadb_spark.registry import FROM_MS, IDS, TO_MS

    return scan_interval(measurements(spark, sf_dir), IDS, FROM_MS, TO_MS, 0)


def land_halves(frame: DataFrame, key: str, data_dir: str) -> None:
    """Land ``frame`` as two parquet drops split on the parity of the
    integer column ``key`` (even keys first, then odd), so a fold that
    reads one file per micro-batch sees two batches. No ordering is
    implied: the parities that land this way fold order-free state."""
    frame.where(f"{key} % 2 = 0").write.parquet(data_dir)
    frame.where(f"{key} % 2 = 1").write.mode("append").parquet(data_dir)


@contextmanager
def parity_stream_partitions(
    spark: SparkSession, n: int | None = 4
) -> Iterator[None]:
    """Scope ``spark.sql.shuffle.partitions`` to ``n`` while a parity
    stream STARTS (Structured Streaming pins its state partitioning
    from the session conf at stream start; later restores don't affect
    a running stream). The previous value is always restored.
    ``n=None`` is a no-op: the stream keeps the session conf — for
    parity folds whose group cardinality is NOT parity-small (markov's
    ~1.5k users, ltv's ~750 customers at sf0.1), where shrinking the
    state layer serializes the per-group python folds: state partitions
    are sized to group cardinality (at sf0.1, best-of-3, ltv takes
    5.94 s at n=4 vs 5.40 s at the session's 32).

    Harness-only: the bench/test sweeps run queries sequentially on one
    session, so the temporary session-conf mutation cannot leak into a
    concurrent query's plan. A production deployment sizes state
    partitions once, at stream creation, to its real series
    cardinality."""
    if n is None:
        yield
        return
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def file_stream(
    spark: SparkSession,
    ddl: str,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stream the ``*.parquet`` files anywhere under ``path`` with the
    declared schema ``ddl``. ``max_files_per_trigger`` bounds each
    micro-batch (1 makes every landed file its own batch, so a fold's
    state genuinely carries across batch boundaries; ``availableNow``
    honors it)."""
    reader = (
        spark.readStream.schema(ddl)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def to_memory(df: DataFrame, mode: str, query_name: str) -> StreamingQuery:
    """Start ``df`` into a memory sink in output ``mode`` under
    ``queryName(query_name)``, draining what exists and stopping
    (``availableNow``). The sink table is the temp view ``query_name``;
    a production ingest swaps this sink for a parquet/Delta table."""
    return (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def run_parity(
    spark: SparkSession,
    name: str,
    land: Callable[[str], None],
    start: Callable[[str, str], StreamingQuery],
    finish: Callable[[DataFrame | None], DataFrame],
    partitions: int | None = 4,
    timeout_s: int = 600,
) -> DataFrame:
    """Drive one streaming parity query and return its localized result.

    ``land(data_dir)`` writes the input files under a fresh scratch
    directory; ``start(data_dir, query_name)`` starts the stream over
    them (under :func:`parity_stream_partitions` with ``partitions``);
    once it terminates, ``finish(sink)`` builds the result from the
    sink view ``query_name`` — or from ``None`` when the stream has no
    memory sink of that name (the rollup writes its partials through
    ``foreachBatch``). The scratch directory is ``dariadb_<name>_*``
    and the query name ``<name>_*``, unique per call.

    On any failure — landing, stream, timeout or finish — the stream is
    stopped, the sink view dropped and the directory removed before the
    error propagates, so a failed query leaks no active stream, catalog
    entry or disk."""
    with scratch_dir(name) as base:
        data_dir = f"{base}/data"
        qname = os.path.basename(base)[len("dariadb_"):]
        q = None
        try:
            land(data_dir)
            with parity_stream_partitions(spark, partitions):
                q = start(data_dir, qname)
            await_parity_termination(q, timeout_s)
            out = finish(spark.table(qname) if q.name == qname else None)
        except BaseException:
            # best-effort cleanup: the original error is what propagates
            try:
                if q is not None:
                    q.stop()
            except Exception:
                pass
            try:
                spark.catalog.dropTempView(qname)
            except Exception:
                pass
            raise
        return localize_and_cleanup(spark, out, base, qname)
