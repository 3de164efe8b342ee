"""Incrementally-maintained sketches over a document stream.

The batch CMS (ext/sketches.py) is an additive cell table — which makes
it exactly the shape Structured Streaming maintains natively: a
complete-mode streaming aggregation whose state IS the sketch
(``depth × width`` ≤ 1024 rows, bounded forever, no watermark needed).
Every micro-batch folds its token counts into the standing cells, so
the heavy-hitter summary is queryable mid-ingest without ever
re-scanning the corpus — the sketch equivalent of the incremental
rollup pipeline (streaming/rollup.py), with O(1)-sized state instead
of O(buckets).

The batch-equality contract (streamed cells == one-shot batch cells
over the same corpus, regardless of how ingestion was batched) is
pinned in tests/test_sketches.py and driver-hash-checked via
``streaming_sketch_parity``, which folds the corpus one file per
micro-batch against the batch-cell DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupStateTimeout

from dariadb_spark.model import MEAS_DDL
from dariadb_spark.streaming.scratch import (
    file_stream,
    land_halves,
    run_parity,
    to_memory,
)

#: matches the documents fixture; a production ingest would carry the
#: same columns out of its landing zone.
_DOCS_DDL = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)


def streaming_cms_cells(
    spark: SparkSession,
    docs_dir: str,
    query_name: str = "cms_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the count-min cell table incrementally over a document
    stream (availableNow here; a production stream runs unbounded).

    The plan is a one-pass build: bigram
    occurrences → depth fan-out (explode generator) → groupBy(depth,
    bucket) — map-side combine collapses each micro-batch's partition
    to ≤ 1024 cells before the state update, so per-batch shuffle
    volume is O(partitions × width) no matter how large the batch.
    Complete-mode memory sink: the result table is the whole sketch
    (≤ 1024 rows), re-emitted per batch — at scale swap the sink for a
    compacted parquet/Delta cell table; the aggregation is unchanged."""
    from dariadb_spark.ext.sketches import (
        _BG_SPARK,
        CMS_DEPTH,
        CMS_WIDTH,
    )
    from dariadb_spark.ext.hashes import _h60_spark

    fanout = ", ".join(f"{d}L" for d in range(CMS_DEPTH))
    cell = (
        _h60_spark("concat(cast(depth AS string), ':', bg)")
        + f" % {CMS_WIDTH}"
    )
    # the parity passes max_files_per_trigger=1 to force a genuine
    # multi-batch incremental fold
    stream = file_stream(spark, _DOCS_DDL, docs_dir, max_files_per_trigger)
    cells = (
        stream.where("size(split(text, ' ')) >= 2")
        .selectExpr(f"explode({_BG_SPARK}) AS bg")
        .selectExpr(f"explode(array({fanout})) AS depth", "bg")
        .selectExpr("depth", f"{cell} AS bucket")
        .groupBy("depth", "bucket")
        .count()
    )
    return to_memory(cells, "complete", query_name)


def _latest_per_lang(sink: DataFrame, *cols: str) -> DataFrame:
    """The standing sketch per language: the rows of the highest update
    ordinal ``upd`` each group emitted."""
    w = Window.partitionBy("lang")
    return (
        sink.withColumn("max_upd", F.max("upd").over(w))
        .where("upd = max_upd")
        .select("lang", *cols)
        .orderBy("lang", cols[0])
    )


def streaming_sketch_parity(spark: SparkSession, docs_sf_dir: str):
    """Driver-visible CMS-maintenance parity: land the documents
    fixture in TWO parquet drops, fold them through the complete-mode
    streaming aggregation one file per micro-batch
    (``maxFilesPerTrigger=1`` — the incremental fold is genuinely
    exercised, not a single-batch replay; two batches prove the
    additivity exactly as well as N, at ~1.2 s fixed machinery per
    batch), and return the standing cell table. Oracle = the one-shot
    batch cell build over the same corpus (``STREAMING_CMS_CELLS_SQL``
    in ext/sketches.py): because CMS is additive, batching must be
    invisible."""
    from dariadb_spark.model import load_table

    return run_parity(
        spark,
        "cms_parity",
        lambda data_dir: land_halves(
            load_table(spark, docs_sf_dir, "documents"), "doc_id", data_dir
        ),
        lambda data_dir, qname: streaming_cms_cells(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        lambda sink: sink.selectExpr(
            "depth", "bucket", "count AS cnt"
        ).orderBy("depth", "bucket"),
    )


def streaming_hdr_cells(
    spark: SparkSession,
    meas_dir: str,
    query_name: str = "hdr_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain the HDR quantile sketch (ext/sketches.py log₂×16
    layout) incrementally over a measurement stream — live latency/value
    percentiles per flag group, queryable mid-ingest, the quantile twin
    of :func:`streaming_cms_cells`.

    The batch-equality contract is pinned in tests/test_sketches.py;
    ``streaming_hdr_parity`` replays it against the batch HDR bucket
    table.

    Same state story as the CMS: the complete-mode aggregation's state
    IS the sketch — ≤ 16·log₂(max) rows per group, bounded by
    construction regardless of data volume or range, no watermark
    needed (additive cells accept arbitrarily late rows exactly). Each
    micro-batch map-side-combines to the bucket table before the state
    update, so per-batch shuffle volume is O(partitions × buckets)."""
    from dariadb_spark.ext.sketches import HDR_SUB_BITS

    sub = 1 << HDR_SUB_BITS
    bucket = (
        f"CASE WHEN x < {sub} THEN x "
        f"ELSE (length(bin(x)) - {HDR_SUB_BITS}) * {sub} "
        f"  + (shiftright(x, length(bin(x)) - {HDR_SUB_BITS + 1}) "
        f"     & {sub - 1}) END"
    )
    cells = (
        file_stream(spark, MEAS_DDL, meas_dir, max_files_per_trigger)
        .where("value > 0")
        .selectExpr("flag", "CAST(round(value * 100, 0) AS BIGINT) AS x")
        .selectExpr("flag", f"{bucket} AS bucket")
        .groupBy("flag", "bucket")
        .count()
    )
    return to_memory(cells, "complete", query_name)


def streaming_kmv_state(
    spark: SparkSession,
    docs_dir: str,
    query_name: str = "kmv_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain per-language KMV distinct-count sketches as EXPLICIT
    bounded state (≤ KMV_K hashes per group) via
    ``applyInPandasWithState`` — the third streaming sketch twin (after
    the CMS cells and HDR buckets): live distinct-cardinality estimates
    queryable mid-ingest.

    Why a custom stateful operator instead of a streaming aggregation:
    a ``collect_set`` state grows with the TRUE distinct count — the
    quantity the sketch exists to avoid holding. The KMV state is k
    rows forever; each micro-batch unions its distinct hashes into the
    state and re-trims to the k smallest, which is exactly the
    mergeability property the batch tests pin (the k smallest of a
    union equal the k smallest of merged k-mins), so batching is
    invisible. Each emission carries an update ordinal so a consumer
    (and the parity) can select the latest standing sketch per group."""
    from dariadb_spark.ext.hashes import _h60_spark
    from dariadb_spark.ext.sketches import _BG_SPARK, KMV_K

    hashed = (
        file_stream(spark, _DOCS_DDL, docs_dir, max_files_per_trigger)
        .where("size(split(text, ' ')) >= 2")
        .selectExpr("lang", f"explode(array_distinct({_BG_SPARK})) AS bg")
        .selectExpr("lang", f"{_h60_spark('bg')} AS h")
    )

    def update(key, pdfs, state):
        import pandas as pd

        (lang,) = key
        if state.exists:
            upd, hs = state.get
            ks = set(hs)
        else:
            upd, ks = 0, set()
        for pdf in pdfs:
            ks.update(int(x) for x in pdf["h"])
        trimmed = sorted(ks)[:KMV_K]
        upd += 1
        state.update((upd, trimmed))
        yield pd.DataFrame(
            {
                "lang": [lang] * len(trimmed),
                "upd": [upd] * len(trimmed),
                "rn": list(range(1, len(trimmed) + 1)),
                "h": trimmed,
            }
        )

    updated = hashed.groupBy("lang").applyInPandasWithState(
        update,
        "lang string, upd int, rn int, h long",
        "upd int, hs array<long>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return to_memory(updated, "update", query_name)


def streaming_kmv_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible KMV-maintenance parity: land the documents
    fixture in TWO parquet drops, fold one file per micro-batch through
    the bounded-state KMV update, and return the LATEST standing sketch
    per language (the max-ordinal emission). Oracle = the batch
    k-smallest-distinct-hash table over the same corpus — mergeability
    makes batching invisible."""
    from dariadb_spark.model import load_table

    return run_parity(
        spark,
        "kmv_parity",
        lambda data_dir: land_halves(
            load_table(spark, sf_dir, "documents"), "doc_id", data_dir
        ),
        lambda data_dir, qname: streaming_kmv_state(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        lambda sink: _latest_per_lang(sink, "rn", "h"),
    )


def streaming_hdr_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible HDR-maintenance parity: land the measurements
    slice in TWO parquet drops, fold one file per micro-batch through
    the complete-mode HDR aggregation, return the standing bucket
    table. Oracle = the batch HDR cell build over the same rows
    (``STREAMING_HDR_CELLS_SQL`` in ext/sketches.py) — additive cells
    make batching invisible, same contract as the CMS twin."""
    from dariadb_spark.model import measurements

    return run_parity(
        spark,
        "hdr_parity",
        lambda data_dir: land_halves(
            measurements(spark, sf_dir).select("id", "time", "value", "flag"),
            "id",
            data_dir,
        ),
        lambda data_dir, qname: streaming_hdr_cells(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        lambda sink: sink.selectExpr(
            "flag", "bucket", "count AS cnt"
        ).orderBy("flag", "bucket"),
    )


def _hll_fold(key, pdfs, state):
    """Per-language register merge (module-level so the fold-contract
    pytest can drive it): pure per-index max over the occurrence
    stream. Commutative-class (the fold taxonomy): max is
    associative/commutative AND idempotent, so re-ordered or duplicate
    occurrences can never change the registers — no in-order contract,
    by construction rather than by enforcement."""
    import pandas as pd

    (lang,) = key
    if state.exists:
        upd, regs = state.get
        regs = list(regs)
    else:
        upd, regs = 0, [0] * 16
    for pdf in pdfs:
        for idx, rho in zip(pdf["idx"], pdf["rho"]):
            i = int(idx)
            if rho > regs[i]:
                regs[i] = int(rho)
    upd += 1
    state.update((upd, regs))
    yield pd.DataFrame(
        {
            "lang": [lang] * 16,
            "upd": [upd] * 16,
            "idx": list(range(16)),
            "m": regs,
        }
    )


def streaming_hll_state(
    spark: SparkSession,
    docs_dir: str,
    query_name: str = "hll_live",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain per-language HyperLogLog registers as EXPLICIT bounded
    state (EXACTLY 16 ints per group — the tightest state bound of the
    four streaming sketch twins) via ``applyInPandasWithState``: live
    distinct-cardinality registers queryable mid-ingest, the streaming
    face of ``ext/sketches.py sketch_hll_distinct``.

    Why this beats even the KMV twin's bound: KMV state is k = 64
    hashes and needs the per-batch distinct + re-trim; HLL state is a
    fixed 16-int vector and the update is a pure per-index max over the
    OCCURRENCE stream — no distinct anywhere, any batching, any order
    (max is associative/commutative, the mergeability the batch union
    operator pins). Each emission carries an update ordinal so the
    parity can select the latest standing registers per group."""
    from dariadb_spark.ext.hashes import _h60_spark
    from dariadb_spark.ext.sketches import _BG_SPARK, HLL_M, HLL_RHO_MAX

    ranked = (
        file_stream(spark, _DOCS_DDL, docs_dir, max_files_per_trigger)
        .where("size(split(text, ' ')) >= 2")
        .selectExpr("lang", f"explode({_BG_SPARK}) AS item")
        .selectExpr("lang", f"{_h60_spark('item')} AS h")
        .selectExpr(
            "lang",
            f"CAST(h % {HLL_M} AS INT) AS idx",
            f"h DIV {HLL_M} AS w",
        )
        .selectExpr(
            "lang", "idx",
            f"CAST(CASE WHEN w = 0 THEN {HLL_RHO_MAX}"
            f" ELSE {HLL_RHO_MAX} - length(bin(w)) END AS INT) AS rho",
        )
    )

    updated = ranked.groupBy("lang").applyInPandasWithState(
        _hll_fold,
        "lang string, upd int, idx int, m int",
        "upd int, regs array<int>",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return to_memory(updated, "update", query_name)


def streaming_hll_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible HLL-maintenance parity: land the documents
    fixture in TWO parquet drops, fold one file per micro-batch through
    the 16-int register update, and return the LATEST standing
    registers per language. Oracle = the batch dense register table
    over the same corpus (``STREAMING_HLL_REGS_SQL`` in ext/sketches.py)
    — per-index max makes batching invisible."""
    from dariadb_spark.model import load_table

    return run_parity(
        spark,
        "hll_parity",
        lambda data_dir: land_halves(
            load_table(spark, sf_dir, "documents"), "doc_id", data_dir
        ),
        lambda data_dir, qname: streaming_hll_state(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        lambda sink: _latest_per_lang(sink, "idx", "m"),
    )
