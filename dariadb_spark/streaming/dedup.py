"""Streaming exact deduplication of a DOCUMENT corpus at ingest —
Spark's native ``dropDuplicates`` state store keyed by the 60-bit
content hash. The measurement-stream twin
(``streaming/subscribe.py streaming_dedup_exact``, registered as
``streaming_dedup_parity``) dedups replayed WAL rows by their full
(id, time, value, flag) identity; THIS operator is the LLM-pipeline
member of the family — the ingest gate that keys on derived text
content, the streaming half of ``ext_dedup_exact``.

Registered as ``streaming_exact_dedup_parity`` from ext/dedup.py, next
to its batch family. Arriving documents are keyed by their 60-bit content
hash and duplicates are dropped in-flight, so the corpus lands
already-exact-deduped (``ext_dedup_incremental`` is the batch
backstop). The standing
output is ORDER-FREE by construction — only deterministic functions of
the text itself (content hash, char length) are emitted, so which
physical duplicate row survived is invisible and any micro-batching of
the stream lands on exactly the batch DISTINCT (the parity claim; the
DuckDB oracle is ``STREAMING_EXACT_DEDUP_SQL`` below).

At 100 TB: unwatermarked streaming dedup state grows with the distinct
corpus — the production configuration is
``dropDuplicatesWithinWatermark`` (bounded state, dedups within the
late-data horizon — correct when duplicates arrive close together,
e.g. crawler re-fetches) with the batch incremental pass
(``ext_dedup_incremental``) as the global backstop; state is RocksDB-
backed. The operator and plan are identical either way — this parity
pins the unbounded-exact semantics the backstop must reproduce, and
``test_streaming_dedup_watermarked_bounded_state`` pins the bounded
variant itself: in-horizon re-fetch
deduped by live state, post-horizon re-fetch lands again after state
eviction, one batch DISTINCT over the landed table restores global
exactness — the claim is a test now, not prose.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQuery

from dariadb_spark.streaming.scratch import (
    file_stream,
    land_halves,
    run_parity,
    to_memory,
)

_DOC_DDL = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)

#: DuckDB replay: the standing deduped table is the batch DISTINCT of
#: the same deterministic projections (order-free, so batching is
#: invisible).
STREAMING_EXACT_DEDUP_SQL = """
SELECT DISTINCT
       CAST('0x' || substr(md5(text), 1, 15) AS BIGINT) AS h,
       length(text) AS n_chars
FROM documents WHERE text IS NOT NULL ORDER BY h"""


#: the watermarked (bounded-state) variant reads the ingest-time column
#: a production feed carries alongside each fetched document
_DOC_TS_DDL = _DOC_DDL + ", fetch_ts TIMESTAMP"


def streaming_exact_dedup(
    spark: SparkSession,
    docs_dir: str,
    query_name: str = "exact_dedup",
    max_files_per_trigger: int | None = None,
    watermark: str | None = None,
) -> StreamingQuery:
    """Dedup a document stream at ingest (availableNow here; a
    production ingest runs unbounded, writing survivors onward).

    ``watermark=None`` (the parity default) is the unbounded-exact
    path: ``dropDuplicates`` state grows with the distinct corpus.
    Passing e.g. ``"1 day"`` switches to the PRODUCTION bounded-state
    configuration the module docstring documents:
    ``dropDuplicatesWithinWatermark`` over the ``fetch_ts`` ingest-time
    column (required in the input schema for this mode). Semantics,
    pinned by tests/test_streaming_dedup.py against Spark's actual
    state machine: a re-fetch arriving WITHIN the horizon of the
    original is dropped by live state; once the watermark passes the
    original's expiry its state is evicted, and a later re-fetch —
    which carries a FRESH fetch_ts, so it is never late-filtered —
    lands again. That surviving duplicate is exactly what the batch
    incremental pass (``ext_dedup_incremental``) exists to catch."""
    bounded = watermark is not None
    docs = file_stream(
        spark,
        _DOC_TS_DDL if bounded else _DOC_DDL,
        docs_dir,
        max_files_per_trigger,
    ).where("text IS NOT NULL")
    hashed = docs.selectExpr(
        "CAST(conv(substr(md5(text), 1, 15), 16, 10) AS BIGINT) AS h",
        "length(text) AS n_chars",
        *(["fetch_ts"] if bounded else []),
    )
    if bounded:
        deduped = (
            hashed.withWatermark("fetch_ts", watermark)
            .dropDuplicatesWithinWatermark(["h"])
            .drop("fetch_ts")
        )
    else:
        deduped = hashed.dropDuplicates(["h"])
    return to_memory(deduped, "append", query_name)


def streaming_exact_dedup_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible ingest-dedup parity: land the corpus in TWO
    parquet drops — duplicates deliberately SPLIT across drops so
    cross-micro-batch state is what dedups them — fold one file per
    micro-batch, and return the standing survivor table. Oracle = batch
    DISTINCT of the same projections."""
    from dariadb_spark.model import load_table

    docs = load_table(spark, sf_dir, "documents").where("text IS NOT NULL")
    return run_parity(
        spark,
        "exact_dedup_parity",
        lambda data_dir: land_halves(docs, "doc_id", data_dir),
        lambda data_dir, qname: streaming_exact_dedup(
            spark, data_dir, qname, max_files_per_trigger=1
        ),
        lambda sink: sink.orderBy("h"),
    )
