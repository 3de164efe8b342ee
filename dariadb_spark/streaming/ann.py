"""Streaming ANN index maintenance — PQ encode-on-ingest.

Registered as ``streaming_pq_ingest_parity`` from ext/similarity.py.
The PQ index's at-scale life cycle is: learn codebooks once offline (a persisted
KB-sized artifact), then ENCODE EVERY ARRIVING VECTOR against them as
part of ingest, appending 4-byte code rows to the index table — the
index is maintained incrementally, never rebuilt. This module is that
ingest half: a Structured Streaming query that runs the measured
Arrow-matmul encode (``pq_encode_arrow``, ext/similarity.py — K=64:
24.5× over the expression path at 500k vectors) per micro-batch.

Spark-first shape: the encode is STATELESS — a pure ``mapInPandas``
projection against a broadcast codebook tensor — so the streaming
query needs no state store, no watermark, and append output mode; each
micro-batch costs exactly the batch encode of its rows (zero shuffle,
zero driver round-trips). That statelessness IS the parity claim: the
standing code table after any batching of the stream equals the
one-shot batch encode of the same corpus, pinned in
tests/test_streaming_ann.py and replayed by the DuckDB oracle
(``STREAMING_PQ_CODES_SQL``, ext/similarity.py).

At 100 TB: swap the memory sink for an append-only parquet/Delta code
table partitioned like the corpus; the encode plan is unchanged. A
codebook refresh is a new index generation (re-encode), not a state
migration — standard PQ operational practice, documented rather than
hidden.
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

#: matches the embeddings fixture; a production ingest would carry the
#: same columns out of its landing zone.
_EMB_DDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, label BIGINT"


def streaming_pq_encode(
    spark: SparkSession,
    emb_dir: str,
    codebooks,
    query_name: str = "pq_ingest",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Maintain a PQ code table incrementally over an embedding stream
    (availableNow here; a production ingest runs unbounded).

    ``codebooks``: the persisted M×K×subdim learned-offline artifact —
    broadcast once, reused by every micro-batch. Output rows are
    (vec_id, c0..c{M-1}) — the 128×-compressed index entries."""
    from dariadb_spark.ext.similarity import pq_encode_arrow

    emb = file_stream(
        spark, _EMB_DDL, emb_dir, max_files_per_trigger
    ).selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
    return to_memory(pq_encode_arrow(emb, codebooks), "append", query_name)


def init_codebooks_from_corpus(spark: SparkSession, sf_dir: str):
    """The deterministic codebook artifact the parity (and the oracle)
    share: the first PQ_K vectors' sub-vectors, reshaped to
    M×K×subdim — the same init the oracled ADC pipeline's ``c0`` uses
    (ext/similarity.py `_pq_candidates`). A production deployment
    persists a Lloyd-refined version; the ENCODE path is identical
    either way, which is what the streaming twin exercises."""
    import numpy as np

    from dariadb_spark.ext.similarity import PQ_K, PQ_M, PQ_SUBDIM
    from dariadb_spark.model import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .where(f"vec_id < {PQ_K}")
        .selectExpr(
            "vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS e"
        )
        .orderBy("vec_id")
        .collect()
    )
    assert len(rows) == PQ_K, f"fixture holds {len(rows)} < {PQ_K} vectors"
    base = np.asarray([r.e for r in rows], dtype=np.float64)
    # C[m][k] = vector k's m-th sub-vector
    return np.stack(
        [base[:, m * PQ_SUBDIM: (m + 1) * PQ_SUBDIM] for m in range(PQ_M)]
    )


def streaming_pq_ingest_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible encode-on-ingest parity: land the embeddings
    fixture in TWO parquet drops, fold one file per micro-batch through
    the streaming PQ encode against the shared init codebook, and
    return the standing code table. Oracle = the batch argmin encode
    over the same corpus (statelessness makes batching invisible)."""
    from dariadb_spark.model import load_table

    codebooks = init_codebooks_from_corpus(spark, sf_dir)
    return run_parity(
        spark,
        "pq_ingest_parity",
        lambda data_dir: land_halves(
            load_table(spark, sf_dir, "embeddings"), "vec_id", data_dir
        ),
        lambda data_dir, qname: streaming_pq_encode(
            spark, data_dir, codebooks, qname, max_files_per_trigger=1
        ),
        lambda sink: sink.orderBy("vec_id"),
    )
