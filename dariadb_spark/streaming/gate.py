"""Streaming curation gate — quality-gate documents at ingest time.

Registered as ``streaming_quality_gate_parity`` from ext/pipeline.py.
The batch side closes the curation loop offline (``ext_preprocess_funnel``,
``ext_curate_gated_mixture``); this module is the INGEST half: arriving
documents are gated per micro-batch against PERSISTED artifacts — the
boilerplate chunk table learned offline from the historical corpus (the
PQ-codebook life cycle: learn once, broadcast, refresh on a cadence) and
the funnel's scalar quality rules — before they ever land in the corpus.

Spark-first shape: the gate is STATELESS — each verdict depends only on
the doc row and the broadcast artifact — so the streaming query needs no
state store, no watermark, and append output mode; any batching of the
stream yields the same standing verdict table as the one-shot batch gate
(the parity claim, pinned in tests/test_streaming_gate.py and replayable
in the DuckDB oracle built by ``_quality_gate_sql()``, ext/pipeline.py).

Plan shape per micro-batch: the scalar rules (min chars, stopword
ratio) are codegen'd column expressions fused into the scan; only the
boilerplate-chunk membership probe crosses the Python boundary — one
Arrow-batched ``mapInPandas`` against the broadcast chunk set, the
``pq_encode_arrow`` precedent. At 100 TB the artifact is the
min-doc-count-pruned chunk table (real boilerplate is a tiny fraction
of distinct chunks; ``BOILER_ARTIFACT_MAX`` fails loudly if a learned
artifact outgrows the broadcast budget) with a Bloom filter over it as
the constant-size fallback — the ``ext_decontaminate_bloom`` pattern;
the stream plan is unchanged either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from dariadb_spark.streaming.scratch import (
    file_stream,
    land_halves,
    run_parity,
    to_memory,
)

#: documents landing-zone schema (matches the fixture).
_DOC_DDL = (
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
)

#: hard ceiling on the broadcast artifact — a chunk table past this is a
#: mis-learned artifact (or needs the Bloom fallback), not a bigger
#: broadcast.
BOILER_ARTIFACT_MAX = 2_000_000

_GATE_SCHEMA = (
    "doc_id BIGINT, n_chunks BIGINT, n_boiler BIGINT, boiler_frac DOUBLE,"
    " q_pass INT, kept INT"
)


def boiler_chunk_artifact(docs: DataFrame) -> frozenset:
    """Learn the boilerplate artifact from a historical corpus: the set
    of BOILER_CHUNK_WORDS-word chunks appearing in ≥ BOILER_MIN_DOCS
    distinct documents (``dedup_boilerplate``'s definition, so the two
    sides of the loop agree on what boilerplate IS). Collected to the
    driver for broadcast — bounded by BOILER_ARTIFACT_MAX, fails loudly
    beyond it (the localize_and_cleanup guard philosophy)."""
    from dariadb_spark.ext.dedup import BOILER_CHUNK_WORDS, BOILER_MIN_DOCS

    p = BOILER_CHUNK_WORDS
    chunks = docs.selectExpr("doc_id", "split(text, ' ') AS w").selectExpr(
        "doc_id",
        "explode(transform(sequence(0, CAST(ceil(size(w) / "
        f"{p}.0d) AS INT) - 1), "
        f"i -> array_join(slice(w, i * {p} + 1, {p}), ' '))) AS chunk",
    )
    rows = (
        chunks.groupBy("chunk")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("chunk")
        .limit(BOILER_ARTIFACT_MAX + 1)
        .collect()
    )
    if len(rows) > BOILER_ARTIFACT_MAX:
        raise ValueError(
            f"boilerplate artifact exceeds {BOILER_ARTIFACT_MAX} chunks; "
            "prune harder (raise BOILER_MIN_DOCS) or use the Bloom-filter "
            "fallback — refusing an unbounded broadcast"
        )
    return frozenset(r.chunk for r in rows)


def gate_verdicts(docs: DataFrame, boiler_chunks: frozenset) -> DataFrame:
    """The gate plan shared by the stream and its batch twin: per doc,
    chunk count, boilerplate-chunk count against the broadcast
    artifact, the HALF_UP 4-dp boilerplate fraction, the scalar
    quality verdict, and the combined keep decision. Works on a static
    OR streaming (doc_id, text, n_chars) frame — statelessness is the
    point."""
    import math

    import pandas as pd

    from dariadb_spark.ext.dedup import BOILER_CHUNK_WORDS, BOILER_MAX_FRAC
    from dariadb_spark.ext.pipeline import (
        FUNNEL_MAX_STOPWORD_RATIO,
        FUNNEL_MIN_CHARS,
    )

    p = BOILER_CHUNK_WORDS
    bset = docs.sparkSession.sparkContext.broadcast(boiler_chunks)
    max_frac = BOILER_MAX_FRAC

    base = docs.selectExpr(
        "doc_id",
        "text",
        f"CAST(n_chars >= {FUNNEL_MIN_CHARS}"
        " AND size(filter(split(text, ' '), x -> x = 'a' OR x = 'the'))"
        " / CAST(size(split(text, ' ')) AS DOUBLE)"
        f" <= {FUNNEL_MAX_STOPWORD_RATIO} AS INT) AS q_pass",
    )

    def probe(batches):
        bc = bset.value
        for pdf in batches:
            out = {
                "doc_id": [], "n_chunks": [], "n_boiler": [],
                "boiler_frac": [], "q_pass": [], "kept": [],
            }
            for doc_id, text, q in zip(
                pdf["doc_id"], pdf["text"], pdf["q_pass"]
            ):
                w = text.split(" ")
                n = math.ceil(len(w) / p)
                boil = sum(
                    " ".join(w[i * p: (i + 1) * p]) in bc for i in range(n)
                )
                # HALF_UP(n_boiler / n_chunks, 4) in exact integers —
                # python round() is banker's and diverges at exact
                # binary halves like 1/32
                frac = ((2 * boil * 10000 + n) // (2 * n)) / 10000.0
                out["doc_id"].append(doc_id)
                out["n_chunks"].append(n)
                out["n_boiler"].append(boil)
                out["boiler_frac"].append(frac)
                out["q_pass"].append(q)
                out["kept"].append(int(frac < max_frac and q == 1))
            yield pd.DataFrame(out)

    return base.mapInPandas(probe, _GATE_SCHEMA)


def streaming_quality_gate(
    spark: SparkSession,
    docs_dir: str,
    boiler_chunks: frozenset,
    query_name: str = "quality_gate",
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Gate a document stream at ingest (availableNow here; a
    production ingest runs unbounded, writing kept docs onward and the
    full verdict table to the audit sink)."""
    docs = file_stream(
        spark, _DOC_DDL, docs_dir, max_files_per_trigger
    ).where("text IS NOT NULL")
    return to_memory(gate_verdicts(docs, boiler_chunks), "append", query_name)


def streaming_quality_gate_parity(spark: SparkSession, sf_dir: str):
    """Driver-visible ingest-gate parity: learn the boilerplate artifact
    from the corpus, land the same corpus in TWO parquet drops, fold
    one file per micro-batch through the streaming gate, and return the
    standing verdict table. Oracle = the batch gate over the same
    corpus with the same artifact definition (statelessness makes
    batching invisible)."""
    from dariadb_spark.model import load_table

    docs = load_table(spark, sf_dir, "documents").where("text IS NOT NULL")
    artifact = boiler_chunk_artifact(docs)
    return run_parity(
        spark,
        "quality_gate_parity",
        lambda data_dir: land_halves(docs, "doc_id", data_dir),
        lambda data_dir, qname: streaming_quality_gate(
            spark, data_dir, artifact, qname, max_files_per_trigger=1
        ),
        lambda sink: sink.orderBy("doc_id"),
    )
