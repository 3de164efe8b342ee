"""Shared word-shingle helpers for dedup/text operators.

Word 3-gram shingles are produced with identical 0-based (Spark) vs
1-based (DuckDB) index arithmetic so the oracle sees the same shingle
sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

NGRAM = 3

#: The live corpus-sized pin (at most one): rotated out when the next
#: operator pins — see :func:`pin_corpus`.
_CORPUS_PIN_REGISTRY: list[DataFrame] = []


def _single_process_master(master: str) -> bool:
    """True on ``local``/``local[...]``, where the executor lives in the
    driver's process (``local-cluster[...]`` runs separate executor
    processes, so it counts as a cluster)."""
    return master == "local" or master.startswith("local[")


def pin_corpus(df: DataFrame) -> DataFrame:
    """Materialize a corpus-sized shared subtree once across its
    diverging consumers (different projections defeat exchange reuse,
    so the lazy form re-runs the corpus scan per consumer).

    The mechanism follows the master:

    - ``local[...]``: ``localCheckpoint(eager=True)``. An executor loss
      takes the driver with it, so truncating lineage costs nothing,
      and this is the fastest single-node form (best-of-3 at sf0.1:
      decontaminate 0.93 s vs 1.33 persist; excess_loss 1.00 vs 1.27;
      minhash_lsh 1.39 vs 1.99 — the columnar cache encode of
      array<string> shingles costs ~0.4 s/query the executor-local row
      blocks don't).
    - any other master: ``persist(MEMORY_AND_DISK)``. Same
      single-materialization plan shape (consumers read the
      InMemoryRelation) with lineage kept, so an executor loss
      recomputes the partition instead of failing the job, and plan
      construction stays job-free.

    Rotation: the previous pin — any operator's — is released before
    the new one registers, so repeated invocations and plan-identical
    sibling operators (decontaminate/fuzzy/lsh all pin the same shingle
    projection) never read data cached by an earlier query: each
    invocation computes its pin from the parquet inputs. Queries run
    sequentially per session; under ``persist`` a still-unconsumed
    result whose pin was rotated out silently recomputes through the
    kept lineage. Vocab-/grid-sized pins (token_pmi counts, BPE vocab,
    k-means assignments, …) stay unconditional eager localCheckpoints —
    for KB-sized tables the lineage-truncation concern does not
    apply."""
    while _CORPUS_PIN_REGISTRY:
        try:
            _CORPUS_PIN_REGISTRY.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing retained anyway
    if _single_process_master(df.sparkSession.sparkContext.master):
        df = df.localCheckpoint(eager=True)
    else:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CORPUS_PIN_REGISTRY.append(df)
    return df


def _shingled(docs: DataFrame, carry: tuple = ()) -> DataFrame:
    """(doc_id, *carry, shingles ARRAY<STRING>) — distinct word 3-grams.

    ``carry`` names extra ``docs`` columns to ride the projection, so a
    consumer that needs e.g. ``source`` per shingle can explode directly
    instead of joining the (much larger) exploded table back to ``docs``
    on ``doc_id``.

    Built from three shifted slices zipped pairwise, which stays LINEAR in
    token count: each ``split``/``slice`` evaluates O(1) times per row.
    (The tempting ``transform(sequence(...), i -> element_at(split(...),
    i))`` form is O(n²): projection collapse re-inlines the split into
    every element access.)

    The slice length is ``greatest(n - 2, 0)`` — TOTAL on any input —
    rather than relying on the ``where`` to shield the expression:
    when the shingled side joins other projections of the same frame,
    Catalyst can evaluate the projection on pre-filter rows (observed:
    a 1-word doc reached ``slice(…, -1)`` and failed the whole stage
    under ngram_novelty's join; found by the hypothesis property
    suite, invisible on the ≥3-word fixture).
    """
    n = "size(split(text, ' '))"
    s = "split(text, ' ')"
    ln = f"greatest({n} - 2, 0)"
    return docs.where(F.size(F.split(F.col("text"), " ")) >= NGRAM).selectExpr(
        "doc_id",
        *carry,
        "array_distinct(zip_with("
        f"zip_with(slice({s}, 1, {ln}), slice({s}, 2, {ln}), "
        "(x, y) -> concat(x, ' ', y)), "
        f"slice({s}, 3, {ln}), "
        "(xy, z) -> concat(xy, ' ', z))) AS shingles",
    )


_SHINGLE_CTE = """
t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (SELECT doc_id,
             list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                            for i in range(1, len(w) - 1)]) AS shingles
      FROM t WHERE len(w) >= 3)"""
