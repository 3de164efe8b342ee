"""[EXT] deduplication operators over ``documents`` (X1 / north_star):

* exact dedup — sha256 content-hash groupBy (the 100 TB-safe exact method:
  hash once, shuffle 32-byte keys, never shuffle the text);
* exact n-gram Jaccard near-dup — inverted-index (shingle) self-join, the
  classical all-pairs similarity plan: pairs are generated only for
  documents *sharing a shingle*, never a cross join;
* MinHash + LSH near-dup — the approximate scale path: constant-size
  signatures, banded bucketing, candidate verification. Deterministic
  md5-derived hashing makes the WHOLE pipeline (candidates included)
  mirrorable in ANSI SQL → exact DuckDB oracle, no recall caveat in the
  check itself;
* SimHash near-dup — 60-bit fingerprints, chunk-collision candidate
  generation (complete for Hamming ≤ 3 by pigeonhole), Hamming
  verification — same md5 hashing, same exact oracle.

Word 3-gram shingles are produced with identical 0-based/1-based index
arithmetic in Spark and DuckDB so the oracle sees the same shingle sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dariadb_spark.ext.exact import (
    ratio_round_duck as _rr_d,
    ratio_round_spark as _rr_s,
)
from dariadb_spark.ext.shingles import _SHINGLE_CTE, _shingled, pin_corpus
from dariadb_spark.model import load_table, local_frame
from dariadb_spark.registry import register

JACCARD_THRESHOLD = 0.5
NGRAM = 3

# MinHash parameters (fixed seeds → deterministic across runs).
MINHASH_PERMS = 64
MINHASH_BANDS = 16  # 4 rows per band → catches pairs well below 0.5 jaccard
# 31-bit hash domain and coefficients keep a*h+b < 2^62 — no int64
# overflow under Spark's ANSI arithmetic.
MERSENNE_P = (1 << 31) - 1
_A = [1 + (2 * i + 1) * 0x9E3779B9 % (MERSENNE_P - 1) for i in range(MINHASH_PERMS)]
_B = [(i + 1) * 0xC2B2AE3D % MERSENNE_P for i in range(MINHASH_PERMS)]

SIMHASH_BITS = 60
# 4 chunks of 15 bits: by pigeonhole every pair with Hamming ≤ 3 shares at
# least one untouched chunk, so the bucket join is *complete* for the
# threshold below — and 2^15 buckets keep candidate volume tiny.
SIMHASH_CHUNKS = 4
SIMHASH_CHUNK_BITS = 15
SIMHASH_MAX_HAMMING = 3


# --- engine-agnostic 60-bit string hash -----------------------------------
# The low 15 hex digits of md5 parsed as an unsigned 60-bit integer — the
# SAME value in Spark (conv base 16 → 10) and DuckDB ('0x…' cast), verified
# value-for-value in tests. xxhash64 would hash tokens a few × faster at
# 100 TB but has no DuckDB twin; this hash keeps the ENTIRE minhash/simhash
# candidate generation mirrorable in the oracle, upgrading both queries
# from rows-only to fully hash-checked. (Token hashing is a small slice of
# these plans — the shuffles dominate — so the trade is cheap; swap the
# expression for xxhash64 if oracle-independent throughput ever wins.)
# Defined in ext/hashes.py (a registry-free leaf) so sibling ext modules
# can import them without the ext ↔ registry import cycle.

from dariadb_spark.ext.hashes import _h60_duck, _h60_spark  # noqa: E402,F401
from dariadb_spark.ext.exact import (  # noqa: E402
    ratio_round_duck as _rr_d,
    ratio_round_spark as _rr_s,
)


# --- X1 exact dedup -------------------------------------------------------

def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Content-hash groups: one row per distinct text with its cardinality
    and canonical (min) doc_id. ``dup_cnt > 1`` rows are the duplicates."""
    return (
        load_table(spark, sf, "documents")
        .groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(F.count("*").alias("dup_cnt"), F.min("doc_id").alias("canonical_id"))
        .orderBy("text_sha")
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS text_sha, count(*) AS dup_cnt,
       min(doc_id) AS canonical_id
FROM documents GROUP BY sha256(text) ORDER BY text_sha"""


# --- exact n-gram Jaccard all-pairs --------------------------------------

#: corpora at or below this document count use the plain inverted-index
#: plan — fewer stages wins when candidate volume is tiny (measured
#: 3.4 s vs 4.8 s at sf0.1's 5k docs). Above it, prefix filtering takes
#: over: its candidate reduction is what survives the 100 TB posting-list
#: blowup. Both paths are exact and value-identical (cross-checked in
#: tests).
NGRAM_PREFIX_DOC_THRESHOLD = 100_000


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact all-pairs Jaccard ≥ t. Adaptive like a broadcast join: the
    plan is chosen from the corpus row count (a metadata-only parquet
    job) — plain inverted index for small corpora, PREFIX FILTERING at
    scale (see the two helpers)."""
    docs = load_table(spark, sf, "documents")
    if docs.count() <= NGRAM_PREFIX_DOC_THRESHOLD:
        return _ngram_jaccard_inverted(docs)
    return _ngram_jaccard_prefix(docs)


def _ngram_jaccard_inverted(docs: DataFrame) -> DataFrame:
    """Full inverted-index self-join: pairs generate only for documents
    sharing a shingle; per-pair intersection counts via groupBy. Join
    and count on 64-bit shingle hashes, not strings: 8-byte shuffle
    keys; collisions (~|vocab|²/2⁶⁴) are billions of times below the
    oracle's tolerance."""
    # localCheckpoint pins the shingling projection ONCE: the sizes
    # branch and the exploded-posting branch are diverging consumers
    # (different projections defeat exchange reuse), so the lazy form
    # re-ran the per-doc shingle build per consumer (r19 A/B at sf0.1
    # best-of-3: 3.39 s -> 1.93 s). Safe to materialize by
    # construction: this path only runs for corpora at or below
    # NGRAM_PREFIX_DOC_THRESHOLD (the prefix path caches its own hash
    # arrays for the same reason).
    sh = _shingled(docs).localCheckpoint(eager=True)
    sizes = sh.select("doc_id", F.size("shingles").alias("nsh"))
    ex = sh.select("doc_id", F.explode("shingles").alias("s")).selectExpr(
        "doc_id", "xxhash64(s) AS sh"
    )
    a = ex.alias("a")
    b = ex.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("ic"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("ic") / (F.col("sa.nsh") + F.col("sb.nsh") - F.col("ic"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .where(jac >= JACCARD_THRESHOLD)
        # exact-integer ratio -> HALF_UP recipe (ext/exact.py); the
        # unrounded threshold compare stays float (same double both
        # engines, no rounding involved)
        .withColumn(
            "_un", F.col("sa.nsh") + F.col("sb.nsh") - F.col("ic")
        )
        .selectExpr(
            "doc_a", "doc_b", _rr_s("ic", "_un", 4) + " AS jaccard"
        )
        .orderBy("doc_a", "doc_b")
    )


def _ngram_jaccard_prefix(docs: DataFrame) -> DataFrame:
    """PREFIX FILTERING (the PPJoin/all-pairs-similarity family, Bayardo
    et al. WWW'07): shingle hashes are sorted into a global canonical
    order and only each document's first ``n − ⌈t·n⌉ + 1`` hashes are
    posted to the inverted index — any pair with J ≥ t MUST collide
    inside both prefixes (if the first common element in canonical order
    sat outside A's prefix, the whole intersection would fit in A's
    suffix of ⌈t·n⌉−1 elements, below the ⌈t·n⌉ overlap J ≥ t forces).
    Candidates then verify exactly with array_intersect on the full hash
    arrays. At t=0.5 the index explode halves and — the point at scale —
    the quadratic per-posting pair blowup moves from every shingle to
    only prefix shingles.
    """
    sh = _shingled(docs)
    hs = sh.selectExpr(
        "doc_id",
        "array_sort(transform(shingles, s -> xxhash64(s))) AS hs",
    ).selectExpr(
        "doc_id",
        "hs",
        "size(hs) AS n",
        f"slice(hs, 1, size(hs) "
        f"- CAST(ceil({JACCARD_THRESHOLD} * size(hs)) AS INT) + 1) AS prefix",
    ).cache()  # read 3× (index + both verify sides): without the cache
    # each projection re-runs the shingling scan — exchange reuse only
    # covers identical subtrees, and these differ
    posts = hs.select("doc_id", F.explode("prefix").alias("h"))
    a = posts.alias("a")
    b = posts.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    va = hs.selectExpr("doc_id AS doc_a", "hs AS hs_a", "n AS na")
    vb = hs.selectExpr("doc_id AS doc_b", "hs AS hs_b", "n AS nb")
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        # exact-integer ratio -> HALF_UP recipe (ext/exact.py)
        .withColumn("_ic", inter)
        .selectExpr(
            "doc_a", "doc_b",
            _rr_s("_ic", "na + nb - _ic", 4) + " AS jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


DEDUP_NGRAM_JACCARD_SQL = f"""
WITH {_SHINGLE_CTE},
e AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
sz AS (SELECT doc_id, len(shingles) AS nsh FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
  FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       {_rr_d("ic", "sa.nsh + sb.nsh - ic", 4)} AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE ic / (sa.nsh + sb.nsh - ic) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b"""


# --- MinHash + LSH (approximate scale path, exact oracle) -----------------

def _minhash_sig(sh: DataFrame) -> DataFrame:
    """(doc_id, m0..m63) minhash signature rows.

    Explodes shingles and folds each permutation as a codegen'd min()
    aggregate with map-side partial aggregation — the signature build is
    one shuffle of (doc, 64×int64), never materializing per-row lambda
    folds (higher-order folds are interpreted and get re-inlined by
    projection collapse — pathologically slow for 64 permutations)."""
    hv = sh.select(
        "doc_id", F.explode("shingles").alias("s")
    ).selectExpr("doc_id", f"{_h60_spark('s')} % {MERSENNE_P} AS h")
    return hv.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({a} * h + {b}) % {MERSENNE_P}")).alias(f"m{i}")
            for i, (a, b) in enumerate(zip(_A, _B))
        ]
    )


def _bands_from_sig(sig: DataFrame) -> tuple[DataFrame, list[str]]:
    """(doc_id, band, r0..r{rpb-1}) LSH band rows + the band join key."""
    rows_per_band = MINHASH_PERMS // MINHASH_BANDS
    band_exprs = ", ".join(
        "struct({b} AS band, {cols})".format(
            b=b,
            cols=", ".join(
                f"m{b * rows_per_band + r} AS r{r}"
                for r in range(rows_per_band)
            ),
        )
        for b in range(MINHASH_BANDS)
    )
    bands = sig.selectExpr(
        "doc_id", f"explode(array({band_exprs})) AS bb"
    ).select("doc_id", "bb.*")
    return bands, ["band"] + [f"r{r}" for r in range(rows_per_band)]


def _minhash_bands(sh: DataFrame) -> tuple[DataFrame, list[str]]:
    """Shingles → signature → LSH band rows (compat wrapper)."""
    return _bands_from_sig(_minhash_sig(sh))


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """shingle → 60-bit md5 hash → 64 affine permutations min-folded into
    a signature → 16 bands of 4 → bucket join for candidates → exact
    Jaccard verification. Everything JVM-side (codegen'd expressions);
    signatures are constant-size so the shuffle is O(docs), not
    O(shingle instances) — this is the 100 TB plan.

    Every stage is deterministic integer/md5 arithmetic expressible in
    ANSI SQL, so the DuckDB oracle mirrors the WHOLE pipeline — including
    candidate generation — and the hash check is exact (no recall caveat;
    bands join on the raw 4-tuples of minhash values, not an
    engine-specific hash of them).
    """
    # pin_corpus materializes the shingling projection ONCE across the
    # diverging consumers below (mechanism follows the master, see
    # shingles.pin_corpus). dedup_incremental measured SLOWER with this
    # pin - its %4 scan-pushdown design wins - so the pin is
    # per-operator, not in _shingled itself.
    sh = pin_corpus(_shingled(load_table(spark, sf, "documents")))
    bands, key = _minhash_bands(sh)
    cand = (
        bands.withColumnRenamed("doc_id", "doc_a")
        .join(bands.withColumnRenamed("doc_id", "doc_b"), key)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # Verify candidates with exact Jaccard (shingle sets joined back in).
    sa = sh.selectExpr("doc_id AS doc_a", "shingles AS sh_a", "size(shingles) AS na")
    sb = sh.selectExpr("doc_id AS doc_b", "shingles AS sh_b", "size(shingles) AS nb")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        # exact-integer ratio -> HALF_UP recipe (ext/exact.py)
        .withColumn("_ic", inter)
        .selectExpr(
            "doc_a", "doc_b",
            _rr_s("_ic", "na + nb - _ic", 4) + " AS jaccard",
        )
        .orderBy("doc_a", "doc_b")
    )


_RPB = MINHASH_PERMS // MINHASH_BANDS
_SIG_COLS = ",\n       ".join(
    f"min(({_A[i]} * h + {_B[i]}) % {MERSENNE_P}) AS m{i}"
    for i in range(MINHASH_PERMS)
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {b} AS band, {cols} FROM sig".format(
        b=b,
        cols=", ".join(f"m{b * _RPB + r} AS r{r}" for r in range(_RPB)),
    )
    for b in range(MINHASH_BANDS)
)
DEDUP_MINHASH_LSH_SQL = f"""
WITH {_SHINGLE_CTE},
hv AS (SELECT doc_id, {_h60_duck('u.sg')} % {MERSENNE_P} AS h
       FROM (SELECT doc_id, unnest(shingles) AS sg FROM s) u),
sig AS (SELECT doc_id, {_SIG_COLS}
        FROM hv GROUP BY doc_id),
bands AS (
{_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band
          AND {' AND '.join(f'a.r{r} = b.r{r}' for r in range(_RPB))}
          AND a.doc_id < b.doc_id),
v AS (SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS ic,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM cand c
      JOIN s sa ON c.doc_a = sa.doc_id
      JOIN s sb ON c.doc_b = sb.doc_id)
SELECT doc_a, doc_b, {_rr_d("ic", "na + nb - ic", 4)} AS jaccard
FROM v WHERE ic / (na + nb - ic) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b"""


# --- incremental (ingest-time) dedup --------------------------------------

def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Ingest-time dedup of an INCOMING batch against the EXISTING
    corpus — the operation a 100 TB pipeline actually runs per ingest
    (full-corpus re-clustering is a backfill job, not a steady-state
    one). The fixture splits documents deterministically: ``doc_id % 4
    == 0`` is the incoming batch, the rest is the standing corpus.

    Per incoming doc, two index probes and a verdict:

    - exact probe: sha256(text) against the existing corpus' content
      hashes → ``reject_exact``;
    - near probe: minhash LSH band collision against the existing
      corpus' band index, verified by exact shingle Jaccard ≥ t →
      ``reject_near`` (with the match count and the smallest matching
      doc_id as the audit trail);
    - otherwise ``admit``.

    Scale shape: the existing side's band rows and content hashes are a
    PERSISTED index in production (built once, appended per ingest), so
    steady-state cost is O(|incoming|) signature computation plus two
    key-joins against the index — no existing×existing work ever, and
    the incoming batch is usually the broadcast side. Here both sides
    derive from one logical shingle scan and Catalyst pushes each
    side's ``doc_id % 4`` filter BELOW the signature aggregation, so
    each side hashes only its own documents (checked via
    ``executedPlan``: no cross-side signature work; the band probe and
    the Jaccard verify join broadcast the smaller side)."""
    docs = load_table(spark, sf, "documents")
    sh = _shingled(docs)
    bands, key = _minhash_bands(sh)
    new_b = bands.where("doc_id % 4 = 0").withColumnRenamed("doc_id", "new_id")
    old_b = bands.where("doc_id % 4 <> 0").withColumnRenamed("doc_id", "old_id")
    cand = (
        new_b.join(old_b, key)
        .select("new_id", "old_id")
        .dropDuplicates(["new_id", "old_id"])
    )
    sa = sh.selectExpr(
        "doc_id AS new_id", "shingles AS sh_a", "size(shingles) AS na"
    )
    sb = sh.selectExpr(
        "doc_id AS old_id", "shingles AS sh_b", "size(shingles) AS nb"
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    near = (
        cand.join(sa, "new_id")
        .join(sb, "old_id")
        .where(jac >= JACCARD_THRESHOLD)
        .groupBy("new_id")
        .agg(
            F.count("*").alias("n_near"),
            F.min("old_id").alias("nearest_id"),
        )
    )
    exact = (
        docs.where("doc_id % 4 = 0")
        .select("doc_id", F.sha2(F.col("text"), 256).alias("sha"))
        .join(
            docs.where("doc_id % 4 <> 0")
            .select(F.sha2(F.col("text"), 256).alias("sha"))
            .distinct(),
            "sha",
        )
        .select("doc_id", F.lit(1).cast("bigint").alias("is_exact_dup"))
    )
    return (
        docs.where("doc_id % 4 = 0")
        .select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_exact_dup", F.lit(0)).cast("bigint").alias(
                "is_exact_dup"
            ),
            F.coalesce("n_near", F.lit(0)).cast("bigint").alias("n_near"),
            F.coalesce("nearest_id", F.lit(-1)).cast("bigint").alias(
                "nearest_id"
            ),
            F.when(F.col("is_exact_dup") == 1, "reject_exact")
            .when(F.col("n_near") > 0, "reject_near")
            .otherwise("admit")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


DEDUP_INCREMENTAL_SQL = f"""
WITH {_SHINGLE_CTE},
hv AS (SELECT doc_id, {_h60_duck('u.sg')} % {MERSENNE_P} AS h
       FROM (SELECT doc_id, unnest(shingles) AS sg FROM s) u),
sig AS (SELECT doc_id, {_SIG_COLS}
        FROM hv GROUP BY doc_id),
bands AS (
{_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         FROM bands a JOIN bands b
           ON a.band = b.band
          AND {' AND '.join(f'a.r{r} = b.r{r}' for r in range(_RPB))}
         WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0),
near AS (SELECT c.new_id, count(*) AS n_near, min(c.old_id) AS nearest_id
         FROM cand c
         JOIN s sa ON c.new_id = sa.doc_id
         JOIN s sb ON c.old_id = sb.doc_id
         WHERE len(list_intersect(sa.shingles, sb.shingles))
               / (len(sa.shingles) + len(sb.shingles)
                  - len(list_intersect(sa.shingles, sb.shingles)))
               >= {JACCARD_THRESHOLD}
         GROUP BY c.new_id),
ex AS (SELECT DISTINCT n.doc_id
       FROM documents n
       JOIN documents o
         ON o.doc_id % 4 <> 0 AND sha256(o.text) = sha256(n.text)
       WHERE n.doc_id % 4 = 0)
SELECT d.doc_id,
       CAST(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
         AS is_exact_dup,
       CAST(COALESCE(nr.n_near, 0) AS BIGINT) AS n_near,
       CAST(COALESCE(nr.nearest_id, -1) AS BIGINT) AS nearest_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'reject_exact'
            WHEN nr.n_near > 0 THEN 'reject_near'
            ELSE 'admit' END AS verdict
FROM documents d
LEFT JOIN ex e ON d.doc_id = e.doc_id
LEFT JOIN near nr ON d.doc_id = nr.new_id
WHERE d.doc_id % 4 = 0
ORDER BY d.doc_id"""


# --- minhash estimator-quality eval ---------------------------------------

def minhash_jaccard_est(spark: SparkSession, sf: str) -> DataFrame:
    """Estimator-quality eval for the minhash pipeline: for every LSH
    candidate pair (NO jaccard threshold — sub-threshold candidates are
    exactly what this audits), the signature-agreement estimate
    ĵ = |{i : mᵃᵢ = mᵇᵢ}| / 64 next to the exact shingle Jaccard and
    the absolute error. This is the query that justifies the band/row
    parameters before a 100 TB run: candidates are LSH-bounded, the
    estimate is a 64-term comparison on two already-built signatures,
    and the exact side joins shingle sets back only for the candidate
    pairs — the same bounded cost as the dedup verification step."""
    sh = _shingled(load_table(spark, sf, "documents"))
    # ONE signature subtree feeds the band join and both estimate sides;
    # Spark's ReusedExchange dedups the identical signature shuffles
    # (measured: caching it buys nothing), so the plan stays stateless
    sig = _minhash_sig(sh)
    bands, key = _bands_from_sig(sig)
    cand = (
        bands.withColumnRenamed("doc_id", "doc_a")
        .join(bands.withColumnRenamed("doc_id", "doc_b"), key)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(MINHASH_PERMS)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(MINHASH_PERMS)],
    )
    matches = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(MINHASH_PERMS)
    )
    est = cand.join(siga, "doc_a").join(sigb, "doc_b").select(
        "doc_a", "doc_b", matches.cast("long").alias("n_match")
    )
    sa = sh.selectExpr("doc_id AS doc_a", "shingles AS sh_a", "size(shingles) AS na")
    sb = sh.selectExpr("doc_id AS doc_b", "shingles AS sh_b", "size(shingles) AS nb")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = inter / (F.col("na") + F.col("nb") - inter)
    return (
        est.join(sa, "doc_a")
        .join(sb, "doc_b")
        # every output is an exact-integer ratio -> HALF_UP recipe
        # (ext/exact.py); abs_err folds both rationals over the common
        # denominator PERMS * union so the true half rounds identically
        # in both engines
        .withColumn("_ic", inter)
        .withColumn("_un", F.col("na") + F.col("nb") - F.col("_ic"))
        .selectExpr(
            "doc_a",
            "doc_b",
            _rr_s("_ic", "_un", 4) + " AS jac_exact",
            _rr_s("n_match", str(MINHASH_PERMS), 4) + " AS jac_est",
            _rr_s(
                f"abs(n_match * _un - {MINHASH_PERMS} * _ic)",
                f"{MINHASH_PERMS} * _un",
                4,
            )
            + " AS abs_err",
        )
        .orderBy("doc_a", "doc_b")
    )


_EST_MATCH_SQL = " + ".join(
    f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END"
    for i in range(MINHASH_PERMS)
)
MINHASH_JACCARD_EST_SQL = f"""
WITH {_SHINGLE_CTE},
hv AS (SELECT doc_id, {_h60_duck('u.sg')} % {MERSENNE_P} AS h
       FROM (SELECT doc_id, unnest(shingles) AS sg FROM s) u),
sig AS (SELECT doc_id, {_SIG_COLS}
        FROM hv GROUP BY doc_id),
bands AS (
{_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.band = b.band
          AND {' AND '.join(f'a.r{r} = b.r{r}' for r in range(_RPB))}
          AND a.doc_id < b.doc_id),
est AS (SELECT c.doc_a, c.doc_b,
               CAST(({_EST_MATCH_SQL}) AS BIGINT) AS n_match
        FROM cand c
        JOIN sig a ON c.doc_a = a.doc_id
        JOIN sig b ON c.doc_b = b.doc_id),
v AS (SELECT e.doc_a, e.doc_b, e.n_match,
             len(list_intersect(sa.shingles, sb.shingles)) AS ic,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM est e
      JOIN s sa ON e.doc_a = sa.doc_id
      JOIN s sb ON e.doc_b = sb.doc_id)
SELECT doc_a, doc_b,
       {_rr_d("ic", "na + nb - ic", 4)} AS jac_exact,
       {_rr_d("n_match", str(MINHASH_PERMS), 4)} AS jac_est,
       {_rr_d("abs(n_match * (na + nb - ic) - " + str(MINHASH_PERMS)
              + " * ic)", str(MINHASH_PERMS) + " * (na + nb - ic)", 4)}
         AS abs_err
FROM v ORDER BY doc_a, doc_b"""


# --- exact substring-span dedup (word 8-gram spans) -----------------------

SPAN_NGRAM = 8  # word-window length for span fingerprints
SPAN_MIN_DOCS = 2


def dedup_substring_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Span-level exact dedup (the Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better" step doc-level dedup
    misses): fingerprint every WORD 8-GRAM WINDOW and report spans that
    recur across documents — boilerplate, licenses, templates — with
    occurrence counts and the earliest position. Linear in token count
    (sliding windows via zip_with over shifted slices, same trick as
    shingling); the groupBy shuffles 8-byte span hashes, never text.
    At 100 TB this IS the scalable span-dedup plan: hash spans, count,
    and join the heavy spans back to cut them from documents."""
    docs = load_table(spark, sf, "documents")
    w = "split(text, ' ')"
    n = f"size({w})"
    # positions 0..n-SPAN_NGRAM: windows built by zipping 8 shifted
    # slices pairwise-concatenated (each slice evaluates once per row)
    # greatest(·, 0): total on any doc length — a join can evaluate the
    # projection on pre-filter rows (the shingles.py totality lesson)
    span_len = f"greatest({n} - {SPAN_NGRAM - 1}, 0)"
    span_expr = f"slice({w}, 1, {span_len})"
    for off in range(1, SPAN_NGRAM):
        span_expr = (
            f"zip_with({span_expr}, slice({w}, {off + 1}, {span_len}), "
            "(x, y) -> concat(x, ' ', y))"
        )
    spans = (
        docs.where(F.size(F.split(F.col("text"), " ")) >= SPAN_NGRAM)
        .selectExpr("doc_id", f"explode({span_expr}) AS s")
        .selectExpr("doc_id", "xxhash64(s) AS h")
    )
    # Final shape is hash-free (xxhash64 has no DuckDB twin): the oracle
    # groups by the span STRING, this side by its 64-bit hash — identical
    # partitions up to the documented ~|spans|²/2⁶⁴ collision odds.
    return (
        spans.groupBy("h")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .where(F.col("n_docs") >= SPAN_MIN_DOCS)
        .groupBy("n_docs", "n_occurrences")
        .agg(
            F.count("*").alias("n_spans"),
            F.min("first_doc").alias("min_first_doc"),
        )
        .orderBy("n_docs", "n_occurrences")
    )


DEDUP_SUBSTRING_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE len(string_split(text, ' ')) >= {SPAN_NGRAM}),
sp AS (SELECT doc_id, unnest([
         list_aggregate(w[i : i + {SPAN_NGRAM - 1}], 'string_agg', ' ')
         for i in range(1, len(w) - {SPAN_NGRAM - 2})]) AS s
       FROM d),
g AS (SELECT s, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences,
             min(doc_id) AS first_doc
      FROM sp GROUP BY s)
SELECT n_docs, n_occurrences, count(*) AS n_spans,
       min(first_doc) AS min_first_doc
FROM g WHERE n_docs >= {SPAN_MIN_DOCS}
GROUP BY n_docs, n_occurrences
ORDER BY n_docs, n_occurrences"""


# --- MinHash cross-split fuzzy decontamination ----------------------------

#: same eval carve-out as curation.decontaminate (doc_id % 50 == 0);
#: defined here because curation imports this module (no back-import)
FUZZY_HOLDOUT_MOD = 50


def decontaminate_fuzzy(spark: SparkSession, sf: str) -> DataFrame:
    """NEAR-duplicate train/eval decontamination (the fuzzy complement of
    curation.decontaminate's exact shingle overlap): training documents
    whose MinHash bands collide with an eval document and whose exact
    Jaccard verifies ≥ t are flagged, aggregated per training doc with
    the worst-match statistics. The band join is train×eval only — at
    100 TB the eval side's band table is benchmark-sized and broadcasts,
    so the corpus is one scan + one signature shuffle, same as LSH dedup.
    """
    # pin_corpus materializes the shingling projection ONCE: it feeds
    # four diverging consumers (train/eval band builds + train/eval
    # verify projections — two of them corpus-wide), so the lazy form
    # re-ran the per-doc shingle build per consumer (best-of-3 at
    # sf0.1: 2.54 s -> 1.92 s). Mechanism follows the master, see
    # shingles.pin_corpus.
    sh = pin_corpus(_shingled(load_table(spark, sf, "documents")))
    # split BEFORE the signature build: per-doc computation is
    # independent, so the eval pipeline's scan + signature shuffle touch
    # only the benchmark-sized eval slice (the % predicate pushes into
    # the scan), instead of filtering a full-corpus band table twice
    ev, key = _minhash_bands(
        sh.where(F.col("doc_id") % FUZZY_HOLDOUT_MOD == 0)
    )
    tr, _ = _minhash_bands(
        sh.where(F.col("doc_id") % FUZZY_HOLDOUT_MOD != 0)
    )
    cand = (
        tr.withColumnRenamed("doc_id", "train_id")
        .join(
            F.broadcast(ev.withColumnRenamed("doc_id", "eval_id")), key
        )
        .select("train_id", "eval_id")
        .dropDuplicates(["train_id", "eval_id"])
    )
    st = sh.selectExpr("doc_id AS train_id", "shingles AS sh_t", "size(shingles) AS nt")
    # the broadcast verify side must be the FILTERED eval slice — the
    # join key would filter only after a full-corpus broadcast built
    se = sh.where(F.col("doc_id") % FUZZY_HOLDOUT_MOD == 0).selectExpr(
        "doc_id AS eval_id", "shingles AS sh_e", "size(shingles) AS ne"
    )
    inter = F.size(F.array_intersect(F.col("sh_t"), F.col("sh_e")))
    jac = inter / (F.col("nt") + F.col("ne") - inter)
    return (
        cand.join(st, "train_id")
        .join(F.broadcast(se), "eval_id")
        .where(jac >= JACCARD_THRESHOLD)
        .withColumn("_ic", inter)
        .groupBy("train_id")
        .agg(
            F.count("*").alias("n_eval_matches"),
            # rounding is monotone, so max of per-pair HALF_UP integer
            # ratios equals the rounded max (ext/exact.py recipe)
            F.max(
                F.expr(_rr_s("_ic", "nt + ne - _ic", 4))
            ).alias("max_jaccard"),
            F.min("eval_id").alias("first_eval_id"),
        )
        .orderBy("train_id")
    )


DECONTAMINATE_FUZZY_SQL = f"""
WITH {_SHINGLE_CTE},
hv AS (SELECT doc_id, {_h60_duck('u.sg')} % {MERSENNE_P} AS h
       FROM (SELECT doc_id, unnest(shingles) AS sg FROM s) u),
sig AS (SELECT doc_id, {_SIG_COLS}
        FROM hv GROUP BY doc_id),
bands AS (
{_BAND_SELECTS}),
cand AS (SELECT DISTINCT t.doc_id AS train_id, e.doc_id AS eval_id
         FROM bands t JOIN bands e
           ON t.band = e.band
          AND {' AND '.join(f't.r{r} = e.r{r}' for r in range(_RPB))}
          AND t.doc_id % {FUZZY_HOLDOUT_MOD} <> 0
          AND e.doc_id % {FUZZY_HOLDOUT_MOD} = 0),
v AS (SELECT c.train_id, c.eval_id,
             len(list_intersect(st.shingles, se.shingles)) AS ic,
             len(st.shingles) AS nt, len(se.shingles) AS ne
      FROM cand c
      JOIN s st ON c.train_id = st.doc_id
      JOIN s se ON c.eval_id = se.doc_id)
SELECT train_id, count(*) AS n_eval_matches,
       max({_rr_d("ic", "nt + ne - ic", 4)}) AS max_jaccard,
       min(eval_id) AS first_eval_id
FROM v WHERE ic / (nt + ne - ic) >= {JACCARD_THRESHOLD}
GROUP BY train_id ORDER BY train_id"""


# --- SimHash (exact oracle) -----------------------------------------------

def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """60-bit SimHash over word tokens: per bit, sum ±1 weighted by token
    hash bit; candidates = docs sharing any 15-bit chunk of the
    fingerprint (complete for Hamming ≤ SIMHASH_MAX_HAMMING = chunks-1);
    verified by exact bit_count Hamming distance. The md5-derived token
    hash (see ``_h60_spark``) makes fingerprints — and therefore the
    whole output — reproducible in DuckDB, so the oracle mirrors the
    full pipeline and the check is an exact hash match."""
    docs = load_table(spark, sf, "documents")
    # Explode tokens; per bit, a codegen'd sum(±1) aggregate (map-side
    # partial agg); fp assembled from the 60 sums in one projection.
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("t")
    ).selectExpr("doc_id", f"{_h60_spark('t')} AS h")
    bit_aggs = [
        F.sum(F.expr(f"IF((h >> {i}) & 1 = 1, 1, -1)")).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    fp = (
        toks.groupBy("doc_id")
        .agg(*bit_aggs)
        .selectExpr(
            "doc_id",
            "("
            + " | ".join(
                f"IF(b{i} > 0, shiftleft(1L, {i}), 0L)"
                for i in range(SIMHASH_BITS)
            )
            + ") AS fp",
        )
    )
    mask = (1 << SIMHASH_CHUNK_BITS) - 1
    chunks = fp.selectExpr(
        "doc_id",
        "fp",
        f"explode(transform(sequence(0, {SIMHASH_CHUNKS - 1}), "
        f"c -> named_struct('c', c, 'v', (fp >> (c * {SIMHASH_CHUNK_BITS})) & {mask}))) AS ch",
    ).select("doc_id", "fp", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    a = chunks.alias("a")
    b = chunks.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(
            b,
            (F.col("a.c") == F.col("b.c"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("bigint").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


_BIT_SUMS = ",\n       ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
    for i in range(SIMHASH_BITS)
)
_FP_ASSEMBLY = " + ".join(
    f"CASE WHEN b{i} > 0 THEN (CAST(1 AS BIGINT) << {i}) ELSE CAST(0 AS BIGINT) END"
    for i in range(SIMHASH_BITS)
)
_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1
DEDUP_SIMHASH_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
              FROM documents),
h AS (SELECT doc_id, {_h60_duck('t')} AS h FROM toks),
bits AS (SELECT doc_id, {_BIT_SUMS}
         FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, ({_FP_ASSEMBLY}) AS fp FROM bits),
chunks AS (SELECT doc_id, fp, cs.c,
                  (fp >> (cs.c * {SIMHASH_CHUNK_BITS})) & {_CHUNK_MASK} AS v
           FROM fp, (SELECT unnest([{', '.join(map(str, range(SIMHASH_CHUNKS)))}]) AS c) cs),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.fp AS fa, b.fp AS fb
         FROM chunks a JOIN chunks b
           ON a.c = b.c AND a.v = b.v AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fa, fb)) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b"""


# --- near-dup connected components / canonical selection ------------------

CC_MAX_ITERS = 30


#: pair graphs at or below this edge count run driver-side union-find —
#: the same small-side-to-driver adaptivity as a broadcast join. Measured
#: at sf0.1: the 512-edge graph costs ~2.5 s of pure job-scheduling in
#: the distributed loop (2 rounds × ~4 tiny-task stages) vs ~10 ms of
#: union-find. 1M edges ≈ 16 MB of longs — trivially driver-safe.
CC_DRIVER_EDGE_THRESHOLD = 1_000_000


#: session-scoped memo of the CC label table. ``curate_corpus`` composes
#: on ``dedup_components``, and one driver/bench session runs both —
#: without this the curation pipeline re-runs the whole pair-generation +
#: CC sub-plan (measured: ~3.3 s of curate's 3.7 s at sf0.1). Labels are
#: one (doc_id, canonical_id) row per *paired* doc — tiny at any corpus
#: size — so they persist() once per (session, dataset); single slot, a
#: different dataset evicts the previous. This is exactly what a real
#: pipeline does: materialize the label table once, join it everywhere.
_LABELS_MEMO: dict[tuple[str, str], DataFrame] = {}


def dedup_components(spark: SparkSession, sf: str) -> DataFrame:
    """Cluster the near-dup pair graph into components and pick each
    document's canonical representative (the component's min doc_id) —
    the step a dedup pipeline runs after pair generation, so "A≈B, B≈C"
    collapses to one kept document even when A≉C directly.

    Adaptive execution: the pair graph after near-dup filtering is
    orders of magnitude smaller than the corpus (dup *pairs*, not docs).
    At or below CC_DRIVER_EDGE_THRESHOLD edges the component step runs
    as driver-side union-find with path compression + union-by-min —
    O(E α(E)) once, no per-round Spark jobs — exactly the small-side
    adaptivity of a broadcast join. Above it, distributed min-label
    propagation (the standard GraphFrames-style CC) takes over; at
    100 TB with billions of candidate pairs that is the path taken.
    """
    # applicationId (not id(spark)): object addresses can be reused by a
    # later session, which would hand out a DataFrame bound to a dead one
    key = (spark.sparkContext.applicationId, sf)
    memo = _LABELS_MEMO.get(key)
    if memo is not None:
        return memo
    pairs = dedup_ngram_jaccard(spark, sf).select("doc_a", "doc_b").cache()
    try:
        n_pairs = pairs.count()
        if n_pairs <= CC_DRIVER_EDGE_THRESHOLD:
            result = _cc_union_find(spark, pairs)
        else:
            result = _cc_label_propagation(spark, pairs)
    finally:
        pairs.unpersist()
    result = result.persist()
    for old_key in list(_LABELS_MEMO):
        _LABELS_MEMO.pop(old_key).unpersist()
    _LABELS_MEMO[key] = result
    return result


def _cc_union_find(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in pairs.collect():
        a, b = row[0], row[1]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union-by-min → every root is its component's min
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    docs = sorted(parent)
    return local_frame(
        spark,
        "doc_id bigint, canonical_id bigint",
        {"doc_id": docs, "canonical_id": [find(n) for n in docs]},
    ).orderBy("doc_id")


def _cc_label_propagation(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation: each round every node takes the
    min label among itself and its neighbors; converges in O(component
    diameter) rounds, each one join + one aggregate shuffling on doc_id.

    Convergence check: labels only ever decrease under min-propagation,
    so sum(label) strictly decreases until the fixed point — one agg on
    the cached labels per round instead of an old-vs-new join + count.
    (Composing two lazy propagation steps per check was tried and is
    SLOWER: the intermediate label set feeds both sides of the next
    join, and uncached it evaluates twice — the extra work outweighs
    the saved driver action.)
    """
    edges = (
        pairs.union(pairs.select("doc_b", "doc_a"))
        .toDF("src", "dst")
        .cache()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .cache()
    )
    def _propagate(lbl):
        nbr = (
            edges.join(lbl, edges.src == lbl.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        return (
            lbl.alias("l")
            .join(nbr.alias("n"), "doc_id", "left")
            .select(
                "doc_id",
                F.least(
                    F.col("l.label"),
                    F.coalesce(F.col("n.nbr_label"), F.col("l.label")),
                ).alias("label"),
            )
        )

    prev_sum = labels.agg(F.sum("label")).first()[0]
    for _ in range(CC_MAX_ITERS):
        new_labels = _propagate(labels).cache()
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(f"CC did not converge in {CC_MAX_ITERS} rounds")
    out = (
        labels.select("doc_id", F.col("label").alias("canonical_id"))
        .orderBy("doc_id")
    )
    edges.unpersist()
    return out


# DuckDB oracle: undirected reachability via recursive CTE (UNION set
# semantics terminate it); canonical = min over the reachable set, which
# for an undirected graph IS the connected component.
DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
e0 AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
sz AS (SELECT doc_id, len(shingles) AS nsh FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
  FROM e0 a JOIN e0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE ic / (sa.nsh + sb.nsh - ic) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, node) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
)
SELECT src AS doc_id, min(node) AS canonical_id
FROM reach GROUP BY src ORDER BY doc_id"""


# --- end-to-end corpus curation -------------------------------------------

CURATE_MIN_CHARS = 120
CURATE_MAX_STOPWORD_RATIO = 0.12
CURATE_LANGS = ("en", "de", "fr")


def curate_corpus(spark: SparkSession, sf: str) -> DataFrame:
    """The composed training-data curation pipeline — what this engine
    exists to run at 100 TB: quality gate (length + stopword ratio) →
    language filter → near-dup collapse keeping one canonical doc per
    cluster (via the CC labels) → per-(lang, source) corpus stats.

    Composition stays declarative: the quality/language filters fuse
    into the document scan; only the dedup-components sub-plan adds
    its own (bounded) shuffles.
    """
    docs = load_table(spark, sf, "documents")
    labels = dedup_components(spark, sf)  # doc_id -> canonical_id
    kept = (
        docs.join(labels, "doc_id", "left")
        .where(
            (F.coalesce(F.col("canonical_id"), F.col("doc_id")) == F.col("doc_id"))
            & (F.col("n_chars") >= CURATE_MIN_CHARS)
            & F.col("lang").isin(*CURATE_LANGS)
            & (
                F.size(
                    F.filter(
                        F.split("text", " "),
                        lambda x: (x == "a") | (x == "the"),
                    )
                )
                / F.size(F.split("text", " "))
                <= CURATE_MAX_STOPWORD_RATIO
            )
        )
    )
    return (
        kept.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("lang", "source")
    )


CURATE_CORPUS_SQL = f"""
WITH RECURSIVE {_SHINGLE_CTE},
e0 AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
sz AS (SELECT doc_id, len(shingles) AS nsh FROM s),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ic
  FROM e0 a JOIN e0 b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE ic / (sa.nsh + sb.nsh - ic) >= {JACCARD_THRESHOLD}),
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
reach(src, node) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a),
labels AS (SELECT src AS doc_id, min(node) AS canonical_id
           FROM reach GROUP BY src),
kept AS (
  SELECT d.lang, d.source, d.doc_id, d.n_chars
  FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
  WHERE COALESCE(l.canonical_id, d.doc_id) = d.doc_id
    AND d.n_chars >= {CURATE_MIN_CHARS}
    AND d.lang IN {CURATE_LANGS!r}
    AND len(list_filter(string_split(d.text, ' '),
            x -> x = 'a' OR x = 'the'))
        / len(string_split(d.text, ' ')) <= {CURATE_MAX_STOPWORD_RATIO})
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc_id
FROM kept GROUP BY lang, source ORDER BY lang, source"""


# --- cross-document boilerplate chunk profiling ---------------------------
# Registered round 10 (staged through round 9 while that window was
# full; the staging
# every late operator goes through). The CCNet / RefinedWeb line-level
# dedup step: split each document into fixed-width word chunks, count
# each chunk's distinct-document frequency ACROSS the corpus, and flag
# chunks appearing in ≥ BOILER_MIN_DOCS documents as boilerplate
# (headers, footers, nav text, license blurbs — the repeated material
# document-level dedup can't remove because the documents differ
# elsewhere). Per document the op reports its boilerplate fraction and
# a keep verdict. Scale shape: one scan fans out to the chunk table
# (O(total words / P) rows), ONE map-side-combined groupBy counts
# distinct docs per chunk, and the verdict join is keyed by chunk text
# — shuffle volume is chunk-table-sized, never pairwise.

BOILER_CHUNK_WORDS = 10
BOILER_MIN_DOCS = 2
BOILER_MAX_FRAC = 0.5


def dedup_boilerplate(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: chunk count, boilerplate-chunk count (chunks seen
    in ≥ {BOILER_MIN_DOCS} distinct docs), the boilerplate fraction,
    and keep = fraction < {BOILER_MAX_FRAC}. The trailing partial chunk
    counts as a chunk — short shared tails are boilerplate too."""
    return boilerplate_verdicts(load_table(spark, sf, "documents"))


def boilerplate_verdicts(docs: DataFrame) -> DataFrame:
    """The library entry point behind :func:`dedup_boilerplate` (the
    `sem_dedup_blocked` pattern): verdicts for any (doc_id, text)
    frame, at any size."""
    p = BOILER_CHUNK_WORDS
    chunks = docs.selectExpr(
        "doc_id", "split(text, ' ') AS w"
    ).selectExpr(
        "doc_id",
        "explode(transform(sequence(0, CAST(ceil(size(w) / "
        f"{p}.0d) AS INT) - 1), "
        f"i -> array_join(slice(w, i * {p} + 1, {p}), ' '))) AS chunk",
    )
    freq = chunks.groupBy("chunk").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                (F.col("n_docs") >= BOILER_MIN_DOCS).cast("long")
            ).alias("n_boiler"),
        )
        .selectExpr(
            "doc_id",
            "n_chunks",
            "n_boiler",
            # exact-integer ratio -> HALF_UP recipe (ext/exact.py); the
            # keep flag compares in pure 4-dp micro-integers
            _rr_s("n_boiler", "n_chunks", 4) + " AS boiler_frac",
            "CAST((2 * n_boiler * 10000 + n_chunks) DIV (2 * n_chunks)"
            f" < {int(BOILER_MAX_FRAC * 10000)} AS INT) AS keep",
        )
        .orderBy("doc_id")
    )


DEDUP_BOILERPLATE_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
chunks AS (
  SELECT doc_id,
         unnest([array_to_string(w[i * {BOILER_CHUNK_WORDS} + 1 :
                   (i + 1) * {BOILER_CHUNK_WORDS}], ' ')
                 for i in range(CAST(ceil(len(w) / {BOILER_CHUNK_WORDS}.0)
                   AS INT))]) AS chunk
  FROM w),
freq AS (SELECT chunk, count(DISTINCT doc_id) AS n_docs
         FROM chunks GROUP BY chunk),
per_doc AS (
  SELECT c.doc_id, count(*) AS n_chunks,
         CAST(sum(CASE WHEN f.n_docs >= {BOILER_MIN_DOCS} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_boiler
  FROM chunks c JOIN freq f ON c.chunk = f.chunk
  GROUP BY c.doc_id)
SELECT doc_id, n_chunks, n_boiler,
       {_rr_d("n_boiler", "n_chunks", 4)} AS boiler_frac,
       CAST((2 * n_boiler * 10000 + n_chunks) // (2 * n_chunks)
            < {int(BOILER_MAX_FRAC * 10000)} AS INT) AS keep
FROM per_doc ORDER BY doc_id"""


# --- cross-source overlap matrix ------------------------------------------
# STAGED for the round-11 driver window (round-10's is full; the staging
# every late operator goes through). The provenance diagnostic every
# multi-source pretraining mix needs: which sources copy from each
# other. Exact whole-document duplicates are too rare to chart at small
# scale (zero below sf0.1 in the fixture), so the unit of overlap is
# the repeated BOILER_CHUNK_WORDS-word chunk — the same unit the
# boilerplate pruner counts — which makes the matrix a template/
# boilerplate-sharing chart as well as a copying chart.
#
# Scale shape: the DISTINCT (source, chunk) table is chunk-table-sized
# (corpus-linear, the boilerplate groupBy's shuffle); the chunk
# self-join then fans out per chunk by (#sources containing it choose
# 2) ≤ C(n_sources, 2) — bounded by the SOURCE count squared, never by
# doc count, so a chunk shared by every source costs ~n_sources² rows,
# not N². The per-source totals are an n_sources-row broadcast.


_OVERLAP_PREV_CHECKPOINT: list = []


def _rotate_overlap_checkpoint(new_df) -> None:
    while _OVERLAP_PREV_CHECKPOINT:
        try:
            _OVERLAP_PREV_CHECKPOINT.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing retained anyway
    _OVERLAP_PREV_CHECKPOINT.append(new_df)


def source_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Per source pair (a < b): chunks shared by both, each side's
    distinct-chunk total, and the Jaccard overlap of their chunk sets
    — the cross-source copying/template matrix."""
    p = BOILER_CHUNK_WORDS
    # ONE corpus materialization: the distinct (source, chunk) table
    # feeds four consumers (both self-join sides + two per-source
    # totals) whose pruned subtrees Catalyst would otherwise re-scan
    # the corpus for — measured at 200k docs: 1.53 s → 0.92 s warm
    # (6.7 s → 1.3 s first-touch). At 100 TB this table persists as a
    # real table (the incremental-dedup index shape); the lazy
    # localCheckpoint is the in-session rendering of that artifact.
    chunks = (
        load_table(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .selectExpr("source", "split(text, ' ') AS w")
        .selectExpr(
            "source",
            "explode(transform(sequence(0, CAST(ceil(size(w) / "
            f"{p}.0d) AS INT) - 1), "
            f"i -> array_join(slice(w, i * {p} + 1, {p}), ' '))) AS chunk",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    _rotate_overlap_checkpoint(chunks)
    per_src = chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks")
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("shared_chunks"))
    )
    return (
        shared.join(
            F.broadcast(per_src.withColumnRenamed("n_chunks", "chunks_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(per_src.withColumnRenamed("n_chunks", "chunks_b")),
            F.col("src_b") == F.col("source"),
        )
        .drop("source")
        .selectExpr(
            "src_a",
            "src_b",
            "shared_chunks",
            "chunks_a",
            "chunks_b",
            _rr_s(
                "shared_chunks", "chunks_a + chunks_b - shared_chunks", 6
            )
            + " AS jaccard",
        )
        .orderBy("src_a", "src_b")
    )


SOURCE_OVERLAP_SQL = f"""
WITH w AS (SELECT source, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
chunks AS (
  SELECT DISTINCT source,
         unnest([array_to_string(w[i * {BOILER_CHUNK_WORDS} + 1 :
                   (i + 1) * {BOILER_CHUNK_WORDS}], ' ')
                 for i in range(CAST(ceil(len(w) / {BOILER_CHUNK_WORDS}.0)
                   AS INT))]) AS chunk
  FROM w),
per_src AS (SELECT source, count(*) AS n_chunks FROM chunks GROUP BY source),
shared AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_chunks
  FROM chunks a JOIN chunks b
    ON a.chunk = b.chunk AND a.source < b.source
  GROUP BY a.source, b.source)
SELECT src_a, src_b, shared_chunks,
       pa.n_chunks AS chunks_a, pb.n_chunks AS chunks_b,
       {_rr_d("shared_chunks",
               "pa.n_chunks + pb.n_chunks - shared_chunks", 6)} AS jaccard
FROM shared
JOIN per_src pa ON src_a = pa.source
JOIN per_src pb ON src_b = pb.source
ORDER BY src_a, src_b"""


register("ext_dedup_exact", dedup_exact, DEDUP_EXACT_SQL)
register("ext_dedup_components", dedup_components, DEDUP_COMPONENTS_SQL)
register("ext_curate_corpus", curate_corpus, CURATE_CORPUS_SQL)
register("ext_dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL)
register("ext_dedup_minhash_lsh", dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL)
register("ext_dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL)
register("ext_minhash_jaccard_est", minhash_jaccard_est, MINHASH_JACCARD_EST_SQL)
register("ext_dedup_simhash", dedup_simhash, DEDUP_SIMHASH_SQL)
register("ext_decontaminate_fuzzy", decontaminate_fuzzy, DECONTAMINATE_FUZZY_SQL)
register("ext_dedup_substring_spans", dedup_substring_spans, DEDUP_SUBSTRING_SQL)
register("ext_dedup_boilerplate", dedup_boilerplate, DEDUP_BOILERPLATE_SQL)

# round 11: staged-through-r10 registrations (window discipline per
# registry.py).
register("ext_source_overlap", source_overlap, SOURCE_OVERLAP_SQL)


# --- repeated-passage coverage (sliding-window substring dedup signal) ----
# STAGED for the round-12 driver window (round-11's is full; the staging
# every late operator goes through). The public recipe: "Deduplicating
# Training Data Makes Language Models Better" (Lee et al., ACL 2022) —
# training corpora carry huge volumes of REPEATED PASSAGES that whole-doc
# and near-dup dedup both miss (the docs differ, the passage recurs).
# Their suffix-array ExactSubstr finds maximal repeats at 50-BPE-token
# granularity; this engine charts the same signal relationally: every
# PASSAGE_WORDS-word SLIDING window (every alignment, unlike the
# boilerplate pruner's fixed-stride chunks) is hashed, and a window is
# "repeated" when its passage occurs in ≥ 2 distinct documents. Per doc:
# window count, repeated-window count, coverage fraction, and a flag at
# PASSAGE_FLAG coverage — the per-doc worksheet a passage-dedup pass
# prioritizes docs by.
#
# Scale shape: the corpus pays one scan + one explode to (doc, hash) —
# the 60-bit passage hash crosses the wire, the text never does. The
# doc-frequency table is a map-side-combined groupBy on the hash; the
# join back is a co-keyed equi-join on the same key. Everything is
# corpus-linear; no pair space exists anywhere (the repeat signal is
# computed from counts, not from doc×doc comparison).

PASSAGE_WORDS = 8
#: flag a doc when repeated windows cover ≥ 1/PASSAGE_FLAG_DEN of its
#: windows (pure integer comparison — no float boundary in the verdict)
PASSAGE_FLAG_DEN = 5


def _passage_windows_spark() -> str:
    """All PASSAGE_WORDS-word sliding windows of `split(text, ' ')` as
    an array expression — PASSAGE_WORDS shifted slices zipped pairwise,
    which stays LINEAR in token count (the shingles.py lesson: the
    transform(sequence)/element_at form is O(n²) after projection
    collapse re-inlines the split)."""
    k = PASSAGE_WORDS
    s, n = "split(text, ' ')", "size(split(text, ' '))"
    # greatest(·, 0): total on any doc length (the shingles.py lesson)
    ln = f"greatest({n} - {k - 1}, 0)"
    expr = f"slice({s}, 1, {ln})"
    for j in range(2, k + 1):
        expr = (
            f"zip_with({expr}, slice({s}, {j}, {ln}), "
            "(x, y) -> concat(x, ' ', y))"
        )
    return expr


def dedup_passages(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: sliding passage-window count, windows whose
    passage recurs in ≥2 distinct docs, the HALF_UP 4-dp coverage
    fraction (exact integer arithmetic), and the integer flag at
    1/PASSAGE_FLAG_DEN coverage. Docs shorter than PASSAGE_WORDS words
    carry zeros."""
    docs = load_table(spark, sf, "documents").where("text IS NOT NULL")
    k = PASSAGE_WORDS
    pos = docs.where(f"size(split(text, ' ')) >= {k}").selectExpr(
        "doc_id", f"explode({_passage_windows_spark()}) AS sh"
    ).selectExpr("doc_id", f"{_h60_spark('sh')} AS h")
    freq = pos.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    per = (
        pos.join(freq, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.expr("CAST(nd >= 2 AS INT)"))
            .cast("long")
            .alias("n_repeated"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows",
            "CAST(coalesce(n_repeated, 0) AS BIGINT) AS n_repeated",
            # HALF_UP(n_repeated / n_windows, 4) in exact integers (the
            # streaming-gate recipe; python round() is banker's)
            "CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0d"
            " ELSE ((2 * n_repeated * 10000 + n_windows)"
            " DIV (2 * n_windows)) / 10000.0d END AS repeat_frac",
            "CAST(coalesce(n_windows, 0) > 0 AND"
            f" {PASSAGE_FLAG_DEN} * coalesce(n_repeated, 0) >= n_windows"
            " AS INT) AS flagged",
        )
        .orderBy("doc_id")
    )


DEDUP_PASSAGES_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
pos AS (SELECT doc_id, {_h60_duck('sh')} AS h FROM (
    SELECT doc_id, array_to_string(w[i:i+{PASSAGE_WORDS - 1}], ' ') AS sh
    FROM (SELECT doc_id, w, unnest(range(1, len(w) - {PASSAGE_WORDS - 2}))
            AS i
          FROM t WHERE len(w) >= {PASSAGE_WORDS}))),
freq AS (SELECT h, count(DISTINCT doc_id) AS nd FROM pos GROUP BY h),
per AS (SELECT doc_id, count(*) AS n_windows,
               sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS n_repeated
        FROM pos JOIN freq USING (h) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(n_repeated, 0) AS BIGINT) AS n_repeated,
       CASE WHEN coalesce(n_windows, 0) = 0 THEN 0.0
            ELSE ((2 * n_repeated * 10000 + n_windows)
                  // (2 * n_windows)) / 10000.0 END AS repeat_frac,
       CAST(CASE WHEN coalesce(n_windows, 0) > 0
                  AND {PASSAGE_FLAG_DEN} * coalesce(n_repeated, 0)
                      >= n_windows
                 THEN 1 ELSE 0 END AS INT) AS flagged
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN per USING (doc_id) ORDER BY doc_id"""


def _register_preprocess_funnel() -> None:
    """ext_preprocess_funnel registers from whichever of pipeline.py /
    this module finishes importing LAST: its oracle composes constants
    from BOTH (funnel stages reuse the boilerplate-chunk thresholds
    here and the split hash in sampling). pipeline.py's bottom covers
    every import order except dedup-first — there pipeline's body runs
    mid-dedup-init and must skip, so THIS bottom retries once dedup's
    constants exist. Both sites guard on the other module's readiness
    and on not-already-registered, making the pair order-proof."""
    import sys

    from dariadb_spark.registry import REGISTRY

    if "ext_preprocess_funnel" in REGISTRY:
        return
    # Only LOOK UP pipeline, never import it here: in the normal
    # registry-first order pipeline imports after this module and its
    # own bottom registers; importing it eagerly from here would
    # reorder the whole ext import sequence.
    _pipe = sys.modules.get("dariadb_spark.ext.pipeline")
    if _pipe is None or not hasattr(_pipe, "preprocess_funnel"):
        return  # pipeline absent or mid-init: its bottom registers
    register(
        "ext_preprocess_funnel", _pipe.preprocess_funnel, _pipe._funnel_sql()
    )


_register_preprocess_funnel()


# round 12: repeated-passage coverage, staged through round 11, joins
# the driver-checked surface (parity + 150k-doc stress pinned since
# r11; window discipline per registry.py).
register("ext_dedup_passages", dedup_passages, DEDUP_PASSAGES_SQL)


# --- n-gram novelty attribution ---------------------------------------------
# Registered round 13 (staged round 12 with the full discipline:
# implemented + oracled + pytest parity + planted stress first).


def ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r13 window (see :func:`ngram_novelty_op`)."""
    return ngram_novelty_op(load_table(spark, sf, "documents"))


def ngram_novelty_op(docs: DataFrame) -> DataFrame:
    """Per-source n-gram novelty attribution: of the distinct word
    3-grams a source contains, what fraction FIRST entered the corpus
    through that source (first = the corpus-wide min ``doc_id``, the
    ingest-sequence proxy)? The redundancy planner's ranking — a feed
    whose novelty ratio collapses is re-crawling text the corpus
    already has and can be throttled before it burns dedup budget
    downstream (the cross-source view `ext_source_overlap` gives pair
    volume; this gives each feed ONE attribution number).

    Everything is exact integer counting on distinct shingle types;
    the ratio is the HALF_UP integer closure (ext/exact.py) — no float
    anywhere.

    Plan shape (100 TB): one shingle explode (distinct within doc —
    linear, the zip_with slices form), one partial-aggregated
    min(doc_id) per shingle, one join back on the 64-bit shingle hash
    space... in THIS declarative form, on the raw shingle string key:
    Catalyst shuffles both sides on ``shingle`` once and reuses the
    exchange; per-source distinct counting shuffles (source, shingle)
    partials. A broadcast |docs|→source map is NOT needed: source
    rides the explode (the ``carry`` projection — r19 removed the
    doc_id join of the exploded table back to docs that the earlier
    form paid; isolated best-of-3 1.82 → 1.46 s at sf0.1, rows
    identical). No UDF, no driver state, no pair space.
    """
    sh_src = _shingled(docs, carry=("source",)).select(
        "doc_id", "source", F.explode(F.col("shingles")).alias("sh")
    )
    src = docs.select("doc_id", "source")
    owner = sh_src.groupBy("sh").agg(F.min("doc_id").alias("owner_doc"))
    owned = (
        owner.join(
            src.select(
                F.col("doc_id").alias("owner_doc"),
                F.col("source").alias("owner_src"),
            ),
            "owner_doc",
        )
        .groupBy(F.col("owner_src").alias("source"))
        .agg(F.count("*").alias("owned_ngrams"))
    )
    present = sh_src.groupBy("source").agg(
        F.countDistinct("sh").alias("distinct_ngrams"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    return (
        present.join(owned, "source", "left")
        .selectExpr(
            "source",
            "n_docs",
            "distinct_ngrams",
            "coalesce(owned_ngrams, 0L) AS owned_ngrams",
            _rr_s("coalesce(owned_ngrams, 0L)", "distinct_ngrams", 4)
            + " AS novelty_ratio",
        )
        .orderBy("source")
    )


NGRAM_NOVELTY_SQL = f"""WITH {_SHINGLE_CTE},
sh AS (SELECT doc_id, unnest(shingles) AS sh FROM s),
src AS (SELECT doc_id, source FROM documents),
sh_src AS (SELECT h.doc_id, h.sh, d.source
           FROM sh h JOIN src d ON h.doc_id = d.doc_id),
owner AS (SELECT sh, min(doc_id) AS owner_doc FROM sh_src GROUP BY sh),
owned AS (SELECT d.source, count(*) AS owned_ngrams
          FROM owner o JOIN src d ON o.owner_doc = d.doc_id
          GROUP BY d.source),
present AS (SELECT source, count(DISTINCT sh) AS distinct_ngrams,
                   count(DISTINCT doc_id) AS n_docs
            FROM sh_src GROUP BY source)
SELECT p.source, p.n_docs, p.distinct_ngrams,
       coalesce(o.owned_ngrams, 0) AS owned_ngrams,
       {_rr_d("coalesce(o.owned_ngrams, 0)", "p.distinct_ngrams", 4)}
         AS novelty_ratio
FROM present p LEFT JOIN owned o ON p.source = o.source
ORDER BY p.source"""

register("ext_ngram_novelty", ngram_novelty, NGRAM_NOVELTY_SQL)


# --- edit-distance near-dup (banded Levenshtein) ------------------------------
# Registered round 14 (staged round 13: implemented + oracled + pytest
# parity + planted stress first, registered at the window rotation).
#
# The one classic near-dup metric the dedup family still lacked:
# character-level edit distance (the title/URL/short-field dedup every
# catalog pipeline runs), next to the token-set views (minhash/ngram
# Jaccard), the bit-sketch views (simhash, audio), the embedding views
# (cosine, SemDeDup), and the span views (passages, substring). Both
# engines ship the SAME unit-cost levenshtein() built-in, so the verify
# step is exact JVM-side whole-stage-codegen — no UDF.

EDIT_PREFIX = 64  # the compared field: the document's 64-char head
EDIT_MAX = 5  # Hamming-style budget: ≤5 edits = near-dup


def dedup_edit_distance(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r14 window (:func:`dedup_edit_distance_op`)."""
    return dedup_edit_distance_op(load_table(spark, sf, "documents"))


def dedup_edit_distance_op(docs: DataFrame) -> DataFrame:
    """Near-duplicate pairs by edit distance over the 64-char document
    head (the title-field proxy — a real catalog runs this on its
    title/url column with the identical plan): pairs sharing their
    first two words whose heads are within EDIT_MAX Levenshtein edits.

    Blocking (the plan's scale story): candidates are generated from
    the (first-two-words, length-band) key with band width EDIT_MAX+1 —
    a true match has |Δlen| ≤ EDIT_MAX, so its bands are equal or
    adjacent, and the asymmetric 1-vs-3 band emission meets every such
    pair EXACTLY ONCE (no distinct needed). The shared-opening contract
    is the standard canopy assumption for edit-distance dedup and is
    part of the operator's definition. The oracle drops ONLY the
    length banding (it stays quadratic within each shared-opening
    group, keeping the |Δlen| ≤ EDIT_MAX filter as a predicate, not a
    join key) — so the driver's hash compare proves the BANDING loses
    no pair, every round, at every scale factor it runs; the
    shared-opening block itself is definitional on both sides.

    Exactness: lengths and bands are int64; levenshtein() is the same
    unit-cost integer metric in Spark and DuckDB (pinned against a
    pure-Python DP in tests); no float anywhere.

    Plan shape (100 TB): one projection (text truncated to 64 chars —
    the full text never shuffles), one hash join on the block key with
    ≤3 keys per row, and the codegen'd levenshtein verify on the
    candidate pairs only. Block sizes are bounded by the key's
    selectivity (fixture max 14); a hot block is a data-quality finding
    (a boilerplate opening), surfaced by ext_dedup_boilerplate."""
    band = EDIT_MAX + 1
    p = docs.where(F.col("text").isNotNull()).selectExpr(
        "doc_id",
        f"substring(text, 1, {EDIT_PREFIX}) AS pre",
        f"length(substring(text, 1, {EDIT_PREFIX})) AS ln",
        "concat_ws(' ', slice(split(text, ' '), 1, 2)) AS w12",
    )
    left = p.selectExpr(
        "doc_id AS doc_a", "pre AS pre_a", "ln AS ln_a", "w12",
        f"ln DIV {band} AS bk",
    )
    right = p.selectExpr(
        "doc_id AS doc_b", "pre AS pre_b", "ln AS ln_b",
        "w12 AS w12_b",
        f"explode(array(ln DIV {band} - 1, ln DIV {band},"
        f" ln DIV {band} + 1)) AS bk_b",
    )
    return (
        left.join(
            right,
            (F.col("w12") == F.col("w12_b"))
            & (F.col("bk") == F.col("bk_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .where(
            (F.abs(F.col("ln_a") - F.col("ln_b")) <= EDIT_MAX)
            & (
                F.expr("levenshtein(pre_a, pre_b)") <= EDIT_MAX
            )
        )
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(levenshtein(pre_a, pre_b) AS BIGINT) AS dist",
        )
        .orderBy("doc_a", "doc_b")
    )


#: the oracle deliberately does NOT mirror the length banding: it is
#: quadratic within each shared-opening group (|Δlen| kept as a filter,
#: not a join key), so the hash compare proves the banding loses no pair
DEDUP_EDIT_SQL = f"""WITH
p AS (SELECT doc_id, substr(text, 1, {EDIT_PREFIX}) AS pre,
             length(substr(text, 1, {EDIT_PREFIX})) AS ln,
             concat_ws(' ', list_slice(string_split(text, ' '), 1, 2))
               AS w12
      FROM documents WHERE text IS NOT NULL)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pre, b.pre) AS BIGINT) AS dist
FROM p a JOIN p b
  ON a.w12 = b.w12 AND a.doc_id < b.doc_id
 AND abs(a.ln - b.ln) <= {EDIT_MAX}
 AND levenshtein(a.pre, b.pre) <= {EDIT_MAX}
ORDER BY doc_a, doc_b"""


def _streaming_exact_dedup_parity(spark, sf):
    # Lazy import: streaming/dedup.py is harness-side machinery the
    # registry never imports at module load (the hll/gate pattern).
    from dariadb_spark.streaming.dedup import streaming_exact_dedup_parity

    return streaming_exact_dedup_parity(spark, sf)


register("ext_dedup_edit_distance", dedup_edit_distance, DEDUP_EDIT_SQL)


def _register_streaming_exact_dedup() -> None:
    # Registered round 13. The oracle constant lives next to the
    # streaming operator it replays; importing it here is a plain
    # string import (streaming/dedup.py has no heavy module state).
    from dariadb_spark.streaming.dedup import STREAMING_EXACT_DEDUP_SQL

    register(
        "streaming_exact_dedup_parity",
        _streaming_exact_dedup_parity,
        STREAMING_EXACT_DEDUP_SQL,
    )


_register_streaming_exact_dedup()


def _retry_cross_module_registrations() -> None:
    """dedup-first import order: this module finishes importing LAST
    (registry's chain imported curation/pipeline fully while this body
    was mid-init), so the cross-module registrations that skipped at
    those modules' bottoms retry here. Each helper guards on
    not-already-registered, making every import order land exactly one
    registration."""
    import sys

    _cur = sys.modules.get("dariadb_spark.ext.curation")
    if _cur is not None and hasattr(_cur, "_register_dedup_keep_best"):
        _cur._register_dedup_keep_best()
    _pipe = sys.modules.get("dariadb_spark.ext.pipeline")
    if _pipe is not None and hasattr(_pipe, "_register_streaming_gate"):
        _pipe._register_streaming_gate()


_retry_cross_module_registrations()
