"""[EXT] corpus-curation signals beyond dedup/quality basics — the three
checks a large-scale training-data build runs between raw crawl and
tokenization:

* ``ext_decontaminate`` — train/eval n-gram overlap (decontamination):
  find training documents sharing any word 3-gram with a held-out eval
  slice, with per-document contamination fractions. The eval side of the
  join is tiny (a benchmark suite), so at 100 TB it broadcasts and the
  train side streams through one scan + one semi-join-shaped aggregate.
* ``ext_text_gopher_quality`` — repetition/quality rules in the spirit
  of the Gopher/RefinedWeb filters (unique-word fraction, most-frequent-
  bigram dominance, mean word length), aggregated per language with a
  pass-rate. Per-doc metrics are array expressions fused into the scan;
  only the bigram-dominance rule adds a (doc, bigram) shuffle.
* ``ext_text_ngram_lm`` — corpus bigram statistics with conditional
  probabilities P(w2|w1): the n-gram LM building block (KenLM-style
  perplexity filters start exactly here). One shuffle on (w1, w2);
  unigram totals re-aggregate from the bigram counts — vocabulary-sized,
  no second pass over the corpus.

All pure DataFrame plans with exact DuckDB oracles. Round 7 adds two
more surfaces here: ``ext_forget_source`` / ``ext_lm_oov_filter``
registered earlier, and ``bloom_decontaminate`` — the Bloom-filter
rendering of decontamination for eval suites too big to broadcast
exactly (staged for the round-8 driver window; see its section below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dariadb_spark.ext.hashes import _h60_duck, _h60_spark
from dariadb_spark.ext.shingles import _SHINGLE_CTE, _shingled, pin_corpus
from dariadb_spark.ext.exact import (  # noqa: E402
    ratio_round_duck as _rr_d,
    ratio_round_spark as _rr_s,
    ratio_round_wide_duck as _rrw_d,
    ratio_round_wide_spark as _rrw_s,
)
from dariadb_spark.model import load_table
from dariadb_spark.registry import register

#: eval slice: every 50th doc_id — deterministic, scale-invariant (~2%).
HOLDOUT_MOD = 50

# Gopher-ish thresholds, tuned so the synthetic fixture yields a mix of
# pass and fail at every scale factor.
MIN_UNIQUE_WORD_FRAC = 0.45
MAX_TOP_BIGRAM_FRAC = 0.10
MIN_MEAN_WORD_LEN = 3.0

#: bigram LM: keep pairs seen at least this often (prunes the long tail
#: the way a count-cutoff LM does).
LM_MIN_COUNT = 20


# --- train/eval decontamination -------------------------------------------

def decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Per contaminated training doc: how many of its distinct 3-gram
    shingles appear anywhere in the eval slice, and the contaminated
    fraction. Join on the engine-agnostic 60-bit shingle hash (8-byte
    keys — the text never shuffles); the eval shingle set is distinct-ed
    first, so the join is |train shingles| × (tiny broadcast)."""
    # pin_corpus materializes the shingling projection ONCE across the
    # diverging consumers below (mechanism follows the master, see
    # shingles.pin_corpus). dedup_incremental measured SLOWER with this
    # pin - its %4 scan-pushdown design wins - so the pin is
    # per-operator, not in _shingled itself.
    sh = pin_corpus(_shingled(load_table(spark, sf, "documents")))
    ex = sh.select(
        "doc_id",
        # bigint: DuckDB len() is BIGINT while F.size is int32 — a driver
        # that compares Arrow dtypes (not just Python values) would flag it
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode("shingles").alias("s"),
    ).selectExpr("doc_id", "n_shingles", f"{_h60_spark('s')} AS h")
    hold = (
        ex.where(F.col("doc_id") % HOLDOUT_MOD == 0)
        .select("h")
        .distinct()
    )
    train = ex.where(F.col("doc_id") % HOLDOUT_MOD != 0)
    return (
        train.join(F.broadcast(hold), "h")
        .groupBy("doc_id", "n_shingles")
        .agg(F.countDistinct("h").alias("n_contaminated"))
        .select(
            "doc_id",
            "n_shingles",
            "n_contaminated",
            # exact-integer ratio → HALF_UP integer recipe (ext/exact.py:
            # round(int/int, d) flips cross-engine on non-dyadic halves)
            F.expr(
                _rr_s("n_contaminated", "n_shingles", 4)
            ).alias("contaminated_frac"),
        )
        .orderBy("doc_id")
    )


DECONTAMINATE_SQL = f"""
WITH {_SHINGLE_CTE},
ex AS (SELECT doc_id, len(shingles) AS n_shingles, {_h60_duck('u.sg')} AS h
       FROM (SELECT doc_id, shingles, unnest(shingles) AS sg FROM s) u),
hold AS (SELECT DISTINCT h FROM ex WHERE doc_id % {HOLDOUT_MOD} = 0)
SELECT e.doc_id, e.n_shingles,
       count(DISTINCT e.h) AS n_contaminated,
       {_rr_d("count(DISTINCT e.h)", "e.n_shingles", 4)} AS contaminated_frac
FROM ex e JOIN hold ON e.h = hold.h
WHERE e.doc_id % {HOLDOUT_MOD} != 0
GROUP BY e.doc_id, e.n_shingles
ORDER BY doc_id"""


# --- Gopher-style repetition / quality rules ------------------------------

def text_gopher_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language pass rates for three repetition/quality rules. The
    unique-word and word-length metrics are array expressions evaluated
    in the scan; the top-bigram dominance needs the per-doc bigram mode,
    one (doc, bigram) shuffle — same shape as tf-idf."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    base = docs.selectExpr(
        "doc_id",
        "lang",
        f"size({w}) AS n_words",
        # exact-integer ratios → the ext/exact.py HALF_UP recipe
        _rr_s(f"size(array_distinct({w}))", f"size({w})", 6)
        + " AS uniq_frac",
        _rr_s(
            f"aggregate({w}, 0L, (acc, t) -> acc + length(t))", f"size({w})", 6
        )
        + " AS mean_word_len",
    )
    bigrams = docs.selectExpr(
        "doc_id",
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> concat(x, ' ', y))) AS bg",
    )
    top_bg = (
        bigrams.groupBy("doc_id", "bg")
        .count()
        .groupBy("doc_id")
        .agg(
            F.expr(_rr_s("max(count)", "sum(count)", 6)).alias(
                "top_bigram_frac"
            )
        )
    )
    scored = base.join(top_bg, "doc_id").withColumn(
        "pass",
        (F.col("uniq_frac") >= MIN_UNIQUE_WORD_FRAC)
        & (F.col("top_bigram_frac") <= MAX_TOP_BIGRAM_FRAC)
        & (F.col("mean_word_len") >= MIN_MEAN_WORD_LEN),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("pass"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass"),
            (F.round(F.sum("uniq_frac"), 6) / F.count("*")).alias(
                "avg_uniq_frac"
            ),
            (F.round(F.sum("top_bigram_frac"), 6) / F.count("*")).alias(
                "avg_top_bigram_frac"
            ),
            (F.round(F.sum("mean_word_len"), 6) / F.count("*")).alias(
                "avg_mean_word_len"
            ),
        )
        .orderBy("lang")
    )


TEXT_GOPHER_QUALITY_SQL = f"""
WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
base AS (
  SELECT doc_id, lang, len(w) AS n_words,
         {_rr_d("len(list_distinct(w))", "len(w)", 6)} AS uniq_frac,
         {_rr_d("list_sum(list_transform(w, t -> len(t)))", "len(w)", 6)}
           AS mean_word_len
  FROM d),
bg AS (SELECT doc_id, u.b AS bg
       FROM (SELECT doc_id,
                    unnest([w[i] || ' ' || w[i+1]
                            for i in range(1, len(w))]) AS b
             FROM d) u),
bgc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
top_bg AS (SELECT doc_id, {_rr_d("max(c)", "sum(c)", 6)} AS top_bigram_frac
           FROM bgc GROUP BY doc_id),
scored AS (
  SELECT b.lang, b.uniq_frac, t.top_bigram_frac, b.mean_word_len,
         (b.uniq_frac >= {MIN_UNIQUE_WORD_FRAC}
          AND t.top_bigram_frac <= {MAX_TOP_BIGRAM_FRAC}
          AND b.mean_word_len >= {MIN_MEAN_WORD_LEN}) AS pass
  FROM base b JOIN top_bg t ON b.doc_id = t.doc_id)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       round(sum(uniq_frac), 6) / count(*) AS avg_uniq_frac,
       round(sum(top_bigram_frac), 6) / count(*) AS avg_top_bigram_frac,
       round(sum(mean_word_len), 6) / count(*) AS avg_mean_word_len
FROM scored GROUP BY lang ORDER BY lang"""


# --- corpus bigram LM statistics ------------------------------------------

def text_ngram_lm(spark: SparkSession, sf: str) -> DataFrame:
    """Bigram counts and conditional probabilities P(w2|w1) over the
    corpus, pruned by a count cutoff. The unigram denominators
    re-aggregate FROM the bigram counts (w1 totals over first positions)
    — vocabulary-sized, no second corpus pass."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    bi = docs.selectExpr(
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> struct(x AS w1, y AS w2)))"
        " AS b"
    ).select("b.w1", "b.w2")
    counts = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    totals = Window.partitionBy("w1")
    return (
        counts.withColumn("c1", F.sum("c12").over(totals))
        .where(F.col("c12") >= LM_MIN_COUNT)
        .select(
            "w1",
            "w2",
            "c12",
            "c1",
            F.expr(_rr_s("c12", "c1", 6)).alias("p_cond"),
        )
        .orderBy("w1", "w2")
    )


TEXT_NGRAM_LM_SQL = f"""
WITH d AS (SELECT string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
bi AS (SELECT u.b[1] AS w1, u.b[2] AS w2
       FROM (SELECT unnest([[w[i], w[i+1]]
                           for i in range(1, len(w))]) AS b
             FROM d) u),
counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
with_tot AS (
  SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1 FROM counts)
SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
       {_rr_d("c12", "c1", 6)} AS p_cond
FROM with_tot WHERE c12 >= {LM_MIN_COUNT} ORDER BY w1, w2"""


# --- LM-based OOV document filter -----------------------------------------

#: keep a document iff at most half its bigrams are outside the pruned LM
#: (integer comparison 2·n_oov ≤ n_bigrams — no float boundary anywhere)
OOV_KEEP_NUM = 2


def lm_oov_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Language-model-based quality filtering (the CCNet/Gopher "score
    each doc against a corpus LM" step, with OOV fraction standing in
    for perplexity so the statistic stays transcendental-free and
    engine-exact): a document's bigrams are checked against the pruned
    corpus bigram LM; docs whose out-of-vocabulary fraction exceeds 1/2
    are dropped. The LM is vocabulary-sized → broadcast; the corpus
    streams through one scan + one per-doc aggregate."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    bi = docs.selectExpr(
        "doc_id",
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> struct(x AS w1, y AS w2)))"
        " AS b",
    ).select("doc_id", "b.w1", "b.w2")
    lm = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .where(F.col("c12") >= LM_MIN_COUNT)
        .select("w1", "w2", F.lit(1).alias("_known"))
    )
    return (
        bi.join(F.broadcast(lm), ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.when(F.col("_known").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.col("n_oov").cast("long").alias("n_oov"),
            F.expr(_rr_s("n_oov", "n_bigrams", 6)).alias("oov_frac"),
            F.when(
                OOV_KEEP_NUM * F.col("n_oov") <= F.col("n_bigrams"), 1
            )
            .otherwise(0)
            .cast("long")
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


LM_OOV_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
bi AS (SELECT doc_id, u.b[1] AS w1, u.b[2] AS w2
       FROM (SELECT doc_id, unnest([[w[i], w[i+1]]
                                    for i in range(1, len(w))]) AS b
             FROM d) u),
lm AS (SELECT w1, w2 FROM (
         SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2)
       WHERE c12 >= {LM_MIN_COUNT}),
scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         sum(CASE WHEN l.w1 IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM bi b LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  GROUP BY b.doc_id)
SELECT doc_id, n_bigrams, CAST(n_oov AS BIGINT) AS n_oov,
       {_rr_d("n_oov", "n_bigrams", 6)} AS oov_frac,
       CAST(CASE WHEN {OOV_KEEP_NUM} * n_oov <= n_bigrams
            THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM scored ORDER BY doc_id"""


# --- LM perplexity document scoring (CCNet bucketing) ---------------------
# STAGED for the round-11 driver window (round-10's is full; the staging
# every late operator goes through). The OOV filter above deliberately
# used coverage as a transcendental-free perplexity stand-in; the
# round-9 LR training work established the round(ln/exp, 6)/round(·, 4)
# determinism recipe, so the REAL statistic is now engine-exact too:
# per-document perplexity under the pruned corpus bigram LM, plus the
# CCNet head/middle/tail tercile assignment ("CCNet: Extracting High
# Quality Monolingual Datasets from Web Crawl Data", Wenzek et al.,
# LREC 2020 — keep head+middle, drop the high-ppl tail).
#
# Scale shape: the pruned LM is vocabulary-sized → broadcast; the
# corpus streams through ONE bigram scan + a per-doc aggregate. The
# tercile ntile is a sort of the DOC-count-sized score table (not the
# token stream); at 100 TB swap it for two approx-percentile threshold
# scalars — the per-doc scoring plan is unchanged.

TEXT_PPL_TERCILES = 3


def _doc_nll(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram NLL under the pruned corpus bigram LM:
    (doc_id, n_bigrams, n_known, nll) for every doc with ≥1 bigram.
    ``nll`` is NULL when no bigram survives the LM's count cutoff.
    Shared scoring core of :func:`text_perplexity` (per-doc fluency
    buckets) and :func:`doremi_reweight` (per-domain excess loss) —
    the LM is vocabulary-sized and broadcasts; the corpus streams
    through one bigram scan + a per-doc aggregate."""
    w = "split(text, ' ')"
    bi = docs.selectExpr(
        "doc_id",
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> struct(x AS w1, y AS w2)))"
        " AS b",
    ).select("doc_id", "b.w1", "b.w2")
    lm = (
        bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .where(F.col("c12") >= LM_MIN_COUNT)
        .select(
            "w1", "w2", F.expr(_rr_s("c12", "c1", 6)).alias("p_cond")
        )
    )
    # The doc mean runs over EXACT int64 micro-nll terms (each bigram's
    # round(-ln p, 6) is a 6-dp value, so ×1e6 + round(0) is exact),
    # then one int/int division + round(·, 4): bit-identical across
    # engines. A float avg() diverges in the 4th digit at boundary docs
    # once accumulation order differs (observed at sf0.1, doc 3505).
    return (
        bi.join(F.broadcast(lm), ["w1", "w2"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.count("p_cond").cast("long").alias("n_known"),
            # HALF_UP micro-int mean (ext/exact.py): the float form
            # round(sum/(n*1e6), 4) is a true-half flip risk (e.g. n=1
            # with a micro-sum ending in 50)
            F.expr(
                _rr_s(
                    "sum(CAST(round(round(-ln(p_cond), 6) * 1000000, 0)"
                    " AS BIGINT))",
                    "count(p_cond) * 1000000",
                    4,
                )
            ).alias("nll"),
        )
    )


def text_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: bigram count, in-LM bigram count, mean negative
    log conditional probability over the in-LM bigrams (nll), its
    exponential (ppl), and the corpus tercile bucket (1 = head =
    most-fluent). Docs with zero in-LM bigrams carry NULL nll/ppl and
    sort to the tail (NULLS LAST, identically in both engines)."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    scored = _doc_nll(docs)
    wt = Window.orderBy(F.asc_nulls_last("nll"), F.asc("doc_id"))
    return (
        scored.select(
            "doc_id",
            "n_bigrams",
            "n_known",
            "nll",
            F.round(F.exp("nll"), 4).alias("ppl"),
            F.ntile(TEXT_PPL_TERCILES).over(wt).cast("long").alias("bucket"),
        )
        .orderBy("doc_id")
    )


#: exact micro-int NLL numerator shared by the perplexity and DoReMi
#: oracle CTEs (each bigram's round(-ln p, 6) is 6-dp, so *1e6 is exact)
_NLL_SUM_MU = (
    "sum(CAST(round(round(-ln(l.p_cond), 6) * 1000000, 0) AS BIGINT))"
)

TEXT_PERPLEXITY_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
bi AS (SELECT doc_id, u.b[1] AS w1, u.b[2] AS w2
       FROM (SELECT doc_id, unnest([[w[i], w[i+1]]
                                    for i in range(1, len(w))]) AS b
             FROM d) u),
counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
with_tot AS (SELECT w1, w2, c12,
                    sum(c12) OVER (PARTITION BY w1) AS c1 FROM counts),
lm AS (SELECT w1, w2, {_rr_d("c12", "c1", 6)} AS p_cond
       FROM with_tot WHERE c12 >= {LM_MIN_COUNT}),
scored AS (
  SELECT b.doc_id, count(*) AS n_bigrams,
         CAST(count(l.p_cond) AS BIGINT) AS n_known,
         {_rr_d(_NLL_SUM_MU, "count(l.p_cond) * 1000000", 4)} AS nll
  FROM bi b LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  GROUP BY b.doc_id)
SELECT doc_id, n_bigrams, n_known, nll,
       round(exp(nll), 4) AS ppl,
       CAST(ntile({TEXT_PPL_TERCILES})
              OVER (ORDER BY nll ASC NULLS LAST, doc_id ASC) AS BIGINT)
         AS bucket
FROM scored ORDER BY doc_id"""


# --- DoReMi-style domain reweighting --------------------------------------
# STAGED for the round-12 driver window (round-11's is full; the staging
# every late operator goes through). The public recipe: "DoReMi:
# Optimizing Data Mixtures Speeds Up Language Model Pretraining" (Xie
# et al., NeurIPS 2023) — iterate per-domain mixture weights by
# exponentiated-gradient ascent on per-domain EXCESS loss (domain loss
# minus a reference loss), smooth toward uniform, and ship the
# step-averaged weights as the training mixture. This engine's analog
# uses the corpus bigram-LM NLL (the :func:`_doc_nll` core shared with
# ``ext_text_perplexity``) as the loss: a domain whose text the corpus
# LM finds surprising carries positive excess and GAINS weight — the
# hard-domain-upweighting behavior the paper's Group-DRO proxy learns.
#
# Determinism recipe (the round-9 LR precedent): every transcendental
# and every normalization is rounded — round(-ln, 6) per bigram,
# round(avg, 4) per doc, round(·, 6) at each domain-level step — so the
# 2-step unrolled registered query is bit-identical across Spark,
# DuckDB, and the Decimal HALF_UP Python replay in the pytest.
#
# Scale shape: the corpus pays ONE bigram scan + per-doc aggregate (the
# text never shuffles — bigrams hash-join a broadcast vocabulary-sized
# LM); everything after is window arithmetic over a |domains|-row table.
# The production loop (:func:`doremi_iterate`) collects that K-row
# table once — K = |sources|, the same KB-sized-driver-state bound as
# the LR gradient collects — and iterates arbitrarily many steps
# driver-side at zero additional corpus cost, exactly how the paper's
# reweighting runs thousands of steps against cached per-domain losses.

DOREMI_ETA = 0.5  # exponentiated-gradient step size on excess loss
DOREMI_SMOOTH = 0.1  # uniform-mixing coefficient c


def _doremi_base(spark: SparkSession, sf: str) -> DataFrame:
    """The per-domain worksheet the reweighting iterates over: token
    shares, mean NLL, excess over the scored-doc-weighted corpus mean,
    and the exp(eta * excess) gain factor. One corpus scan."""
    docs = load_table(spark, sf, "documents").where(
        F.col("text").isNotNull()
    ).selectExpr("doc_id", "source", "text", "size(split(text, ' ')) AS n_tok")
    per_doc = docs.select("doc_id", "source", "n_tok").join(
        _doc_nll(docs).select("doc_id", "nll"), "doc_id", "left"
    )
    # per-doc nll is 4-dp → exact int64 in 1e-4 units; domain and corpus
    # means are then single int/int divisions, bit-identical across
    # engines (a float avg() over hundreds of docs diverges in the 6th
    # digit between Spark's and DuckDB's accumulation orders — observed
    # at sf0.1 on the first cut of this operator).
    per_src = per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        F.count("nll").cast("long").alias("n_scored"),
        F.sum(F.expr("CAST(round(nll * 10000, 0) AS BIGINT)")).alias(
            "_nll_sum4"
        ),
    )
    w = Window.partitionBy()
    # HALF_UP micro-int means (ext/exact.py): the float round form flips
    # cross-engine on non-dyadic true halves (e.g. n_scored = 8 with an
    # odd 4-dp sum)
    domain_nll = F.expr(_rr_s("_nll_sum4", "n_scored * 10000", 6))
    per_src = per_src.withColumn("domain_nll", domain_nll)
    ref = F.expr(
        _rr_s(
            "sum(_nll_sum4) OVER ()", "sum(n_scored) OVER () * 10000", 6
        )
    )
    excess = F.round(
        F.greatest(F.lit(0.0), F.round(F.col("domain_nll") - ref, 6)), 6
    )
    return per_src.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_scored",
        F.expr(_rr_s("n_tokens", "sum(n_tokens) OVER ()", 6)).alias(
            "nat_frac"
        ),
        "domain_nll",
        excess.alias("excess"),
        F.round(F.exp(F.round(F.lit(DOREMI_ETA) * excess, 6)), 6).alias(
            "gain"
        ),
        F.count("*").over(w).alias("k"),
    )


#: micro-unit scale: weights/gains live in 1e-6 integer space during the
#: iteration (the DSIR micro-integer precedent) — every step is pure
#: int64 arithmetic with explicit HALF_UP divisions ((2a + b) DIV (2b)),
#: so Spark, DuckDB, and the Python loop agree BIT-for-bit; float round()
#: at step boundaries would diverge at decimal-half ulp cases (observed
#: at sf0.01 on the first float cut of this operator).
_DOREMI_MU = 1_000_000
_DOREMI_C_MU = int(DOREMI_SMOOTH * _DOREMI_MU)


def _doremi_step(df: DataFrame, alpha_mu: str, out_mu: str) -> DataFrame:
    """One exponentiated-gradient step over the K-row worksheet, in
    micro-units: multiply by the gain, renormalize, mix c toward
    uniform. HALF_UP(a/b) for nonnegative int64 = (2a + b) DIV (2b)."""
    M, C = _DOREMI_MU, _DOREMI_C_MU
    w = Window.partitionBy()
    df = df.withColumn(
        "_u", F.expr(f"({alpha_mu} * gain_mu + {M // 2}) DIV {M}")
    ).withColumn("_s", F.sum("_u").over(w))
    return df.withColumn(
        out_mu,
        F.expr(
            f"(((2 * _u * {M} + _s) DIV (2 * _s)) * {M - C} + {M // 2})"
            f" DIV {M} + (2 * {C} + k) DIV (2 * k)"
        ),
    ).drop("_u", "_s")


def doremi_reweight(spark: SparkSession, sf: str) -> DataFrame:
    """Per source: natural token share, domain NLL, excess loss, the
    weights after two unrolled exponentiated-gradient steps (alpha1,
    alpha2 — seeded at the natural share), and their step average
    alpha_bar, the DoReMi output mixture. A domain whose excess beats
    the uniform-smoothing pull ends with alpha_bar above nat_frac
    (on a planted gibberish domain; the fixture's sub-0.01 excesses
    move weights only a few 1e-4)."""
    M = _DOREMI_MU
    df = _doremi_base(spark, sf).withColumn(
        "a0_mu", F.expr(f"CAST(round(nat_frac * {M}, 0) AS BIGINT)")
    ).withColumn(
        "gain_mu", F.expr(f"CAST(round(gain * {M}, 0) AS BIGINT)")
    )
    df = _doremi_step(df, "a0_mu", "a1_mu")
    df = _doremi_step(df, "a1_mu", "a2_mu")
    return df.select(
        "source", "n_docs", "n_tokens", "n_scored", "nat_frac",
        "domain_nll", "excess",
        F.round(F.col("a1_mu") / M, 6).alias("alpha1"),
        F.round(F.col("a2_mu") / M, 6).alias("alpha2"),
        F.round(
            F.expr("(a1_mu + a2_mu + 1) DIV 2") / M, 6
        ).alias("alpha_bar"),
    ).orderBy("source")


def doremi_iterate(
    spark: SparkSession,
    sf: str,
    steps: int = 10,
    smooth: float = DOREMI_SMOOTH,
) -> list[dict]:
    """Production loop: the K-row worksheet collects ONCE (K =
    |sources| — driver state is KB-sized by construction, the LR
    gradient-collect bound), then ``steps`` exponentiated-gradient
    steps run driver-side in the SAME int64 micro-unit arithmetic as
    :func:`_doremi_step`. Returns per-source dicts with the final
    alpha and the all-step average alpha_bar; step 2 of this loop is
    bit-identical to :func:`doremi_reweight`'s alpha2 (pinned in
    tests). At 100 TB the corpus cost is the one scan inside
    :func:`_doremi_base`; the loop itself is O(steps * K) driver
    arithmetic, exactly as cheap as the paper's reweighting pass."""
    M = _DOREMI_MU
    c_mu = int(round(smooth * M))

    def hup(a: int, b: int) -> int:  # HALF_UP(a / b), a, b >= 0
        return (2 * a + b) // (2 * b)

    rows = sorted(
        (r.asDict() for r in _doremi_base(spark, sf).collect()),
        key=lambda r: r["source"],
    )
    k = len(rows)
    alpha = [int(round(r["nat_frac"] * M)) for r in rows]
    gain = [int(round(r["gain"] * M)) for r in rows]
    acc = [0] * k
    for _ in range(steps):
        u = [hup(a * g, M) for a, g in zip(alpha, gain)]
        s = sum(u)
        alpha = [
            hup(hup(ui * M, s) * (M - c_mu), M) + hup(c_mu, k) for ui in u
        ]
        acc = [t + a for t, a in zip(acc, alpha)]
    return [
        {
            **row,
            "alpha": a / M,
            "alpha_bar": hup(t, steps) / M,
        }
        for row, a, t in zip(rows, alpha, acc)
    ]


_DOREMI_BASE_CTES = f"""
d AS (SELECT doc_id, source, string_split(text, ' ') AS w
      FROM documents WHERE text IS NOT NULL),
bi AS (SELECT doc_id, u.b[1] AS w1, u.b[2] AS w2
       FROM (SELECT doc_id, unnest([[w[i], w[i+1]]
                                    for i in range(1, len(w))]) AS b
             FROM d) u),
counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
with_tot AS (SELECT w1, w2, c12,
                    sum(c12) OVER (PARTITION BY w1) AS c1 FROM counts),
lm AS (SELECT w1, w2, {_rr_d("c12", "c1", 6)} AS p_cond
       FROM with_tot WHERE c12 >= {LM_MIN_COUNT}),
scored AS (
  SELECT b.doc_id,
         {_rr_d(_NLL_SUM_MU, "count(l.p_cond) * 1000000", 4)} AS nll
  FROM bi b LEFT JOIN lm l ON b.w1 = l.w1 AND b.w2 = l.w2
  GROUP BY b.doc_id),
per_doc AS (
  SELECT d.doc_id, d.source, len(d.w) AS n_tok, s.nll
  FROM d LEFT JOIN scored s ON d.doc_id = s.doc_id),
per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         CAST(count(nll) AS BIGINT) AS n_scored,
         CAST(sum(CAST(round(nll * 10000, 0) AS BIGINT)) AS BIGINT)
           AS nll_sum4
  FROM per_doc GROUP BY source),
base AS (
  SELECT source, n_docs, n_tokens, n_scored,
         {_rr_d("n_tokens", "sum(n_tokens) OVER ()", 6)} AS nat_frac,
         {_rr_d("nll_sum4", "n_scored * 10000", 6)} AS domain_nll,
         round(greatest(0.0,
               round({_rr_d("nll_sum4", "n_scored * 10000", 6)}
                     - {_rr_d("sum(nll_sum4) OVER ()",
                              "sum(n_scored) OVER () * 10000", 6)},
                     6)), 6)
           AS excess,
         count(*) OVER () AS k
  FROM per_src),
geared AS (
  SELECT *, round(exp(round({DOREMI_ETA} * excess, 6)), 6) AS gain
  FROM base)"""

_DOREMI_M = _DOREMI_MU
_DOREMI_C = _DOREMI_C_MU

DOREMI_REWEIGHT_SQL = f"""
WITH {_DOREMI_BASE_CTES},
mu AS (SELECT *,
              CAST(round(nat_frac * {_DOREMI_M}, 0) AS BIGINT) AS a0_mu,
              CAST(round(gain * {_DOREMI_M}, 0) AS BIGINT) AS gain_mu
       FROM geared),
s1 AS (SELECT *, (a0_mu * gain_mu + {_DOREMI_M // 2}) // {_DOREMI_M} AS u1
       FROM mu),
a1 AS (SELECT *,
              (((2 * u1 * {_DOREMI_M} + sum(u1) OVER ())
                // (2 * sum(u1) OVER ())) * {_DOREMI_M - _DOREMI_C}
               + {_DOREMI_M // 2}) // {_DOREMI_M}
              + (2 * {_DOREMI_C} + k) // (2 * k) AS a1_mu
       FROM s1),
s2 AS (SELECT *, (a1_mu * gain_mu + {_DOREMI_M // 2}) // {_DOREMI_M} AS u2
       FROM a1),
a2 AS (SELECT *,
              (((2 * u2 * {_DOREMI_M} + sum(u2) OVER ())
                // (2 * sum(u2) OVER ())) * {_DOREMI_M - _DOREMI_C}
               + {_DOREMI_M // 2}) // {_DOREMI_M}
              + (2 * {_DOREMI_C} + k) // (2 * k) AS a2_mu
       FROM s2)
SELECT source, n_docs, n_tokens, n_scored, nat_frac, domain_nll, excess,
       round(a1_mu / {_DOREMI_M}.0, 6) AS alpha1,
       round(a2_mu / {_DOREMI_M}.0, 6) AS alpha2,
       round(((a1_mu + a2_mu + 1) // 2) / {_DOREMI_M}.0, 6) AS alpha_bar
FROM a2 ORDER BY source"""


# --- right-to-be-forgotten source purge (governance) ----------------------

#: sources tombstoned by a takedown / opt-out request
FORGET_SOURCES = ("src3", "src7")


def forget_source(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten purge audit: tombstone entire sources and
    report, per language, how many documents survive, how many are
    purged, and how many embedding vectors the purge cascades to
    (vec_id keyed to doc_id — the derived artifact must go when its
    source text goes). The doc side is a scan-stage filter (the
    tombstone list is a literal IN, pushed to the parquet scan); the
    cascade is an equi-join against the purged slice only — at 100 TB
    the purged set is the small side and broadcasts."""
    docs = load_table(spark, sf, "documents")
    emb_ids = load_table(spark, sf, "embeddings").select("vec_id")
    tomb = F.col("source").isin(*FORGET_SOURCES)
    purged = docs.where(tomb)
    cascades = (
        purged.join(emb_ids, purged.doc_id == emb_ids.vec_id, "inner")
        .groupBy("lang")
        .agg(F.count("*").alias("n_vec_purged"))
    )
    per_lang = docs.groupBy("lang").agg(
        F.sum((~tomb).cast("long")).alias("n_kept"),
        F.sum(tomb.cast("long")).alias("n_purged"),
    )
    return (
        per_lang.join(cascades, "lang", "left")
        .select(
            "lang",
            "n_kept",
            "n_purged",
            F.coalesce("n_vec_purged", F.lit(0)).alias("n_vec_purged"),
        )
        .orderBy("lang")
    )


_FORGET_IN_SQL = ", ".join(f"'{s}'" for s in FORGET_SOURCES)
FORGET_SOURCE_SQL = f"""
WITH per_lang AS (
  SELECT lang,
         CAST(sum(CASE WHEN source NOT IN ({_FORGET_IN_SQL})
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(sum(CASE WHEN source IN ({_FORGET_IN_SQL})
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_purged
  FROM documents GROUP BY lang),
cascades AS (
  SELECT d.lang, count(*) AS n_vec_purged
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
  WHERE d.source IN ({_FORGET_IN_SQL})
  GROUP BY d.lang)
SELECT p.lang, p.n_kept, p.n_purged,
       COALESCE(c.n_vec_purged, 0) AS n_vec_purged
FROM per_lang p LEFT JOIN cascades c ON p.lang = c.lang
ORDER BY p.lang"""


# --- Bloom-filter decontamination (staged for the round-8 window) ---------
# The broadcast-size answer when the eval suite grows: instead of
# broadcasting the full distinct shingle-hash set, broadcast a Bloom
# filter — a bit array sized BLOOM_BITS_PER_KEY bits/key (16 KB per
# ~8k eval shingles vs 8 bytes/key for the exact set, and the array is
# MERGEABLE across eval suites by word-wise OR, the same property every
# sketch here has). The probe is one broadcast join on the word index +
# a bitmask test per hash function. Bloom guarantees NO false negatives
# — every truly contaminated doc is flagged — and the checked output
# carries the exact verdict next to the Bloom verdict so the false
# positives (the price of the 4× smaller broadcast) are visible and
# measured, not assumed. Position arithmetic is the minhash pattern:
# reduce the 60-bit hash mod the Mersenne prime, then k 32-bit affine
# maps — every product fits int64 in both engines.

BLOOM_K = 8
BLOOM_BITS_PER_KEY = 16
_BLOOM_P = (1 << 31) - 1
_BLOOM_A = [
    1 + (2 * i + 7) * 0x9E3779B9 % (_BLOOM_P - 1) for i in range(BLOOM_K)
]
_BLOOM_B = [(i + 3) * 0x85EBCA6B % _BLOOM_P for i in range(BLOOM_K)]


def bloom_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Per train doc with any Bloom hit: shingle count, Bloom-flagged
    count, exact contaminated count — exact ≤ bloom always (no false
    negatives), and rows with ``n_exact = 0`` are the measured false
    positives. The filter is sized adaptively: m = 16 bits per distinct
    eval shingle, rounded to whole 63-bit words (bit 63 stays clear: DuckDB
    checks signed shift overflow on 1<<63 and Spark would wrap silently) (both engines compute
    the same m from the same count), and clamped to at least one word so
    an empty holdout cannot zero the modulus."""
    # pin_corpus materializes the shingling projection ONCE across the
    # diverging consumers below (mechanism follows the master, see
    # shingles.pin_corpus). dedup_incremental measured SLOWER with this
    # pin - its %4 scan-pushdown design wins - so the pin is
    # per-operator, not in _shingled itself.
    sh = pin_corpus(_shingled(load_table(spark, sf, "documents")))
    ex = sh.select(
        "doc_id",
        F.size("shingles").cast("long").alias("n_shingles"),
        F.explode("shingles").alias("s"),
    ).selectExpr(
        "doc_id", "n_shingles", f"{_h60_spark('s')} % {_BLOOM_P} AS h"
    )
    hold = ex.where(F.col("doc_id") % HOLDOUT_MOD == 0).select("h").distinct()
    # greatest(.., 63): an EMPTY holdout would size m = 0 and every
    # ``q % m`` divides by zero — Spark returns NULL (all probes miss)
    # while DuckDB raises; one clamped word keeps the engines agreeing
    # (no holdout bits set → zero Bloom hits, the right answer) (r7
    # ADVICE).
    m_df = hold.agg(
        F.greatest(
            F.ceil(F.count("*") * BLOOM_BITS_PER_KEY / 63) * 63, F.lit(63)
        ).cast("long").alias("m")
    )
    k_fanout = (
        "explode(array("
        + ", ".join(
            f"({a}L * h + {b}L) % {_BLOOM_P}L"
            for a, b in zip(_BLOOM_A, _BLOOM_B)
        )
        + ")) AS q"
    )
    words = (
        hold.join(F.broadcast(m_df))
        .selectExpr("m", k_fanout)
        .selectExpr("(q % m) DIV 63 AS word", "CAST(q % m AS INT) % 63 AS bit")
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, bit))").alias("bits"))
    )
    train = ex.where(F.col("doc_id") % HOLDOUT_MOD != 0)
    probes = (
        train.select("doc_id", "n_shingles", "h")
        .distinct()
        .join(F.broadcast(m_df))
        .selectExpr("doc_id", "n_shingles", "h", "m", k_fanout)
        .selectExpr(
            "doc_id", "n_shingles", "h",
            "(q % m) DIV 63 AS word", "CAST(q % m AS INT) % 63 AS bit",
        )
        .join(F.broadcast(words), "word", "left")
        .selectExpr(
            "doc_id", "n_shingles", "h",
            "CASE WHEN bits IS NULL THEN 0 "
            "WHEN (bits & shiftleft(1L, bit)) = 0 THEN 0 ELSE 1 END AS hit",
        )
        .groupBy("doc_id", "n_shingles", "h")
        .agg(F.min("hit").alias("all_set"))
    )
    bloom_hits = (
        probes.where("all_set = 1")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count("*").alias("n_bloom"))
    )
    exact = (
        train.join(F.broadcast(hold), "h")
        .groupBy("doc_id")
        .agg(F.countDistinct("h").alias("n_exact"))
    )
    return (
        bloom_hits.join(exact, "doc_id", "left")
        .selectExpr(
            "doc_id", "n_shingles", "n_bloom",
            "COALESCE(n_exact, 0L) AS n_exact",
            "CAST(COALESCE(n_exact, 0L) = 0 AS INT) AS is_false_positive",
        )
        .orderBy("doc_id")
    )


_BLOOM_FAN_DUCK = (
    "unnest(["
    + ", ".join(
        f"({a} * h + {b}) % {_BLOOM_P}"
        for a, b in zip(_BLOOM_A, _BLOOM_B)
    )
    + "]) AS q"
)

BLOOM_DECONTAMINATE_SQL = f"""
WITH {_SHINGLE_CTE},
ex AS (SELECT doc_id, len(shingles) AS n_shingles,
              {_h60_duck('u.sg')} % {_BLOOM_P} AS h
       FROM (SELECT doc_id, shingles, unnest(shingles) AS sg FROM s) u),
hold AS (SELECT DISTINCT h FROM ex WHERE doc_id % {HOLDOUT_MOD} = 0),
mm AS (SELECT greatest(
           CAST(ceil(count(*) * {BLOOM_BITS_PER_KEY} / 63) * 63 AS BIGINT),
           63) AS m FROM hold),
pos AS (SELECT {_BLOOM_FAN_DUCK}, m FROM hold, mm),
words AS (SELECT (q % m) // 63 AS word,
                 bit_or(CAST(1 AS BIGINT) << CAST((q % m) % 63 AS INT))
                   AS bits
          FROM pos GROUP BY word),
train AS (SELECT DISTINCT doc_id, n_shingles, h FROM ex
          WHERE doc_id % {HOLDOUT_MOD} != 0),
tp AS (SELECT doc_id, n_shingles, h, {_BLOOM_FAN_DUCK}, m FROM train, mm),
tpw AS (SELECT doc_id, n_shingles, h,
               (q % m) // 63 AS word,
               CAST((q % m) % 63 AS INT) AS bit
        FROM tp),
hits AS (SELECT t.doc_id, t.n_shingles, t.h,
                min(CASE WHEN w.bits IS NULL THEN 0
                         WHEN (w.bits & (CAST(1 AS BIGINT) << t.bit)) = 0
                         THEN 0 ELSE 1 END) AS all_set
         FROM tpw t LEFT JOIN words w ON t.word = w.word
         GROUP BY t.doc_id, t.n_shingles, t.h),
bloom AS (SELECT doc_id, n_shingles, count(*) AS n_bloom
          FROM hits WHERE all_set = 1 GROUP BY doc_id, n_shingles),
exact AS (SELECT e.doc_id, count(DISTINCT e.h) AS n_exact
          FROM (SELECT doc_id, h FROM ex
                WHERE doc_id % {HOLDOUT_MOD} != 0) e
          JOIN hold ON e.h = hold.h GROUP BY e.doc_id)
SELECT b.doc_id, b.n_shingles, b.n_bloom,
       COALESCE(x.n_exact, 0) AS n_exact,
       CAST(COALESCE(x.n_exact, 0) = 0 AS INT) AS is_false_positive
FROM bloom b LEFT JOIN exact x ON b.doc_id = x.doc_id
ORDER BY b.doc_id"""


# --- DSIR-style importance resampling (targeted data selection) -----------
# STAGED for the round-11 driver window (round-10's is full; the staging
# every late operator goes through). The missing member of the
# data-selection family: the mixture ops weight SOURCES and the
# LR/perplexity ops score docs against labels or fluency, but nothing
# yet selects raw docs BY DISTRIBUTIONAL SIMILARITY to a curated target
# corpus — the DSIR shape ("Data Selection for Language Models via
# Importance Resampling", Xie et al., NeurIPS 2023, public): hashed
# n-gram bag features, per-bucket smoothed log importance ratio
# log p_target(b) − log p_raw(b), per-doc score = Σ c_b·λ_b, then
# Gumbel-top-K resampling (≡ sampling ∝ exp(score) without
# replacement). Both halves are engine-exact here: λ is integerized to
# micro-units (CAST(round(ln-ratio · 1e6)) — per-doc score sums are
# exact bigint arithmetic, immune to aggregation order), and the
# Gumbel noise is DERIVED from the 60-bit
# doc hash ((h mod 2^52 + 0.5)/2^52 — exact double arithmetic in both
# engines), so the "random" resample replays bit-identically in the
# oracle.
#
# Scale shape: ONE corpus scan builds the per-(doc, bucket) count table
# (token-stream groupBy, map-side combined); the λ table is bounded by
# DSIR_BUCKETS rows → broadcast to the scoring join; both bucket-count
# aggregates and the score are arithmetic over that shared
# materialization (lazy localCheckpoint, same rotation discipline as
# sketch_cms_rollup). The global Gumbel-key rank runs over the
# DOC-count-sized score table, not the token stream; at 100 TB swap it
# for a top-K threshold scalar — the scoring plan is unchanged.

#: hashed-feature space: n-gram hash mod this (paper uses 10k; 1024
#: keeps the fixture's buckets well-populated at every SF).
DSIR_BUCKETS = 1024
#: the curated target corpus: two sources standing in for wiki+books.
DSIR_TARGET_SOURCES = ("src1", "src4")
#: resample size K (docs kept from the raw pool).
DSIR_KEEP_K = 120
#: Gumbel uniform grain: (h mod 2^52 + 0.5) / 2^52 — exactly
#: representable doubles, strictly inside (0, 1) in both engines.
_DSIR_UMOD = 1 << 52

_DSIR_IN = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
_DSIR_PREV_CHECKPOINT: list = []


def _rotate_dsir_checkpoint(new_df) -> None:
    # same retained-block discipline as sketch_cms_rollup: release the
    # PREVIOUS invocation's lazy checkpoint (already consumed by then).
    while _DSIR_PREV_CHECKPOINT:
        try:
            _DSIR_PREV_CHECKPOINT.pop().unpersist(blocking=False)
        except Exception:
            pass  # session already stopped — nothing retained anyway
    _DSIR_PREV_CHECKPOINT.append(new_df)


def dsir_select(spark: SparkSession, sf: str) -> DataFrame:
    """Per raw-pool document (source ∉ DSIR_TARGET_SOURCES): hashed
    uni+bigram feature count, distinct-bucket count, DSIR importance
    score, the doc's deterministic Gumbel noise and resampling key, its
    corpus rank, and the kept flag (rank ≤ K). Higher score = more
    target-like; the Gumbel key makes the keep set a faithful
    importance RESAMPLE rather than a hard top-K by score."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    uni = docs.selectExpr("doc_id", "source", f"explode({w}) AS f")
    bi = docs.selectExpr(
        "doc_id",
        "source",
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> concat(x, ' ', y))) AS f",
    )
    pdc = (
        uni.unionByName(bi)
        .selectExpr(
            "doc_id", "source", f"{_h60_spark('f')} % {DSIR_BUCKETS} AS b"
        )
        .groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    _rotate_dsir_checkpoint(pdc)
    is_target = f"source IN ({_DSIR_IN})"
    bc = pdc.groupBy("b").agg(
        F.expr(f"sum(CASE WHEN {is_target} THEN c ELSE 0 END)").alias("ct"),
        F.expr(f"sum(CASE WHEN {is_target} THEN 0 ELSE c END)").alias("cr"),
    )
    # λ is integerized to micro-units so the per-doc score sum is EXACT
    # bigint arithmetic — aggregation order cannot move a 4-dp rounding
    # boundary (a doc at sf0.01 landed exactly on one during dev).
    wall = Window.partitionBy()
    lam = bc.select(
        "b",
        F.round(
            (
                F.log(
                    (F.col("ct") + 1)
                    / (F.sum("ct").over(wall) + DSIR_BUCKETS)
                )
                - F.log(
                    (F.col("cr") + 1)
                    / (F.sum("cr").over(wall) + DSIR_BUCKETS)
                )
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("lam_i"),
    )
    scored = (
        pdc.where(f"NOT ({is_target})")
        .join(F.broadcast(lam), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("long").alias("n_feat"),
            F.count("*").cast("long").alias("n_buckets"),
            F.round(
                F.sum(F.col("c") * F.col("lam_i")) / 1_000_000.0, 6
            ).alias("score"),
        )
    )
    gum = F.round(
        -F.log(
            -F.log(
                (
                    F.expr(_h60_spark("concat('dsir#', cast(doc_id AS string))"))
                    % _DSIR_UMOD
                    + F.lit(0.5)
                )
                / F.lit(float(_DSIR_UMOD))
            )
        ),
        6,
    )
    keyed = scored.withColumn("gum", gum).withColumn(
        "gkey", F.round(F.col("score") + F.col("gum"), 6)
    )
    wr = Window.orderBy(F.desc("gkey"), F.asc("doc_id"))
    return (
        keyed.select(
            "doc_id",
            "source",
            "n_feat",
            "n_buckets",
            "score",
            "gum",
            "gkey",
            F.row_number().over(wr).cast("long").alias("rnk"),
        )
        .withColumn(
            "kept", (F.col("rnk") <= DSIR_KEEP_K).cast("int")
        )
        .orderBy("doc_id")
    )


DSIR_SELECT_SQL = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
uni AS (SELECT doc_id, source, unnest(w) AS f FROM d),
bi AS (SELECT doc_id, source,
              unnest([w[i] || ' ' || w[i+1]
                      for i in range(1, len(w))]) AS f FROM d),
feats AS (SELECT doc_id, source, {_h60_duck('f')} % {DSIR_BUCKETS} AS b
          FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
pdc AS (SELECT doc_id, source, b, count(*) AS c
        FROM feats GROUP BY doc_id, source, b),
bc AS (SELECT b,
              sum(CASE WHEN source IN ({_DSIR_IN}) THEN c ELSE 0 END) AS ct,
              sum(CASE WHEN source IN ({_DSIR_IN}) THEN 0 ELSE c END) AS cr
       FROM pdc GROUP BY b),
lam AS (SELECT b,
               CAST(round((ln((ct + 1) / (sum(ct) OVER () + {DSIR_BUCKETS}))
                           - ln((cr + 1)
                                / (sum(cr) OVER () + {DSIR_BUCKETS})))
                          * 1000000, 0) AS BIGINT) AS lam_i
        FROM bc),
sc AS (SELECT p.doc_id, p.source,
              CAST(sum(p.c) AS BIGINT) AS n_feat,
              CAST(count(*) AS BIGINT) AS n_buckets,
              round(sum(p.c * l.lam_i) / 1000000.0, 6) AS score
       FROM pdc p JOIN lam l ON p.b = l.b
       WHERE p.source NOT IN ({_DSIR_IN})
       GROUP BY p.doc_id, p.source),
keyed AS (SELECT *,
                 round(-ln(-ln((({_h60_duck("'dsir#' || CAST(doc_id AS VARCHAR)")})
                                % {_DSIR_UMOD} + 0.5)
                               / {float(_DSIR_UMOD)})), 6) AS gum
          FROM sc),
rk AS (SELECT *, round(score + gum, 6) AS gkey,
              row_number() OVER (ORDER BY round(score + gum, 6) DESC,
                                 doc_id ASC) AS rnk
       FROM keyed)
SELECT doc_id, source, n_feat, n_buckets, score, gum, gkey,
       CAST(rnk AS BIGINT) AS rnk,
       CAST(rnk <= {DSIR_KEEP_K} AS INT) AS kept
FROM rk ORDER BY doc_id"""


# --- per-source quality-score calibration ---------------------------------
# STAGED for the round-11 driver window (round-10's is full; the staging
# every late operator goes through). The FineWeb/CCNet-style gating
# fact: one GLOBAL quality threshold passes wildly different fractions
# of each source (a clean source sails through, a noisy one is wiped
# out), so production gates calibrate PER SOURCE — keep the top q% of
# every source and report the implied per-source threshold. This op
# charts both gates side by side: global-τ pass counts vs calibrated
# top-CALIB_TOP_PCT% pass counts, plus the per-source effective
# threshold the calibrated gate lands on.
#
# Determinism: the composite score is rounded to 6dp then INTEGERIZED
# to micro-units, so every sum is exact bigint arithmetic and the rank
# ordering (score_i DESC, doc_id ASC) has no float boundary anywhere.
#
# Scale shape: the score is a stateless scan-stage projection; the
# calibrated gate is one rank window PARTITIONED BY source over the
# doc-count-sized score table. At 100 TB the exact per-source rank
# swaps for an approx_percentile threshold scalar per source (the same
# documented swap as DSIR's global top-K and perplexity's terciles);
# the per-source aggregate is map-side combinable either way.

#: global quality gate (≈ the fixture corpus median composite score)
QUALITY_TAU = 0.34
#: calibrated gate: keep the top q% of every source
CALIB_TOP_PCT = 30
#: mirrors ext/text.py STOPWORDS (local copy: no text->curation import)
CALIB_STOPWORDS = ("a", "the")

#: composite quality score 0.4·stop/n + 0.3·min(n,100)/100 + 0.3·uniq/n
#: as ONE exact rational over the common denominator 1000·n, rendered
#: straight to the 6-dp micro-integer by the ext/exact.py HALF_UP
#: recipe. The float-sum form was itself in the rounding hazard class:
#: the ingredients are small rationals, so the true value CAN be a
#: non-dyadic 7th-digit half — and the fixture contains one (doc 95,
#: true score 0.3498125: Spark's shortest-repr round gave 349813 µ,
#: DuckDB's binary round 349812 µ — masked in quality_calibrate's
#: aggregates, exposed the moment a per-doc consumer appeared).
_QSCORE_NUM = "(400 * ({stop}) + 3 * least({n}, 100) * ({n}) + 300 * ({uniq}))"
_QSCORE_DEN = "(1000 * ({n}))"


def _qscore_i(stop: str, n: str, uniq: str, div: str) -> str:
    """score_i (6-dp micro-int) for either engine; ``div`` is 'DIV'
    (Spark) or '//' (DuckDB)."""
    num = "CAST(" + _QSCORE_NUM.format(stop=stop, n=n, uniq=uniq) + " AS BIGINT)"
    den = _QSCORE_DEN.format(n=n)
    return f"((2 * {num} * 1000000 + {den}) {div} (2 * {den}))"


def quality_calibrate(spark: SparkSession, sf: str) -> DataFrame:
    """Per source: docs, mean composite quality score, docs passing the
    global τ gate vs the per-source calibrated top-q% gate, and the
    calibrated gate's implied per-source score threshold."""
    from pyspark.sql import Window

    stop_pred = " OR ".join(f"x = '{s}'" for s in CALIB_STOPWORDS)
    score_i = _qscore_i(
        f"size(filter(w, x -> {stop_pred}))",
        "size(w)",
        "size(array_distinct(w))",
        "DIV",
    )
    scored = (
        load_table(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .selectExpr("doc_id", "source", "split(text, ' ') AS w")
        .selectExpr("doc_id", "source", f"{score_i} AS score_i")
    )
    w_rank = Window.partitionBy("source").orderBy(
        F.col("score_i").desc(), F.col("doc_id")
    )
    w_src = Window.partitionBy("source")
    gated = scored.select(
        "source",
        "score_i",
        F.rank().over(w_rank).alias("rnk"),
        F.count("*").over(w_src).alias("n_src"),
    ).selectExpr(
        "source",
        "score_i",
        f"CAST(score_i >= {QUALITY_TAU} * 1000000 AS INT) AS pass_global",
        f"CAST(rnk <= CAST(ceil(n_src * {CALIB_TOP_PCT} / 100.0) AS BIGINT)"
        " AS INT) AS pass_calib",
    )
    return (
        gated.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            # HALF_UP(sum/n) in exact micro-int arithmetic, THEN one
            # exact-grid division — round(sum/1e6/n, 6) hits a true
            # decimal half whenever n·2 divides into an odd micro-sum
            # (n=2, odd sum → x.xxxxxx5): Spark's round() rounds the
            # SHORTEST decimal repr (up) while DuckDB/Python round the
            # binary value (down) — a cross-engine flip hypothesis
            # found (tests/test_property_parity.py), invisible at any
            # fixture SF
            F.expr(
                "((2 * sum(score_i) + count(*)) DIV (2 * count(*)))"
                " / 1000000.0d"
            ).alias("mean_score"),
            F.sum("pass_global").cast("bigint").alias("n_pass_global"),
            F.sum("pass_calib").cast("bigint").alias("n_pass_calib"),
            F.expr(
                "round(min(CASE WHEN pass_calib = 1 THEN score_i END)"
                " / CAST(1000000 AS DOUBLE), 6)"
            ).alias("calib_threshold"),
        )
        .orderBy("source")
    )


_QSCORE_I_DUCK = _qscore_i(
    "len(list_filter(w, x -> "
    + " OR ".join(f"x = '{s}'" for s in CALIB_STOPWORDS)
    + "))",
    "len(w)",
    "len(list_distinct(w))",
    "//",
)
QUALITY_CALIBRATE_SQL = f"""
WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
sc AS (SELECT doc_id, source,
              CAST({_QSCORE_I_DUCK} AS BIGINT) AS score_i
       FROM t),
rk AS (SELECT source, score_i,
              rank() OVER (PARTITION BY source
                           ORDER BY score_i DESC, doc_id ASC) AS rnk,
              count(*) OVER (PARTITION BY source) AS n_src
       FROM sc),
gated AS (
  SELECT source, score_i,
         CASE WHEN score_i >= {QUALITY_TAU} * 1000000
              THEN 1 ELSE 0 END AS pass_global,
         CASE WHEN rnk <= CAST(ceil(n_src * {CALIB_TOP_PCT} / 100.0)
                               AS BIGINT)
              THEN 1 ELSE 0 END AS pass_calib
  FROM rk)
SELECT source, count(*) AS n_docs,
       ((2 * sum(score_i) + count(*)) // (2 * count(*)))
         / 1000000.0 AS mean_score,
       CAST(sum(pass_global) AS BIGINT) AS n_pass_global,
       CAST(sum(pass_calib) AS BIGINT) AS n_pass_calib,
       round(min(CASE WHEN pass_calib = 1 THEN score_i END)
             / 1000000.0, 6) AS calib_threshold
FROM gated GROUP BY source ORDER BY source"""


# --- Kneser-Ney smoothed bigram LM ----------------------------------------
# STAGED for the round-12 driver window (round-11's is full; the staging
# every late operator goes through). ``ext_text_ngram_lm`` ships the
# count-cutoff MLE table; real perplexity filters (KenLM — the model
# CCNet actually scores with) use interpolated KNESER-NEY smoothing:
# discount every observed bigram by D and redistribute the held-out
# mass over the CONTINUATION unigram distribution (how many distinct
# left contexts a word follows — "Francisco" is frequent but only ever
# follows "San", so its continuation probability is tiny; the
# correction plain backoff gets wrong).
#
# With the standard D = 0.75 = 3/4 EXACTLY, the whole statistic is one
# exact rational:
#   P_KN(w2|w1) = (c12 - 3/4)/c1 + (3/4)·N1+(w1·)/c1 · N1+(·w2)/T
#               = ((4·c12 - 3)·T + 3·N1+(w1·)·N1+(·w2)) / (4·c1·T)
# so the 6-dp rendering uses the ext/exact.py WIDE recipe (the
# numerator crosses int64 long before the fixture does not) and the
# engines cannot disagree. λ(w1) = (3/4)·N1+(w1·)/c1 is emitted so a
# consumer can score UNSEEN bigrams (λ·P_cont) from the same table.
#
# Mass identity (the pinned correctness property): for every observed
# w1, Σ_observed (c12 - D)/c1 + λ(w1) = 1 EXACTLY in rationals — the
# discounted mass plus the full backoff weight reconstructs the
# distribution (P_cont itself sums to 1 over bigram types).
#
# Scale shape: the corpus pays the bigram scan ``ext_text_ngram_lm``
# already pays; everything else is windows over the COUNTS table
# (vocab²-bounded): N1+(w1·)/c1 partitioned by w1, N1+(·w2) by w2, T a
# broadcast scalar. At 100 TB the 4·c1·T denominators outgrow int64 —
# the planner's kilo-unit convention applies (scale counts, not the
# plan); DuckDB's HUGEINT needs nothing.

KN_D_NUM, KN_D_DEN = 3, 4  # discount D = 3/4, exact


def text_kn_lm(spark: SparkSession, sf: str) -> DataFrame:
    """The interpolated Kneser-Ney bigram table, pruned to c12 ≥
    LM_MIN_COUNT for output (windows run over the FULL counts first):
    per bigram the raw counts, the w1 fan-out and w2 continuation
    counts, λ(w1), the MLE probability, and the smoothed P_KN."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    bi = docs.selectExpr(
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> struct(x AS w1, y AS w2)))"
        " AS b"
    ).select("b.w1", "b.w2")
    counts = bi.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    enr = (
        counts.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn(
            "n_follow", F.count("*").over(Window.partitionBy("w1"))
        )
        .withColumn("n_prec", F.count("*").over(Window.partitionBy("w2")))
        .withColumn("t_types", F.count("*").over(Window.partitionBy()))
    )
    num = (
        f"(({KN_D_DEN} * c12 - {KN_D_NUM}) * t_types"
        f" + {KN_D_NUM} * n_follow * n_prec)"
    )
    den = f"({KN_D_DEN} * c1 * t_types)"
    return (
        enr.where(F.col("c12") >= LM_MIN_COUNT)
        .selectExpr(
            "w1",
            "w2",
            "c12",
            "CAST(c1 AS BIGINT) AS c1",
            "CAST(n_follow AS BIGINT) AS n_follow",
            "CAST(n_prec AS BIGINT) AS n_prec",
            _rr_s(f"{KN_D_NUM} * n_follow", f"{KN_D_DEN} * c1", 6)
            + " AS lambda",
            _rr_s("c12", "c1", 6) + " AS p_mle",
            _rrw_s(num, den, 6) + " AS p_kn",
        )
        .orderBy("w1", "w2")
    )


TEXT_KN_LM_SQL = f"""
WITH d AS (SELECT string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
bi AS (SELECT u.b[1] AS w1, u.b[2] AS w2
       FROM (SELECT unnest([[w[i], w[i+1]]
                           for i in range(1, len(w))]) AS b
             FROM d) u),
counts AS (SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2),
enr AS (
  SELECT w1, w2, c12,
         sum(c12) OVER (PARTITION BY w1) AS c1,
         count(*) OVER (PARTITION BY w1) AS n_follow,
         count(*) OVER (PARTITION BY w2) AS n_prec,
         count(*) OVER () AS t_types
  FROM counts)
SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
       CAST(n_follow AS BIGINT) AS n_follow,
       CAST(n_prec AS BIGINT) AS n_prec,
       {{LAM}} AS lambda,
       {{PMLE}} AS p_mle,
       {{PKN}} AS p_kn
FROM enr WHERE c12 >= {LM_MIN_COUNT} ORDER BY w1, w2""".replace(
    "{LAM}",
    _rr_d(f"{KN_D_NUM} * n_follow", f"{KN_D_DEN} * c1", 6),
).replace(
    "{PMLE}", _rr_d("c12", "c1", 6)
).replace(
    "{PKN}",
    _rrw_d(
        f"(({KN_D_DEN} * c12 - {KN_D_NUM}) * t_types"
        f" + {KN_D_NUM} * n_follow * n_prec)",
        f"({KN_D_DEN} * c1 * t_types)",
        6,
    ),
)


# --- RHO-LOSS-style excess-loss document selection ------------------------
# STAGED for the round-12 driver window (staged alongside text_kn_lm).
# The public recipe: "Prioritized Training on Points that are
# Learnable, Worth Learning, and Not Yet Learnt" (Mindermann et al.,
# ICML 2022 — RHO-LOSS): rank training points by EXCESS loss,
#   L(x; current model) − L(x; holdout/irreducible-loss model),
# and keep the top fraction — high-excess points are learnable (the
# reference finds them easy) but not yet learnt (the current model
# finds them hard); noise scores high under BOTH models and cancels.
#
# This engine's analog composes the two LM scorers the module already
# ships: the CURRENT model is the UNPRUNED MLE bigram LM over the
# candidate slice itself (unpruned deliberately — a count cutoff would
# silently drop exactly the rare, high-loss pairs RHO-LOSS exists to
# surface; every candidate pair is observed in its own LM, the
# standard leave-in bias of corpus self-scoring), and the REFERENCE
# model is the interpolated Kneser-Ney LM (the text_kn_lm statistic,
# unpruned) trained on the held-out doc_id % 5 == 0 slice — smoothed
# precisely so it can score candidate pairs it never saw: observed
# pairs get P_KN, unseen pairs back off to λ(w1) · P_cont1(w2) with
# add-one on the continuation distribution (P_cont1 = (N1+(·w2)+1) /
# (T+V), V = distinct holdout continuations + 1 absorbing the unseen) —
# bounded, positive, and exact-rational at 6 dp. A pair whose CONTEXT
# w1 the holdout never saw is unscorable by the reference and drops
# from the eval set (the n_eval column is the honest account).
#
# Determinism: every probability is a 6-dp grid value (ext/exact.py
# recipes; the backoff product λ·P_cont1 multiplies two grid doubles —
# IEEE-identical in both engines); per-pair micro-NLLs are exact int64;
# per-doc means render HALF_UP at 4 dp as SCALED INTEGERS so the excess
# is a signed integer subtraction, and the keep verdict is a pure
# integer rank comparison. No float enters any decision.
#
# Scale shape: the candidate corpus pays ONE bigram scan; both models
# are vocab²-bounded broadcast tables; the per-doc aggregate map-side
# combines. The global excess rank runs over the DOC-count-sized score
# table — at 100 TB swap it for an approx-percentile threshold scalar
# (the text_perplexity note). The 6-dp probability grid floors p at
# 5e-7, i.e. context totals c1 < ~2e6 occurrences; past that the
# micro-NLL recipe moves to 9-dp nano-units — documented, not silent.

EXLOSS_HOLDOUT_MOD = 5  # doc_id % 5 == 0 trains the reference model
EXLOSS_KEEP_NUM, EXLOSS_KEEP_DEN = 1, 2  # keep the top half by excess

_MU6 = "CAST(round(round(-ln({P}), 6) * 1000000, 0) AS BIGINT)"


def select_excess_loss(spark: SparkSession, sf: str) -> DataFrame:
    """Per candidate document (doc_id % 5 != 0, ≥1 scorable pair):
    pairs scored, mean NLL under the candidate-slice MLE LM, mean NLL
    under the holdout Kneser-Ney LM, their excess (4-dp), the global
    excess rank, and the top-half keep verdict.

    r19 perf: two pins. `hcnt` (holdout bigram counts + windowed KN
    statistics, vocab-pair-sized) feeds FOUR consumers (kn_pair, ctx,
    scal, cont) and stays an eager localCheckpoint; `cand_bi` (the
    candidate bigram explode) feeds the MLE aggregate AND the scored
    join. Isolated best-of-3 at sf0.1: 1.89 → 1.33 (hcnt) → 1.21 s
    (+cand_bi), rows identical. At 100 TB `hcnt` is the KN-artifact
    table a deployment persists; `cand_bi` is corpus-sized, so it goes
    through shingles.pin_corpus (localCheckpoint on a local master,
    lineage-keeping persist elsewhere)."""
    docs = load_table(spark, sf, "documents").where(F.col("text").isNotNull())
    w = "split(text, ' ')"
    bi_expr = (
        f"explode(zip_with(slice({w}, 1, size({w}) - 1), "
        f"slice({w}, 2, size({w}) - 1), (x, y) -> struct(x AS w1, y AS w2)))"
        " AS b"
    )
    cand_bi = pin_corpus(
        docs.where(F.col("doc_id") % EXLOSS_HOLDOUT_MOD != 0)
        .selectExpr("doc_id", bi_expr)
        .select("doc_id", "b.w1", "b.w2")
    )
    hold_bi = (
        docs.where(F.col("doc_id") % EXLOSS_HOLDOUT_MOD == 0)
        .selectExpr("doc_id", bi_expr)
        .select("b.w1", "b.w2")
    )
    # current model: UNPRUNED MLE over the candidate slice
    mle = (
        cand_bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .selectExpr("w1", "w2", _rr_s("c12", "c1", 6) + " AS p_mle")
    )
    # reference model: holdout KN table + backoff artifacts (unpruned)
    hcnt = (
        hold_bi.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn("n_follow", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("n_prec", F.count("*").over(Window.partitionBy("w2")))
        .withColumn("t_types", F.count("*").over(Window.partitionBy()))
        .localCheckpoint(eager=True)
    )
    kn_num = (
        f"(({KN_D_DEN} * c12 - {KN_D_NUM}) * t_types"
        f" + {KN_D_NUM} * n_follow * n_prec)"
    )
    kn_pair = hcnt.selectExpr(
        "w1", "w2",
        _rrw_s(kn_num, f"({KN_D_DEN} * c1 * t_types)", 6) + " AS p_kn",
    )
    ctx = (
        hcnt.groupBy("w1")
        .agg(F.max("c1").alias("c1"), F.max("n_follow").alias("n_follow"))
        .selectExpr(
            "w1",
            _rr_s(f"{KN_D_NUM} * n_follow", f"{KN_D_DEN} * c1", 6)
            + " AS lam6",
        )
    )
    # scalars: T bigram types, V = distinct continuations + 1 (unseen)
    scal = (
        hcnt.selectExpr("w2")
        .agg(
            F.expr("count(*)").alias("t_types"),
            F.expr("count(DISTINCT w2) + 1").alias("v_cont"),
        )
        .selectExpr(
            "t_types", "v_cont",
            _rr_s("1", "t_types + v_cont", 6) + " AS pu6",
        )
    )
    cont = (
        hcnt.groupBy("w2")
        .agg(F.max("n_prec").alias("n_prec"))
        .crossJoin(F.broadcast(scal.select("t_types", "v_cont")))
        .selectExpr(
            "w2",
            _rr_s("n_prec + 1", "t_types + v_cont", 6) + " AS pbo6",
        )
    )
    mu_cur = _MU6.replace("{P}", "p_mle")
    mu_ref = _MU6.replace("{P}", "p_ref")
    scored = (
        cand_bi.join(F.broadcast(mle), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")  # inner: w1 must be a holdout ctx
        .join(F.broadcast(kn_pair), ["w1", "w2"], "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(scal.select("pu6")))
        .selectExpr(
            "doc_id",
            f"{mu_cur} AS mu_cur",
            mu_ref.replace(
                "p_ref",
                "CASE WHEN p_kn IS NOT NULL THEN p_kn"
                " ELSE lam6 * coalesce(pbo6, pu6) END",
            )
            + " AS mu_ref",
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_eval"),
        F.sum("mu_cur").alias("s_cur"),
        F.sum("mu_ref").alias("s_ref"),
    )
    # HALF_UP 4-dp means as SCALED INTEGERS (int64: micro-sums bounded
    # by n_eval * |ln 5e-7| * 1e6 ~ n_eval * 1.5e7; fine to ~1e7 pairs
    # per doc), excess = exact signed subtraction on the scaled grid
    cur4 = "((2 * s_cur * 10000 + n_eval * 1000000)" \
        " DIV (2 * n_eval * 1000000))"
    ref4 = "((2 * s_ref * 10000 + n_eval * 1000000)" \
        " DIV (2 * n_eval * 1000000))"
    ranked = per_doc.selectExpr(
        "doc_id", "n_eval",
        f"{cur4} AS cur4", f"{ref4} AS ref4",
    ).selectExpr(
        "doc_id", "n_eval", "cur4", "ref4",
        "cur4 - ref4 AS excess4",
    )
    wr = Window.orderBy(F.desc("excess4"), F.asc("doc_id"))
    return (
        ranked.select(
            "doc_id", "n_eval",
            F.expr("cur4 / 10000.0d").alias("nll_cur"),
            F.expr("ref4 / 10000.0d").alias("nll_ref"),
            F.expr("excess4 / 10000.0d").alias("excess"),
            F.row_number().over(wr).cast("long").alias("rank"),
            F.count("*").over(Window.partitionBy()).alias("n_cand"),
        )
        .selectExpr(
            "doc_id", "n_eval", "nll_cur", "nll_ref", "excess", "rank",
            f"CAST({EXLOSS_KEEP_DEN} * rank"
            f" <= {EXLOSS_KEEP_NUM} * n_cand AS INT) AS kept",
        )
        .orderBy("doc_id")
    )


_EXLOSS_MU6_DUCK = "CAST(round(round(-ln({P}), 6) * 1000000, 0) AS BIGINT)"

SELECT_EXCESS_LOSS_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
cbi AS (SELECT doc_id, u.b[1] AS w1, u.b[2] AS w2
        FROM (SELECT doc_id, unnest([[w[i], w[i+1]]
                                     for i in range(1, len(w))]) AS b
              FROM d WHERE doc_id % {EXLOSS_HOLDOUT_MOD} != 0) u),
hbi AS (SELECT u.b[1] AS w1, u.b[2] AS w2
        FROM (SELECT unnest([[w[i], w[i+1]]
                             for i in range(1, len(w))]) AS b
              FROM d WHERE doc_id % {EXLOSS_HOLDOUT_MOD} = 0) u),
mle AS (SELECT w1, w2, {{PMLE}} AS p_mle FROM (
          SELECT w1, w2, count(*) AS c12,
                 sum(count(*)) OVER (PARTITION BY w1) AS c1
          FROM cbi GROUP BY w1, w2)),
hcnt AS (SELECT w1, w2, c12,
                sum(c12) OVER (PARTITION BY w1) AS c1,
                count(*) OVER (PARTITION BY w1) AS n_follow,
                count(*) OVER (PARTITION BY w2) AS n_prec,
                count(*) OVER () AS t_types
         FROM (SELECT w1, w2, count(*) AS c12 FROM hbi GROUP BY w1, w2)),
knp AS (SELECT w1, w2, {{PKN}} AS p_kn FROM hcnt),
ctx AS (SELECT w1, {{LAM}} AS lam6 FROM (
          SELECT w1, max(c1) AS c1, max(n_follow) AS n_follow
          FROM hcnt GROUP BY w1)),
scal0 AS (SELECT count(*) AS t_types, count(DISTINCT w2) + 1 AS v_cont
          FROM hcnt),
scal AS (SELECT t_types, v_cont, {{PU}} AS pu6 FROM scal0),
cont AS (SELECT w2, {{PBO}} AS pbo6 FROM (
           SELECT h.w2, max(h.n_prec) AS n_prec, s.t_types, s.v_cont
           FROM hcnt h, scal s GROUP BY h.w2, s.t_types, s.v_cont)),
sc AS (
  SELECT b.doc_id,
         {_EXLOSS_MU6_DUCK.replace("{" + "P}", "m.p_mle")} AS mu_cur,
         {_EXLOSS_MU6_DUCK.replace(
             "{" + "P}",
             "CASE WHEN k.p_kn IS NOT NULL THEN k.p_kn"
             " ELSE c.lam6 * coalesce(o.pbo6, s.pu6) END",
         )} AS mu_ref
  FROM cbi b
  JOIN mle m ON b.w1 = m.w1 AND b.w2 = m.w2
  JOIN ctx c ON b.w1 = c.w1
  LEFT JOIN knp k ON b.w1 = k.w1 AND b.w2 = k.w2
  LEFT JOIN cont o ON b.w2 = o.w2
  CROSS JOIN scal s),
pd AS (SELECT doc_id, count(*) AS n_eval,
              sum(mu_cur) AS s_cur, sum(mu_ref) AS s_ref
       FROM sc GROUP BY doc_id),
rk AS (SELECT doc_id, n_eval,
              ((2 * s_cur * 10000 + n_eval * 1000000)
               // (2 * n_eval * 1000000)) AS cur4,
              ((2 * s_ref * 10000 + n_eval * 1000000)
               // (2 * n_eval * 1000000)) AS ref4
       FROM pd),
fin AS (SELECT doc_id, n_eval, cur4, ref4, cur4 - ref4 AS excess4,
               row_number() OVER (ORDER BY cur4 - ref4 DESC, doc_id ASC)
                 AS rank,
               count(*) OVER () AS n_cand
        FROM rk)
SELECT doc_id, n_eval,
       cur4 / 10000.0 AS nll_cur,
       ref4 / 10000.0 AS nll_ref,
       excess4 / 10000.0 AS excess,
       CAST(rank AS BIGINT) AS rank,
       CAST({EXLOSS_KEEP_DEN} * rank <= {EXLOSS_KEEP_NUM} * n_cand
            AS INT) AS kept
FROM fin ORDER BY doc_id"""

SELECT_EXCESS_LOSS_SQL = (
    SELECT_EXCESS_LOSS_SQL
    .replace("{PMLE}", _rr_d("c12", "c1", 6))
    .replace(
        "{PKN}",
        _rrw_d(
            f"(({KN_D_DEN} * c12 - {KN_D_NUM}) * t_types"
            f" + {KN_D_NUM} * n_follow * n_prec)",
            f"({KN_D_DEN} * c1 * t_types)",
            6,
        ),
    )
    .replace("{LAM}", _rr_d(f"{KN_D_NUM} * n_follow", f"{KN_D_DEN} * c1", 6))
    .replace("{PU}", _rr_d("1", "t_types + v_cont", 6))
    .replace("{PBO}", _rr_d("n_prec + 1", "t_types + v_cont", 6))
)


# --- quality-keeping near-dup canonical selection -------------------------
# STAGED for the round-12 driver window (round-11's is full; the staging
# every late operator goes through). ``dedup_components`` collapses each
# near-dup cluster to its MIN doc_id — the deterministic default. Real
# curation keeps the BEST copy instead (the FineWeb/RefinedWeb
# convention: among near-duplicates, retain the highest-quality
# rendering — the others are the boilerplate-padded / truncated /
# mojibake variants). This op re-keys canonical selection to the
# composite quality score the calibrate gate already computes: per
# cluster, the member with the highest score_i (micro-int — no float
# enters the choice), doc_id ascending as the deterministic tiebreak;
# unclustered docs form singleton clusters and keep themselves.
#
# Scale shape: reuses the components labels (the memoized CC sub-plan —
# pair-graph-sized, never corpus-pairwise) and the scan-stage score
# projection; the only NEW wide op is one window over the cluster key,
# a corpus-linear shuffle on an 8-byte key. The per-doc verdict table
# is what a dedup executor joins back on to drop losers.

def dedup_keep_best(spark: SparkSession, sf: str) -> DataFrame:
    """Per document: its near-dup cluster (canonical_id from the CC
    labels; itself when unclustered), cluster size, composite quality
    score, the kept verdict, and the cluster's winning doc."""
    from dariadb_spark.ext.dedup import dedup_components

    stop_pred = " OR ".join(f"x = '{t}'" for t in CALIB_STOPWORDS)
    score_i = _qscore_i(
        f"size(filter(w, x -> {stop_pred}))",
        "size(w)",
        "size(array_distinct(w))",
        "DIV",
    )
    scored = (
        load_table(spark, sf, "documents")
        .where(F.col("text").isNotNull())
        .selectExpr("doc_id", "split(text, ' ') AS w")
        .selectExpr("doc_id", f"{score_i} AS score_i")
    )
    labels = dedup_components(spark, sf)
    j = scored.join(labels, "doc_id", "left").selectExpr(
        "doc_id", "score_i", "coalesce(canonical_id, doc_id) AS cluster"
    )
    wc = Window.partitionBy("cluster")
    wo = wc.orderBy(F.desc("score_i"), F.asc("doc_id"))
    return (
        j.select(
            "doc_id",
            "cluster",
            F.count("*").over(wc).alias("n_members"),
            F.expr("score_i / 1000000.0d").alias("score"),
            F.row_number().over(wo).alias("_rn"),
            F.first("doc_id").over(wo).alias("best_doc"),
        )
        .selectExpr(
            "doc_id",
            "cluster",
            "n_members",
            "score",
            "CAST(_rn = 1 AS INT) AS kept",
            "best_doc",
        )
        .orderBy("doc_id")
    )


def _keep_best_sql() -> str:
    """Composes the components oracle's recursive reachability chain
    with the calibrate score — built lazily so the cross-module
    constants (dedup's JACCARD_THRESHOLD) resolve regardless of ext
    import order (the preprocess-funnel precedent)."""
    from dariadb_spark.ext.dedup import JACCARD_THRESHOLD

    return f"""
WITH RECURSIVE {{_SHINGLE_CTE}},
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
),
labels AS (SELECT src AS doc_id, min(node) AS canonical_id
           FROM reach GROUP BY src),
d2 AS (SELECT doc_id, string_split(text, ' ') AS w
       FROM documents WHERE text IS NOT NULL),
scored AS (SELECT doc_id,
                  CAST({{_QSCORE_I_DUCK}} AS BIGINT) AS score_i
           FROM d2),
j AS (SELECT sc.doc_id, sc.score_i,
             coalesce(l.canonical_id, sc.doc_id) AS cluster
      FROM scored sc LEFT JOIN labels l ON sc.doc_id = l.doc_id),
wnd AS (SELECT doc_id, cluster, score_i,
               count(*) OVER (PARTITION BY cluster) AS n_members,
               row_number() OVER (PARTITION BY cluster
                   ORDER BY score_i DESC, doc_id ASC) AS rn,
               first_value(doc_id) OVER (PARTITION BY cluster
                   ORDER BY score_i DESC, doc_id ASC) AS best_doc
        FROM j)
SELECT doc_id, cluster, CAST(n_members AS BIGINT) AS n_members,
       score_i / 1000000.0 AS score,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS kept, best_doc
FROM wnd ORDER BY doc_id""".replace(
        "{_SHINGLE_CTE}", _SHINGLE_CTE
    ).replace("{_QSCORE_I_DUCK}", _QSCORE_I_DUCK)


register("ext_forget_source", forget_source, FORGET_SOURCE_SQL)
# round 11: the three curation operators staged through round 10 join
# the driver-checked surface (parity + replay pytest cases pinned in
# tests/test_sketches.py since r10; window discipline per registry.py).
register("ext_text_perplexity", text_perplexity, TEXT_PERPLEXITY_SQL)
register("ext_dsir_select", dsir_select, DSIR_SELECT_SQL)
register("ext_quality_calibrate", quality_calibrate, QUALITY_CALIBRATE_SQL)
# round 8: the staged Bloom-filter decontamination path joins the
# driver-checked surface (staged r7; parity + no-false-negative
# guarantees pinned in tests/test_sketches.py since then).
register("ext_decontaminate_bloom", bloom_decontaminate, BLOOM_DECONTAMINATE_SQL)
register("ext_lm_oov_filter", lm_oov_filter, LM_OOV_SQL)
register("ext_decontaminate", decontaminate, DECONTAMINATE_SQL)
register("ext_text_gopher_quality", text_gopher_quality, TEXT_GOPHER_QUALITY_SQL)
register("ext_text_ngram_lm", text_ngram_lm, TEXT_NGRAM_LM_SQL)


# round 12: the four curation operators staged through round 11 join the
# driver-checked surface (parity + stress pytest cases pinned in
# tests/test_sketches.py since r11; window discipline per registry.py).
register("ext_doremi_reweight", doremi_reweight, DOREMI_REWEIGHT_SQL)
register("ext_text_kn_lm", text_kn_lm, TEXT_KN_LM_SQL)
register("ext_select_excess_loss", select_excess_loss, SELECT_EXCESS_LOSS_SQL)


def _register_dedup_keep_best() -> None:
    """The preprocess-funnel pair pattern: ``_keep_best_sql()`` composes
    ext.dedup's JACCARD_THRESHOLD, so in the dedup-first import order
    this bottom runs while dedup is mid-init and must skip; dedup's own
    bottom retries once its constants exist. Both sites guard on
    readiness and on not-already-registered, making the pair
    order-proof."""
    import sys

    from dariadb_spark.registry import REGISTRY

    if "ext_dedup_keep_best" in REGISTRY:
        return
    _dd = sys.modules.get("dariadb_spark.ext.dedup")
    if _dd is None or not hasattr(_dd, "JACCARD_THRESHOLD"):
        return  # dedup mid-init: its bottom will register instead
    register("ext_dedup_keep_best", dedup_keep_best, _keep_best_sql())


_register_dedup_keep_best()


# --- per-source document-length mix --------------------------------------------------
# STAGED for the round-19 driver window (sixth pass, same staging
# discipline). The corpus-report staple profile_documents' one-row
# min/max/avg can't give: the per-SOURCE length DISTRIBUTION —
# median/p90 doc length is the first thing a data curator reads when
# comparing sources (a source whose median collapses is truncating; a
# fat p90 tail is concatenation junk). Char counts live in a bounded
# integer domain, so the order statistics ride the weighted-count walk
# (the ship_latency/basket/tenure recipe), never a per-row rank.


def docs_length_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Fixture query for the r19 window (:func:`docs_length_mix_op`)."""
    return docs_length_mix_op(load_table(spark, sf, "documents"))


def docs_length_mix_op(docs: DataFrame) -> DataFrame:
    """(source, n_docs, mean_chars, median_chars, p90_chars, max_chars)
    — the doc-length distribution per source.

    Exactness: n_chars is int64; mean is the HALF_UP 4-dp ratio;
    median is the doubled-rank walk and p90 the rank-⌈0.9·m⌉ order
    statistic off the WEIGHTED (source, n_chars) count table — exact
    order statistics of the full multiset. NULL-text docs still carry
    their n_chars metadata and are counted (the profile row tracks
    null_text separately).

    Plan shape (100 TB): one documents scan (ReadSchema: source,
    n_chars only — text never read) → a map-side-combined
    (source, n_chars) count table — |sources| × |distinct lengths|,
    thousands — → the cumulative walk over that tiny table."""
    from pyspark.sql import Window

    from dariadb_spark.ext.exact import ratio_round_spark

    counts = docs.groupBy("source", "n_chars").agg(
        F.count("*").alias("cnt")
    )
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("source")
    walked = counts.select(
        "source", "n_chars", "cnt",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wtot).alias("m"),
    )
    picked = walked.selectExpr(
        "source",
        "m AS n_docs",
        "n_chars * cnt AS wsum",
        "n_chars AS max_cand",
        "CASE WHEN cum - cnt < (m + 1) DIV 2 AND (m + 1) DIV 2 <= cum"
        " THEN n_chars ELSE 0 END AS med_lo",
        "CASE WHEN cum - cnt < (m + 2) DIV 2 AND (m + 2) DIV 2 <= cum"
        " THEN n_chars ELSE 0 END AS med_hi",
        "CASE WHEN cum - cnt < (9 * m + 9) DIV 10"
        " AND (9 * m + 9) DIV 10 <= cum THEN n_chars ELSE 0 END AS p90",
    )
    return (
        picked.groupBy("source")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.sum("wsum").alias("sum_chars"),
            F.sum("med_lo").alias("mlo"),
            F.sum("med_hi").alias("mhi"),
            F.sum("p90").alias("p90_chars"),
            F.max("max_cand").alias("max_chars"),
        )
        .selectExpr(
            "source",
            "n_docs",
            ratio_round_spark("sum_chars", "n_docs", 4) + " AS mean_chars",
            "(mlo + mhi) / 2.0d AS median_chars",
            "p90_chars",
            "max_chars",
        )
        .orderBy("source")
    )


def _docs_length_mix_sql() -> str:
    from dariadb_spark.ext.exact import ratio_round_duck

    return f"""WITH
counts AS (SELECT source, n_chars, count(*) AS cnt
           FROM documents GROUP BY source, n_chars),
walked AS (SELECT source, n_chars, cnt,
                  sum(cnt) OVER (PARTITION BY source ORDER BY n_chars
                                 ROWS UNBOUNDED PRECEDING) AS cum,
                  sum(cnt) OVER (PARTITION BY source) AS m
           FROM counts),
picked AS (SELECT source, m AS n_docs, n_chars * cnt AS wsum,
                  n_chars AS max_cand,
                  CASE WHEN cum - cnt < (m + 1) // 2
                        AND (m + 1) // 2 <= cum
                       THEN n_chars ELSE 0 END AS med_lo,
                  CASE WHEN cum - cnt < (m + 2) // 2
                        AND (m + 2) // 2 <= cum
                       THEN n_chars ELSE 0 END AS med_hi,
                  CASE WHEN cum - cnt < (9 * m + 9) // 10
                        AND (9 * m + 9) // 10 <= cum
                       THEN n_chars ELSE 0 END AS p90
           FROM walked)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       {ratio_round_duck("sum(wsum)", "max(n_docs)", 4)} AS mean_chars,
       (sum(med_lo) + sum(med_hi)) / 2.0 AS median_chars,
       CAST(sum(p90) AS BIGINT) AS p90_chars,
       CAST(max(max_cand) AS BIGINT) AS max_chars
FROM picked GROUP BY source, n_docs
ORDER BY source"""


DOCS_LENGTH_MIX_SQL = _docs_length_mix_sql()
