"""[EXT] multimodal columns (X4 / north_star): image/audio/video payloads
as opaque ``binary`` columns with typed metadata, processed by
Arrow-batched ``mapInPandas`` UDFs.

The container has no image/audio libraries, so the *decode* step is a
deterministic fake behind ``decode_media`` (clearly marked; swap in a real
decoder by replacing that one function). Everything Spark-side — schema,
partition behavior, UDF signature, batch shape — is real and tested.

The fixture has no binary table, so ``media_table`` synthesizes one from
``documents`` (payload = UTF-8 bytes of the text, media_type by doc_id
mod 3) — deterministic, so the metadata query still has a SQL oracle.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dariadb_spark.model import load_table
from dariadb_spark.registry import register

MEDIA_TYPES = ("image", "audio", "video")

#: schema of the multimodal table — what a real ingest would carry.
MEDIA_SCHEMA = (
    "doc_id BIGINT, media_type STRING, payload BINARY, byte_len BIGINT"
)

#: decoded-frame schema produced by the mapInPandas decoder.
FRAME_SCHEMA = (
    "doc_id BIGINT, media_type STRING, frame_idx INT, width INT, height INT, "
    "n_channels INT"
)


def media_table(spark: SparkSession, sf: str) -> DataFrame:
    """Synthesize the multimodal table: opaque binary payload + metadata."""
    return load_table(spark, sf, "documents").selectExpr(
        "doc_id",
        f"element_at(array{MEDIA_TYPES!r}, CAST(doc_id % 3 AS INT) + 1) AS media_type",
        "encode(text, 'UTF-8') AS payload",
        "octet_length(encode(text, 'UTF-8')) AS byte_len",
    )


def decode_media(payload: bytes, media_type: str) -> list[tuple[int, int, int, int]]:
    """STUB decoder — deterministic fake dimensions derived from the
    payload hash, so the registered query keeps a SQL oracle. The REAL
    codec path is :func:`decode_media_real` (PIL when installed, stdlib
    PNG header parse otherwise) — same signature, swappable via
    ``decode_frames(..., decoder=decode_media_real)``.

    Returns [(frame_idx, width, height, n_channels), ...].
    """
    digest = hashlib.sha256(payload).digest()
    width = 16 * (1 + digest[0] % 64)  # 16..1024, multiple of 16
    height = 16 * (1 + digest[1] % 64)
    channels = 1 if media_type == "audio" else 3
    n_frames = 1 if media_type == "image" else 1 + digest[2] % 4
    return [(i, width, height, channels) for i in range(n_frames)]


#: PNG color type → sample channels (PNG spec §11.2.2, public W3C REC)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_media_real(
    payload: bytes, media_type: str
) -> list[tuple[int, int, int, int]]:
    """REAL codec branch: PIL when installed (any format it reads,
    multi-frame aware); otherwise a stdlib parse of the PNG IHDR header
    (signature + width/height/color-type — enough for the frame-metadata
    contract without any dependency). Raises ValueError for payloads
    neither path can decode, so callers can route to the stub or a
    quarantine lane. Same return shape as :func:`decode_media`."""
    try:
        from PIL import Image
    except ImportError:
        Image = None
    if Image is not None:
        import io

        try:
            with Image.open(io.BytesIO(payload)) as im:
                n_frames = int(getattr(im, "n_frames", 1))
                channels = len(im.getbands())
                return [
                    (i, im.width, im.height, channels)
                    for i in range(n_frames)
                ]
        except Exception:
            # PIL raises UnidentifiedImageError/OSError on undecodable
            # bytes — fall through to the PNG header parse so the
            # ValueError contract below holds with or without pillow
            pass
    if (
        len(payload) >= 26
        and payload[:8] == b"\x89PNG\r\n\x1a\n"
        and payload[12:16] == b"IHDR"
        and payload[25] in _PNG_CHANNELS
    ):
        import struct

        width, height = struct.unpack(">II", payload[16:24])
        return [(0, width, height, _PNG_CHANNELS[payload[25]])]
    raise ValueError(
        f"cannot decode {media_type!r} payload: install pillow or "
        "provide PNG bytes"
    )


def decode_frames(media: DataFrame, decoder=None) -> DataFrame:
    """The decode plumbing over ANY media frame (doc_id, media_type,
    payload, ...): mapInPandas, Arrow batches stream through Python once,
    emitting one row per decoded frame. At 100 TB the input is
    repartitioned so each task holds a bounded number of payloads —
    decode parallelism == task parallelism, no shuffle of the binary
    payloads themselves afterwards (only the small frame metadata).

    ``decoder`` defaults to the deterministic stub (oracle-checkable);
    pass :func:`decode_media_real` to run the PIL/PNG codec path through
    the identical plumbing."""
    decode = decoder or decode_media

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                for idx, w, h, c in decode(bytes(payload), mtype):
                    out.append((doc_id, mtype, idx, w, h, c))
            yield pd.DataFrame(
                out,
                columns=[
                    "doc_id", "media_type", "frame_idx", "width", "height",
                    "n_channels",
                ],
            )

    return media.mapInPandas(decode_batches, FRAME_SCHEMA).orderBy(
        "doc_id", "frame_idx"
    )


def media_frames(spark: SparkSession, sf: str) -> DataFrame:
    """Frame metadata for the synthesized fixture media table (stub
    decoder → SQL-oracle-checkable; see :func:`decode_frames`)."""
    return decode_frames(media_table(spark, sf))


def media_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Typed-metadata aggregate over the binary column (oracle-checked:
    byte lengths and type histogram are decode-independent)."""
    return (
        media_table(spark, sf)
        .groupBy("media_type")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("byte_len").alias("total_bytes"),
            F.min("byte_len").alias("min_bytes"),
            F.max("byte_len").alias("max_bytes"),
        )
        .orderBy("media_type")
    )


MEDIA_META_SQL = """
WITH m AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         octet_length(encode(text)) AS byte_len
  FROM documents)
SELECT media_type, count(*) AS cnt, CAST(sum(byte_len) AS BIGINT) AS total_bytes,
       min(byte_len) AS min_bytes, max(byte_len) AS max_bytes
FROM m GROUP BY media_type ORDER BY media_type"""


# The stub decoder derives dimensions from sha256(payload) bytes, and the
# payload is the UTF-8 text — DuckDB's sha256() lets the oracle replay the
# derivation exactly (hex-pair → byte), so even the decode plumbing is
# hash-checked. A real codec would drop this oracle (rows-only).
MEDIA_FRAMES_SQL = """
WITH m AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         sha256(text) AS h
  FROM documents),
d AS (
  SELECT doc_id, media_type,
         16 * (1 + CAST(('0x' || h[1:2]) AS INT) % 64) AS width,
         16 * (1 + CAST(('0x' || h[3:4]) AS INT) % 64) AS height,
         CASE WHEN media_type = 'audio' THEN 1 ELSE 3 END AS n_channels,
         CASE WHEN media_type = 'image' THEN 1
              ELSE 1 + CAST(('0x' || h[5:6]) AS INT) % 4 END AS n_frames
  FROM m)
SELECT doc_id, media_type, CAST(unnest(range(n_frames)) AS INT) AS frame_idx,
       CAST(width AS INT) AS width, CAST(height AS INT) AS height, n_channels
FROM d ORDER BY doc_id, frame_idx"""


RESIZE_MAX_SIDE = 224  # fit-within target (preserve aspect, never upscale)


def media_resize_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Resize planning over decoded frames: target dimensions that fit
    each frame inside RESIZE_MAX_SIDE² preserving aspect ratio (never
    upscaling) + the scale factor — the arithmetic a preprocessing
    pipeline runs before the actual pixel resample. Runs on the
    mapInPandas decode output; the resize math itself is JVM expressions
    (the pixel work would live in the same decode UDF — stubbed like
    ``decode_media``)."""
    frames = media_frames(spark, sf)
    maxd = F.greatest(F.col("width"), F.col("height"))
    scale = F.when(
        maxd <= RESIZE_MAX_SIDE, F.lit(1.0)
    ).otherwise(F.lit(float(RESIZE_MAX_SIDE)) / maxd)
    return (
        frames.select(
            "doc_id",
            "media_type",
            "frame_idx",
            "width",
            "height",
            F.round(scale, 6).alias("scale"),
            F.floor(F.col("width") * F.round(scale, 6))
            .cast("int")
            .alias("target_w"),
            F.floor(F.col("height") * F.round(scale, 6))
            .cast("int")
            .alias("target_h"),
        )
        .orderBy("doc_id", "frame_idx")
    )


MEDIA_RESIZE_SQL = f"""
WITH m AS (
  SELECT doc_id,
         ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS media_type,
         sha256(text) AS h
  FROM documents),
d AS (
  SELECT doc_id, media_type,
         16 * (1 + CAST(('0x' || h[1:2]) AS INT) % 64) AS width,
         16 * (1 + CAST(('0x' || h[3:4]) AS INT) % 64) AS height,
         CASE WHEN media_type = 'image' THEN 1
              ELSE 1 + CAST(('0x' || h[5:6]) AS INT) % 4 END AS n_frames
  FROM m),
f AS (
  SELECT doc_id, media_type,
         CAST(unnest(range(n_frames)) AS INT) AS frame_idx,
         CAST(width AS INT) AS width, CAST(height AS INT) AS height
  FROM d),
s AS (
  SELECT *, round(CASE WHEN greatest(width, height) <= {RESIZE_MAX_SIDE}
                       THEN 1.0
                       ELSE {float(RESIZE_MAX_SIDE)} / greatest(width, height)
                  END, 6) AS scale
  FROM f)
SELECT doc_id, media_type, frame_idx, width, height, scale,
       CAST(floor(width * scale) AS INT) AS target_w,
       CAST(floor(height * scale) AS INT) AS target_h
FROM s ORDER BY doc_id, frame_idx"""


# --- perceptual-hash near-duplicate detection -----------------------------

#: aHash geometry: 60 luma bins → 60-bit fingerprint, banded into 4
#: chunks of 15 bits — the same pigeonhole scheme as SimHash
#: (ext/dedup.py): ≤ PHASH_MAX_HAMMING bit flips leave at least one
#: chunk intact, so the chunk-equality join is COMPLETE for the
#: threshold, never just probabilistic.
PHASH_BINS = 60
PHASH_CHUNKS = 4
PHASH_CHUNK_BITS = 15
PHASH_MAX_HAMMING = 3

# The "thumbnail": the stub decode projects the payload onto PHASH_BINS
# luminance buckets — content bigrams hashed into bins, counts as
# brightness — so NEAR-DUPLICATE payloads produce near-identical
# thumbnails, exactly the locality a real pixel pHash has (a real
# decoder would downsample actual pixels into the same shape; swap at
# the _PHASH_FP expression boundary). aHash then thresholds each bin
# against the mean (integer-exact: PHASH_BINS·count > total). Measured
# on the fixtures: true near-dups land at Hamming 0–2, the background
# cloud starts at 9 — a clean gap around the threshold of 3.
_PHASH_BG = (
    "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
    "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
    "(x, y) -> concat(x, ' ', y))"
)


def _phash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — the 60-bit aHash. Built like the SimHash
    fingerprint (ext/dedup.py): explode bigrams → one groupBy(doc_id)
    with 60 codegen'd conditional-count aggregates (map-side combined)
    → fp assembled in a single projection. This keeps the whole build
    in whole-stage codegen AND ends in an Exchange, so the candidate
    self-join's two sides share ONE fingerprint computation via
    ReusedExchange. (A first cut built the histogram with an
    ``aggregate``/``transform`` lambda accumulator — a fresh 60-element
    array per bigram, ~4× slower, and recomputed per join side because
    no exchange separated build from join.)"""
    bins = docs.where(
        F.size(F.split(F.col("text"), " ")) >= 2
    ).selectExpr(
        "doc_id", f"explode({_PHASH_BG}) AS g"
    ).selectExpr(
        "doc_id",
        f"CAST(conv(substr(md5(g), 1, 15), 16, 10) AS BIGINT)"
        f" % {PHASH_BINS} AS bin",
    )
    bin_aggs = [
        F.sum(F.expr(f"IF(bin = {q}, 1L, 0L)")).alias(f"c{q}")
        for q in range(PHASH_BINS)
    ] + [F.count("*").alias("n")]
    return (
        bins.groupBy("doc_id")
        .agg(*bin_aggs)
        .selectExpr(
            "doc_id",
            "("
            + " | ".join(
                f"IF({PHASH_BINS} * c{q} > n, shiftleft(1L, {q}), 0L)"
                for q in range(PHASH_BINS)
            )
            + ") AS fp",
        )
    )


def media_phash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual-hash near-duplicate pairs over the media payloads —
    the image-dedup pass a multimodal training pipeline runs where text
    dedup can't see (re-encoded/resized copies of the same image).

    Pipeline: decode payload → thumbnail (stubbed as the deterministic
    content projection above, same policy as :func:`decode_media`) →
    60-bit aHash → banded chunk join (4×15 bits, complete for
    Hamming ≤ {PHASH_MAX_HAMMING}) → exact ``bit_count(xor)`` verify.

    Scale (100 TB): identical shuffle math to the SimHash path
    (ext/dedup.py) — candidates ≈ n²/2¹⁵ per chunk instead of n²
    all-pairs (measured within 0.2% of theory at 100k docs), and each
    side of the chunk join carries only
    (doc_id, 8-byte fp) — pixels/payloads never shuffle. The fp build
    itself is a zero-shuffle scan-stage projection."""
    fps = _phash_fingerprints(load_table(spark, sf, "documents"))
    chunks = fps.selectExpr(
        "doc_id", "fp", f"explode(sequence(0, {PHASH_CHUNKS - 1})) AS ci"
    ).selectExpr(
        "doc_id", "fp", "ci",
        f"shiftright(fp, ci * {PHASH_CHUNK_BITS}) "
        f"& {(1 << PHASH_CHUNK_BITS) - 1} AS cv",
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr(
            "a.doc_id AS doc_a", "b.doc_id AS doc_b",
            "a.fp AS fp_a", "b.fp AS fp_b",
        )
        .distinct()
    )
    return (
        cand.selectExpr(
            "doc_a", "doc_b",
            "CAST(bit_count(fp_a ^ fp_b) AS BIGINT) AS hamming",
        )
        .where(F.col("hamming") <= PHASH_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


MEDIA_PHASH_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
b AS (SELECT doc_id,
             list_transform([w[i] || ' ' || w[i+1] for i in range(1, len(w))],
               g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)
                    % {PHASH_BINS}) AS bins,
             len(w) - 1 AS n
      FROM t WHERE len(w) >= 2),
f AS (SELECT doc_id, n,
             [len(list_filter(bins, x -> x = q))
              for q in range(0, {PHASH_BINS})] AS thumb
      FROM b),
fp AS (SELECT doc_id,
              list_sum(list_transform(range(0, {PHASH_BINS}),
                q -> CASE WHEN {PHASH_BINS} * thumb[q + 1] > n
                          THEN (CAST(1 AS BIGINT) << q)
                          ELSE CAST(0 AS BIGINT) END)) AS fp
       FROM f),
ch AS (SELECT doc_id, fp, ci,
              (fp >> (ci * {PHASH_CHUNK_BITS}))
              & {(1 << PHASH_CHUNK_BITS) - 1} AS cv
       FROM fp, (SELECT unnest(range({PHASH_CHUNKS})) AS ci)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                a.fp AS fp_a, b.fp AS fp_b
         FROM ch a JOIN ch b
           ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(fp_a, fp_b)) <= {PHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b"""


register("ext_media_meta", media_meta, MEDIA_META_SQL)
register("ext_media_frames", media_frames, MEDIA_FRAMES_SQL)
register("ext_media_resize_plan", media_resize_plan, MEDIA_RESIZE_SQL)
register("ext_media_phash_dedup", media_phash_dedup, MEDIA_PHASH_SQL)


# --- video keyframe selection (temporal frame dedup) ----------------------
# Registered round 9 (staged while r8's window was full): the frame-sampling
# step a video pipeline runs before storing/captioning — drop frames
# near-identical to their predecessor, keep scene changes. The Spark
# machinery is the real thing (per-video ordered windows, signature
# XOR, Hamming threshold — identical to what real aHashes need); the
# SIGNATURES come from the deterministic stub decoder model, same
# contract as decode_media: consecutive frames within a scene differ by
# one jitter bit (Hamming ≤ 2, below threshold), scene cuts draw a
# fresh 60-bit signature (expected Hamming ≈ 30). A real codec swaps
# the signature expression for the per-frame aHash and keeps every
# window/threshold below unchanged.

KEYFRAME_HAMMING = 3


def media_keyframes(spark: SparkSession, sf: str) -> DataFrame:
    """Per video frame: scene id, Hamming distance to the previous
    frame's signature (NULL for frame 0), and the keyframe verdict
    (frame 0 or distance > KEYFRAME_HAMMING)."""
    from dariadb_spark.ext.hashes import _h60_spark

    docs = load_table(spark, sf, "documents")
    base = docs.where("doc_id % 3 = 2").selectExpr(
        "doc_id", "sha2(text, 256) AS h"
    ).selectExpr(
        "doc_id", "h",
        "1 + CAST(conv(substring(h, 5, 2), 16, 10) AS INT) % 4 AS n_frames",
    )
    frames = base.selectExpr(
        "doc_id", "h", "explode(sequence(0, n_frames - 1)) AS frame_idx"
    ).selectExpr(
        "doc_id", "h", "frame_idx",
        # a scene cut happens at frame f ≥ 1 when its hash digit is even
        "CASE WHEN frame_idx = 0 THEN 0 "
        "WHEN CAST(conv(substring(h, 7 + 2 * frame_idx, 2), 16, 10)"
        " AS INT) % 2 = 0 THEN 1 ELSE 0 END AS cut",
        "CAST(conv(substring(h, 15 + 2 * frame_idx, 2), 16, 10)"
        " AS INT) % 60 AS jitter",
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sig_base = _h60_spark("concat(h, ':', CAST(scene AS STRING))")
    sigs = (
        frames.select(
            "doc_id", "h", "frame_idx", "jitter",
            F.sum("cut").over(wc).alias("scene"),
        )
        .selectExpr(
            "doc_id", "frame_idx", "scene",
            f"{sig_base} ^ shiftleft(1L, jitter) AS sig",
        )
    )
    return (
        sigs.select(
            "doc_id", "frame_idx", "scene",
            F.expr("bit_count(sig ^ lag(sig) OVER "
                   "(PARTITION BY doc_id ORDER BY frame_idx))")
            .cast("int").alias("hamming_prev"),
        )
        .selectExpr(
            "doc_id", "frame_idx", "scene", "hamming_prev",
            "CAST(frame_idx = 0 OR hamming_prev > "
            f"{KEYFRAME_HAMMING} AS INT) AS is_keyframe",
        )
        .orderBy("doc_id", "frame_idx")
    )


def _kf_oracle_sql() -> str:
    from dariadb_spark.ext.hashes import _h60_duck

    sig = _h60_duck("h || ':' || CAST(scene AS VARCHAR)")
    return f"""
WITH v AS (SELECT doc_id, sha256(text) AS h FROM documents
           WHERE doc_id % 3 = 2),
b AS (SELECT doc_id, h,
             1 + CAST(('0x' || h[5:6]) AS INT) % 4 AS n_frames FROM v),
f AS (SELECT doc_id, h, CAST(unnest(range(n_frames)) AS INT) AS frame_idx
      FROM b),
c AS (SELECT doc_id, h, frame_idx,
             CASE WHEN frame_idx = 0 THEN 0
                  WHEN CAST(('0x' || h[7 + 2 * frame_idx : 8 + 2 * frame_idx])
                       AS INT) % 2 = 0 THEN 1 ELSE 0 END AS cut,
             CAST(('0x' || h[15 + 2 * frame_idx : 16 + 2 * frame_idx])
                  AS INT) % 60 AS jitter
      FROM f),
s AS (SELECT doc_id, h, frame_idx, jitter,
             CAST(sum(cut) OVER (PARTITION BY doc_id ORDER BY frame_idx
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS scene
      FROM c),
g AS (SELECT doc_id, frame_idx, scene,
             xor({sig}, CAST(1 AS BIGINT) << jitter) AS sig
      FROM s),
d AS (SELECT doc_id, frame_idx, scene,
             CAST(bit_count(xor(sig, lag(sig) OVER (PARTITION BY doc_id
                                ORDER BY frame_idx))) AS INT) AS hamming_prev
      FROM g)
SELECT doc_id, frame_idx, scene, hamming_prev,
       CAST(frame_idx = 0 OR hamming_prev > {KEYFRAME_HAMMING}
            AS INT) AS is_keyframe
FROM d ORDER BY doc_id, frame_idx"""


MEDIA_KEYFRAMES_SQL = _kf_oracle_sql()

register("ext_media_keyframes", media_keyframes, MEDIA_KEYFRAMES_SQL)


# --- caption-image alignment scoring (CLIP-style pair filter) -------------
# STAGED for the round-12 driver window (round-11's is full; the staging
# every late operator goes through). The public recipe: LAION's
# CLIP-score filtering ("LAION-400M/-5B", Schuhmann et al.) — score every
# (caption, image) pair by the cosine between a text embedding and the
# image embedding, and drop weakly aligned pairs before training. The
# image tower's output IS the fixture's `embeddings` table (vec_id keyed
# 1:1 with doc_id — the ingest convention a real pair table would carry);
# the TEXT tower is honestly stubbed as deterministic feature hashing
# (signed bag-of-words into ALIGN_DIM buckets, the DSIR hashing recipe
# densified) — clearly marked; swap in a real encoder EITHER by
# replacing `_text_vec_spark`'s expression with a model-backed Pandas
# UDF, OR (the production seam, round 12) by writing the encoder's
# batch output to the TEXT_VECTOR_ARTIFACT_DDL parquet contract and
# running `media_caption_align_from_table` — the identical plan tail
# (_align_verdicts) either way. All the
# Spark-side plumbing the filter needs — per-doc dense text vector as a
# scan-stage projection, norm precompute, the doc⋈embedding equi-join,
# the rounded cosine, the threshold gate — is real and oracle-checked.
#
# Scale shape: the text vector is a pure projection (zero shuffle — the
# ALIGN_DIM-length array is built per row from the word list; md5 runs
# once per word); the only wide op is the co-keyed doc_id = vec_id
# equi-join. Cosines use the sequential-fold dot product both engines
# share (`ext/similarity.py` _DOT), and the keep verdict compares the
# ROUNDED 4-dp score against the constant — no raw-float boundary.

ALIGN_DIM = 64  # matches the embedding width; hashing dims need not
ALIGN_MIN = 0.05  # keep threshold on the rounded cosine

_ALIGN_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
)


def _text_vec_spark() -> str:
    """Signed feature-hash text embedding as ONE array expression:
    dim(w) = h60(w) mod ALIGN_DIM, sgn(w) = ±1 from an independent hash
    bit; t[d] = Σ sgn over words hashing to d. Integer-valued by
    construction, so zero-norm detection is exact in both engines.

    Built as a SINGLE fold over the hashed word list with an
    index-aware transform updating one accumulator slot per word — a
    per-dim ``filter`` would re-inline the md5 subexpression into all
    ALIGN_DIM lambda bodies after projection collapse (64× the digests;
    the shingles.py O(n²) trap — measured 66 s → 3.5 s at 150k docs),
    so the word hashes must appear in the expression tree exactly
    once."""
    h = "CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"
    hs = "CAST(conv(substr(md5(concat('s#', w)), 1, 15), 16, 10) AS BIGINT)"
    ws2 = (
        "transform(split(text, ' '), w -> named_struct("
        f"'dim', CAST({h} % {ALIGN_DIM} AS INT), "
        f"'sgn', CASE WHEN {hs} % 2 = 0 THEN 1 ELSE -1 END))"
    )
    return (
        f"transform(aggregate({ws2}, array_repeat(0, {ALIGN_DIM}), "
        "(acc, x) -> transform(acc, (v, i) -> IF(i = x.dim, v + x.sgn, v))),"
        " v -> CAST(v AS DOUBLE))"
    )


def _align_verdicts(tv: DataFrame, emb: DataFrame) -> DataFrame:
    """The alignment plan downstream of the text tower: norm the
    caption vectors, equi-join image embeddings on doc_id, emit the
    rounded 4-dp cosine and the ALIGN_MIN keep verdict. Shared verbatim
    by the hashing-stub query and the artifact-table variant — the
    model-backed swap seam (VERDICT r11 item 6): any text encoder that
    lands (doc_id, n_words, t) reaches the identical physical tail."""
    tv = tv.selectExpr(
        "doc_id",
        "n_words",
        "t",
        f"sqrt({_ALIGN_DOT.format(a='t', b='t')}) AS tnorm",
    )
    dot = _ALIGN_DOT.format(a="t", b="e")
    return (
        tv.join(emb, "doc_id")
        .selectExpr(
            "doc_id",
            "n_words",
            "CASE WHEN tnorm = 0 OR enorm = 0 THEN CAST(NULL AS DOUBLE)"
            f" ELSE round({dot} / (tnorm * enorm), 4) END AS align",
        )
        .selectExpr(
            "doc_id",
            "n_words",
            "align",
            f"CAST(align IS NOT NULL AND align >= {ALIGN_MIN} AS INT)"
            " AS kept",
        )
        .orderBy("doc_id")
    )


def _align_image_side(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").selectExpr(
        "vec_id AS doc_id",
        "transform(embedding, x -> CAST(x AS DOUBLE)) AS e",
    )
    return emb.selectExpr(
        "doc_id", "e", f"sqrt({_ALIGN_DOT.format(a='e', b='e')}) AS enorm"
    )


def media_caption_align(spark: SparkSession, sf: str) -> DataFrame:
    """Per (caption, image) pair: word count, the rounded 4-dp cosine
    between the hashed-BoW caption vector and the image embedding, and
    the keep verdict at ALIGN_MIN. Pairs whose caption vector is
    all-zero (hash signs cancelled) carry NULL align and kept = 0."""
    docs = load_table(spark, sf, "documents").where("text IS NOT NULL")
    tv = docs.selectExpr(
        "doc_id",
        "size(split(text, ' ')) AS n_words",
        f"{_text_vec_spark()} AS t",
    )
    return _align_verdicts(tv, _align_image_side(spark, sf))


#: the text-vector ARTIFACT TABLE contract (the model-backed swap seam):
#: a parquet directory of rows (doc_id BIGINT, n_words BIGINT,
#: t ARRAY<DOUBLE>) — doc_id keyed 1:1 with the pair table like the
#: PQ/SemDeDup family's (vec_id, e) convention, n_words carried from
#: the encoder's tokenizer, t the text-tower output at any width
#: (cosine is width-agnostic; it need not match ALIGN_DIM).
TEXT_VECTOR_ARTIFACT_DDL = (
    "doc_id BIGINT, n_words BIGINT, t ARRAY<DOUBLE>"
)


def media_caption_align_from_table(
    spark: SparkSession, sf: str, artifact_dir: str
) -> DataFrame:
    """The production form of :func:`media_caption_align`: caption
    vectors come from a persisted artifact table (a real text encoder's
    batch output — see TEXT_VECTOR_ARTIFACT_DDL) instead of the hashing
    stub; everything downstream of the tower is the SAME plan
    (_align_verdicts), so swapping the encoder changes zero alignment
    code. Pinned equivalent to the stub query when the artifact holds
    the stub's own vectors (tests/test_sketches.py)."""
    tv = spark.read.schema(TEXT_VECTOR_ARTIFACT_DDL).parquet(artifact_dir)
    return _align_verdicts(tv, _align_image_side(spark, sf))


MEDIA_CAPTION_ALIGN_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
           FROM documents WHERE text IS NOT NULL),
ws AS (SELECT doc_id, len(w) AS n_words,
              [struct_pack(
                 dim := CAST(CAST('0x' || substr(md5(w0), 1, 15) AS BIGINT)
                             % {ALIGN_DIM} AS INT),
                 sgn := CASE WHEN CAST('0x' || substr(md5('s#' || w0), 1, 15)
                                  AS BIGINT) % 2 = 0
                             THEN 1 ELSE -1 END)
               for w0 in w] AS ws2
       FROM d),
tv AS (SELECT doc_id, n_words,
              [CAST(coalesce(list_sum([x.sgn for x in ws2 if x.dim = d]), 0)
                    AS DOUBLE)
               for d in range(0, {ALIGN_DIM})] AS t
       FROM ws),
tn AS (SELECT doc_id, n_words, t, sqrt(list_dot_product(t, t)) AS tnorm
       FROM tv),
ev AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS e FROM embeddings),
en AS (SELECT doc_id, e, sqrt(list_dot_product(e, e)) AS enorm FROM ev),
j AS (SELECT t.doc_id, t.n_words,
             CASE WHEN t.tnorm = 0 OR e.enorm = 0 THEN NULL
                  ELSE round(list_dot_product(t.t, e.e)
                             / (t.tnorm * e.enorm), 4) END AS align
      FROM tn t JOIN en e USING (doc_id))
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, align,
       CAST(CASE WHEN align IS NOT NULL AND align >= {ALIGN_MIN}
            THEN 1 ELSE 0 END AS INT) AS kept
FROM j ORDER BY doc_id"""


# round 12: caption-image alignment, staged through round 11, joins the
# driver-checked surface (window discipline per registry.py).
register("ext_media_caption_align", media_caption_align, MEDIA_CAPTION_ALIGN_SQL)


# --- audio near-duplicate signatures ---------------------------------------
# Registered round 13 (VERDICT r11 item 7 — the last multimodal family
# member; staged round 12 with the full staging discipline).
# The public recipe: chromaprint/AcoustID-style audio
# fingerprinting — frame the waveform, measure per-frame energy, keep
# only the SIGN of the energy delta between consecutive frames (robust
# to gain/re-encode), and match fingerprints by banded Hamming distance.
# This is `ext_media_phash_dedup`'s recipe on a 1-D signal.
#
# The waveform "decode" is the same honest stub policy as decode_media:
# the audio rows of media_table (doc_id % 3 = 1) project their payload
# content onto AUDIO_AMP-quantized samples (one md5 per word — a real
# PCM decoder swaps in at the _audio_signatures sample boundary, the
# plan downstream unchanged). Everything is integer-exact: samples
# < 2^10, per-frame energies < 2^44 at 16M-word payloads, the delta
# signature is pure comparisons — no float anywhere, so the oracle is
# trivially bit-identical.
#
# Scale shape (the phash math verbatim): the signature build is
# explode → ONE groupBy(doc_id) with AUDIO_FRAMES codegen'd
# conditional sums (map-side combined; payloads never shuffle) ending
# in an Exchange, so the banded self-join's two sides share one build
# via ReusedExchange; candidates ≈ n²/2^15 per chunk, each join side
# carrying only (doc_id, 8-byte fp). Banding is complete for
# Hamming ≤ AUDIO_MAX_HAMMING (4 chunks, ≤ 3 flips leave one intact).

AUDIO_FRAMES = 61  # 60 delta bits
AUDIO_AMP = 1024  # sample quantization (10-bit "PCM")
AUDIO_CHUNKS = 4
AUDIO_CHUNK_BITS = 15
AUDIO_MAX_HAMMING = 3


def _audio_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, fp) — the 60-bit energy-delta signature over the audio
    rows. Sample boundary: a real decoder replaces the md5 projection
    with PCM frames; frame/energy/delta plumbing is the contract."""
    n_f = AUDIO_FRAMES
    samples = (
        docs.where(f"doc_id % 3 = 1 AND text IS NOT NULL")
        .selectExpr("doc_id", "split(text, ' ') AS ws")
        .selectExpr("doc_id", "size(ws) AS n", "posexplode(ws) AS (pos, w)")
        .selectExpr(
            "doc_id",
            f"CAST((pos * {n_f}) DIV n AS INT) AS f",
            f"CAST(conv(substr(md5(w), 1, 15), 16, 10) AS BIGINT)"
            f" % {AUDIO_AMP} AS s",
        )
    )
    frame_aggs = [
        F.sum(F.expr(f"IF(f = {q}, s * s, 0L)")).alias(f"e{q}")
        for q in range(n_f)
    ]
    fp = "(" + " + ".join(
        f"IF(e{q + 1} > e{q}, {1 << q}L, 0L)" for q in range(n_f - 1)
    ) + ")"
    return (
        samples.groupBy("doc_id")
        .agg(*frame_aggs)
        .selectExpr("doc_id", f"{fp} AS fp")
    )


def media_audio_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Audio near-duplicate pairs: stub waveform → 61-frame energy
    profile → 60-bit delta-sign signature → banded chunk join →
    exact bit_count(xor) verify at Hamming ≤ {AUDIO_MAX_HAMMING}."""
    fps = _audio_signatures(load_table(spark, sf, "documents"))
    chunks = fps.selectExpr(
        "doc_id", "fp", f"explode(sequence(0, {AUDIO_CHUNKS - 1})) AS ci"
    ).selectExpr(
        "doc_id", "fp", "ci",
        f"shiftright(fp, ci * {AUDIO_CHUNK_BITS}) "
        f"& {(1 << AUDIO_CHUNK_BITS) - 1} AS cv",
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .selectExpr(
            "a.doc_id AS doc_a", "b.doc_id AS doc_b",
            "a.fp AS fp_a", "b.fp AS fp_b",
        )
        .distinct()
    )
    return (
        cand.selectExpr(
            "doc_a", "doc_b",
            "CAST(bit_count(fp_a ^ fp_b) AS BIGINT) AS hamming",
        )
        .where(F.col("hamming") <= AUDIO_MAX_HAMMING)
        .orderBy("doc_a", "doc_b")
    )


MEDIA_AUDIO_DEDUP_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id % 3 = 1 AND text IS NOT NULL),
sm AS (SELECT doc_id, len(w) AS n,
              [CAST('0x' || substr(md5(w0), 1, 15) AS BIGINT)
               % {AUDIO_AMP} for w0 in w] AS s
       FROM t),
en AS (SELECT doc_id,
              [coalesce(list_sum(
                 [s[i + 1] * s[i + 1] for i in range(0, n)
                  if (i * {AUDIO_FRAMES}) // n = f]), 0)
               for f in range(0, {AUDIO_FRAMES})] AS e
       FROM sm),
fp AS (SELECT doc_id,
              list_sum(list_transform(range(0, {AUDIO_FRAMES - 1}),
                q -> CASE WHEN e[q + 2] > e[q + 1]
                          THEN (CAST(1 AS BIGINT) << q)
                          ELSE CAST(0 AS BIGINT) END)) AS fp
       FROM en),
ch AS (SELECT doc_id, fp, ci,
              (fp >> (ci * {AUDIO_CHUNK_BITS}))
              & {(1 << AUDIO_CHUNK_BITS) - 1} AS cv
       FROM fp, (SELECT unnest(range({AUDIO_CHUNKS})) AS ci)),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                         a.fp AS fp_a, b.fp AS fp_b
         FROM ch a JOIN ch b
           ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= {AUDIO_MAX_HAMMING}
ORDER BY doc_a, doc_b"""

register("ext_media_audio_dedup", media_audio_dedup, MEDIA_AUDIO_DEDUP_SQL)
