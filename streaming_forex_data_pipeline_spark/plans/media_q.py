"""Round-9 registered queries: perceptual image near-duplication.

The dedup family covered text exactly (hash), nearly (MinHash/SimHash),
semantically (embeddings), and by substring — but nothing deduped the
multimodal column by CONTENT (round-8 verdict Next #6).  These two
queries close that: a 64-bit difference hash (dHash) computed from the
REAL decoded pixels of each document's PNG payload, and the banded
near-dup pair join over those signatures with the SimHash pigeonhole
recall guarantee.

Everything is closed-form in doc_id (the synthetic payload contract of
`llm/multimodal.py`), so DuckDB replays every pixel comparison and
shift analytically — the hash check verifies the full codec +
downsample + gradient-sign chain, not just plumbing.  The 64 bits are
carried as two non-negative 32-bit halves (h_lo, h_hi): a single int64
would put bit 63 in the sign position and its construction would
overflow ANSI SUMs on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as DD
from ..llm import multimodal as MM
from ..sources.scratch import build_once, corpus_fingerprint, scratch_path
from ..sources.tables import fan_out, load_table
from .registry import register

#: bump when any llm/multimodal.py content contract changes — the
#: payload silver tables below must invalidate even though the source
#: documents.parquet did not move
_MEDIA_CONTRACT_VERSION = 1


def media_payloads(spark, sf_dir: str, modality: str):
    """Build-if-missing payload silver table for one modality: the
    synthetic media payloads are DERIVED from doc_id by the
    `llm/multimodal.py` content contracts, but in production they are
    SOURCE DATA — so every query that consumes them should read a
    materialized table, not re-run the encoder (the ivf_silver
    pattern: the encode is the once-per-corpus amortized step; bench
    and driver re-runs measure the probe).  Keyed by the documents
    fingerprint + contract version under the verified per-user
    scratch root; published through `scratch.build_once`."""
    builders = {
        "image": MM.encode_images,
        "audio": MM.encode_audio,
        "video": MM.encode_videos,
    }
    fp = corpus_fingerprint(sf_dir, table="documents")
    out_dir = scratch_path(
        f"media_{modality}_v{_MEDIA_CONTRACT_VERSION}_{fp}"
    )

    def build(tmp: str) -> None:
        d = load_table(spark, sf_dir, "documents")
        builders[modality](fan_out(d)).write.parquet(tmp)

    return spark.read.parquet(build_once(out_dir, build))

#: bump when any signature computation in llm/multimodal.py changes
#: (dhash grid walk, envelope framing, frame sampling) — the signature
#: silvers below must invalidate independently of the payload contract
_SIG_CONTRACT_VERSION = 1


def media_signatures(
    spark, sf_dir: str, modality: str, every_n: int | None = None
):
    """Build-once perceptual-signature silver for one modality — the
    r10-verdict follow-up to `media_payloads`: dHash / envelope /
    frame-hash signatures were recomputed by EVERY consumer
    (video_*, *_contamination, cross_modal_clusters — together ~25 s
    of the bench), even though the signature of a payload corpus is
    as immutable as the payloads themselves.  One decode+hash pass per
    (corpus fingerprint, media contract, signature contract, modality,
    frame stride) materializes the 16-byte-per-item signature table;
    every pairing/banding/contamination consumer reads the table, so
    at 100 TB the codec work is paid once per corpus, not once per
    query.  Schemas: image/audio (doc_id, h_lo, h_hi); video
    (doc_id, frame_idx, h_lo, h_hi) at stride ``every_n``.

    Same `scratch.build_once` protocol as media_payloads; the payload
    silver it reads is a nested build that logs its own cost."""
    if modality == "video":
        if every_n is None:
            raise ValueError("video signatures require every_n")
        builder = lambda df: MM.dhash_video_frames(df, every_n=every_n)
        suffix = f"_e{every_n}"
    elif modality == "image":
        builder, suffix = MM.dhash_images, ""
    elif modality == "audio":
        builder, suffix = MM.fingerprint_audio, ""
    else:
        raise ValueError(f"unknown modality {modality!r}")
    fp = corpus_fingerprint(sf_dir, table="documents")
    out_dir = scratch_path(
        f"sig_{modality}{suffix}"
        f"_v{_MEDIA_CONTRACT_VERSION}_{_SIG_CONTRACT_VERSION}_{fp}"
    )

    def build(tmp: str) -> None:
        builder(media_payloads(spark, sf_dir, modality)).write.parquet(tmp)

    return spark.read.parquet(build_once(out_dir, build))


# closed-form replay of the dHash bit for position b (0..63) of doc_id:
# y = b // 8 samples the 8-row grid, x = b % 8 compares the 9-column
# grid's neighbors x and x+1; src index = ((y*h)//8)*w + (x*w)//9 and
# pixel(i) = (doc_id*31 + i*7) % 256 — the same integer arithmetic as
# the image_decode / image_resize oracles.
_PX = (
    "(doc_id*31 + ((((b // 8) * h) // 8) * w + (({x}) * w) // 9) * 7) % 256"
)
_BIT = (
    "CASE WHEN "
    + _PX.format(x="b % 8 + 1")
    + " > "
    + _PX.format(x="b % 8")
    + " THEN 1 ELSE 0 END"
)

_DHASH_CTE = f"""
dims AS (
  SELECT doc_id, doc_id % 60 + 4 AS w, doc_id % 40 + 4 AS h
  FROM documents
),
bt AS (
  SELECT doc_id,
         list_transform(range(0, 64), b -> {_BIT}) AS bits
  FROM dims
),
hashes AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT)
           AS h_lo,
         CAST(list_sum(list_transform(range(32, 64),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << (b - 32)))) AS BIGINT)
           AS h_hi
  FROM bt
)
"""


@register(
    "image_dhash",
    oracle=f"""
WITH {_DHASH_CTE}
SELECT doc_id, h_lo, h_hi FROM hashes ORDER BY doc_id
""",
    doc="Perceptual difference-hash over the REAL image codec chain "
    "(llm/multimodal.py:dhash_images): encode each document as a "
    "spec-compliant PNG, decode it (inflate + unfilter all 5 filter "
    "types), nearest-neighbor downsample to the classic 9x8 grid with "
    "the resize_images index arithmetic, and emit the 64 "
    "horizontal-gradient-sign bits as two 32-bit halves.  The oracle "
    "replays every sampled pixel comparison and shift in closed form, "
    "so a single wrong bit anywhere in the codec/downsample/sign "
    "chain breaks the hash.  One mapInArrow row-kernel pass, no "
    "shuffle — at 100 TB the corpus reduces to 16-byte signatures "
    "and all pairing cost moves to the signature table.",
)
def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_signatures(spark, sf_dir, "image").orderBy("doc_id")


@register(
    "image_near_dups",
    oracle=f"""
WITH {_DHASH_CTE}
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h_lo, b.h_lo))
            + bit_count(xor(a.h_hi, b.h_hi)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) <= 1
ORDER BY doc_a, doc_b
""",
    doc="Image near-dup pairs by perceptual dHash at Hamming <= 1 "
    "(llm/dedup.py:dhash_near_dup_pairs): the SimHash banding "
    "argument on the image modality — 64 bits in four 16-bit bands, "
    "pigeonhole guarantees every pair within 3 flips shares a band, "
    "so the band-bucket join + bit_count verification EQUALS the "
    "oracle's exact all-pairs answer (the oracle is the quadratic "
    "spec; the engine plan is the banded O(N + sum k_bucket^2) "
    "path).  Signature-granularity candidates (distinct hashes, "
    "member lists expanded last) keep candidate state independent of "
    "corpus row count — the 100 TB shape shared with "
    "simhash_near_dups.",
)
def image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = media_signatures(spark, sf_dir, "image")
    return (
        DD.dhash_near_dup_pairs(hashes, max_hamming=1)
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("doc_a", "doc_b")
    )


# closed-form replay of the audio energy-envelope fingerprint: clip
# length n = doc_id % 400 + 50 (llm/multimodal.py module contract),
# sample(i) = (doc_id*131 + i*17) % 65536 - 32768, frame f covers
# [f*n//65, (f+1)*n//65) — empty frames (short clips) sum to 0.
_AFP_CTE = """
adims AS (
  SELECT doc_id, doc_id % 400 + 50 AS n FROM documents
),
fe AS (
  SELECT doc_id,
         list_transform(range(0, 65), f ->
           coalesce(list_sum(list_transform(
             range((f * n) // 65, ((f + 1) * n) // 65),
             i -> abs((doc_id * 131 + i * 17) % 65536 - 32768))), 0)
         ) AS e
  FROM adims
),
abt AS (
  SELECT doc_id,
         list_transform(range(0, 64), b ->
           CASE WHEN e[b + 2] > e[b + 1] THEN 1 ELSE 0 END) AS bits
  FROM fe
),
ahashes AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0, 32),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << b))) AS BIGINT)
           AS h_lo,
         CAST(list_sum(list_transform(range(32, 64),
              b -> bits[b + 1] * (CAST(1 AS BIGINT) << (b - 32)))) AS BIGINT)
           AS h_hi
  FROM abt
)
"""


@register(
    "audio_fingerprint",
    oracle=f"""
WITH {_AFP_CTE}
SELECT doc_id, h_lo, h_hi FROM ahashes ORDER BY doc_id
""",
    doc="Perceptual audio fingerprint over the REAL audio codec chain "
    "(llm/multimodal.py:fingerprint_audio): encode each document as a "
    "RIFF/WAVE PCM16 clip, decode it (real header parse + frame "
    "read), split into 65 integer-boundary frames, and emit the 64 "
    "energy-envelope slope-sign bits as two 32-bit halves — the dHash "
    "idea along time, gain-robust for the same reason dHash is "
    "brightness-robust.  The oracle replays every frame sum and "
    "comparison in closed form, so one wrong sample anywhere in the "
    "codec/framing/energy chain breaks the hash.  One Arrow-batched "
    "mapInArrow row-kernel pass, no shuffle; the corpus reduces to "
    "16-byte signatures before any pairing cost.",
)
def audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_signatures(spark, sf_dir, "audio").orderBy("doc_id")


@register(
    "audio_near_dups",
    oracle=f"""
WITH {_AFP_CTE}
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h_lo, b.h_lo))
            + bit_count(xor(a.h_hi, b.h_hi)) AS INT) AS hamming
FROM ahashes a
JOIN ahashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h_lo, b.h_lo)) + bit_count(xor(a.h_hi, b.h_hi)) <= 2
ORDER BY doc_a, doc_b
""",
    doc="Audio near-dup pairs by perceptual envelope fingerprint at "
    "Hamming <= 2: the SAME banded machinery as the image tier — "
    "`llm/dedup.py:dhash_near_dup_pairs` bands the two 32-bit halves "
    "into four 16-bit bands (pigeonhole covers up to 3 flips) and "
    "verifies candidates with two bit_count(xor) terms, signature-"
    "granularity throughout.  With this, the near-dup family spans "
    "every modality in the data model: text exact/MinHash/SimHash/"
    "semantic/substring, image dHash, audio envelope — one shared "
    "banding engine, three signature functions.  The oracle is the "
    "exact quadratic spec over the closed-form prints.",
)
def audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    prints = media_signatures(spark, sf_dir, "audio")
    return (
        DD.dhash_near_dup_pairs(prints, max_hamming=2)
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("doc_a", "doc_b")
    )
