"""Round-10 registered queries: the video modality made real, the
cross-modal canonical-keep decision, and the streaming-health batch
face (round-9 verdict Next #3/#4/#8).

Video completes the near-dup matrix: text (exact/MinHash/SimHash/
semantic/substring), image (dHash), audio (energy envelope), and now
video — sampled frames decoded through the REAL Motion-PNG container
(`llm/codecs.py:split_mpng`, chunk-grammar parsing, every member a
spec-compliant PNG), each frame dHashed through the SAME bit
computation as the image tier, and pairs found by the SAME banding
engine (`llm/dedup.py:dhash_near_dup_pairs`) — one banding
implementation, four signature functions.  Frame content is
closed-form in (doc_id, frame_idx) per the `llm/multimodal.py` video
contract, so DuckDB replays every sampled pixel comparison
analytically and the hash check verifies the container walk + codec +
downsample + gradient-sign chain end to end.

Import order (after subquery_q) keeps every earlier registration
index stable for the driver's evidence rotation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as DD
from ..llm import multimodal as MM
from ..llm.multimodal import VIDEO_EVERY_N, fid_clip, fid_frame, vid_fid
from ..llm.silvers import media_payloads, media_signatures
from ..sources.tables import load_table
from .fragments import by_doc_id
from .oracle_sql import (
    _AFP_CTE,
    _DHASH_CTE,
    _VDIMS_SQL,
    _VHASH_CTE,
    _hll_user_regs_sql,
)
from .registry import register


@register(
    "video_fingerprint",
    oracle=f"""
WITH {_VHASH_CTE}
SELECT doc_id, frame_idx, h_lo, h_hi
FROM vhashes
ORDER BY doc_id, frame_idx
""",
    doc="Frame-level video fingerprint over the REAL container+codec "
    "chain (llm/multimodal.py:dhash_video_frames): encode each "
    "document as a Motion-PNG clip (n_frames member PNGs, all five "
    "scanline filters rotating), split it back by CHUNK-GRAMMAR "
    "parsing (llm/codecs.py:split_mpng — length-prefixed chunks "
    "walked to each member's IEND with CRC checks, never signature "
    "scanning), PNG-decode every 2nd frame, and dHash each through "
    "the image tier's exact bit computation.  The oracle replays "
    "every sampled pixel comparison in closed form, so one wrong "
    "byte anywhere in the container walk, inflate, unfilter, "
    "downsample, or sign chain breaks the hash.  One Arrow-batched "
    "mapInArrow row-kernel pass, no shuffle — a 100 TB clip corpus "
    "reduces to ~n_frames/2 16-byte signatures per clip before any "
    "pairing cost.  Replaces frame_sample_stub as the production video "
    "path (the stub stays for its established byte-level oracle).",
)
def video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_signatures(
        spark, sf_dir, "video", every_n=VIDEO_EVERY_N
    ).orderBy("doc_id", "frame_idx")


@register(
    "video_near_dups",
    oracle=f"""
WITH {_VHASH_CTE}
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_matching_frames
FROM vhashes a
JOIN vhashes b
  ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx
WHERE bit_count(xor(a.h_lo, b.h_lo))
      + bit_count(xor(a.h_hi, b.h_hi)) <= 1
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY doc_a, doc_b
""",
    doc="Video near-dup pairs: two clips match when at least 3 "
    "sampled frame POSITIONS carry near-identical frame hashes "
    "(Hamming <= 1) — the multi-evidence rule that makes a "
    "single-frame collision insufficient.  The engine path runs the "
    "SHARED banding engine (llm/dedup.py:dhash_near_dup_pairs) over "
    "composite frame ids (doc_id*1024 + frame_idx — frame counts are "
    "bounded at 29 by the content contract, so the composite is "
    "collision-free and order-preserving): four 16-bit bands "
    "pigeonhole-guarantee recall at Hamming <= 1, candidates verify "
    "with two bit_count(xor) terms at signature granularity, and the "
    "frame pairs then reduce per clip pair with a same-position "
    "filter and a count >= 3 cut.  The oracle is the exact "
    "all-pairs spec over the closed-form prints, so the banded path "
    "must EQUAL quadratic truth.  At 100 TB: clips reduce to "
    "signatures in one pass, pairing cost lives on the banded "
    "signature table, and the per-pair aggregate is keyed by the "
    "clip pair — no all-pairs stage anywhere in the plan.",
)
def video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    prints = media_signatures(spark, sf_dir, "video", every_n=VIDEO_EVERY_N)
    return _video_pairs(prints, max_hamming=1, min_frames=3).orderBy(
        "doc_a", "doc_b"
    )


def _video_pairs(
    prints: DataFrame, max_hamming: int, min_frames: int
) -> DataFrame:
    """Clip pairs with >= ``min_frames`` sampled POSITIONS matching at
    Hamming <= ``max_hamming``, through the shared banding engine over
    composite frame ids (doc_id*1024 + frame_idx — frame counts are
    bounded at 29 by the content contract, so the composite is
    collision-free and order-preserving).  Shared by video_near_dups
    and the cross-modal edge builder."""
    pairs = DD.dhash_near_dup_pairs(
        prints.select(vid_fid(), "h_lo", "h_hi"), max_hamming=max_hamming
    )
    return MM.clip_pairs(pairs, min_frames)


def _cc_rounds_sql(n_rounds: int) -> tuple[str, str]:
    """Unrolled min-label propagation with pointer jumping for the
    DuckDB oracle (the integer-PageRank chained-CTE pattern — DuckDB
    1.x recursive CTEs cannot aggregate over the recursive term, and
    naive reachability closure is quadratic in component size, which
    this corpus's giant sf0.1 cluster makes intractable).  Each round
    is one propagate CTE (min label over the closed neighborhood) and
    one jump CTE (label <- label(label)); the jump doubles the
    distance the component minimum has traveled, so ``n_rounds``
    rounds cover any component of diameter up to ~2**n_rounds — 16
    rounds is proof against anything up to 65k nodes, far beyond any
    oracle-gate corpus.  The ENGINE side computes the true fixpoint
    (connected_components asserts convergence), so an insufficient
    unroll shows as a strict-sweep mismatch, never a silent agreement.
    Returns (sql_fragment, final_cte_name); expects ``sym(s, t)``."""
    parts = []
    prev = "l0"
    for r in range(1, n_rounds + 1):
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT node, min(lab) AS lab FROM (
    SELECT node, lab FROM {prev}
    UNION ALL
    SELECT e.t AS node, {prev}.lab FROM {prev}
    JOIN sym e ON e.s = {prev}.node
  ) GROUP BY node
),
j{r} AS MATERIALIZED (
  SELECT a.node, coalesce(b.lab, a.lab) AS lab
  FROM p{r} a LEFT JOIN p{r} b ON b.node = a.lab
)"""
        )
        prev = f"j{r}"
    return ",\n".join(parts), prev


_CC_SQL, _CC_FINAL = _cc_rounds_sql(16)

@register(
    "cross_modal_clusters",
    oracle=f"""
WITH {_DHASH_CTE},
{_AFP_CTE},
{_VHASH_CTE},
toks AS (
  SELECT doc_id,
         list_sort(list_distinct(
           regexp_split_to_array(lower(trim(text)), '\\s+'))) AS t
  FROM documents
),
edges AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, 'text' AS modality
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND a.t = b.t
  UNION ALL
  SELECT a.doc_id, b.doc_id, 'image'
  FROM hashes a JOIN hashes b
    ON a.doc_id < b.doc_id AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
  UNION ALL
  SELECT a.doc_id, b.doc_id, 'audio'
  FROM ahashes a JOIN ahashes b
    ON a.doc_id < b.doc_id AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
  UNION ALL
  SELECT doc_a, doc_b, 'video' FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM vhashes a JOIN vhashes b
      ON a.doc_id < b.doc_id AND a.frame_idx = b.frame_idx
     AND a.h_lo = b.h_lo AND a.h_hi = b.h_hi
    GROUP BY 1, 2 HAVING count(*) >= 3)
),
sym AS MATERIALIZED (
  SELECT doc_a AS s, doc_b AS t FROM edges
  UNION
  SELECT doc_b, doc_a FROM edges
),
l0 AS MATERIALIZED (
  SELECT s AS node, least(s, min(t)) AS lab FROM sym GROUP BY s),
{_CC_SQL},
comp AS (SELECT node, lab AS cluster_id FROM {_CC_FINAL}),
members AS (
  SELECT c.cluster_id, c.node AS doc_id, d.n_chars
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
keeps AS (
  SELECT cluster_id, doc_id AS keep_doc FROM members
  QUALIFY row_number() OVER (
    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) = 1
),
ecnt AS (
  SELECT c.cluster_id,
    CAST(count(*) FILTER (WHERE modality = 'text') AS BIGINT)
      AS n_text_edges,
    CAST(count(*) FILTER (WHERE modality = 'image') AS BIGINT)
      AS n_image_edges,
    CAST(count(*) FILTER (WHERE modality = 'audio') AS BIGINT)
      AS n_audio_edges,
    CAST(count(*) FILTER (WHERE modality = 'video') AS BIGINT)
      AS n_video_edges
  FROM edges e JOIN comp c ON c.node = e.doc_a
  GROUP BY 1
),
agg AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs
  FROM members GROUP BY 1
)
SELECT a.cluster_id, a.n_docs, k.keep_doc,
       e.n_text_edges, e.n_image_edges, e.n_audio_edges, e.n_video_edges
FROM agg a
JOIN keeps k USING (cluster_id)
JOIN ecnt e USING (cluster_id)
ORDER BY a.cluster_id
""",
    doc="Cross-modal canonical keep (llm/dedup.py:cross_modal_clusters)"
    ": ONE keep/drop decision per document across all four near-dup "
    "modalities.  Edge tiers are the SIGNATURE-EQUALITY duplicates of "
    "each modality — text token-set equality (the MinHash threshold-"
    "1.0 tier), image dHash at Hamming 0, audio envelope print at "
    "Hamming 0, video at >= 3 sampled positions with equal frame "
    "hashes — unioned with a modality label into connected components "
    "(pointer jumping), then per cluster: size, the canonical "
    "keep_doc by the quality-then-id rule (highest n_chars, ties to "
    "lowest doc_id, computed as a map-side-combinable struct max — "
    "NO per-cluster window, so the giant cluster this synthetic "
    "corpus forms at sf0.1 never serializes through one task), and "
    "per-modality edge counts.  The oracle replays every signature "
    "in closed form and runs the min-label fixpoint as 16 unrolled "
    "propagate+jump rounds (sound to 65k-node components; the engine "
    "asserts true convergence, so an insufficient unroll would "
    "surface as a hash mismatch).  Equality joins only — no "
    "quadratic all-pairs stage on either engine.",
)
def cross_modal_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    text = DD.near_duplicate_pairs(
        d, threshold=1.0, n_hashes=32, bands=1
    ).select("doc_a", "doc_b", F.lit("text").alias("modality"))
    image = DD.dhash_near_dup_pairs(
        media_signatures(spark, sf_dir, "image"),
        max_hamming=0,
    ).select("doc_a", "doc_b", F.lit("image").alias("modality"))
    audio = DD.dhash_near_dup_pairs(
        media_signatures(spark, sf_dir, "audio"),
        max_hamming=0,
    ).select("doc_a", "doc_b", F.lit("audio").alias("modality"))
    video = _video_pairs(
        media_signatures(spark, sf_dir, "video", every_n=VIDEO_EVERY_N),
        max_hamming=0,
        min_frames=3,
    ).select("doc_a", "doc_b", F.lit("video").alias("modality"))
    edges = (
        text.unionByName(image).unionByName(audio).unionByName(video)
    )
    return DD.cross_modal_clusters(edges, d)


@register(
    "channel_stats_replay",
    oracle=f"""
WITH {_hll_user_regs_sql('day', 'day')},
f AS (
  SELECT CAST(count(DISTINCT date_trunc('week', ts)) AS BIGINT)
           AS n_batches,
         CAST(count(*) AS BIGINT) AS input_rows,
         CAST(count(DISTINCT user_id) AS BIGINT) AS state_rows,
         CAST(max(epoch_us(ts)) AS BIGINT) AS max_event_us
  FROM events
),
w AS (SELECT CAST(count(*) AS BIGINT) AS state_rows FROM touched)
SELECT 'events_funnel' AS channel, f.n_batches, f.input_rows,
       f.state_rows, f.max_event_us,
       CAST(0 AS BIGINT) AS rows_dropped
FROM f
UNION ALL
SELECT 'events_wau', f.n_batches, f.input_rows, w.state_rows,
       f.max_event_us, CAST(0 AS BIGINT)
FROM f, w
ORDER BY channel
""",
    doc="Batch-replay face of the fleet streaming-health view "
    "(streaming/channels.py:channel_stats — the reference's /ws/stats "
    "per-channel counter aggregation, app/api/websocket_routes.py:"
    "210-234): the stats an ordered one-file-per-week availableNow "
    "replay of the events table would report per channel, computed "
    "deterministically batch-side so the driver can oracle-check the "
    "semantics the live face promises.  Per channel: n_batches = the "
    "weekly file count (distinct calendar weeks), input_rows = total "
    "events, state_rows = what that channel's state holds after the "
    "drain (funnel: one GroupState row per distinct user; wau: the "
    "touched (day, bucket) HLL register count, via the SAME register "
    "contract as the rolling-WAU oracle), max_event_us = the "
    "watermark driver (watermark = max event time minus the "
    "configured lateness), rows_dropped = 0 on an ordered replay.  "
    "The live face is proven against these numbers over two REAL "
    "concurrent channels in tests/test_streaming.py.  Plan: two "
    "scalar aggregates plus one keyed register aggregate — "
    "partial+final everywhere, constant-size reduce side.",
)
def channel_stats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.vocab import hll_keyed_rhos

    e = load_table(spark, sf_dir, "events")
    f = e.agg(
        F.countDistinct(F.date_trunc("week", F.col("ts"))).alias(
            "n_batches"
        ),
        F.count(F.lit(1)).alias("input_rows"),
        F.countDistinct("user_id").alias("state_rows"),
        F.max(F.unix_micros(F.col("ts"))).alias("max_event_us"),
    )
    regs = hll_keyed_rhos(
        e.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id"),
        "user_id",
        ["day"],
    )
    w = regs.agg(F.count(F.lit(1)).alias("w_state_rows"))
    funnel = f.select(
        F.lit("events_funnel").alias("channel"),
        "n_batches",
        "input_rows",
        "state_rows",
        "max_event_us",
        F.lit(0).cast("long").alias("rows_dropped"),
    )
    wau = (
        f.crossJoin(F.broadcast(w))
        .select(
            F.lit("events_wau").alias("channel"),
            "n_batches",
            "input_rows",
            F.col("w_state_rows").alias("state_rows"),
            "max_event_us",
            F.lit(0).cast("long").alias("rows_dropped"),
        )
    )
    return funnel.unionByName(wau).orderBy("channel")


@register(
    "video_decode",
    oracle=f"""
WITH vdims2 AS (
  {_VDIMS_SQL}
)
SELECT doc_id,
       CAST(nf AS INT) AS n_frames,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       CAST(list_sum(list_transform(range(0, nf), k ->
         list_sum(list_transform(range(0, w * h), i ->
           (doc_id * 31 + k * 101 + i * 7) % 256)))) AS BIGINT)
         AS pixel_sum
FROM vdims2
ORDER BY doc_id
""",
    doc="Full-container video decode (llm/multimodal.py:decode_videos)"
    ": walk every Motion-PNG member by chunk grammar, PNG-decode all "
    "frames, and emit per-clip frame count, dimensions, and the exact "
    "int64 pixel total — the video analogue of image_decode/"
    "audio_decode, and the query that gates the CONTAINER itself "
    "(sampling-based fingerprints only touch every 2nd frame; this "
    "reads all of them, so a single corrupt member or off-by-one in "
    "the chunk walk breaks the sum).  The oracle replays every pixel "
    "of every frame in closed form.  One mapInArrow row-kernel "
    "pass over payloads range-partitioned by doc_id, embarrassingly "
    "parallel; the output sorts within partitions, so no sort runs "
    "the kernel a second time.",
)
def video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return by_doc_id(MM.decode_videos, media_payloads(spark, sf_dir, "video"))


@register(
    "incremental_image_dedup",
    oracle=f"""
WITH {_DHASH_CTE}
SELECT a.doc_id AS doc_a,
       b.doc_id AS doc_b,
       CAST(bit_count(xor(a.h_lo, b.h_lo))
            + bit_count(xor(a.h_hi, b.h_hi)) AS INT) AS hamming
FROM hashes a
JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h_lo, b.h_lo))
      + bit_count(xor(a.h_hi, b.h_hi)) <= 1
  AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
ORDER BY doc_a, doc_b
""",
    doc="Incremental image dedup (llm/dedup.py:incremental_dhash_pairs)"
    ": the daily-crawl shape on the perceptual modality — near-dup "
    "pairs where at least one side is NEW (registered split: every "
    "5th doc_id plays today's batch), never re-pairing the historical "
    "corpus against itself.  Signature granularity carries through "
    "the incremental tiers: members aggregate per distinct hash with "
    "an old/new split, candidate signature pairs must touch a "
    "new-membered signature, and expansion emits new x all plus "
    "old x new (old x old never expands) — so the daily cost is "
    "O(new-signature bands + touched buckets), not O(corpus).  The "
    "oracle is the exact all-pairs spec filtered to new-sided pairs, "
    "so recall against the full answer is checked, not assumed.  The "
    "same operator serves audio prints and video frame hashes "
    "unchanged (shared two-half signature contract).",
)
def incremental_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = media_signatures(spark, sf_dir, "image")
    return (
        DD.incremental_dhash_pairs(
            hashes, F.col("doc_id") % 5 == 0, max_hamming=1
        )
        .select(
            "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
        )
        .orderBy("doc_a", "doc_b")
    )


# all-frames variant of the hash CTE (the shifted matcher must see
# every frame — a clip shifted by 1 has NO matches on an even-only
# sampling grid)
_VHASH_ALL_CTE = _VHASH_CTE.replace(
    f"SELECT * FROM vframes WHERE k % {VIDEO_EVERY_N} = 0",
    "SELECT * FROM vframes",
)


@register(
    "video_near_dups_shifted",
    oracle=f"""
WITH {_VHASH_ALL_CTE},
m AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         b.frame_idx - a.frame_idx AS d,
         CAST(count(*) AS BIGINT) AS cnt
  FROM vhashes a JOIN vhashes b
    ON a.h_lo = b.h_lo AND a.h_hi = b.h_hi
   AND a.doc_id < b.doc_id
   AND abs(b.frame_idx - a.frame_idx) <= 2
  GROUP BY 1, 2, 3
)
SELECT * FROM (
  SELECT doc_a, doc_b,
         CAST(d AS INT) AS best_offset,
         cnt AS n_matching_frames
  FROM m
  QUALIFY row_number() OVER (
    PARTITION BY doc_a, doc_b ORDER BY cnt DESC, d) = 1
)
WHERE n_matching_frames >= 4
ORDER BY doc_a, doc_b
""",
    doc="Temporal-offset-tolerant video near-dup: two clips match "
    "when >= 4 frames carry EQUAL frame hashes under one consistent "
    "temporal shift of at most 2 frames — the trimmed/padded-clip "
    "case position-aligned matching (video_near_dups) cannot see; "
    "457 of the 503 sf0.01 pairs need a nonzero offset.  Per clip "
    "pair the match count is maximized over the offset (ties break "
    "to the smallest shift, deterministically, via a struct max — "
    "never a per-pair window).  The engine path hashes ALL frames "
    "(a shift of 1 has no even-grid matches), runs the SHARED "
    "banding engine at Hamming 0 over composite frame ids, derives "
    "each candidate frame pair's offset from the id arithmetic, and "
    "reduces by (pair, offset) then (pair) — keyed aggregates end to "
    "end.  The oracle is the exact spec as a pure signature-EQUALITY "
    "join (no quadratic all-pairs stage on either engine).",
)
def video_near_dups_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    prints = media_signatures(spark, sf_dir, "video", every_n=1)
    pairs = DD.dhash_near_dup_pairs(
        prints.select(vid_fid(), "h_lo", "h_hi"), max_hamming=0
    )
    va = fid_clip("doc_a")
    vb = fid_clip("doc_b")
    off = fid_frame("doc_b") - fid_frame("doc_a")
    m = (
        pairs.filter((va != vb) & (F.abs(off) <= 2))
        .select(va.alias("v_a"), vb.alias("v_b"), off.alias("d"))
        .groupBy("v_a", "v_b", "d")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = (
        m.groupBy("v_a", "v_b")
        .agg(
            F.max(
                F.struct(F.col("cnt").alias("c"), (-F.col("d")).alias("nd"))
            ).alias("__mx")
        )
        .select(
            F.col("v_a").alias("doc_a"),
            F.col("v_b").alias("doc_b"),
            (-F.col("__mx.nd")).cast("int").alias("best_offset"),
            F.col("__mx.c").alias("n_matching_frames"),
        )
        .filter(F.col("n_matching_frames") >= 4)
    )
    return best.orderBy("doc_a", "doc_b")


@register(
    "image_contamination",
    oracle=f"""
WITH {_DHASH_CTE}
SELECT t.doc_id AS train_doc,
       e.doc_id AS eval_doc,
       CAST(bit_count(xor(t.h_lo, e.h_lo))
            + bit_count(xor(t.h_hi, e.h_hi)) AS INT) AS hamming
FROM hashes t
JOIN hashes e
  ON t.doc_id % 10 <> 7 AND e.doc_id % 10 = 7
WHERE bit_count(xor(t.h_lo, e.h_lo))
      + bit_count(xor(t.h_hi, e.h_hi)) <= 1
ORDER BY train_doc, eval_doc
""",
    doc="Perceptual benchmark decontamination — the text-family "
    "contamination check (llm/dedup.py:contamination_overlaps) "
    "carried to the image modality: every training image whose dHash "
    "sits within Hamming 1 of an EVAL-split image (registered split: "
    "doc_id % 10 == 7 plays the benchmark), i.e. the train rows a "
    "leakage-clean corpus must drop even when the contaminated copy "
    "was resized or brightness-shifted (what byte-level hashes miss). "
    "The engine reuses incremental_dhash_pairs with the eval split as "
    "the 'new' side (old x old = train x train never expands) and "
    "keeps only cross-split pairs, oriented train-left.  The oracle "
    "is the exact train x eval spec.  At 100 TB the eval side is a "
    "fixed benchmark (thousands of signatures) — the banded join "
    "reduces to a broadcast-sized probe against the train signature "
    "table.",
)
def image_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashes = media_signatures(spark, sf_dir, "image")
    is_eval = F.col("doc_id") % 10 == 7
    pairs = DD.incremental_dhash_pairs(hashes, is_eval, max_hamming=1)
    a_eval = F.col("doc_a") % 10 == 7
    b_eval = F.col("doc_b") % 10 == 7
    return (
        pairs.filter(a_eval != b_eval)  # cross-split only
        .select(
            F.when(a_eval, F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
            F.when(a_eval, F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("eval_doc"),
            F.col("hamming").cast("int").alias("hamming"),
        )
        .orderBy("train_doc", "eval_doc")
    )
