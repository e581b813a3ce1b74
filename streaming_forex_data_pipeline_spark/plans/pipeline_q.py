"""Round-10 tranche-4+ registered queries: the co-bucketed fact-fact
join layout, the audio/video close of the decontamination matrix, the
date-partitioned layout's dynamic-partition-pruning face, and the
incremental semantic dedup tier.

Capability groups:

- **Co-bucketed orders/lineitem silvers.**  The events silver killed
  the user-keyed shuffle for the analytics family; the SAME one-time
  write amortization applies to the single largest shuffle any TPC-H
  shape pays — the orders-lineitem fact-fact join on the order key.
  Both facts are written bucketed on their order key into the same
  bucket count, so every later orderkey join AND every groupBy
  l_orderkey aggregate satisfies its distribution requirement from
  the LAYOUT (plan-gated in tests/test_plan_quality.py, including
  under a disabled broadcast threshold — the 100 TB join path), and a
  point lookup bucket-prunes BOTH sides by file index.
- **Contamination matrix closed.**  Benchmark decontamination existed
  for text (n-gram overlap) and image (dHash); the audio and video
  modalities complete the grid through the SAME incremental signature
  machinery (`llm/dedup.py:incremental_dhash_pairs` with the eval
  split as the new side — train x train never expands).
- **Date-partitioned fact layout + DPP.**  The time-keyed production
  layout (one day= directory per day) with a plan-gated DYNAMIC
  partition pruning probe — the join-derived cousin of the static
  PartitionFilters evidence.
- **Incremental semantic dedup.**  The daily-crawl shape on the
  embedding modality, completing the incremental matrix across all
  five near-dup tiers.

Import order (after modal_q) keeps every earlier registration index
stable for the driver's evidence rotation."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as DD
from ..llm import similarity as SIM
from ..llm.multimodal import VIDEO_EVERY_N, fid_clip, fid_frame, vid_fid
from ..llm.silvers import media_signatures
from ..sources.scratch import build_once, corpus_fingerprint, scratch_path
from ..sources.tables import load_table, read_parquet
from .fragments import large_order_customers_over, shipping_priority_over
from .oracle_sql import _AFP_CTE, _VHASH_CTE, _lsh_bucket_sql
from .registry import _REGISTRY, register

R = 6

#: the registered eval split for every *_contamination query: documents
#: with doc_id % 10 == 7 play the held-out benchmark (the image tier
#: established the convention in modal_q)
_EVAL_MOD, _EVAL_REM = 10, 7


# ---------------------------------------------------------------------------
# co-bucketed fact layout


def _ensure_fact_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> tuple[str, str]:
    """Build-if-missing the co-bucketed TPC-H fact silvers: orders
    bucketed by o_orderkey and lineitem bucketed by l_orderkey, SAME
    bucket count — the pairing that makes the orderkey fact-fact join
    co-partitioned straight off the scans.  Same silver-cache protocol
    as the events layout (`scale_q._ensure_events_bucketed`): location
    keyed by each table's corpus fingerprint under the 0700 scratch
    root, atomic-rename build with lost-race adoption, later sessions
    re-attach over the existing files.  8 buckets at test scale; a
    100 TB deployment writes thousands — the invariant that matters is
    only that both facts use the same count."""
    from ..sources.layout import ensure_bucketed_silver

    out = []
    for table, key, sort_cols in (
        ("orders", "o_orderkey", ("o_orderkey",)),
        ("lineitem", "l_orderkey", ("l_orderkey", "l_linenumber")),
    ):
        out.append(
            ensure_bucketed_silver(
                spark,
                load_table(spark, sf_dir, table),
                corpus_fingerprint(sf_dir, table=table),
                f"{table}_by_okey",
                key,
                sort_cols,
                n_buckets=n_buckets,
            )
        )
    return out[0], out[1]


@register(
    "shipping_priority_bucketed",
    oracle=_REGISTRY["shipping_priority"].oracle,
    doc="TPC-H Q3 (shipping_priority's exact composition and oracle) "
    "probing the CO-BUCKETED orders/lineitem silvers instead of the "
    "raw parquet: both facts are bucketed on their order key into the "
    "same bucket count, so the orders-lineitem join — the single "
    "largest shuffle in the TPC-H star family, both sides fact-sized "
    "at 100 TB — runs CO-PARTITIONED straight off the scans, and the "
    "per-orderkey revenue aggregate then inherits the same "
    "distribution: the executed plan carries ZERO orderkey Exchange "
    "nodes (plan-gated both ways — the raw plan still shuffles — and "
    "re-gated with the broadcast threshold disabled, the sort-merge "
    "path a real cluster takes).  The one-time bucketed write "
    "amortizes across every orderkey join/aggregate in the catalog; "
    "the registered query measures the probe.",
)
def shipping_priority_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    otbl, ltbl = _ensure_fact_bucketed(spark, sf_dir)
    return shipping_priority_over(
        load_table(spark, sf_dir, "customer"),
        spark.table(otbl),
        spark.table(ltbl),
    )


@register(
    "large_order_customers_bucketed",
    oracle=_REGISTRY["large_order_customers"].oracle,
    doc="TPC-H Q18 (large_order_customers' exact composition and "
    "oracle) probing the co-bucketed fact silvers: the HAVING-before-"
    "join quantity aggregate (groupBy l_orderkey) satisfies its "
    "distribution from the LAYOUT — no exchange before the partial or "
    "final aggregate — and the survivors join orders co-partitioned "
    "on the same buckets.  Second proof (after "
    "shipping_priority_bucketed) that ONE co-bucketed write amortizes "
    "across the whole orderkey family; only the customer join still "
    "moves rows, and it moves post-HAVING survivors.  Plan gate pins "
    "zero orderkey exchanges with the raw plan still shuffling.",
)
def large_order_customers_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    otbl, ltbl = _ensure_fact_bucketed(spark, sf_dir)
    return large_order_customers_over(
        spark.table(ltbl),
        spark.table(otbl),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "order_detail_lookup",
    oracle="""
SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
       round(o.o_totalprice, 6) AS o_totalprice,
       l.l_linenumber,
       CAST(round(l.l_quantity) AS BIGINT) AS quantity,
       round(l.l_extendedprice, 6) AS l_extendedprice,
       l.l_returnflag
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderkey = 7
ORDER BY l_linenumber
""",
    doc="Point-lookup serving off the co-bucketed fact layout: one "
    "order's header joined to its line items.  Because the filter "
    "hits the bucket key of BOTH silvers, both scans prune at the "
    "FILE INDEX (SelectedBucketsCount 1 of 8 each, plan-gated) — at "
    "100 TB an order lookup touches 1/n_buckets of each fact before "
    "any row filter runs — and the header-lines join is co-"
    "partitioned from the layout.  The serving face of the same "
    "write that carries the Q3/Q18 analytics probes (the "
    "user_history_rollup pattern on the TPC-H side).  The MERGE hint "
    "pins the co-partitioned join path: left to its own devices the "
    "planner broadcasts the one-row header and then disables BOTH "
    "bucketed scans as join-useless (autoBucketedScan), silently "
    "dropping the file-index prune — a harmless trade at test scale, "
    "wrong at 100 TB where the un-pruned probe side is still a "
    "full-fact scan.  Oracle is layout-free SQL over the raw tables.",
)
def order_detail_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    otbl, ltbl = _ensure_fact_bucketed(spark, sf_dir)
    o = spark.table(otbl).filter(F.col("o_orderkey") == 7)
    li = spark.table(ltbl).filter(F.col("l_orderkey") == 7)
    return (
        li.join(o.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "o_orderkey",
            "o_orderdate",
            "o_orderpriority",
            F.round("o_totalprice", R).alias("o_totalprice"),
            "l_linenumber",
            F.round(F.col("l_quantity")).cast("bigint").alias("quantity"),
            F.round("l_extendedprice", R).alias("l_extendedprice"),
            "l_returnflag",
        )
        .orderBy("l_linenumber")
    )


# ---------------------------------------------------------------------------
# contamination matrix: audio + video


@register(
    "audio_contamination",
    oracle=f"""
WITH {_AFP_CTE}
SELECT t.doc_id AS train_doc,
       e.doc_id AS eval_doc,
       CAST(bit_count(xor(t.h_lo, e.h_lo))
            + bit_count(xor(t.h_hi, e.h_hi)) AS INT) AS hamming
FROM ahashes t
JOIN ahashes e
  ON t.doc_id % {_EVAL_MOD} <> {_EVAL_REM}
 AND e.doc_id % {_EVAL_MOD} = {_EVAL_REM}
WHERE bit_count(xor(t.h_lo, e.h_lo))
      + bit_count(xor(t.h_hi, e.h_hi)) <= 2
ORDER BY train_doc, eval_doc
""",
    doc="Benchmark decontamination on the AUDIO modality: every "
    "training clip whose energy-envelope fingerprint sits within "
    "Hamming 2 (audio_near_dups' threshold) of an eval-split clip — "
    "the re-encoded/gain-shifted benchmark copies byte hashes miss.  "
    "Same machinery as image_contamination: "
    "llm/dedup.py:incremental_dhash_pairs with the eval split "
    "(doc_id % 10 == 7) as the new side, so train x train never "
    "expands and at 100 TB the fixed-size benchmark reduces to a "
    "broadcast-scale probe of the train signature table.  With text, "
    "image, and video, every modality in the data model now has a "
    "registered decontamination query.  Oracle is the exact "
    "train x eval spec over the closed-form prints.",
)
def audio_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    prints = media_signatures(spark, sf_dir, "audio")
    is_eval = F.col("doc_id") % _EVAL_MOD == _EVAL_REM
    pairs = DD.incremental_dhash_pairs(prints, is_eval, max_hamming=2)
    a_eval = F.col("doc_a") % _EVAL_MOD == _EVAL_REM
    b_eval = F.col("doc_b") % _EVAL_MOD == _EVAL_REM
    return (
        pairs.filter(a_eval != b_eval)
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


@register(
    "video_contamination",
    oracle=f"""
WITH {_VHASH_CTE}
SELECT t.doc_id AS train_doc,
       e.doc_id AS eval_doc,
       CAST(count(*) AS BIGINT) AS n_matching_frames
FROM vhashes t
JOIN vhashes e
  ON t.frame_idx = e.frame_idx
 AND t.doc_id % {_EVAL_MOD} <> {_EVAL_REM}
 AND e.doc_id % {_EVAL_MOD} = {_EVAL_REM}
WHERE bit_count(xor(t.h_lo, e.h_lo))
      + bit_count(xor(t.h_hi, e.h_hi)) <= 1
GROUP BY 1, 2
HAVING count(*) >= 3
ORDER BY train_doc, eval_doc
""",
    doc="Benchmark decontamination on the VIDEO modality: every "
    "training clip sharing >= 3 sampled frame positions at Hamming "
    "<= 1 (video_near_dups' multi-evidence rule) with an eval-split "
    "clip.  The engine runs incremental_dhash_pairs over COMPOSITE "
    "frame ids (doc_id*1024 + frame_idx, the modal_q convention) "
    "with the eval CLIP flag derived from the composite — train-"
    "frame x train-frame never expands — then reduces cross-split "
    "same-position frame pairs per clip pair with the count >= 3 "
    "cut.  Completes the text/image/audio/video decontamination "
    "grid through one incremental signature engine.  Oracle is the "
    "exact train x eval frame-join spec.",
)
def video_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    prints = media_signatures(spark, sf_dir, "video", every_n=VIDEO_EVERY_N)
    is_eval = fid_clip("doc_id") % _EVAL_MOD == _EVAL_REM
    pairs = DD.incremental_dhash_pairs(
        prints.select(vid_fid(), "h_lo", "h_hi"), is_eval, max_hamming=1
    )
    va = fid_clip("doc_a")
    vb = fid_clip("doc_b")
    fa = fid_frame("doc_a")
    fb = fid_frame("doc_b")
    a_eval = va % _EVAL_MOD == _EVAL_REM
    b_eval = vb % _EVAL_MOD == _EVAL_REM
    # (a_eval != b_eval) already implies distinct clips — differing
    # mod-10 residues cannot share a clip id
    return (
        pairs.filter((fa == fb) & (a_eval != b_eval))
        .select(
            F.when(a_eval, vb).otherwise(va).alias("train_doc"),
            F.when(a_eval, va).otherwise(vb).alias("eval_doc"),
        )
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_matching_frames"))
        .filter(F.col("n_matching_frames") >= 3)
        .orderBy("train_doc", "eval_doc")
    )


# ---------------------------------------------------------------------------
# date-partitioned fact layout + dynamic partition pruning


def _ensure_events_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """Build-if-missing the DATE-PARTITIONED events silver — the
    standard production fact layout (one ``day=YYYY-MM-DD/`` directory
    per day): retention drops directories, backfills overwrite one
    directory, and date predicates prune at the file index before any
    row is read.  Complements the bucketed silver (keyed access) with
    the time-keyed access path.  Same cache protocol as every silver:
    fingerprint-keyed location under the 0700 scratch root, published
    through `scratch.build_once`.  Readers go through
    `tables.read_parquet` (path-based partition discovery), so no
    catalog state outlives the session."""
    from ..sources.layout import write_day_partitioned

    fp = re.sub(
        r"[^A-Za-z0-9_]", "_", corpus_fingerprint(sf_dir, table="events")
    )
    return build_once(
        scratch_path(f"events_by_day_{fp}"),
        lambda tmp: write_day_partitioned(
            load_table(spark, sf_dir, "events"), tmp
        ),
    )


@register(
    "weekend_traffic_rollup",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
WHERE dayofweek(ts) IN (0, 6)
GROUP BY 1
ORDER BY 1
""",
    doc="Weekend traffic rollup through DYNAMIC PARTITION PRUNING "
    "over the date-partitioned events silver: the weekend-day "
    "dimension is a runtime frame (distinct weekend days filtered "
    "from a one-column scan), so no static predicate exists at plan "
    "time — Catalyst instead plants a dynamicpruningexpression on "
    "the fact scan's partition filters (plan-gated), the broadcast "
    "of the filtered dimension is REUSED as the pruning subquery, "
    "and only the ~2/7 weekend directories are ever read.  This is "
    "the layout+optimizer contract every 100 TB date-partitioned "
    "deployment leans on (the static cousin is already pinned by "
    "ivf_silver_topk's PartitionFilters gate); retention/backfill on "
    "the same layout are directory drops (sinks S10/S11).  The "
    "oracle is layout-free SQL over the raw events (DuckDB dayofweek "
    "is 0-Sunday..6-Saturday; Spark's is 1..7 — both literal sets "
    "name Saturday+Sunday).  Counts and cents sums are exact "
    "integers.",
)
def weekend_traffic_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    loc = _ensure_events_partitioned(spark, sf_dir)
    part = read_parquet(spark, loc)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.dayofweek("ts").alias("dw"),
        )
        .filter(F.col("dw").isin(1, 7))
        .select("day")
        .distinct()
    )
    return (
        part.join(F.broadcast(dim), "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .select(
            F.to_timestamp("day").alias("day"),
            "n_events",
            "n_users",
            "value_cents",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# incremental semantic dedup (completes the incremental matrix)


def _incremental_embedding_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])', n_planes=4)} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 5) AS cos_sim
FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.35
  AND (a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
ORDER BY id_a, id_b
"""


@register(
    "incremental_embedding_dedup",
    oracle=_incremental_embedding_oracle(),
    doc="Incremental SEMANTIC near-dup "
    "(llm/similarity.py:incremental_embedding_pairs): the daily-crawl "
    "shape on the embedding modality — same-LSH-bucket pairs scored "
    "only where at least one side is NEW (registered split: every "
    "5th vec_id plays today's batch, the incremental_image_dedup "
    "convention), exact cosine >= 0.35 verification, old x old never "
    "scored.  With this, every near-dup tier in the engine has an "
    "incremental face: text MinHash, image dHash, audio envelope, "
    "video frames, and semantic embeddings — the historical corpus "
    "is never re-paired against itself on any modality.  Daily cost "
    "is O(new x same-bucket members): the bucket equi-join touches "
    "only the buckets today's vectors land in.  Same plane literals "
    "and threshold as embedding_near_dups_lsh, so the oracle is that "
    "query's exact spec filtered to new-sided pairs — recall against "
    "the full answer is checked, not assumed.",
)
def incremental_embedding_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.incremental_embedding_pairs(
        e, F.col("vec_id") % 5 == 0, threshold=0.35, n_planes=4
    )
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 5).alias("cos_sim")
    ).orderBy("id_a", "id_b")
