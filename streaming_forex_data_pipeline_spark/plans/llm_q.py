"""LLM-data-pipeline queries: text analysis, dedup, similarity search.

Mandated extensions beyond the reference's surface — each is a
first-class oracle-checked query over the documents/embeddings tables.
Silvers shared with other families live in `llm/silvers.py`, shared
oracle text (LSH buckets, kNN-graph CTEs) in `plans/oracle_sql.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import dedup as DD
from ..llm import multimodal as MM
from ..llm import similarity as SIM
from ..llm import text as TX
from ..llm.silvers import (
    knn_graph_silver,
    knn_union_graph_silver,
    media_payloads,
    shared_batch_walk,
)
from ..llm.vocab import hll_fold_constants
from ..sources.scratch import build_once, corpus_fingerprint, scratch_path
from ..sources.tables import fan_out, load_table, read_parquet
from .fragments import by_doc_id
from .goldens import golden_oracle as _golden_oracle
from .oracle_sql import (
    _knn_graph_ctes,
    _knn_union_graph_ctes,
    _lsh_bucket_sql,
    hll_estimate_sql,
)
from .registry import register

R = 6

_MODALITY_SQL = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' "
    "WHEN 1 THEN 'audio' ELSE 'video' END"
)


@register(
    "doc_stats",
    oracle=r"""
SELECT doc_id,
       length(text) AS n_chars,
       CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
       round(CASE WHEN (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\s+')) END) > 0
             THEN CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
                  / (CASE WHEN trim(text) = '' THEN 0
                     ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
             END, 6) AS avg_word_len
FROM documents
ORDER BY doc_id
""",
    doc="Text analysis — char/token counts + avg word length, all "
    "JVM-side string expressions (token counting baseline for "
    "LLM-data pipelines).",
)
def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.char_count().alias("n_chars"),
        TX.token_count().alias("n_tokens"),
        F.round(TX.avg_word_len(), R).alias("avg_word_len"),
    ).orderBy("doc_id")


@register(
    "lang_id",
    oracle="""
SELECT doc_id, lang AS labeled_lang,
       CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ('the','and','of','to','a'))) AS BIGINT) AS en_hits,
       CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ('el','la','de','que','y'))) AS BIGINT) AS es_hits,
       CAST(len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ('le','la','de','et','un'))) AS BIGINT) AS fr_hits
FROM documents
ORDER BY doc_id
""",
    doc="Language-ID heuristic — stopword-hit counts per language via "
    "higher-order array functions (no UDF).",
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.col("text")), " ")

    def hits(words: tuple[str, ...]):
        return F.size(F.filter(toks, lambda x: x.isin(*words))).cast("long")

    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        hits(TX.STOPWORDS["en"]).alias("en_hits"),
        hits(TX.STOPWORDS["es"]).alias("es_hits"),
        hits(TX.STOPWORDS["fr"]).alias("fr_hits"),
    ).orderBy("doc_id")


@register(
    "exact_dedup_groups",
    oracle=r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
       count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY 1
ORDER BY fingerprint
""",
    doc="Exact dedup — hash-groupBy on normalized-content MD5; "
    "keep-first = min(doc_id). One shuffle with map-side combine.",
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.exact_duplicate_groups(d).orderBy("fingerprint")


@register(
    "jaccard_vs_doc0",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM documents
), q AS (SELECT t AS qt FROM toks WHERE doc_id = 0)
SELECT toks.doc_id,
       round(CASE WHEN len(list_distinct(list_concat(t, qt))) > 0
             THEN CAST(len(list_intersect(t, qt)) AS DOUBLE)
                  / len(list_distinct(list_concat(t, qt)))
             ELSE 0.0 END, 6) AS jaccard
FROM toks, q
ORDER BY toks.doc_id
""",
    doc="N-gram (unigram) Jaccard similarity of every doc vs doc 0 — "
    "the verify kernel of MinHash-LSH near-dup; query side broadcast.",
)
def jaccard_vs_doc0(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select("doc_id", DD.token_set().alias("t"))
    q = toks.filter(F.col("doc_id") == 0).select(F.col("t").alias("qt"))
    return (
        toks.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            F.round(DD.jaccard(F.col("t"), F.col("qt")), R).alias("jaccard"),
        )
        .orderBy("doc_id")
    )


@register(
    "knn_cosine_topk",
    oracle="""
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qe, qe))), 5) AS cos_sim
FROM embeddings, q
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    doc="Similarity search — brute-force cosine top-k vs vec_id 0 "
    "(exact ANN baseline): broadcast query vector, single corpus scan, "
    "TakeOrderedAndProject. Scale path = sign-bit LSH bucketing "
    "(llm/similarity.py:lsh_bucket). Rounded to 5dp: float32 inputs "
    "give ~7 significant digits through a 64-term dot product.",
)
def knn_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    scored = fan_out(e).crossJoin(
        F.broadcast(q.select(F.col("embedding").alias("q_embedding")))
    ).select(
        "vec_id",
        F.round(
            SIM.cosine(F.col("embedding"), F.col("q_embedding")), 5
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


@register(
    "minhash_near_dups",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS t
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(1.0, 6) AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND a.t = b.t
ORDER BY doc_a, doc_b
""",
    doc="MinHash+LSH near-dup pipeline end-to-end: 32-hash signature -> "
    "band bucketing -> candidate self-join on (band, band_hash) -> "
    "exact-Jaccard verification (llm/dedup.py:52-122).  Registered at "
    "threshold 1.0 (identical token sets) because identical sets imply "
    "identical signatures, making LSH recall exactly 1 and the oracle "
    "(all-pairs sorted-token-set equality) deterministic.  Banding is "
    "tuned to the threshold by the S-curve midpoint (1/b)^(b/n): at "
    "threshold 1.0 the optimum is b=1, r=32 — full-signature "
    "bucketing, which suppresses the false-candidate flood this "
    "high-similarity corpus produces under wide banding while s=1.0 "
    "candidates still always collide.  Lower thresholds re-tune "
    "banding (8x4 for 0.7) — exercised by the differential recall "
    "test.",
)
def minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.near_duplicate_pairs(d, threshold=1.0, n_hashes=32, bands=1)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", R).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


@register(
    "ann_lsh_topk",
    oracle=f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
  FROM embeddings
),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_dot_product(b.e, q.qe)
             / (sqrt(list_dot_product(b.e, b.e))
                * sqrt(list_dot_product(q.qe, q.qe))), 5) AS cos_sim
FROM b, q
WHERE b.bucket = q.qb
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    doc="ANN similarity search — sign-bit LSH bucketed top-k: bucket the "
    "corpus and the query with 8 deterministic hyperplanes "
    "(llm/similarity.py:lsh_planes), score only the query's bucket "
    "(~1/256 of the corpus at scale), exact cosine within the bucket.  "
    "The oracle embeds the identical plane literals, so bucket "
    "assignment and the final top-k are deterministic on both engines.",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    b = fan_out(e).withColumn("bucket", SIM.lsh_bucket("embedding"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("bucket").alias("q_bucket")
    )
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("q_bucket"))
        .select(
            "vec_id",
            F.round(
                SIM.cosine(F.col("embedding"), F.col("q_embedding")), 5
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


@register(
    "ivf_topk",
    oracle="""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
q AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
probe AS (
  SELECT c.cid
  FROM c, q
  ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn) DESC, c.cid ASC
  LIMIT 2
)
SELECT n.vec_id,
       round(list_dot_product(n.v, q.qv) / (n.nn * q.qn), 5) AS cos_sim
FROM n
JOIN assign a ON n.vec_id = a.vec_id
JOIN probe p ON a.cid = p.cid, q
ORDER BY list_dot_product(n.v, q.qv) / (n.nn * q.qn) DESC, n.vec_id ASC
LIMIT 10
""",
    doc="ANN similarity search — IVF-flat top-k (the inverted-file "
    "scale path, complementing the sign-bit LSH tier): the 16 "
    "lowest-id vectors act as deterministic data-sampled centroids "
    "(no k-means fit, whose float-aggregation order can drift between "
    "runs), every vector joins its argmax-cosine cell via a map-side "
    "max_by over the broadcast centroid set, the query probes its 2 "
    "nearest cells, and exact cosine runs only inside them (~nprobe/"
    "n_cells of the corpus).  Assignment, probing, and the final "
    "top-k compare bit-identical doubles on both engines (sequential "
    "dot-product accumulation), so the approximate result is still "
    "exactly hash-checkable; recall vs the exact tier is measured in "
    "tests/test_operators.py.",
)
def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=2)
    return out.select(
        "vec_id", F.round("cos_sim", 5).alias("cos_sim")
    )


@register(
    "multimodal_decode",
    oracle=f"""
SELECT doc_id,
       {_MODALITY_SQL} AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       lower(substring(hex(encode(text)), 1, 8)) AS header,
       octet_length(encode(text)) >= {MM.MIN_VALID_BYTES} AS is_valid,
       CAST(doc_id % 640 + 1 AS INT) AS width,
       CAST(doc_id % 480 + 1 AS INT) AS height
FROM documents
ORDER BY doc_id
""",
    doc="Multimodal decode plumbing — opaque binary payload + typed "
    "metadata struct through a Column-algebra decode stub "
    "(llm/multimodal.py): byte length, 4-byte header hex, validity "
    "flag, metadata echo.  The stub tier exercises the triage shape; "
    "the REAL codec tier (image_decode/image_resize/audio_decode, "
    "llm/codecs.py) does actual PNG/WAV decode in the mapInArrow row "
    "kernel.",
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    decoded = MM.decode_stub(MM.attach_payload(d))
    return decoded.orderBy("doc_id")


@register(
    "multimodal_stats",
    oracle=f"""
SELECT modality,
       count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       round(avg(n_bytes), 6) AS avg_bytes,
       CAST(count(*) FILTER (WHERE n_bytes < {MM.MIN_VALID_BYTES}) AS BIGINT)
         AS n_invalid
FROM (
  SELECT {_MODALITY_SQL} AS modality,
         octet_length(encode(text)) AS n_bytes
  FROM documents
) t
GROUP BY modality
ORDER BY modality
""",
    doc="Multimodal per-modality size/corruption stats over the decode "
    "output — the triage aggregate a 100 TB multimodal ingest runs "
    "before spending GPU decode time.",
)
def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    decoded = MM.decode_stub(MM.attach_payload(d))
    return (
        decoded.groupBy("modality")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
            F.round(F.avg("n_bytes"), R).alias("avg_bytes"),
            F.count_if(~F.col("is_valid")).alias("n_invalid"),
        )
        .orderBy("modality")
    )


@register(
    "embedding_norms",
    oracle="""
SELECT vec_id, label,
       round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                   CAST(embedding AS DOUBLE[]))), 5) AS l2_norm
FROM embeddings
ORDER BY vec_id
""",
    doc="Embedding hygiene scan — L2 norms (zero-vector/NaN detection "
    "before similarity search); JVM-side aggregate over the array.",
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.round(SIM.norm(F.col("embedding")), 5).alias("l2_norm"),
    ).orderBy("vec_id")


@register(
    "simhash_near_dups",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(lower(trim(text)), '\s+')) AS t
  FROM documents
),
hashed AS (
  SELECT doc_id,
         [('0x' || substr(md5(tok), 1, 15))::BIGINT FOR tok IN t] AS hs
  FROM toks
),
sh AS (
  SELECT doc_id,
         (CASE WHEN list_sum([CASE WHEN (h >> 0) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 1 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 1) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 2 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 2) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 4 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 3) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 8 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 4) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 16 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 5) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 32 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 6) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 64 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 7) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 128 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 8) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 256 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 9) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 512 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 10) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 1024 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 11) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 2048 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 12) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 4096 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 13) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 8192 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 14) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 16384 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 15) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 32768 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 16) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 65536 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 17) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 131072 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 18) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 262144 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 19) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 524288 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 20) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 1048576 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 21) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 2097152 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 22) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 4194304 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 23) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 8388608 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 24) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 16777216 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 25) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 33554432 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 26) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 67108864 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 27) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 134217728 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 28) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 268435456 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 29) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 536870912 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 30) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 1073741824 ELSE 0 END)
         + (CASE WHEN list_sum([CASE WHEN (h >> 31) & 1 = 1 THEN 1 ELSE -1 END FOR h IN hs]) >= 0 THEN 2147483648 ELSE 0 END) AS sh
  FROM hashed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY doc_a, doc_b
""",
    doc="SimHash near-dup with GUARANTEED recall: 32-bit fingerprint "
    "(sign of per-bit +/-1 token-hash sums), banded into 4 x 8-bit "
    "keys — by pigeonhole any pair within Hamming distance 3 agrees on "
    "at least one band, so the bucket join finds every qualifying pair "
    "and the bit_count(xor) verify makes the output EQUAL to the exact "
    "all-pairs answer at O(N*bands + sum k^2) cost "
    "(llm/dedup.py:simhash_near_dup_pairs).  The oracle computes the "
    "brute-force all-pairs answer with the identical md5-derived token "
    "hashes, so the banded Spark path is checked against exact "
    "semantics, not against itself.",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    pairs = DD.simhash_near_dup_pairs(d, bits=32, max_hamming=3)
    # no output ORDER BY: the pair list is the one large-cardinality
    # result in the registry (1.37M rows at sf0.1, grows with corpus)
    # and a global sort of it is pure presentation cost (~0.7 s at
    # sf0.1, unbounded at scale).  The correctness gate is order-
    # insensitive (driver sorts rows before hashing), as is any
    # downstream dedup join.
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "embedding_near_dups",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 5) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v))
         * sqrt(list_dot_product(b.v, b.v))) >= 0.45
ORDER BY id_a, id_b
""",
    doc="Embedding-cosine near-dup pairs (exact tier): upper-triangle "
    "self-join with broadcast build side, cosine >= threshold "
    "(llm/similarity.py:embedding_near_dup_pairs).  Threshold is "
    "parameterized; 0.45 exercises real pairs on this random corpus.  "
    "Scale path = lsh-bucketed candidates "
    "(embedding_near_dup_candidates), recall-measured in "
    "tests/test_operators.py.",
)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_near_dup_pairs(e, threshold=0.45)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 5).alias("cos_sim")
    ).orderBy("id_a", "id_b")


@register(
    "embedding_near_dups_lsh",
    oracle=f"""
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
ORDER BY id_a, id_b
""",
    doc="Embedding-cosine near-dup pairs, LSH-bucketed scale tier "
    "(llm/similarity.py:embedding_near_dup_candidates): bucket every "
    "vector with deterministic sign-bit hyperplanes (the ann_lsh_topk "
    "family), then score only same-bucket pairs — pair work drops from "
    "N² to Σ bucket_k² (~N²/2^planes), and the bucket join shuffles "
    "instead of broadcasting, so the plan survives a 100× corpus.  "
    "Registered at 4 planes / threshold 0.35 so the candidate set is "
    "non-empty on the random test corpus (real near-dup corpora use "
    "8+ planes; recall/planes trade by (1-θ/π)^planes).  The oracle "
    "embeds the identical plane literals, making bucket assignment — "
    "and therefore the candidate set — deterministic on both engines.  "
    "Recall vs the exact tier is measured in tests/test_operators.py "
    "(test_embedding_lsh_candidates_recall); the exact all-pairs tier "
    "stays registered as embedding_near_dups.",
)
def embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pairs = SIM.embedding_near_dup_candidates(e, threshold=0.35, n_planes=4)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 5).alias("cos_sim")
    ).orderBy("id_a", "id_b")


@register(
    "token_stats",
    oracle=r"""
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INT)
         AS n_tokens_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+'))
         AS INT) AS n_tokens_bpe_ish,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
ORDER BY doc_id
""",
    doc="Token counting, whitespace + BPE-ish regex tier "
    "(llm/text.py:subword_count): word/number/punctuation chunks as a "
    "deterministic stand-in for a model-specific BPE vocab.  Pure "
    "codegen'd string expressions — a 100 TB corpus is one scan.",
)
def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count().cast("int").alias("n_tokens_ws"),
        TX.subword_count().cast("int").alias("n_tokens_bpe_ish"),
        TX.char_count().cast("long").alias("n_chars"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    oracle="""
SELECT doc_id,
       md5(text) AS md5_fp,
       list_reduce(
         list_prepend(7::BIGINT, [ascii(c)::BIGINT FOR c IN split(text, '')]),
         (acc, c) -> (acc * 31 + c) % 2147483647
       ) AS rolling_fp
FROM documents
ORDER BY doc_id
""",
    doc="Document fingerprinting: md5 content hash + polynomial "
    "rolling hash (llm/text.py:rolling_hash) — both engine-portable, "
    "both single-scan column expressions.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("md5_fp"),
        TX.rolling_hash().alias("rolling_fp"),
    ).orderBy("doc_id")


@register(
    "multimodal_frames",
    oracle=f"""
WITH vids AS (
  SELECT doc_id, octet_length(encode(text)) AS n
  FROM documents
  WHERE {_MODALITY_SQL} = 'video'
),
frames AS (
  SELECT v.doc_id,
         CAST(g.i AS INT) AS frame_idx,
         CAST(least(256, v.n - g.i * 256) AS INT) AS frame_len
  FROM vids v,
       LATERAL (SELECT unnest(generate_series(0,
                  CAST(ceil(v.n / 256.0) AS BIGINT) - 1, 4)) AS i) g
)
SELECT doc_id, frame_idx, frame_len
FROM frames
ORDER BY doc_id, frame_idx
""",
    doc="Multimodal frame sampling: every-4th 256-byte 'frame' of each "
    "video payload via a ROW-EXPANDING explode over a sequence "
    "(llm/multimodal.py:frame_sample_stub) — the row-expanding shape "
    "an ffmpeg-backed sampler drops into.  The oracle reproduces the "
    "frame arithmetic with generate_series, so the stage's expansion "
    "(count, indices, tail-frame length) is checked exactly.",
)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(fan_out(d))
    return MM.frame_sample_stub(mm, every_n=4).orderBy("doc_id", "frame_idx")


@register(
    "multimodal_resize",
    oracle=f"""
SELECT doc_id,
       CAST(least(octet_length(encode(text)),
                  greatest(1, CAST(floor(octet_length(encode(text))
                       * (224.0 * 224.0)
                       / greatest(1, (doc_id % 640 + 1) * (doc_id % 480 + 1)))
                    AS BIGINT))) AS BIGINT) AS n_resized_bytes,
       224 AS width, 224 AS height,
       CAST(doc_id % 640 + 1 AS INT) AS orig_width,
       CAST(doc_id % 480 + 1 AS INT) AS orig_height
FROM documents
WHERE {_MODALITY_SQL} = 'image'
ORDER BY doc_id
""",
    doc="Multimodal resize stage (llm/multimodal.py:resize_stub): "
    "binary-in/binary-out Column-algebra stage scaling payload "
    "length by the pixel ratio (the PIL swap-in point).  The oracle "
    "checks the byte-length arithmetic and metadata rewrite exactly; "
    "payload bytes themselves are prefix-truncations verified in "
    "tests/test_multimodal_stages.py.",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import multimodal as MM

    d = load_table(spark, sf_dir, "documents")
    mm = MM.attach_payload(fan_out(d))
    out = MM.resize_stub(mm, target_w=224, target_h=224)
    return out.select(
        "doc_id",
        F.length("payload").cast("long").alias("n_resized_bytes"),
        "width",
        "height",
        "orig_width",
        "orig_height",
    ).orderBy("doc_id")


_PAIR_GRAPH_SQL = r"""
toks AS (
  SELECT doc_id,
         list_sort(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS t
  FROM documents
),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND a.t = b.t
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM p
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM p
),
reach(node, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (
  SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
)"""


@register(
    "near_dup_clusters",
    oracle=f"WITH RECURSIVE {_PAIR_GRAPH_SQL}\n"
    """SELECT doc_id, cluster_id,
       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
FROM comp
ORDER BY doc_id
""",
    doc="Near-dup pair graph -> connected components -> cluster "
    "assignment with sizes (llm/dedup.py connected_components): "
    "min-label propagation + pointer jumping (Kiveris SoCC'14 star "
    "technique), finished on the driver after one fetch of the pair "
    "list when it is under the broadcast threshold (DataFrame join "
    "rounds above it), so transitively-linked docs land in one "
    "cluster even when the LSH stage never emitted the closing pair.  "
    "Reference parity: "
    "data_quality.py stops at duplicate PAIR lists; the cluster "
    "closure is what a dedup decision actually consumes.  Oracle: "
    "DuckDB recursive-CTE reachability with min-label aggregation — "
    "exact transitive closure, valid at oracle scales.",
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.near_dup_clusters(
        d, threshold=1.0, n_hashes=32, bands=1
    ).orderBy("doc_id")


@register(
    "dedup_canonical",
    oracle=f"WITH RECURSIVE {_PAIR_GRAPH_SQL}\n"
    """SELECT doc_id, source, lang, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != cluster_id)
ORDER BY doc_id
""",
    doc="The dedup keep-list: one canonical representative (min doc_id "
    "= the cluster id itself, join-free) per near-dup cluster, "
    "singletons untouched, via a left-anti join against the "
    "non-canonical cluster members (llm/dedup.py dedup_canonical).",
)
def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.dedup_canonical(d, threshold=1.0, n_hashes=32, bands=1).select(
        "doc_id", "source", "lang", "n_chars"
    ).orderBy("doc_id")


@register(
    "lm_quality",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
),
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
tot AS (SELECT sum(c) AS big_t, count(*) AS v FROM cnt),
per AS (SELECT doc_id, tok, count(*) AS k FROM ex GROUP BY doc_id, tok),
arr AS (
  SELECT doc_id, list_sort(list({'tok': p.tok, 'k': p.k, 'c': c.c})) AS a
  FROM per p JOIN cnt c ON p.tok = c.tok
  GROUP BY doc_id
),
scored AS (
  SELECT doc_id,
         list_reduce(list_transform(a, s -> s.k), (x, y) -> x + y) AS n_tokens,
         list_reduce(
           list_transform(a, s -> s.k * -ln((s.c + 1.0) / (big_t + v))),
           (x, y) -> x + y
         ) AS nll_sum
  FROM arr, tot
)
SELECT doc_id, n_tokens, round(nll_sum, 6) AS nll_sum, round(nll_sum / n_tokens, 6) AS avg_nll
FROM scored
ORDER BY doc_id
""",
    doc="CCNet-style unigram-LM perplexity filter: add-one-smoothed "
    "corpus unigram model, per-doc average negative log-likelihood "
    "(llm/text.py unigram_lm_nll).  Exact-integer counts feed a "
    "fixed-order token-sorted F.aggregate fold mirrored by DuckDB "
    "list_reduce over the same canonical list, so the float lineage "
    "has no parallel-partial aggregation (the r2 drift class).  The "
    "standard quality bucket for web-scale pretraining corpora "
    "(CCNet/C4 lineage), absent from the reference.",
)
def lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = TX.unigram_lm_nll(d)
    return s.select(
        "doc_id",
        "n_tokens",
        F.round("nll_sum", R).alias("nll_sum"),
        F.round(F.col("avg_nll"), R).alias("avg_nll"),
    ).orderBy("doc_id")


@register(
    "dup_ngram_coverage",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc
  FROM documents
),
base AS (
  SELECT doc_id, CAST(tc AS BIGINT) AS n_tokens,
         CAST(greatest(tc - 4, 0) AS BIGINT) AS n_ngrams
  FROM ws
),
occ AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
cnt AS (
  SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT o.doc_id, o.pos, o.pos + 4 AS e FROM occ o JOIN cnt USING (gram)
),
cov AS (
  SELECT doc_id, pos, e,
         coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS pme
  FROM dup
),
agg AS (
  SELECT doc_id, count(*) AS n_dup_ngrams,
         CAST(sum(greatest(0, e - greatest(pos - 1, pme))) AS BIGINT)
           AS covered_tokens
  FROM cov GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens, b.n_ngrams,
       coalesce(a.n_dup_ngrams, 0) AS n_dup_ngrams,
       coalesce(a.covered_tokens, 0) AS covered_tokens,
       round(CASE WHEN b.n_tokens > 0
             THEN CAST(coalesce(a.covered_tokens, 0) AS DOUBLE) / b.n_tokens
             ELSE 0.0 END, 6) AS dup_coverage
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY b.doc_id
""",
    doc="ExactSubstr-style cross-document duplication coverage "
    "(llm/dedup.py:cross_doc_ngram_coverage; Lee et al. 2022): per "
    "doc, the token mass covered by word-5-grams occurring in >= 2 "
    "distinct documents — duplicated-span fraction as reported by "
    "Dolma/RedPajama, the substring tier document-level near-dup "
    "misses.  Positions ride the single gram Generate, the frequency "
    "table joins back 1:1 on the gram key (no pair explosion for "
    "viral grams), and the interval-union window partitions by doc — "
    "the 100 TB-safe shape.  All-integer counters; the coverage ratio "
    "is per-row arithmetic (no float partials).",
)
def dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.cross_doc_ngram_coverage(fan_out(d), n=5, min_docs=2).orderBy(
        "doc_id"
    )


def _scrub_oracle() -> str:
    """Build the scrub oracle from the SAME pattern literals the Spark
    side uses (llm/scrub.py), so the two engines cannot drift."""
    from ..llm import scrub as SC

    terms = SC.term_pattern(_SCRUB_TERMS)
    repl = "text"
    counts = []
    for name, pat in SC.PII_PATTERNS.items():
        counts.append(
            f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT)"
            f" AS n_{name}"
        )
        repl = f"regexp_replace({repl}, '{pat}', '<{name.upper()}>', 'g')"
    counts.append(
        f"CAST(len(regexp_extract_all(text, '{terms}')) AS BIGINT) AS n_terms"
    )
    repl = f"regexp_replace({repl}, '{terms}', '<TERM>', 'g')"
    cols = ",\n       ".join(counts)
    return f"""
WITH s AS (
  SELECT doc_id,
       {cols},
       {repl} AS scrubbed
  FROM documents
)
SELECT doc_id, n_email, n_ipv4, n_phone, n_terms,
       n_email + n_ipv4 + n_phone + n_terms AS n_redactions,
       CAST(length(scrubbed) AS BIGINT) AS scrubbed_len,
       md5(scrubbed) AS scrubbed_md5
FROM s
ORDER BY doc_id
"""


_SCRUB_TERMS = ("slow", "merge")


@register(
    "pii_scrub",
    oracle=_scrub_oracle(),
    doc="PII + blocklist scrubbing (llm/scrub.py:scrub): typed "
    "placeholder redaction of emails/IPv4s/phone numbers plus "
    "whole-word blocklist terms (the C4 bad-words stage), with "
    "per-category match counts measured on the original text.  "
    "Patterns stay inside the Java-regex ∩ RE2 dialect and the oracle "
    "is GENERATED from the same literals, so redacted output is "
    "exactly hash-checked via md5.  Pure codegen'd regexp expressions "
    "— a 100 TB corpus is one scan-bound map stage, zero shuffles.  "
    "(The synthetic corpus contains no real PII — the PII counters "
    "read 0 here and are exercised on adversarial rows in "
    "tests/test_scrub.py; the blocklist counters are live.)",
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import scrub as SC

    d = load_table(spark, sf_dir, "documents")
    out = SC.scrub(d, terms=_SCRUB_TERMS)
    return out.select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        "n_terms",
        "n_redactions",
        F.length("scrubbed").cast("long").alias("scrubbed_len"),
        F.md5("scrubbed").alias("scrubbed_md5"),
    ).orderBy("doc_id")


def _pq_piv_sql(m: int = 8) -> str:
    cases = ",\n         ".join(
        f"max(CASE WHEN sub = {j} THEN qd END) AS p{j}" for j in range(m)
    )
    total = " + ".join(f"p{j}" for j in range(m))
    return cases, total


_PQ_CASES, _PQ_TOTAL = _pq_piv_sql()


@register(
    "pq_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sp AS (SELECT unnest(generate_series(0, 7)) AS sub),
cb AS (
  SELECT e.vec_id AS cid, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS c
  FROM e, sp WHERE e.vec_id < 16
),
vs AS (
  SELECT e.vec_id AS id, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS s
  FROM e, sp
),
dist AS (
  SELECT vs.id, vs.sub, cb.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (vs.s[i] - cb.c[i]) * (vs.s[i] - cb.c[i])),
            (x, y) -> x + y) AS l2
  FROM vs JOIN cb USING (sub)
),
codes AS (
  SELECT id, sub, cid AS code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY l2, cid) = 1
),
lut AS (
  SELECT c2.sub, c2.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (q.s[i] - c2.c[i]) * (q.s[i] - c2.c[i])),
            (x, y) -> x + y) AS qd
  FROM vs q JOIN cb c2 USING (sub)
  WHERE q.id = 0
),
parts AS (
  SELECT c.id, c.sub, l.qd
  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cid
),
piv AS (
  SELECT id,
         {_PQ_CASES}
  FROM parts GROUP BY id
)
SELECT id AS vec_id, round({_PQ_TOTAL}, 6) AS approx_dist
FROM piv
ORDER BY {_PQ_TOTAL} ASC, id ASC
LIMIT 10
""",
    doc="Product-quantization ANN top-k (llm/similarity.py:pq_codes/"
    "pq_topk; Jégou et al. 2011) — completes the ANN family "
    "(brute-force / sign-bit LSH / IVF-flat / PQ-ADC): vectors encode "
    "to 8 codebook indices over 8-dim subspaces (deterministic "
    "data-sampled codebooks, same bootstrap as ivf_topk), the query "
    "broadcasts an 8x16 squared-L2 lookup table, and each vector's "
    "approximate distance is 8 table lookups — no float vector is "
    "touched at query time, the memory trade that fits billion-scale "
    "ANN in RAM.  The per-vector subspace sum is a conditional-agg "
    "pivot added in fixed order as per-row arithmetic (no parallel "
    "float partials), so ranking and distances hash-check exactly.  "
    "Recall vs the exact tier is measured in tests/test_operators.py.",
)
def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = SIM.pq_topk(e, q, k=10)
    return out.select(
        "vec_id", F.round("approx_dist", R).alias("approx_dist")
    )


@register(
    "substring_dedup",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS tc
  FROM documents
),
occ AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
dg AS (SELECT gram FROM occ GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
covered AS (
  SELECT DISTINCT doc_id, p FROM (
    SELECT o.doc_id, unnest(generate_series(o.pos, o.pos + 4)) AS p
    FROM occ o JOIN dg USING (gram)
  ) t
),
toks AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS p, w[i] AS tok
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) r
  WHERE tc > 0
),
kept AS (
  SELECT t.doc_id, t.p, t.tok
  FROM toks t ANTI JOIN covered c ON t.doc_id = c.doc_id AND t.p = c.p
),
re AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS cleaned
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id, CAST(b.tc AS BIGINT) AS n_tokens,
       coalesce(n_kept, 0) AS n_kept,
       coalesce(cleaned, '') AS cleaned
FROM ws b LEFT JOIN re USING (doc_id)
ORDER BY b.doc_id
""",
    doc="ExactSubstr REMOVAL transform "
    "(llm/dedup.py:remove_duplicated_spans): rewrite every document "
    "with cross-document duplicated word-5-gram spans deleted (all "
    "occurrences — the conservative C4-style policy), reassembling "
    "surviving tokens in original order via "
    "array_sort(collect_list(struct(pos, tok))).  Complements the "
    "dup_ngram_coverage METRIC with the actual dedup rewrite; the "
    "cleaned text itself is hash-checked.  Shares the gram-frequency "
    "stages' scale shape (keyed shuffles, 1:1 count join, per-doc "
    "reassembly partitioned by doc_id).",
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.remove_duplicated_spans(fan_out(d), n=5, min_docs=2).orderBy(
        "doc_id"
    )


@register(
    "semdedup",
    oracle="""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid AS cell,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
av AS (
  SELECT a.vec_id, a.cell, n.v, n.nn FROM assign a JOIN n USING (vec_id)
),
dups AS (
  SELECT DISTINCT hi.vec_id AS dup_id
  FROM av lo JOIN av hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
  WHERE list_dot_product(lo.v, hi.v) / (lo.nn * hi.nn) >= 0.45
)
SELECT av.vec_id, av.cell, d.dup_id IS NULL AS keep
FROM av LEFT JOIN dups d ON av.vec_id = d.dup_id
ORDER BY av.vec_id
""",
    doc="SemDeDup (llm/similarity.py:semdedup; Abbas et al. 2023): "
    "semantic deduplication — cluster the embedding space with the "
    "deterministic IVF quantizer, then drop any vector whose cosine "
    "to a lower-id vector in the SAME cell reaches 0.45 (greedy-by-id "
    "keep policy, one survivor per duplicate chain, no RNG).  The "
    "all-pairs step is confined within cells (the paper's O(N^2/K) "
    "cost model); output is integers+booleans only, so the DECISION "
    "itself is exactly hash-checked.",
)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    return SIM.semdedup(e, n_cells=16, threshold=0.45).orderBy("vec_id")


@register(
    "pq_rerank",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sp AS (SELECT unnest(generate_series(0, 7)) AS sub),
cb AS (
  SELECT e.vec_id AS cid, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS c
  FROM e, sp WHERE e.vec_id < 16
),
vs AS (
  SELECT e.vec_id AS id, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS s
  FROM e, sp
),
dist AS (
  SELECT vs.id, vs.sub, cb.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (vs.s[i] - cb.c[i]) * (vs.s[i] - cb.c[i])),
            (x, y) -> x + y) AS l2
  FROM vs JOIN cb USING (sub)
),
codes AS (
  SELECT id, sub, cid AS code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY l2, cid) = 1
),
lut AS (
  SELECT c2.sub, c2.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (q.s[i] - c2.c[i]) * (q.s[i] - c2.c[i])),
            (x, y) -> x + y) AS qd
  FROM vs q JOIN cb c2 USING (sub)
  WHERE q.id = 0
),
parts AS (
  SELECT c.id, c.sub, l.qd
  FROM codes c JOIN lut l ON c.sub = l.sub AND c.code = l.cid
),
piv AS (
  SELECT id,
         {_PQ_CASES}
  FROM parts GROUP BY id
),
cand AS (
  SELECT id, {_PQ_TOTAL} AS approx_dist
  FROM piv ORDER BY {_PQ_TOTAL} ASC, id ASC LIMIT 50
),
nrm AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e
),
q2 AS (SELECT v AS qv, nn AS qn FROM nrm WHERE vec_id = 0)
SELECT c.id AS vec_id, round(c.approx_dist, 6) AS approx_dist,
       round(list_dot_product(nrm.v, q2.qv) / (nrm.nn * q2.qn), 5)
         AS cos_sim
FROM cand c JOIN nrm ON nrm.vec_id = c.id, q2
ORDER BY list_dot_product(nrm.v, q2.qv) / (nrm.nn * q2.qn) DESC, c.id ASC
LIMIT 10
""",
    doc="Two-stage ANN retrieval (llm/similarity.py:pq_rerank_topk): "
    "PQ-ADC shortlists 50 candidates from codes alone, then ONLY the "
    "shortlist is re-scored with exact cosine and cut to 10 — the "
    "IVF-PQ + refine architecture every production vector store uses "
    "(full-precision reads O(candidates), not O(N)).  The stage-1 "
    "approximate distance rides along so the re-ranking shift is "
    "auditable; candidate ids broadcast into the re-score join.",
)
def pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = SIM.pq_rerank_topk(e, q, k=10, n_candidates=50)
    return out.select(
        "vec_id",
        F.round("approx_dist", R).alias("approx_dist"),
        F.round("cos_sim", 5).alias("cos_sim"),
    )


@register(
    "knn_graph",
    oracle="WITH "
    + _knn_graph_ctes()
    + """
SELECT src, dst, round(cos, 5) AS cos_sim, rank
FROM r WHERE rank <= 3
ORDER BY src, rank
""",
    doc="Batch kNN-graph construction (llm/similarity.py:knn_graph): "
    "every vector's top-3 cosine neighbors within its 4-plane LSH "
    "bucket — the index-building job behind semantic dedup sweeps and "
    "graph-based retrieval; the all-vectors counterpart to the "
    "single-query ANN tiers.  Self-join keyed by bucket (never "
    "all-pairs), top-k window partitioned by the source vector; at "
    "scale the bucket column lives in a silver table bucketed on it, "
    "making the join co-located.  Sequentially-folded cosines keep "
    "ranks exactly hash-checkable.",
)
def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = knn_graph_silver(spark, sf_dir, k=3, n_planes=4)
    return out.select(
        "src", "dst", F.round("cos_sim", 5).alias("cos_sim"), "rank"
    ).orderBy("src", "rank")


@register(
    "incremental_knn_graph",
    oracle="WITH "
    + _knn_graph_ctes()
    + """
SELECT src, dst, round(cos, 5) AS cos_sim, rank
FROM r WHERE rank <= 3
ORDER BY src, rank
""",
    doc="Incremental kNN-graph maintenance "
    "(llm/similarity.py:knn_graph_delta): the daily-refresh shape for "
    "the graph silver — given the historical corpus's prebuilt graph "
    "and today's batch (every 5th vec_id, the incremental-family "
    "convention), recompute ONLY the buckets new vectors land in and "
    "carry every other edge through untouched (a vector's top-k "
    "depends solely on its bucket's membership, so untouched buckets' "
    "edges are byte-identical by construction).  The oracle is the "
    "FULL from-scratch knn_graph build — equality of the incremental "
    "path with the rebuild is driver-checked, not assumed.  At 100 TB "
    "the affected-bucket set broadcasts and the quadratic pair work "
    "is confined to touched buckets; the historical corpus is never "
    "re-paired against itself.",
)
def incremental_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    is_new = F.col("vec_id") % 5 == 0
    old_graph = SIM.knn_graph(
        e.filter(~is_new), k=3, n_planes=4
    )
    out = SIM.knn_graph_delta(e, old_graph, is_new, k=3, n_planes=4)
    return out.select(
        "src", "dst", F.round("cos_sim", 5).alias("cos_sim"), "rank"
    ).orderBy("src", "rank")


@register(
    "knn_graph_topk",
    oracle="WITH "
    + _knn_union_graph_ctes()
    + """,
q AS (SELECT v AS qv, nn AS qn FROM b WHERE vec_id = 100),
scores AS MATERIALIZED (
  SELECT b.vec_id, list_dot_product(b.v, q.qv) / (b.nn * q.qn) AS cos
  FROM b, q WHERE b.nn * q.qn <> 0
),
v0 AS MATERIALIZED (SELECT min(vec_id) AS vec_id FROM b GROUP BY bucket),
b0 AS (SELECT vec_id FROM v0),
c1 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b0 ON g.src = b0.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v0)
),
v1 AS MATERIALIZED (SELECT vec_id FROM v0 UNION SELECT vec_id FROM c1),
b1 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v1 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c2 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b1 ON g.src = b1.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v1)
),
v2 AS MATERIALIZED (SELECT vec_id FROM v1 UNION SELECT vec_id FROM c2),
b2 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v2 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c3 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b2 ON g.src = b2.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v2)
),
v3 AS MATERIALIZED (SELECT vec_id FROM v2 UNION SELECT vec_id FROM c3),
b3 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v3 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c4 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b3 ON g.src = b3.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v3)
),
v4 AS MATERIALIZED (SELECT vec_id FROM v3 UNION SELECT vec_id FROM c4),
b4 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v4 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c5 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b4 ON g.src = b4.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v4)
),
v5 AS MATERIALIZED (SELECT vec_id FROM v4 UNION SELECT vec_id FROM c5),
b5 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v5 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c6 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b5 ON g.src = b5.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v5)
),
v6 AS MATERIALIZED (SELECT vec_id FROM v5 UNION SELECT vec_id FROM c6),
b6 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v6 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c7 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b6 ON g.src = b6.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v6)
),
v7 AS MATERIALIZED (SELECT vec_id FROM v6 UNION SELECT vec_id FROM c7),
b7 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v7 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
),
c8 AS MATERIALIZED (
  SELECT DISTINCT g.dst AS vec_id
  FROM graph g JOIN b7 ON g.src = b7.vec_id
  WHERE g.dst NOT IN (SELECT vec_id FROM v7)
),
v8 AS MATERIALIZED (SELECT vec_id FROM v7 UNION SELECT vec_id FROM c8),
b8 AS MATERIALIZED (
  SELECT s.vec_id FROM scores s JOIN v8 USING (vec_id)
  ORDER BY s.cos DESC, s.vec_id LIMIT 16
)
SELECT s.vec_id, round(s.cos, 5) AS cos_sim
FROM scores s JOIN v8 USING (vec_id)
ORDER BY s.cos DESC, s.vec_id
LIMIT 10
""",
    doc="Graph-probe ANN search (llm/similarity.py:knn_graph_search): "
    "greedy beam search over a NAVIGABLE kNN graph — the union of two "
    "bucketed builds (4-plane and 2-plane LSH), because a single "
    "bucket system's graph is one disconnected component per bucket "
    "and a walk can never leave its component (measured: recall 0 "
    "single-entry, 0.3 multi-entry single-system; the union's crossed "
    "partitions bridge components, the same trick as multi-table "
    "LSH).  Deterministic walk: one entry per 4-plane bucket, "
    "8-step budget, beam 16, ties to the lower vec_id — so "
    "the oracle replays it exactly as 8 unrolled relational "
    "rounds over the SAME graph CTEs.  Under the broadcast "
    "threshold the graph and the query's scores are fetched once and "
    "the walk runs on the driver; above it each expansion is a point "
    "probe of the graph silver with a bounded frontier (tens of "
    "ids).  "
    "Recall@10 vs brute force ~0.5-0.6 here (floor-pinned in "
    "tests/test_operators.py) — the navigation tier completing the "
    "ANN ladder after the `knn_graph` BUILD step.",
)
def knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    g = knn_union_graph_silver(spark, sf_dir, k=3, planes=(4, 2))
    q = e.filter(F.col("vec_id") == 100)
    out = SIM.knn_graph_search(
        e, g, q, k=10, beam=16, steps=8
    )
    return out.select(
        "vec_id", F.round("cos_sim", 5).alias("cos_sim")
    )


def _knn_walk_batch_ctes(
    qpred: str, steps: int = 8, beam: int = 16, prefix: str = ""
) -> str:
    """The qid-keyed unrolled walk as DuckDB CTE text (no leading
    WITH): the union graph CTEs (`oracle_sql._knn_union_graph_ctes`),
    the query set selected by ``qpred`` over ``b``, per-(qid) scores,
    and ``steps`` relational rounds ending at ``v{steps}`` — exactly
    `knn_graph_search_batch`'s semantics.  Callers append a final SELECT over
    ``scores JOIN v{steps} USING (qid, vec_id)``.  CTE namespace
    (all ``prefix``-able, so the chain composes into oracles that
    already use b/q/c — ann_recall_report's graph tier): b/pairs/r
    (graph build), bk2/pairs2/r2, graph, q, scores, e0,
    v0..v{steps}, b0..b{steps}, c1..c{steps}; bodies alias the
    prefixed names back to the short ones, so only FROM targets
    carry the prefix."""
    p = prefix
    head = _knn_union_graph_ctes(p) + f""",
{p}q AS (
  SELECT vec_id AS qid, v AS qv, nn AS qn FROM {p}b WHERE {qpred}
),
{p}scores AS MATERIALIZED (
  SELECT q.qid, b.vec_id,
         list_dot_product(b.v, q.qv) / (b.nn * q.qn) AS cos
  FROM {p}b b, {p}q q WHERE b.nn * q.qn <> 0
),
{p}e0 AS MATERIALIZED (
  SELECT min(vec_id) AS vec_id FROM {p}b GROUP BY bucket
),
{p}v0 AS MATERIALIZED (
  SELECT q.qid, e.vec_id FROM {p}q q, {p}e0 e
),
{p}b0 AS (SELECT qid, vec_id FROM {p}v0)"""
    rounds = []
    for i in range(1, steps + 1):
        rounds.append(f""",
{p}c{i} AS MATERIALIZED (
  SELECT DISTINCT p.qid, g.dst AS vec_id
  FROM {p}graph g JOIN {p}b{i - 1} p ON g.src = p.vec_id
  WHERE NOT EXISTS (SELECT 1 FROM {p}v{i - 1} x
                    WHERE x.qid = p.qid AND x.vec_id = g.dst)
),
{p}v{i} AS MATERIALIZED (
  SELECT qid, vec_id FROM {p}v{i - 1}
  UNION
  SELECT qid, vec_id FROM {p}c{i}
),
{p}b{i} AS MATERIALIZED (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.vec_id ASC) AS rn
    FROM {p}scores s JOIN {p}v{i} USING (qid, vec_id))
  WHERE rn <= {beam}
)""")
    return head + "".join(rounds)


@register(
    "knn_graph_topk_batch",
    oracle="WITH "
    + _knn_walk_batch_ctes("vec_id % 7 = 3", steps=8, beam=16)
    + """
SELECT qid, vec_id, round(cos, 5) AS cos_sim, rank
FROM (
  SELECT s.qid, s.vec_id, s.cos,
         CAST(row_number() OVER (PARTITION BY s.qid
                                 ORDER BY s.cos DESC, s.vec_id ASC)
              AS INT) AS rank
  FROM scores s JOIN v8 USING (qid, vec_id))
WHERE rank <= 10
ORDER BY qid, rank
""",
    doc="Batch graph-probe ANN (llm/similarity.py:"
    "knn_graph_search_batch, r11 verdict Next #3): every 7th vector "
    "(71+ queries at the gate scale) walks the SAME union graph "
    "silver simultaneously — the hard-negative-mining / "
    "retrieval-eval shape, thousands of probes per job.  Per-query "
    "semantics identical to knn_graph_topk's single walk "
    "(pytest-pinned); driver state ZERO — walk state is two "
    "qid-keyed DataFrames, each round one join against the "
    "src-sorted graph silver plus one per-qid window, lineage cut "
    "per round.  The oracle unrolls the same 8 rounds qid-keyed.  "
    "At 100 TB the batch face amortizes the per-round job overhead "
    "across the whole query set — the reason it exists.",
)
def knn_graph_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # walk state shared across the three walk faces (graph=None is
    # never touched when a prebuilt walk is passed)
    scores, visited, w, qs = shared_batch_walk(spark, sf_dir)
    out = SIM.knn_graph_search_batch(
        e, None, qs, k=10, beam=16, steps=8, walk=(scores, visited, w)
    )
    return out.select(
        "qid",
        "vec_id",
        F.round("cos_sim", 5).alias("cos_sim"),
        "rank",
    ).orderBy("qid", "rank")


@register(
    "graph_recall_batch",
    oracle="WITH "
    + _knn_walk_batch_ctes("vec_id % 7 = 3", steps=8, beam=16)
    + """,
wtop AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.vec_id ASC) AS rn
    FROM scores s JOIN v8 USING (qid, vec_id))
  WHERE rn <= 10
),
btop AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.vec_id ASC) AS rn
    FROM scores s)
  WHERE rn <= 10
),
hits AS (
  SELECT w.qid, count(*) AS n_hits
  FROM wtop w JOIN btop b USING (qid, vec_id)
  GROUP BY w.qid
)
SELECT q.qid,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       round(coalesce(h.n_hits, 0) / 10.0, 6) AS recall_at_10
FROM q LEFT JOIN hits h USING (qid)
ORDER BY q.qid
""",
    doc="Batch retrieval eval (the face a curated-corpus pipeline "
    "actually grades ANN with): per-query recall@10 of the batch "
    "graph walk (knn_graph_topk_batch's exact construction over the "
    "union graph silver) against the per-query brute-force top-10, "
    "over the whole 71+-query set — ann_recall_report generalized "
    "from one probe to the query DISTRIBUTION, so recall variance "
    "and dead queries (walk never reaches the true neighborhood) are "
    "visible, not averaged away.  The brute side falls out of the "
    "same (qid, vec_id) score matrix the walk ranks with — one "
    "corpus pass serves both sides; integers + one exact division, "
    "hash-checked per query.",
)
def graph_recall_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    # the shared per-session walk (r14): ONE score matrix + ONE walk
    # serve this face, the search face, and the convergence face —
    # the brute-force truth below falls out of the same scores frame
    scores, visited, wv, qs = shared_batch_walk(spark, sf_dir)
    walk = SIM.knn_graph_search_batch(
        e, None, qs, k=10, beam=16, steps=8,
        walk=(scores, visited, wv),
    ).select("qid", "vec_id")
    w = Window.partitionBy("qid").orderBy(
        F.desc("cos_sim"), F.asc("vec_id")
    )
    brute = (
        scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = walk.join(brute, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        qs.select(F.col("vec_id").alias("qid"))
        .join(hits, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.lit(10.0), 6
            ).alias("recall_at_10"),
        )
        .orderBy("qid")
    )


@register(
    "graph_convergence_rounds",
    oracle="WITH "
    + _knn_walk_batch_ctes("vec_id % 7 = 3", steps=8, beam=16)
    + """,
tagged AS (
  SELECT qid, vec_id, 0 AS r FROM v0
"""
    + "".join(
        f"  UNION ALL SELECT qid, vec_id, {i} FROM c{i}\n"
        for i in range(1, 9)
    )
    + """),
wtop AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid
                              ORDER BY s.cos DESC, s.vec_id ASC) AS rn
    FROM scores s JOIN v8 USING (qid, vec_id))
  WHERE rn <= 10
),
growth AS (
  SELECT qid, max(r) AS last_growth_round, count(*) AS n_visited
  FROM tagged GROUP BY qid
),
stab AS (
  SELECT w.qid, max(t.r) AS topk_stable_round
  FROM wtop w JOIN tagged t USING (qid, vec_id)
  GROUP BY w.qid
)
SELECT g.qid,
       CAST(g.last_growth_round AS INT) AS last_growth_round,
       CAST(s.topk_stable_round AS INT) AS topk_stable_round,
       CAST(g.n_visited AS BIGINT) AS n_visited
FROM growth g JOIN stab s USING (qid)
ORDER BY g.qid
""",
    doc="Convergence report for the batch graph walk (r12 verdict "
    "Next #5: the steps=8 budget was assumed, not measured): per "
    "qid, the last round that grew the visited set, the round by "
    "which the FINAL top-10 was fully visited (the budget that would "
    "have sufficed — the actionable number), and the visited-set "
    "size (per-query cost proxy).  Shares `_batch_walk_visited` with "
    "the search face — identical entries/beam/ties/budget by "
    "construction, the added_round tag changes no walk decision — "
    "and the oracle reads the same unrolled c1..c8 round CTEs the "
    "search oracle walks.  All integers: zero float surface, exact "
    "hash check.  Feeds graph_recall_batch: a qid whose recall is "
    "low AND whose growth stopped early is component-trapped "
    "(needs more entries/planes), not budget-starved.",
)
def graph_convergence_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    scores, visited, w, qs = shared_batch_walk(spark, sf_dir)
    out = SIM.knn_graph_convergence(
        e, None, qs, k=10, beam=16, steps=8,
        walk=(scores, visited, w),
    )
    return out.orderBy("qid")


@register(
    "incremental_dedup",
    oracle=r"""
WITH m AS (
  SELECT ((max(doc_id) + 1) * 4) // 5 AS cutoff FROM documents
),
toks AS (
  SELECT doc_id,
         list_sort(list_distinct(
           regexp_split_to_array(lower(trim(text)), '\s+'))) AS t
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, round(1.0, 6) AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id AND a.t = b.t, m
WHERE a.doc_id >= m.cutoff OR b.doc_id >= m.cutoff
ORDER BY doc_a, doc_b
""",
    doc="Incremental dedup (llm/dedup.py:incremental_near_dup_pairs) — "
    "the daily-crawl-vs-historical-index shape a 100 TB pipeline "
    "actually runs: only pairs touching a NEW document (here the top "
    "20% of doc_ids stand in for today's batch) are emitted; OLD-OLD "
    "pairs the index already resolved are never exploded, dropping "
    "per-bucket cost from O((k_old+k_new)^2) to O(k_new^2 + "
    "k_old*k_new) and skipping buckets with no new member.  "
    "Registered at threshold 1.0 / 1 band (recall exactly 1, "
    "set-equality oracle, same rationale as minhash_near_dups).",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    cut = d.agg(
        F.floor(((F.max("doc_id") + 1) * 4) / 5).cast("long").alias("cutoff")
    )
    d2 = d.crossJoin(F.broadcast(cut))
    pairs = DD.incremental_near_dup_pairs(
        d2, F.col("doc_id") >= F.col("cutoff"), threshold=1.0, bands=1
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", R).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


@register(
    "ivf_pq_topk",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
n AS (
  SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nn FROM e
),
c AS (SELECT vec_id AS ccid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.ccid AS cell,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.ccid ASC) = 1
),
q0 AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
probe AS (
  SELECT c.ccid
  FROM c, q0
  ORDER BY list_dot_product(q0.qv, c.cv) / (q0.qn * c.cn) DESC, c.ccid ASC
  LIMIT 4
),
sp AS (SELECT unnest(generate_series(0, 7)) AS sub),
cb AS (
  SELECT e.vec_id AS cid, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS c
  FROM e, sp WHERE e.vec_id < 16
),
vs AS (
  SELECT e.vec_id AS id, sp.sub,
         list_slice(e.v, sp.sub * 8 + 1, sp.sub * 8 + 8) AS s
  FROM e, sp
),
dist AS (
  SELECT vs.id, vs.sub, cb.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (vs.s[i] - cb.c[i]) * (vs.s[i] - cb.c[i])),
            (x, y) -> x + y) AS l2
  FROM vs JOIN cb USING (sub)
),
codes AS (
  SELECT id, sub, cid AS code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY id, sub ORDER BY l2, cid) = 1
),
lut AS (
  SELECT c2.sub, c2.cid,
         list_reduce(list_transform(generate_series(1, 8),
            i -> (q.s[i] - c2.c[i]) * (q.s[i] - c2.c[i])),
            (x, y) -> x + y) AS qd
  FROM vs q JOIN cb c2 USING (sub)
  WHERE q.id = 0
),
parts AS (
  SELECT cd.id, cd.sub, l.qd
  FROM codes cd
  JOIN assign a ON cd.id = a.vec_id
  JOIN probe p ON a.cell = p.ccid
  JOIN lut l ON cd.sub = l.sub AND cd.code = l.cid
),
piv AS (
  SELECT id,
         {_PQ_CASES}
  FROM parts GROUP BY id
)
SELECT id AS vec_id, round({_PQ_TOTAL}, 6) AS approx_dist
FROM piv
ORDER BY {_PQ_TOTAL} ASC, id ASC
LIMIT 10
""",
    doc="IVF-PQ composed ANN (llm/similarity.py:ivf_pq_topk) — the "
    "architecture real vector stores ship (FAISS IndexIVFPQ): the "
    "coarse quantizer restricts search to the query's 4 nearest "
    "cells, and within them distance is PQ-ADC table lookups over "
    "byte codes — no full-precision vector touched at query time AND "
    "only ~nprobe/n_cells of the codes scanned.  At scale both "
    "assignments are silver tables partitioned by cell: a query reads "
    "nprobe partitions of an m-byte-per-vector table, the geometry "
    "that serves billion-vector corpora from a few machines.  Same "
    "pivot + fixed-order arithmetic as pq_topk: exactly "
    "hash-checkable.",
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out = SIM.ivf_pq_topk(e, q, k=10, n_cells=16, nprobe=4)
    return out.select(
        "vec_id", F.round("approx_dist", R).alias("approx_dist")
    )


@register(
    "semantic_dedup_apply",
    oracle="""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid AS cell,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
av AS (
  SELECT a.vec_id, a.cell, n.v, n.nn FROM assign a JOIN n USING (vec_id)
),
dups AS (
  SELECT DISTINCT hi.vec_id AS dup_id
  FROM av lo JOIN av hi ON lo.cell = hi.cell AND lo.vec_id < hi.vec_id
  WHERE list_dot_product(lo.v, hi.v) / (lo.nn * hi.nn) >= 0.45
)
SELECT d.doc_id, d.source, d.lang,
       CASE WHEN trim(d.text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(d.text), '\\s+'))
       END AS n_tokens
FROM documents d
LEFT JOIN dups ON d.doc_id = dups.dup_id
WHERE dups.dup_id IS NULL
ORDER BY d.doc_id
""",
    doc="SemDeDup APPLIED (llm/similarity.py:semdedup -> documents "
    "anti-join): the surviving text corpus after semantic dedup — "
    "embeddings and documents share the id space (vec_id = doc_id of "
    "the embedded document), so the keep-list anti-joins the corpus "
    "table directly.  The metric tier (semdedup) shows the decisions; "
    "this is the transform a pipeline actually feeds downstream.",
)
def semantic_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import text as TX

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    drops = (
        SIM.semdedup(e, n_cells=16, threshold=0.45)
        .filter(~F.col("keep"))
        .select(F.col("vec_id").alias("doc_id"))
    )
    return (
        d.join(drops, "doc_id", "left_anti")
        .select(
            "doc_id",
            "source",
            "lang",
            TX.token_count().cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


@register(
    "cluster_topics",
    oracle=r"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id AS doc_id, c.cid AS cell,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
toks AS (
  SELECT a.cell,
         unnest(regexp_split_to_array(lower(trim(d.text)), '\s+')) AS term
  FROM assign a JOIN documents d USING (doc_id)
),
per AS (SELECT cell, term, count(*) AS tf FROM toks GROUP BY 1, 2),
cfreq AS (SELECT term, count(*) AS df FROM per GROUP BY term),
nc AS (SELECT count(DISTINCT cell) AS n_cells FROM assign),
sizes AS (SELECT cell, count(*) AS n_docs FROM assign GROUP BY cell),
scored AS (
  SELECT p.cell, p.term, p.tf, f.df,
         p.tf * ln(CAST(n_cells AS DOUBLE) / f.df) AS tfidf
  FROM per p JOIN cfreq f USING (term), nc
),
r AS (
  SELECT cell, term, tf, df, tfidf,
         CAST(row_number() OVER (PARTITION BY cell
                                 ORDER BY tfidf DESC, term ASC) AS INT)
           AS rank
  FROM scored
)
SELECT r.cell, s.n_docs, r.term, r.tf, r.df,
       round(r.tfidf, 6) AS tfidf, r.rank
FROM r JOIN sizes s USING (cell)
WHERE r.rank <= 5
ORDER BY r.cell, r.rank
""",
    doc="Cluster-topic labeling (llm/vocab.py:cluster_topics, r11 "
    "verdict Next #6): the Nemotron-CC-style 'what is this cluster' "
    "step — per-cell top-5 TF-IDF terms over the semdedup cell "
    "assignment (the same deterministic IVF quantizer the semantic "
    "dedup family shares; vec_id = doc_id), each cluster playing the "
    "document role so a term scores high when it saturates one cell "
    "and is absent from the rest.  Ties break to the smaller term; "
    "tf/df exact integers, the score per-row arithmetic over them — "
    "rank, not just score, is exactly hash-checked.  One explode "
    "pass; cluster frequency re-aggregates the vocabulary-sized "
    "(cell, term) counts; the top-k window partitions by cell.",
)
def cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VB

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    assign = SIM.semdedup(e, n_cells=16, threshold=0.45).select(
        F.col("vec_id").alias("doc_id"), "cell"
    )
    out = VB.cluster_topics(d, assign, k=5)
    return out.select(
        "cell",
        "n_docs",
        "term",
        "tf",
        "df",
        F.round("tfidf", 6).alias("tfidf"),
        "rank",
    ).orderBy("cell", "rank")


@register(
    "image_decode",
    oracle="""
SELECT doc_id,
       CAST(doc_id % 60 + 4 AS INT) AS width,
       CAST(doc_id % 40 + 4 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST((doc_id % 60 + 4) * (doc_id % 40 + 4) AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(
            range(0, CAST((doc_id % 60 + 4) * (doc_id % 40 + 4) AS INT)),
            i -> (doc_id*31 + i*7) % 256)) AS BIGINT) AS pixel_sum
FROM documents
ORDER BY doc_id
""",
    doc="REAL image codec round-trip (llm/codecs.py): each document "
    "becomes a spec-compliant PNG (zlib DEFLATE scanlines, chunk CRCs, "
    "per-row filter rotating through all 5 PNG filter types) via "
    "encode_images, then decode_images inflates + unfilters it and "
    "reports IHDR dims and the exact pixel sum (payloads read from "
    "the build-once media_payloads silver — the encode is the "
    "once-per-corpus amortized step, the decode is what each run "
    "measures).  Pixel content is "
    "closed-form in doc_id, so the DuckDB oracle replays the sum "
    "analytically — the hash only matches if every filter/unfilter "
    "path is byte-exact.  Both stages run in the mapInArrow row "
    "kernel (per-row codec work, embarrassingly parallel) over "
    "payloads range-partitioned by doc_id, so the output is sorted "
    "within partitions and no sort samples the kernel for a second "
    "run; upgrades the byte-level multimodal_decode stub tier to a "
    "real codec tier.",
)
def image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return by_doc_id(MM.decode_images, media_payloads(spark, sf_dir, "image"))


@register(
    "image_resize",
    oracle="""
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(12 AS INT) AS height,
       CAST(1 AS INT) AS channels,
       CAST(192 AS BIGINT) AS n_pixels,
       CAST(list_sum(list_transform(range(0, 192), j ->
            (doc_id*31 + (((j // 16) * (doc_id % 40 + 4) // 12)
                            * (doc_id % 60 + 4)
                          + ((j % 16) * (doc_id % 60 + 4) // 16)) * 7)
            % 256)) AS BIGINT) AS pixel_sum
FROM documents
ORDER BY doc_id
""",
    doc="REAL image resize: decode the PNG, nearest-neighbor sample to "
    "16x12 with numpy fancy indexing, re-encode as PNG, then decode "
    "AGAIN for the stats — so the checked pixel_sum has passed through "
    "two full codec round-trips plus the resampler.  The oracle "
    "replays the nearest-neighbor index arithmetic "
    "(src = (dst * src_dim) // dst_dim) in closed form.  "
    "Binary-in/binary-out mapInArrow row kernel, the exact shape a "
    "PIL/ffmpeg-backed production resize drops into.",
)
def image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return by_doc_id(
        lambda images: MM.decode_images(
            MM.resize_images(images, target_w=16, target_h=12)
        ),
        media_payloads(spark, sf_dir, "image"),
    )


@register(
    "audio_decode",
    oracle="""
SELECT doc_id,
       CAST(1 AS INT) AS channels,
       CAST(8000 AS INT) AS sample_rate,
       CAST(doc_id % 400 + 50 AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(
            range(0, CAST(doc_id % 400 + 50 AS INT)),
            i -> (doc_id*131 + i*17) % 65536 - 32768)) AS BIGINT)
         AS sample_sum,
       CAST(list_max(list_transform(
            range(0, CAST(doc_id % 400 + 50 AS INT)),
            i -> abs((doc_id*131 + i*17) % 65536 - 32768))) AS INT) AS peak
FROM documents
ORDER BY doc_id
""",
    doc="REAL audio codec round-trip: each document becomes a "
    "RIFF/WAVE PCM16 mono 8 kHz file (stdlib wave writer, "
    "llm/codecs.py), then decode_audio parses the RIFF header and PCM "
    "frames and reports exact-integer sample_sum and peak amplitude, "
    "replayed in closed form by the oracle (payloads read from the "
    "build-once media_payloads silver).  Same Arrow-batched "
    "mapInArrow row-kernel shape as the image tier.",
)
def audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return by_doc_id(MM.decode_audio, media_payloads(spark, sf_dir, "audio"))


# golden-parquet oracles for the seeded spark.ml tiers (round-10
# verdict Next #5): the fits are not DuckDB-replayable in closed form,
# but their outputs are deterministic (seeded coefficients; the kmeans
# input layout is PINNED to one sorted partition (r14 — the earlier
# "single unsplittable row-group" claim was false once fan_out spread
# the fit input to defaultParallelism partitions: local[16] vs
# local[32] fit different centroids), so the oracle is the pinned
# expected answer per corpus,
# keyed by a CONTENT fingerprint: md5 of the doc_id-ordered per-doc
# text md5s (advice-found round 12 — the earlier sum(n_chars) key was
# blind to same-length content edits, and an unknown corpus silently
# selected zero golden rows; now an unknown corpus raises a clear
# error() instead of a confusing row-count mismatch).  Regenerate with
# tests/goldens/regen_ml_tiers.py after any intentional pipeline
# change; tests/test_operators.py gates freshness.
# The golden-oracle plumbing is shared with analysis_q's importance
# tiers (plans/goldens.py).


@register(
    "ivf_topk_kmeans",
    oracle=_golden_oracle(
        "ivf_topk_kmeans", "vec_id, cos_sim", "cos_sim DESC, vec_id"
    ),
    doc="IVF-flat top-k over a FITTED coarse quantizer (seeded "
    "spark.ml KMeans, llm/similarity.py:kmeans_centroids) — the "
    "recall-tuned production tier beside the deterministic "
    "oracle-checked bootstrap tier (ivf_topk).  Same probe/scan "
    "shape: broadcast K centroids, argmax-cosine assignment, exact "
    "cosine within nprobe probed cells.  On the fixture corpus the "
    "fitted quantizer beats the bootstrap's mean recall@10 over "
    "non-centroid queries (differential test).  The fit runs ONCE "
    "per corpus fingerprint (_cached_kmeans_centroids) — repeated "
    "runs read the K cached centroid rows and probe, the production "
    "serving shape.",
)
def ivf_topk_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 100)
    cents = _cached_kmeans_centroids(spark, sf_dir, n_cells=16, seed=7)
    out = SIM.ivf_topk_kmeans(e, q, k=10, nprobe=2, cents=cents)
    return out.select("vec_id", F.round("cos_sim", R).alias("cos_sim"))


_DECON_GRAMS = r"""
ws AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
ex AS (
  SELECT doc_id, doc_id % 25 = 0 AS is_eval,
         unnest(list_distinct(list_transform(range(1, len(w) - 2), i ->
             list_aggregate(w[i:i+3], 'string_agg', ' ')))) AS gram
  FROM ws
)
"""


@register(
    "contamination_report",
    oracle=f"""
WITH {_DECON_GRAMS},
ev AS (SELECT DISTINCT gram, doc_id AS eval_id FROM ex WHERE is_eval),
tr AS (SELECT doc_id, gram FROM ex WHERE NOT is_eval)
SELECT t.doc_id,
       count(DISTINCT t.gram) AS n_shared_grams,
       count(DISTINCT e.eval_id) AS n_eval_docs
FROM tr t JOIN ev e USING (gram)
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    doc="Benchmark-contamination report "
    "(llm/dedup.py:contamination_overlaps; GPT-3 Brown et al. 2020 "
    "appendix C): for every training document sharing a distinct "
    "word 4-gram with the held-out eval split (doc_id % 25 == 0 "
    "stands in for the benchmark), the count of shared grams and of "
    "eval documents hit.  Scale plan: the distinct eval gram frame "
    "is broadcast (benchmarks are megabytes against a 100 TB "
    "corpus), so the train side joins map-side with no shuffle "
    "before the per-doc aggregation; no gram-frequency table, no "
    "pair explosion.",
)
def contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.contamination_overlaps(
        d, F.col("doc_id") % 25 == 0, n=4
    ).orderBy("doc_id")


@register(
    "decontaminate",
    oracle=f"""
WITH {_DECON_GRAMS},
ev AS (SELECT DISTINCT gram FROM ex WHERE is_eval),
bad AS (
  SELECT DISTINCT t.doc_id
  FROM ex t JOIN ev USING (gram)
  WHERE NOT t.is_eval
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d ANTI JOIN bad b ON d.doc_id = b.doc_id
WHERE d.doc_id % 25 <> 0
ORDER BY d.doc_id
""",
    doc="The decontamination scrub itself "
    "(llm/dedup.py:decontaminate): training documents surviving the "
    "4-gram collision check against the eval split — anti-join of "
    "the corpus against the contamination report, keeping gram-less "
    "(short/NULL) documents, excluding eval rows by definition.  "
    "Composes the broadcast contamination join with one anti-join; "
    "the corpus is scanned twice (gram side + carry-through side), "
    "the minimum for a scrub that outputs full rows.",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return DD.decontaminate(d, F.col("doc_id") % 25 == 0, n=4).orderBy(
        "doc_id"
    )


@register(
    "chunk_sliding",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w,
         len(regexp_split_to_array(lower(trim(text)), '\s+')) AS n
  FROM documents
),
st AS (
  SELECT doc_id, w, n, CAST(i AS INT) AS chunk_idx,
         CAST(i * 32 AS BIGINT) AS start_tok
  FROM ws, LATERAL (SELECT unnest(range(0, (n - 1) // 32 + 1)) AS i) r
)
SELECT doc_id, chunk_idx, start_tok,
       CAST(least(64, n - start_tok) AS BIGINT) AS n_toks,
       list_aggregate(
         w[CAST(start_tok + 1 AS INT):CAST(least(start_tok + 64, n) AS INT)],
         'string_agg', ' ') AS chunk
FROM st
ORDER BY doc_id, chunk_idx
""",
    doc="RAG/context-window chunking "
    "(llm/packing.py:chunk_sliding): overlapping 64-token windows at "
    "stride 32 per document, never crossing document boundaries — "
    "the retrieval-side complement to pack_chunks' concat-and-chunk "
    "pretraining packer.  One Generate, no shuffle, no state: "
    "embarrassingly parallel at any corpus size.  The chunk text "
    "itself is hash-checked.",
)
def chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import packing as PK

    d = load_table(spark, sf_dir, "documents")
    return PK.chunk_sliding(fan_out(d), chunk_tokens=64, stride=32).orderBy(
        "doc_id", "chunk_idx"
    )


@register(
    "vocab_coverage",
    oracle=r"""
WITH ex AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM cnt),
top AS (
  SELECT tok, c,
         CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS rank,
         CAST(sum(c) OVER (ORDER BY c DESC, tok
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM cnt
  QUALIFY rank <= 100
)
SELECT rank, tok, c, cum * 1000000 // total AS coverage_ppm
FROM top, tot
ORDER BY rank
""",
    doc="Zipf / vocabulary-coverage curve "
    "(llm/vocab.py:vocab_coverage): top-100 corpus tokens with "
    "cumulative token-mass coverage in exact integer ppm — the "
    "how-big-a-vocab-covers-X%% tokenizer-design analysis.  Scale "
    "shape: one keyed count shuffle + TakeOrdered(100); the running "
    "sum windows over the 100 retained rows only (bounded by the "
    "parameter, never the corpus), the grand total broadcast as a "
    "1-row cross join.",
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VO

    d = load_table(spark, sf_dir, "documents")
    return VO.vocab_coverage(d, top_k=100).orderBy("rank")


@register(
    "curriculum_bins",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t FROM documents
),
ex AS (SELECT doc_id, unnest(t) AS tok FROM toks),
cnt AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
tot AS (SELECT sum(c) AS big_t, count(*) AS v FROM cnt),
per AS (SELECT doc_id, tok, count(*) AS k FROM ex GROUP BY doc_id, tok),
arr AS (
  SELECT doc_id, list_sort(list({'tok': p.tok, 'k': p.k, 'c': c.c})) AS a
  FROM per p JOIN cnt c ON p.tok = c.tok
  GROUP BY doc_id
),
scored AS (
  SELECT doc_id,
         list_reduce(list_transform(a, s -> s.k), (x, y) -> x + y) AS n_tokens,
         list_reduce(
           list_transform(a, s -> s.k * -ln((s.c + 1.0) / (big_t + v))),
           (x, y) -> x + y
         ) AS nll_sum
  FROM arr, tot
),
mic AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(round((nll_sum / n_tokens) * 1000000) AS BIGINT) AS nll_micro
  FROM scored
),
b AS (
  SELECT *, CAST(ntile(4) OVER (ORDER BY nll_micro, doc_id) AS INT) AS bin
  FROM mic
)
SELECT bin, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       min(nll_micro) AS min_nll_micro, max(nll_micro) AS max_nll_micro
FROM b
GROUP BY bin
ORDER BY bin
""",
    doc="Perplexity-curriculum binning "
    "(llm/corpus.py:curriculum_bins): exact NTILE quartiles of the "
    "corpus by unigram-LM average NLL in integer micro-nats (CCNet "
    "head/middle/tail generalized), with per-bin doc and token mass. "
    "The ranking uses a DISTRIBUTED exact ntile "
    "(llm/corpus.py:exact_ntile — range repartition, per-partition "
    "row_number, tiny prefix-offset frame), NOT a single-partition "
    "global window, so the plan survives a 100 TB sort; the oracle "
    "replays SQL-standard NTILE directly.",
)
def curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import corpus as CO

    d = load_table(spark, sf_dir, "documents")
    return CO.curriculum_bins(fan_out(d), k=4)


def _temp_mix_ctes(budget: int) -> str:
    """The temperature-mixture apportionment CTE chain (no leading
    WITH), parameterized by the token budget — shared by the
    `temperature_mixture` allocation oracle and the `mixture_apply`
    materialization oracle so the two can never disagree on the
    apportionment arithmetic.  Ends at ``r``/``d`` (callers read
    base/rk/deficit)."""
    return rf"""per AS (
  SELECT source, count(*) AS n_docs,
         CAST(coalesce(sum(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\s+')) END),
              0) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
wsum AS (
  SELECT list_reduce(
           list_transform(
             list_sort(list({{'source': source, 'w': sqrt(n_tokens)}})),
             s -> s.w),
           (a, b) -> a + b) AS W
  FROM per
),
scored AS (
  SELECT source, n_docs, n_tokens, sqrt(n_tokens) / W AS q FROM per, wsum
),
based AS (
  SELECT *, CAST(floor({budget}.0 * q) AS BIGINT) AS base,
         {budget}.0 * q - floor({budget}.0 * q) AS rem
  FROM scored
),
d AS (SELECT {budget} - sum(base) AS deficit FROM based),
r AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM based
)"""


@register(
    "temperature_mixture",
    oracle="WITH "
    + _temp_mix_ctes(1_000_000)
    + """
SELECT source, n_docs, n_tokens, round(q, 6) AS weight,
       CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
         AS alloc_tokens
FROM r, d
ORDER BY source
""",
    doc="Temperature-weighted source mixture with exact "
    "largest-remainder token apportionment "
    "(llm/corpus.py:temperature_mixture; XLM-R-style multilingual "
    "sampling at alpha=0.5): weight = sqrt(source token mass) "
    "renormalized via a source-sorted fixed-order fold (bit-identical "
    "across engines — sqrt is IEEE-exact where pow(x,a) is not), then "
    "a 1M-token budget split as floor shares + one extra quantum per "
    "largest remainder so allocations sum exactly to the budget.  "
    "All heavy work is one per-source aggregation; the apportionment "
    "runs on the catalog-sized source frame.",
)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import corpus as CO

    d = load_table(spark, sf_dir, "documents")
    return CO.temperature_mixture(d, budget=1_000_000)


@register(
    "mixture_apply",
    oracle="WITH "
    + _temp_mix_ctes(10_000)
    + r""",
alloc AS (
  SELECT source,
         CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_tokens
  FROM r, d
),
toks AS (
  SELECT doc_id, source,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+'))
         END AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT doc_id, source, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         AS BIGINT) AS cum_before
  FROM toks
)
SELECT c.doc_id, c.source, c.n_tokens,
       CAST(c.cum_before + c.n_tokens AS BIGINT) AS cum_tokens
FROM cum c JOIN alloc a USING (source)
WHERE c.cum_before < a.alloc_tokens
ORDER BY c.source, c.doc_id
""",
    doc="The mixture MATERIALIZED (llm/corpus.py:mixture_apply): "
    "temperature_mixture's exact largest-remainder allocations "
    "applied to the corpus — per source, documents in doc_id order "
    "fill greedily while the running token total is under the "
    "allocation (the crossing document is included; a zero "
    "allocation selects nothing), at a 10k-token budget so the "
    "cutoff genuinely binds at every testdata scale.  Shares the "
    "apportionment CTE chain with the allocation oracle, so the two "
    "faces cannot drift.  One corpus scan + a catalog-sized "
    "broadcast + one per-source cumulative window; integers end to "
    "end, hash-exact.",
)
def mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import corpus as CO

    d = load_table(spark, sf_dir, "documents")
    return CO.mixture_apply(d, budget=10_000).orderBy("source", "doc_id")


@register(
    "random_projection",
    oracle=r"""
WITH dims AS (SELECT unnest(range(0, 16)) AS j),
sgn AS (
  SELECT j, list_transform(range(0, 64), i ->
           CASE WHEN ('0x' || substr(md5('rp:' || CAST(j AS VARCHAR) || ':'
                                         || CAST(i AS VARCHAR)), 1, 1))::BIGINT
                     % 2 = 0
                THEN 1.0 ELSE -1.0 END) AS s
  FROM dims
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id, CAST(j AS INT) AS dim,
       round(list_reduce(list_transform(range(1, 65), i -> v[i] * s[i]),
                         (a, b) -> a + b) / sqrt(16.0), 6) + 0 AS value
FROM e, sgn
ORDER BY vec_id, dim
""",
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims "
    "(llm/similarity.py:random_projection; Achlioptas 2003 sign "
    "matrix): the cheap dimensionality cut before ANN indexing, with "
    "an engine-portable +-1 matrix derived from md5 parity so both "
    "engines project identically.  Narrow map stage, no shuffle; the "
    "sign matrix is built once in a broadcast 1-row frame.  Distance "
    "preservation is measured in tests/test_operators.py.",
)
def random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.random_projection(e, m=16, dim=64)
    return out.select(
        "vec_id", "dim", (F.round("value", R) + F.lit(0)).alias("value")
    ).orderBy("vec_id", "dim")


@register(
    "bloom_dedup_probe",
    oracle=r"""
WITH fp AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
  FROM documents
),
pos AS (
  SELECT doc_id, f,
         ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || f), 1, 15))::BIGINT
           % 262144 AS p
  FROM fp, LATERAL (SELECT unnest(range(0, 3)) AS i) r
),
idx AS (SELECT * FROM pos WHERE doc_id % 5 <> 0),
bloom AS (
  SELECT p // 32 AS word_idx, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
  FROM idx GROUP BY 1
),
probe AS (SELECT * FROM pos),
hit AS (
  SELECT pr.doc_id,
         min(coalesce(b.bits, 0) & (1::BIGINT << CAST(pr.p % 32 AS INT)) <> 0)
           AS bloom_hit
  FROM probe pr LEFT JOIN bloom b ON pr.p // 32 = b.word_idx
  GROUP BY pr.doc_id
),
exact AS (
  SELECT pr.doc_id, count(ix.one) > 0 AS exact_hit
  FROM (SELECT DISTINCT doc_id, f FROM probe) pr
  LEFT JOIN (SELECT DISTINCT f, 1 AS one FROM idx) ix USING (f)
  GROUP BY pr.doc_id
)
SELECT h.doc_id, h.bloom_hit, e.exact_hit
FROM hit h JOIN exact e USING (doc_id)
ORDER BY h.doc_id
""",
    doc="Bloom-filter membership tier for incremental exact dedup "
    "(llm/dedup.py:bloom_build/bloom_probe): the index split "
    "(doc_id %% 5 != 0) folds ONCE into a 2^18-bit distributed bitmap "
    "(word_idx, bit_or of 32-bit words — engine-portable shifts), and "
    "the probe split checks membership against the broadcast filter "
    "instead of anti-joining the full index — the scale answer for "
    "'have we crawled this before?' at 100 TB.  bloom_hit is compared "
    "against the ground-truth exact_hit (fingerprint semi-join) in "
    "the same output: every probed document is checked — index "
    "members MUST hit (no false negatives by construction; the "
    "testdata has no cross-doc exact dups, so exact_hit == membership) "
    "and non-members expose the exact false-positive pattern, bounded "
    "by (1-e^(-kn/m))^k.",
)
def bloom_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    from ..llm.text import md5_fingerprint

    index = d.filter(F.col("doc_id") % 5 != 0)
    probe = d  # probe EVERY doc: members must hit, non-members show FPs
    bloom = DD.bloom_build(index)
    hits = DD.bloom_probe(fan_out(probe), bloom)
    truth = (
        probe.select("doc_id", md5_fingerprint("text").alias("f"))
        .join(
            index.select(md5_fingerprint("text").alias("f"))
            .distinct()
            .withColumn("__m", F.lit(1)),
            "f",
            "left",
        )
        .groupBy("doc_id")
        # count the RIGHT-side marker: the USING-join's f column is the
        # probe's own value and is never NULL, matched or not
        .agg((F.count("__m") > 0).alias("exact_hit"))
    )
    return (
        hits.join(truth, "doc_id")
        .select("doc_id", "bloom_hit", "exact_hit")
        .orderBy("doc_id")
    )


@register(
    "hard_negatives",
    oracle=f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
a AS (SELECT vec_id AS anchor_id, v AS av, nn AS an FROM e WHERE vec_id < 8),
scored AS (
  SELECT a.anchor_id, e.vec_id,
         list_dot_product(e.v, a.av) / (e.nn * a.an) AS cos_sim
  FROM e, a
  WHERE e.vec_id <> a.anchor_id
),
ranked AS (
  SELECT anchor_id, vec_id, cos_sim,
         CAST(row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY cos_sim DESC, vec_id) AS INT)
           AS rank
  FROM scored
  WHERE cos_sim < 0.95
)
SELECT anchor_id, vec_id, round(cos_sim, {R}) AS cos_sim, rank
FROM ranked
WHERE rank <= 5
ORDER BY anchor_id, rank
""",
    doc="Hard-negative mining for contrastive training "
    "(llm/similarity.py:hard_negatives): per anchor, the 5 most "
    "similar vectors BELOW the near-dup bar (cos < 0.95) — the "
    "classic recipe that keeps the hardest true negatives while "
    "excluding the false-negative near-dups that poison a "
    "contrastive loss.  Broadcast anchors x one corpus scan; ranking "
    "windows partition by anchor.  At billion scale the candidate "
    "set per anchor comes from the ANN tiers instead of the full "
    "scan.",
)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    out = SIM.hard_negatives(e, n_anchors=8, k=5, dup_threshold=0.95)
    return out.select(
        "anchor_id",
        "vec_id",
        F.round("cos_sim", R).alias("cos_sim"),
        "rank",
    ).orderBy("anchor_id", "rank")


@register(
    "minhash_near_dups_ml",
    # golden-parquet oracle (see the golden-oracle note): spark.ml HashingTF
    # (JVM MurmurHash3) + fitted MinHashLSH coefficients are not
    # DuckDB-replayable in closed form, but the output is seeded-
    # deterministic — the pinned expected pairs per scale ARE the
    # oracle.  Side evidence stays: differential test vs the
    # exact-Jaccard truth (precision exactly 1, recall floor, rerun
    # determinism) in tests/test_operators.py.
    oracle=_golden_oracle(
        "minhash_near_dups_ml", "doc_a, doc_b, jaccard", "doc_a, doc_b"
    ),
    doc="spark.ml tier of MinHash near-dup "
    "(llm/dedup.py:near_duplicate_pairs_ml; the SURVEY §7 "
    "approx_similarity_join mandate): HashingTF binary vectors -> "
    "seeded MinHashLSH approxSimilarityJoin candidates -> the same "
    "exact-Jaccard verification tail as the portable pipeline, so "
    "the tiers differ only in recall, never precision.  The "
    "oracle-gated portable tier (minhash_near_dups) remains the "
    "correctness AND scale path: on this LOW-VOCABULARY corpus (31 "
    "distinct tokens) many documents share identical minhash keys, "
    "and approxSimilarityJoin's per-bucket pair blowup OOMed a "
    "vanilla 1g session at the full sf0.1 corpus — the skew failure "
    "the portable tier's exact-set-key + element-parallel explosion "
    "is built to absorb (measured, see COVERAGE.md).  The registered "
    "face therefore runs the spark.ml tier on the doc_id<1000 slice; "
    "the full-corpus near-dup surface stays on minhash_near_dups.",
)
def minhash_near_dups_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    out = DD.near_duplicate_pairs_ml(d, threshold=0.7)
    return out.select(
        "doc_a", "doc_b", F.round("jaccard", R).alias("jaccard")
    ).orderBy("doc_a", "doc_b")


@register(
    "cms_frequencies",
    oracle=r"""
WITH ex AS (
  SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
cnt AS (SELECT tok, count(*) AS true_count FROM ex GROUP BY tok),
rb AS (
  SELECT tok, j,
         (('0x' || substr(md5('1#' || tok), 1, 15))::BIGINT
          + j * ('0x' || substr(md5('2#' || tok), 1, 15))::BIGINT)
           % 1024 AS bucket
  FROM ex, LATERAL (SELECT unnest(range(0, 4)) AS j) r
),
sketch AS (
  SELECT j AS row, bucket, count(*) AS c FROM rb GROUP BY 1, 2
),
probes AS (
  SELECT c2.tok, c2.true_count, pj.j,
         (('0x' || substr(md5('1#' || c2.tok), 1, 15))::BIGINT
          + pj.j * ('0x' || substr(md5('2#' || c2.tok), 1, 15))::BIGINT)
           % 1024 AS bucket
  FROM cnt c2, LATERAL (SELECT unnest(range(0, 4)) AS j) pj
),
est AS (
  SELECT p.tok, p.true_count, min(coalesce(s.c, 0)) AS est_count
  FROM probes p LEFT JOIN sketch s ON p.j = s.row AND p.bucket = s.bucket
  GROUP BY p.tok, p.true_count
)
SELECT tok, CAST(true_count AS BIGINT) AS true_count,
       CAST(est_count AS BIGINT) AS est_count
FROM est
ORDER BY true_count DESC, tok
""",
    doc="Count-Min sketch frequency estimation "
    "(llm/vocab.py:cms_build/cms_estimate; Cormode & Muthukrishnan "
    "2005): a 4x1024-counter sketch of the corpus token stream, "
    "point-queried for every vocabulary token beside its true count "
    "— est >= true always, overestimates bounded by eps*N.  The "
    "sketch has FIXED size regardless of vocabulary (the 100 TB "
    "point: per-batch sketches merge by counter addition in a "
    "streaming ingest); the depth row hashes derive from TWO portable "
    "md5 prefixes via Kirsch-Mitzenmacher 2006 double hashing "
    "(g_j = h1 + j*h2 mod w, guarantee-preserving, 2 md5 per token "
    "instead of depth) so DuckDB rebuilds the identical sketch and "
    "the estimates hash-check exactly.",
)
def cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VO

    d = load_table(spark, sf_dir, "documents")
    # ONE corpus tokenization pass (r14): the word count is both the
    # sketch input (weighted counts path — counter-identical to
    # hashing the occurrence stream, 2 md5 per distinct token instead
    # of per occurrence) and the probe set; cms_estimate carries
    # true_count through, so the former truth-vs-est re-join (a third
    # evaluation of the truth subtree) is gone.  The single exchange
    # under the word count is shared by both consumers
    # (ReusedExchange), so the corpus is scanned and exploded once.
    truth = (
        fan_out(d)
        .select(F.explode(VO.words_array("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_count"))
    )
    sketch = VO.cms_build_from_counts(truth)
    return VO.cms_estimate(truth, sketch).orderBy(
        F.desc("true_count"), "tok"
    )


@register(
    "bigram_lm_quality",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
bex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
           AS bg
  FROM toks
),
per AS (SELECT doc_id, bg, count(*) AS k FROM bex GROUP BY 1, 2),
c2 AS MATERIALIZED (SELECT bg, sum(k) AS c2 FROM per GROUP BY bg),
c1 AS MATERIALIZED (
  SELECT split_part(bg, ' ', 1) AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1
),
uv AS (
  SELECT count(DISTINCT tok) AS v
  FROM (SELECT unnest(w) AS tok FROM toks) u
),
arr AS (
  SELECT p.doc_id,
         list_sort(list({'bg': p.bg, 'k': p.k, 'c2': c.c2, 'c1': o.c1})) AS a
  FROM per p
  JOIN c2 c USING (bg)
  JOIN c1 o ON split_part(p.bg, ' ', 1) = o.w1
  GROUP BY p.doc_id
),
scored AS (
  SELECT doc_id,
         list_reduce(list_transform(a, s -> s.k), (x, y) -> x + y)
           AS n_bigrams,
         list_reduce(
           list_transform(a, s -> s.k * -ln((s.c2 + 1.0) / (s.c1 + v))),
           (x, y) -> x + y
         ) AS nll_sum
  FROM arr, uv
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(nll_sum, 6) AS nll_sum,
       round(nll_sum / n_bigrams, 6) AS avg_nll
FROM scored
ORDER BY doc_id
""",
    doc="Bigram-LM perplexity filter (llm/text.py:bigram_lm_nll): "
    "add-one-smoothed P(w2|w1) = (c(w1 w2)+1)/(c(w1.)+V) fit on the "
    "corpus itself — the order-2 extension of lm_quality that "
    "penalizes improbable word TRANSITIONS (shuffled text passes a "
    "unigram filter; it does not pass this).  Same exact-integer "
    "counts + fixed-order fold determinism contract; context counts "
    "derive from the bigram counts so the corpus is scanned once.",
)
def bigram_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = TX.bigram_lm_nll(fan_out(d))
    return s.select(
        "doc_id",
        "n_bigrams",
        F.round("nll_sum", R).alias("nll_sum"),
        F.round("avg_nll", R).alias("avg_nll"),
    ).orderBy("doc_id")


_DSIR_SCORED_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
),
ex AS (
  SELECT doc_id,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 1024 AS b
  FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
),
per AS (SELECT doc_id, b, count(*) AS k FROM ex GROUP BY doc_id, b),
raw AS (SELECT b, sum(k) AS cr FROM per GROUP BY b),
tgt AS (
  SELECT b, sum(k) AS ct
  FROM per JOIN documents USING (doc_id)
  WHERE lang = 'en'
  GROUP BY b
),
cnt AS (
  SELECT r.b, r.cr, coalesce(t.ct, 0) AS ct
  FROM raw r LEFT JOIN tgt t ON r.b = t.b
),
tot AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM cnt),
arr AS (
  SELECT doc_id,
         list_sort(list({'b': p.b, 'k': p.k, 'ct': c.ct, 'cr': c.cr})) AS a
  FROM per p JOIN cnt c ON p.b = c.b
  GROUP BY doc_id
),
scored AS (
  SELECT doc_id,
         list_reduce(list_transform(a, s -> s.k), (x, y) -> x + y)
           AS n_tokens,
         list_reduce(
           list_transform(
             a,
             s -> s.k * (ln((s.ct + 1.0) / (tt + 1024))
                         - ln((s.cr + 1.0) / (tr + 1024)))
           ),
           (x, y) -> x + y
         ) AS logratio
  FROM arr, tot
)
"""


@register(
    "dsir_weights",
    oracle=_DSIR_SCORED_SQL
    + r"""
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(logratio, 6) AS dsir_logratio
FROM scored
ORDER BY doc_id
""",
    doc="DSIR importance weights (llm/text.py:dsir_logratio; Xie et "
    "al. 2023): log p_target - log p_raw per document under two "
    "add-one-smoothed HASHED-unigram models (1024 md5 buckets — the "
    "paper's fixed-parameter trick), target = the lang='en' slice, "
    "raw = the whole corpus.  Exact-integer bucket counts feed a "
    "fixed-order bucket-sorted F.aggregate fold mirrored by DuckDB "
    "list_reduce, so the float lineage has no parallel-partial "
    "aggregation.  The standard importance-resampling scorer for "
    "matching pretraining data to a quality domain.",
)
def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = TX.dsir_logratio(fan_out(d), d.filter(F.col("lang") == "en"))
    return s.select(
        "doc_id",
        "n_tokens",
        F.round("logratio", R).alias("dsir_logratio"),
    ).orderBy("doc_id")


@register(
    "dsir_select",
    oracle=_DSIR_SCORED_SQL
    + r"""
, ranked AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(logratio, 6) AS dsir_logratio,
         row_number() OVER (ORDER BY round(logratio, 6) DESC, doc_id)
           AS sel_rank
  FROM scored
)
SELECT doc_id, n_tokens, dsir_logratio, sel_rank
FROM ranked WHERE sel_rank <= 50
ORDER BY sel_rank
""",
    doc="DSIR selection: the top-50 documents by importance weight — "
    "the resampling step of Xie et al. 2023 made deterministic (rank "
    "on the ROUNDED weight with doc_id tie-break, so the cut is "
    "reproducible across engines; the unrounded double's last ulp "
    "never decides membership).  At scale the rank is a single "
    "ordered window over the scored frame; the scored frame itself "
    "never leaves the executors.",
)
def dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    s = TX.dsir_logratio(fan_out(d), d.filter(F.col("lang") == "en"))
    scored = s.select(
        "doc_id",
        "n_tokens",
        F.round("logratio", R).alias("dsir_logratio"),
    )
    w = Window.orderBy(F.desc("dsir_logratio"), "doc_id")
    return (
        scored.withColumn("sel_rank", F.row_number().over(w))
        .filter(F.col("sel_rank") <= 50)
        .orderBy("sel_rank")
    )


# HLL oracle fragments: the register file over 5-gram shingle
# occurrences, shared by hll_registers / hll_distinct.  The estimate
# constant alpha*m^2*2^(wbits+1) folds in Python (vocab.hll_fold_constants)
# ships as a literal on both engines.  Every width literal is
# interpolated from HLL_P (m = 2^p buckets out of a 60-bit md5-prefix
# hash, wbits = 60 - p value bits) so bumping HLL_P keeps Spark/DuckDB
# parity instead of silently breaking it — the round-7 ADVICE finding.


def _hll_regs_sql() -> str:
    m, w1, _ = hll_fold_constants()
    wbits = w1 - 1
    return rf"""
WITH ws AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
occ AS (
  SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
hr AS (
  SELECT hv % {m} AS bucket, hv // {m} AS wv
  FROM (SELECT ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv FROM occ)
),
rr AS (
  SELECT bucket,
         CASE WHEN wv = 0 THEN {wbits + 1}
              ELSE instr(lpad(bin(wv), {wbits}, '0'), '1') END AS rho
  FROM hr
),
touched AS (SELECT bucket, max(rho) AS max_rho FROM rr GROUP BY bucket),
spine AS (SELECT unnest(range(0, {m})) AS bucket),
regs AS (
  SELECT CAST(s.bucket AS BIGINT) AS bucket,
         CAST(coalesce(t.max_rho, 0) AS INT) AS max_rho
  FROM spine s LEFT JOIN touched t USING (bucket)
)
"""


_HLL_REGS_SQL = _hll_regs_sql()


def _hll_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    return toks.select(F.explode(word_ngrams(F.col("t"), 5)).alias("item"))


@register(
    "hll_registers",
    oracle=_HLL_REGS_SQL
    + r"""
SELECT bucket, max_rho FROM regs ORDER BY bucket
""",
    doc="HyperLogLog register file (llm/vocab.py:hll_registers; "
    "Flajolet et al. 2007) over the corpus' word-5-gram shingle "
    "occurrences: 64 integers summarize the distinct-shingle count "
    "of an unbounded stream.  Registers are exact integers (portable "
    "md5-prefix hash, bin/lpad/instr rho extraction — no floats), "
    "merge across partitions/batches by element-wise MAX, and the "
    "complete 64-row file is emitted via a bucket spine so untouched "
    "registers read 0.  One explode + one keyed max at any scale.",
)
def hll_registers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VO

    return VO.hll_registers(_hll_items(spark, sf_dir)).orderBy("bucket")


def _hll_distinct_oracle() -> str:
    m, w1, _ = hll_fold_constants()
    return (
        _HLL_REGS_SQL
        + f"""
, folded AS (
  SELECT CAST(sum(1::BIGINT << ({w1} - max_rho)) AS BIGINT)
           AS s_star,
         count(*) FILTER (max_rho = 0) AS v_zero
  FROM regs
),
exact AS (SELECT count(DISTINCT gram) AS n_exact FROM occ),
est AS (
  SELECT s_star, v_zero, n_exact,
         {hll_estimate_sql('s_star', 'v_zero')} AS hll_est
  FROM folded, exact
)
SELECT CAST({m} AS BIGINT) AS m, CAST(v_zero AS BIGINT) AS v_zero, s_star,
       CAST(n_exact AS BIGINT) AS n_exact,
       round(hll_est, 6) AS hll_est,
       round((hll_est - n_exact) / n_exact, 6) AS rel_err
FROM est
"""
    )


@register(
    "hll_distinct",
    oracle=_hll_distinct_oracle(),
    doc="HyperLogLog distinct-count estimate (llm/vocab.py:"
    "hll_estimate) for the corpus' word-5-gram shingles, beside the "
    "exact distinct count and the relative error.  The harmonic sum "
    "is carried as the exact integer S* = sum 2^(55 - M[j]) — the "
    "only floats are one constant multiply + one division (+ ln on "
    "the paper's small-range branch) on a single row, so there is no "
    "aggregation-order freedom and the estimate hash-checks exactly. "
    "At 100 TB the exact count is the expensive yardstick (a full "
    "distinct shuffle) and the 64-integer sketch is the product.",
)
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VO

    m, _, _ = hll_fold_constants()
    items = _hll_items(spark, sf_dir).localCheckpoint(eager=False)
    est = VO.hll_estimate(VO.hll_registers(items))
    exact = items.agg(F.count_distinct("item").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "m",
        "v_zero",
        "s_star",
        "n_exact",
        F.round("hll_est", R).alias("hll_est"),
        F.round(
            (F.col("hll_est") - F.col("n_exact")) / F.col("n_exact"), R
        ).alias("rel_err"),
    )


@register(
    "source_similarity",
    oracle=r"""
WITH ws AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
sh AS (
  SELECT DISTINCT source,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS g
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
seeded AS (
  SELECT source, j,
         ('0x' || substr(md5('1#' || g), 1, 14))::BIGINT
         + j * ('0x' || substr(md5('2#' || g), 1, 14))::BIGINT AS h
  FROM sh, LATERAL (SELECT unnest(range(0, 16)) AS j) hs
),
sig AS (SELECT source, j, min(h) AS mh FROM seeded GROUP BY 1, 2)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
         AS n_match,
       round(CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS DOUBLE)
             / 16, 6) AS jaccard_est
FROM sig a JOIN sig b ON a.j = b.j AND a.source < b.source
GROUP BY 1, 2
ORDER BY src_a, src_b
""",
    doc="Dataset-level MinHash similarity matrix "
    "(llm/dedup.py:source_minhash_similarity): estimated Jaccard of "
    "every source pair's 5-gram shingle SETS — the corpus-mixing / "
    "ingest-dedup diagnostic.  Signatures build relationally "
    "(per-(source,seed) keyed MIN over distinct shingles — no set is "
    "ever collected), so every shuffle in the registered plan is "
    "signature/taxonomy-sized: O(sources^2 * n_hashes) pair rows, "
    "bounded by the source taxonomy, not the corpus.  The exact-"
    "Jaccard yardstick (a corpus-sized distinct-shingle self-join) "
    "is fenced behind include_exact=True, exercised only by "
    "tests/test_operators.py which proves est tracks exact — the "
    "embedding_near_dups yardstick pattern.",
)
def source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = DD.source_minhash_similarity(fan_out(d), n_hashes=16)
    return s.select(
        "src_a",
        "src_b",
        "n_match",
        F.round("jaccard_est", R).alias("jaccard_est"),
    ).orderBy("src_a", "src_b")


def _ivf_silver_dir(sf_dir: str) -> str:
    """Deterministic per-corpus silver-table location: the index
    build is the once-per-corpus amortized step, so repeated query
    runs (bench warm-up + timed run, driver re-runs) probe the SAME
    materialized table instead of rebuilding it — the production read
    pattern.  The location is keyed by `corpus_fingerprint` and lives
    under the per-user 0700 scratch root, so no other user can
    pre-create the path and feed a foreign index to the probe (round-7
    ADVICE finding)."""
    # the shared scratch helper does the root verification: lstat (no
    # symlink), owner == uid, real dir, group/other bits re-stripped on
    # every call (round-8 ADVICE: makedirs mode only applies at
    # creation, and plain os.stat follows links)
    return scratch_path(f"ivf_{corpus_fingerprint(sf_dir)}")


def _cached_kmeans_centroids(
    spark: SparkSession, sf_dir: str, n_cells: int = 16, seed: int = 7
):
    """Fit-once k-means coarse quantizer (round-8 verdict Next #3):
    the seeded spark.ml fit — ~20 corpus scans — runs ONLY when this
    (corpus fingerprint, n_cells, seed) key has no cached centroid
    frame yet; every later call (bench warm-up + timed runs, driver
    re-runs, the streaming index-maintenance channel) reads the K
    centroid rows back from parquet.  Doubles round-trip parquet
    exactly, so the cached frame is bit-identical to the fit's output
    and downstream assignment/probing is unchanged.  Same
    `build_once` protocol as every silver artifact: concurrent
    sessions race benignly, the loser adopts the winner's centroids
    (which ARE its own — same seed, same corpus)."""
    # kmc2 (r14): the fit input layout is now PINNED (repartition(1) +
    # sort by vec_id — see kmeans_centroids), because the old
    # fan_out'd fit proved partition-layout-dependent: local[16] and
    # local[32] sessions cached DIFFERENT centroids under the same
    # slot.  Versioned slot name so a stale unpinned-era cache is
    # never adopted (the _KNNG_ALGO_VERSION doctrine).
    out_dir = scratch_path(
        f"kmc2_{corpus_fingerprint(sf_dir)}_k{n_cells}_s{seed}"
    )

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        cents = SIM.kmeans_centroids(e, n_cells=n_cells, seed=seed)
        cents.coalesce(1).write.parquet(tmp)

    return read_parquet(spark, build_once(out_dir, build))


def _ensure_ivf_silver(spark: SparkSession, sf_dir: str) -> str:
    """Build the silver table if (and only if) this corpus fingerprint
    has no index yet.  The build lands in a unique temp dir and is
    atomically renamed into place (`build_once`), so two concurrent
    sessions cannot interleave writes into one directory — the loser
    of the rename just uses the winner's table."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        SIM.write_ivf_silver(e, tmp, n_cells=16)

    return build_once(_ivf_silver_dir(sf_dir), build)


@register(
    "ivf_silver_topk",
    oracle="""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
q AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
probe AS (
  SELECT c.cid
  FROM c, q
  ORDER BY list_dot_product(q.qv, c.cv) / (q.qn * c.cn) DESC, c.cid ASC
  LIMIT 2
)
SELECT n.vec_id,
       round(list_dot_product(n.v, q.qv) / (n.nn * q.qn), 5) AS cos_sim
FROM n
JOIN assign a ON n.vec_id = a.vec_id
JOIN probe p ON a.cid = p.cid, q
ORDER BY list_dot_product(n.v, q.qv) / (n.nn * q.qn) DESC, n.vec_id ASC
LIMIT 10
""",
    doc="ANN similarity search — the PRODUCTION silver-table IVF path "
    "(llm/similarity.py:write_ivf_silver/probe_ivf_silver): the IVF "
    "assignment is materialized ONCE into a Hive-layout table "
    "partitioned by cell (one directory per inverted list), and the "
    "registered query is the per-query cost only — coarse-probe the "
    "broadcast centroids, then scan JUST the nprobe probed cell= "
    "partitions (PartitionFilters prune at the file index, verified "
    "in tests/test_plan_quality.py) with exact cosine within.  "
    "Semantically identical to ivf_topk (same bootstrap centroids, "
    "doubles round-trip parquet bit-exactly), so the same oracle "
    "hash-checks it — but the plan is the one a 1000-executor "
    "cluster runs: index build amortized across queries, per-probe "
    "IO = nprobe/n_cells of the corpus by directory construction.",
)
def ivf_silver_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    out_dir = _ensure_ivf_silver(spark, sf_dir)
    out = SIM.probe_ivf_silver(
        spark, out_dir, e, q, k=10, n_cells=16, nprobe=2
    )
    return out.select("vec_id", F.round("cos_sim", 5).alias("cos_sim"))


@register(
    "dsir_gumbel_select",
    oracle=_DSIR_SCORED_SQL
    + r"""
, g AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         round(logratio + (
           -ln(-ln((('0x' || substr(md5('g1:' || CAST(doc_id AS VARCHAR)),
                                    1, 13))::BIGINT + 0.5)
                   / 4503599627370496.0))
         ), 6) AS gumbel_key
  FROM scored
),
ranked AS (
  SELECT doc_id, n_tokens, gumbel_key,
         row_number() OVER (ORDER BY gumbel_key DESC, doc_id) AS sel_rank
  FROM g
)
SELECT doc_id, n_tokens, gumbel_key, sel_rank
FROM ranked WHERE sel_rank <= 50
ORDER BY sel_rank
""",
    doc="DSIR SAMPLED selection (llm/text.py:dsir_gumbel_topk): the "
    "paper's actual importance-RESAMPLING step via the Gumbel-top-k "
    "identity — top-50 of logweight + Gumbel(0,1) draws 50 documents "
    "without replacement with probability proportional to "
    "exp(logweight).  The Gumbel draws are seeded md5-derived "
    "uniforms ((first 13 hex digits + 0.5) / 2^52 — exactly "
    "representable, strictly inside (0,1)), so the sample is "
    "deterministic, reproducible, and derived identically by DuckDB "
    "— a property np.random-based samplers cannot give a 100 TB "
    "rerun.  Membership is decided on the 6dp-rounded perturbed key "
    "with doc_id tie-break (the dsir_select contract); the rank "
    "compiles to TakeOrderedAndProject, no single-partition window.",
)
def dsir_gumbel_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    out = TX.dsir_gumbel_topk(
        fan_out(d), d.filter(F.col("lang") == "en"), k=50, seed="g1"
    )
    return out.orderBy("sel_rank")


def _hll_by_source_oracle() -> str:
    m, w1, _ = hll_fold_constants()
    return rf"""
WITH ws AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
occ AS (
  SELECT source,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
hr AS (
  SELECT source, hv % {m} AS bucket, hv // {m} AS wv
  FROM (SELECT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS hv
        FROM occ)
),
rr AS (
  SELECT source, bucket,
         CASE WHEN wv = 0 THEN {w1}
              ELSE instr(lpad(bin(wv), {w1 - 1}, '0'), '1') END AS rho
  FROM hr
),
touched AS (
  SELECT source, bucket, max(rho) AS max_rho FROM rr GROUP BY 1, 2
),
per AS (
  SELECT source,
         CAST(sum(1::BIGINT << ({w1} - max_rho)) AS BIGINT) AS s_touched,
         count(*) AS n_touched
  FROM touched GROUP BY 1
),
folded AS (
  SELECT source,
         CAST({m} - n_touched AS BIGINT) AS v_zero,
         CAST(s_touched + ({m} - n_touched) * (1::BIGINT << {w1}) AS BIGINT)
           AS s_star
  FROM per
)
SELECT source, v_zero, s_star,
       round({hll_estimate_sql('s_star', 'v_zero')}, 6) AS hll_est
FROM folded
ORDER BY source
"""


@register(
    "hll_by_source",
    oracle=_hll_by_source_oracle(),
    doc="Per-source HyperLogLog distinct-shingle estimates "
    "(llm/vocab.py:hll_by_group) — the cardinality sketch composed "
    "relationally: ONE (source, bucket) keyed max builds every "
    "source's register file in a single pass, and each source folds "
    "to its estimate with the exact-integer S* contract.  Spine-free: "
    "untouched buckets contribute (m - n_touched) * 2^56 to S* in "
    "closed form instead of materializing a #sources x 64 spine — "
    "bit-identical to the spine path (asserted in tests).  The "
    "per-dataset distinct-token audit at 100 TB: output is #sources "
    "rows, state is 64 integers per source, and the sketch merges "
    "across ingest batches by register max exactly like the global "
    "tier.",
)
def hll_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm import vocab as VO
    from ..llm.corpus import word_ngrams

    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d).select(
        "source", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("t")
    )
    items = toks.select(
        "source", F.explode(word_ngrams(F.col("t"), 5)).alias("item")
    )
    out = VO.hll_by_group(items, "source")
    return out.select(
        "source", "v_zero", "s_star", F.round("hll_est", R).alias("hll_est")
    ).orderBy("source")


@register(
    "ivf_cell_stats",
    oracle="""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
tot AS (SELECT count(*) AS total FROM n)
SELECT CAST(cid AS INT) AS cell,
       CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(count(*) AS DOUBLE) / total, 6) AS frac,
       round(CAST(count(*) AS DOUBLE) * 16.0 / total, 6) AS skew
FROM assign, tot
GROUP BY cid, total
ORDER BY cell
""",
    doc="IVF index-health diagnostic over the cell-partitioned silver "
    "table: vectors per inverted list, the list's corpus fraction, "
    "and its skew vs the ideal 1/n_cells balance (skew >> 1 means a "
    "hot cell that degrades probe latency — the signal that triggers "
    "a re-fit or cell split in production ANN serving).  The "
    "registered plan reads ONLY the silver table's partition metadata "
    "column (column-pruned scan of a count per directory); the "
    "oracle recomputes the assignment from first principles, so this "
    "also re-proves write_ivf_silver's assignment end-to-end.",
)
def ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out_dir = _ensure_ivf_silver(spark, sf_dir)
    silver = read_parquet(spark, out_dir)
    per = silver.groupBy(F.col("cell").cast("int").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = per.agg(F.sum("n_vecs").alias("total"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_vecs",
            F.round(F.col("n_vecs").cast("double") / F.col("total"), R).alias(
                "frac"
            ),
            F.round(
                F.col("n_vecs").cast("double") * F.lit(16.0) / F.col("total"),
                R,
            ).alias("skew"),
        )
        .orderBy("cell")
    )


@register(
    "source_kl",
    oracle=r"""
WITH toks AS (
  SELECT source, regexp_split_to_array(lower(trim(text)), '\s+') AS t
  FROM documents
),
ex AS (
  SELECT source,
         (('0x' || substr(md5(tok), 1, 15))::BIGINT) % 1024 AS b
  FROM (SELECT source, unnest(t) AS tok FROM toks)
),
per AS (SELECT source, b, count(*) AS k FROM ex GROUP BY source, b),
cnt AS (SELECT b, sum(k) AS c FROM per GROUP BY b),
tot AS (SELECT sum(c) AS big_t FROM cnt),
arr AS (
  SELECT source, list_sort(list({'b': p.b, 'k': p.k, 'c': c.c})) AS a
  FROM per p JOIN cnt c USING (b)
  GROUP BY source
),
keyed AS (
  SELECT source, a, big_t,
         list_reduce(list_transform(a, s -> s.k), (x, y) -> x + y)
           AS n_tokens
  FROM arr, tot
)
SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(list_reduce(
         list_transform(
           a,
           s -> (CAST(s.k AS DOUBLE) / n_tokens)
                * ln((CAST(s.k AS DOUBLE) / n_tokens)
                     / (CAST(s.c AS DOUBLE) / big_t))
         ),
         (x, y) -> x + y
       ), 6) AS kl
FROM keyed
ORDER BY source
""",
    doc="Per-source KL divergence from the corpus token distribution "
    "(llm/text.py:source_kl_divergence) over the DSIR-style hashed "
    "1024-bucket unigram models — the dataset DRIFT diagnostic "
    "beside the MinHash overlap matrix: overlap says two sources "
    "share content, KL says a source's token MIX deviates from the "
    "corpus (boilerplate floods, register shift) — the reweighting/"
    "inspection signal in mixture design.  No smoothing needed "
    "(source buckets are a subset of corpus buckets, so q > 0 "
    "wherever p > 0); exact-integer counts feed a bucket-sorted "
    "fixed-order F.aggregate fold mirrored by DuckDB list_reduce, "
    "the lm_quality determinism contract.  One explode pass, "
    "checkpointed (source,bucket) sufficient statistic, output = "
    "#sources rows.",
)
def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    s = TX.source_kl_divergence(fan_out(d))
    return s.select(
        "source", "n_tokens", F.round("kl", R).alias("kl")
    ).orderBy("source")


def _multiprobe_pred_sql(n_planes: int = 8) -> str:
    terms = ["b.bucket = q.qb"] + [
        f"b.bucket = xor(q.qb, {2 ** p})" for p in range(n_planes)
    ]
    return "(" + " OR ".join(terms) + ")"


@register(
    "ann_multiprobe_topk",
    oracle=f"""
WITH b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
  FROM embeddings
),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0)
SELECT b.vec_id,
       round(list_dot_product(b.e, q.qe)
             / (sqrt(list_dot_product(b.e, b.e))
                * sqrt(list_dot_product(q.qe, q.qe))), 5) AS cos_sim
FROM b, q
WHERE {_multiprobe_pred_sql(8)}
ORDER BY cos_sim DESC, vec_id
LIMIT 10
""",
    doc="ANN similarity search — multi-probe sign-bit LSH top-k (Lv "
    "et al. 2007; llm/similarity.py:multiprobe_buckets): the query "
    "scores its own bucket PLUS the 8 buckets at Hamming distance 1 "
    "(each hyperplane sign flipped), because a near neighbor that "
    "straddled one plane lands exactly there — the standard recall "
    "lever that probes (n_planes+1)/2^n_planes of the corpus instead "
    "of building more hash tables.  Probe set is pure bit arithmetic "
    "broadcast with the query; exact cosine within the probed "
    "buckets; recall-vs-single-probe measured in tests.  Oracle "
    "embeds the identical plane literals and xor probes.",
)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    b = fan_out(e).withColumn("bucket", SIM.lsh_bucket("embedding"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"),
        SIM.multiprobe_buckets(F.col("bucket")).alias("probes"),
    )
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.array_contains(F.col("probes"), F.col("bucket")))
        .select(
            "vec_id",
            F.round(
                SIM.cosine(F.col("embedding"), F.col("q_embedding")), 5
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.desc("cos_sim"), F.asc("vec_id")).limit(10)


@register(
    "ann_recall_report",
    oracle=f"""
WITH brute AS (
  SELECT vec_id,
         round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qe, qe))), 5) AS cos_sim
  FROM embeddings,
       (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        WHERE vec_id = 0)
  ORDER BY cos_sim DESC, vec_id
  LIMIT 10
),
b AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         {_lsh_bucket_sql('CAST(embedding AS DOUBLE[])')} AS bucket
  FROM embeddings
),
q AS (SELECT e AS qe, bucket AS qb FROM b WHERE vec_id = 0),
lsh AS (
  SELECT b.vec_id,
         round(list_dot_product(b.e, q.qe)
               / (sqrt(list_dot_product(b.e, b.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 5) AS cos_sim
  FROM b, q WHERE b.bucket = q.qb
  ORDER BY cos_sim DESC, vec_id LIMIT 10
),
mp AS (
  SELECT b.vec_id,
         round(list_dot_product(b.e, q.qe)
               / (sqrt(list_dot_product(b.e, b.e))
                  * sqrt(list_dot_product(q.qe, q.qe))), 5) AS cos_sim
  FROM b, q WHERE {_multiprobe_pred_sql(8)}
  ORDER BY cos_sim DESC, vec_id LIMIT 10
),
n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
nq AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
probe AS (
  SELECT c.cid FROM c, nq
  ORDER BY list_dot_product(nq.qv, c.cv) / (nq.qn * c.cn) DESC, c.cid ASC
  LIMIT 2
),
ivf AS (
  SELECT n.vec_id,
         round(list_dot_product(n.v, nq.qv) / (n.nn * nq.qn), 5) AS cos_sim
  FROM n JOIN assign a ON n.vec_id = a.vec_id
  JOIN probe p ON a.cid = p.cid, nq
  ORDER BY list_dot_product(n.v, nq.qv) / (n.nn * nq.qn) DESC, n.vec_id ASC
  LIMIT 10
),
{_knn_walk_batch_ctes('vec_id = 0', steps=8, beam=16, prefix='g')},
gtop AS (
  SELECT s.vec_id FROM gscores s JOIN gv8 USING (qid, vec_id)
  ORDER BY s.cos DESC, s.vec_id ASC
  LIMIT 10
)
SELECT tier, n_hits, recall_at_10 FROM (
  SELECT 'brute' AS tier, CAST(count(*) AS BIGINT) AS n_hits,
         round(count(*) / 10.0, 6) AS recall_at_10
  FROM brute t JOIN brute USING (vec_id)
  UNION ALL
  SELECT 'graph', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM gtop t JOIN brute USING (vec_id)
  UNION ALL
  SELECT 'ivf', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM ivf t JOIN brute USING (vec_id)
  UNION ALL
  SELECT 'lsh', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM lsh t JOIN brute USING (vec_id)
  UNION ALL
  SELECT 'multiprobe', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM mp t JOIN brute USING (vec_id)
)
ORDER BY tier
""",
    doc="ANN evaluation as a first-class query: measured recall@10 of "
    "each approximate tier (single-probe LSH, multi-probe LSH, "
    "IVF-flat) against the brute-force exact top-10, in ONE plan — "
    "the index-quality dashboard a production ANN deployment watches "
    "(recall collapse after a re-index or distribution shift is the "
    "paging signal).  Each tier's top-10 reuses the registered "
    "tier's exact construction (same rounding, same tie-breaks), so "
    "the recall numbers are deterministic and hash-checked — "
    "evaluation results as reproducible as the queries they grade; "
    "the brute row is the =1.0 sanity invariant.  The graph tier "
    "(round 12) walks the build-once union graph silver with the "
    "knn_graph_topk parameters for the same query, completing the "
    "dashboard across every registered ANN tier; the report is 5 "
    "rows.",
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    brute_ids = knn_cosine_topk(spark, sf_dir).select("vec_id")

    def hits(tier_df: DataFrame, name: str) -> DataFrame:
        return (
            tier_df.select("vec_id")
            .join(brute_ids, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(name).alias("tier"),
                "n_hits",
                F.round(F.col("n_hits") / F.lit(10.0), 6).alias(
                    "recall_at_10"
                ),
            )
        )

    e = load_table(spark, sf_dir, "embeddings")
    walk = SIM.knn_graph_search(
        e,
        knn_union_graph_silver(spark, sf_dir, k=3, planes=(4, 2)),
        e.filter(F.col("vec_id") == 0),
        k=10,
        beam=16,
        steps=8,
    )
    out = (
        # the brute row joins brute_ids with itself (the =1.0 sanity
        # invariant) instead of constructing a second full brute plan
        hits(brute_ids, "brute")
        .unionByName(hits(walk, "graph"))
        .unionByName(hits(ivf_topk(spark, sf_dir), "ivf"))
        .unionByName(hits(ann_lsh_topk(spark, sf_dir), "lsh"))
        .unionByName(hits(ann_multiprobe_topk(spark, sf_dir), "multiprobe"))
    )
    return out.orderBy("tier")


@register(
    "embedding_stats",
    oracle="""
WITH n AS (
  SELECT vec_id,
         len(CAST(embedding AS DOUBLE[])) AS dim,
         round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))), 5)
           AS nrm
  FROM embeddings
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(min(dim) AS BIGINT) AS min_dim,
       CAST(max(dim) AS BIGINT) AS max_dim,
       round(min(nrm), 5) AS min_norm,
       round(max(nrm), 5) AS max_norm,
       CAST(count(*) FILTER (nrm = 0.0) AS BIGINT) AS n_zero,
       CAST(count(*) FILTER (dim != 64) AS BIGINT) AS n_bad_dim
FROM n
""",
    doc="Embedding-table QA audit: corpus size, dimension min/max, "
    "norm range, zero-vector and wrong-dimension counts — the "
    "validation gate a vector pipeline runs before (re)building an "
    "ANN index, because one zero vector NaN-poisons cosine scoring "
    "and one ragged dimension crashes every dot product downstream.  "
    "Min/max over per-row exact values (norms pre-rounded to the "
    "repo's 5dp cosine contract before the order-insensitive min/"
    "max), so the audit is exactly hash-checked; single scan, "
    "single-row output.",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    n = fan_out(e).select(
        "vec_id",
        F.size(F.col("embedding")).cast("long").alias("dim"),
        F.round(SIM.norm(F.col("embedding")), 5).alias("nrm"),
    )
    return n.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.round(F.min("nrm"), 5).alias("min_norm"),
        F.round(F.max("nrm"), 5).alias("max_norm"),
        F.count(F.when(F.col("nrm") == 0.0, 1)).alias("n_zero"),
        F.count(F.when(F.col("dim") != 64, 1)).alias("n_bad_dim"),
    )


def _ivf_nprobe_tier_sql(nprobe: int) -> str:
    return f"""
  SELECT n.vec_id,
         round(list_dot_product(n.v, nq.qv) / (n.nn * nq.qn), 5) AS cos_sim
  FROM n JOIN assign a ON n.vec_id = a.vec_id
  JOIN (SELECT c.cid FROM c, nq
        ORDER BY list_dot_product(nq.qv, c.cv) / (nq.qn * c.cn) DESC,
                 c.cid ASC
        LIMIT {nprobe}) p ON a.cid = p.cid, nq
  ORDER BY list_dot_product(n.v, nq.qv) / (n.nn * nq.qn) DESC, n.vec_id ASC
  LIMIT 10"""


@register(
    "ivf_nprobe_curve",
    oracle=f"""
WITH brute AS (
  SELECT vec_id,
         round(list_dot_product(CAST(embedding AS DOUBLE[]), qe)
               / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(qe, qe))), 5) AS cos_sim
  FROM embeddings,
       (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
        WHERE vec_id = 0)
  ORDER BY cos_sim DESC, vec_id
  LIMIT 10
),
n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nn
  FROM embeddings
),
c AS (SELECT vec_id AS cid, v AS cv, nn AS cn FROM n WHERE vec_id < 16),
assign AS (
  SELECT n.vec_id, c.cid,
         list_dot_product(n.v, c.cv) / (n.nn * c.cn) AS ccos
  FROM n, c
  QUALIFY row_number() OVER (PARTITION BY n.vec_id
                             ORDER BY ccos DESC, c.cid ASC) = 1
),
nq AS (SELECT v AS qv, nn AS qn FROM n WHERE vec_id = 0),
t1 AS ({_ivf_nprobe_tier_sql(1)}),
t2 AS ({_ivf_nprobe_tier_sql(2)}),
t4 AS ({_ivf_nprobe_tier_sql(4)})
SELECT nprobe, n_hits, recall_at_10 FROM (
  SELECT CAST(1 AS INT) AS nprobe, CAST(count(*) AS BIGINT) AS n_hits,
         round(count(*) / 10.0, 6) AS recall_at_10
  FROM t1 t JOIN brute USING (vec_id)
  UNION ALL
  SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM t2 t JOIN brute USING (vec_id)
  UNION ALL
  SELECT CAST(4 AS INT), CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM t4 t JOIN brute USING (vec_id)
)
ORDER BY nprobe
""",
    doc="IVF nprobe tuning curve: measured recall@10 vs brute force "
    "for nprobe = 1, 2, 4 over the same inverted lists — THE "
    "knob-setting artifact for an IVF deployment (every probed cell "
    "costs nprobe/n_cells of the corpus in IO; the curve says where "
    "recall saturates and the cheaper setting is safe).  Same "
    "deterministic constructions as ivf_topk / ann_recall_report, so "
    "the curve is hash-checked and reproducible run-to-run.",
)
def ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0)
    brute_ids = knn_cosine_topk(spark, sf_dir).select("vec_id")

    def hits(nprobe: int) -> DataFrame:
        tier = SIM.ivf_topk(e, q, k=10, n_cells=16, nprobe=nprobe)
        return (
            tier.select("vec_id")
            .join(brute_ids, "vec_id")
            .agg(F.count(F.lit(1)).alias("n_hits"))
            .select(
                F.lit(nprobe).cast("int").alias("nprobe"),
                "n_hits",
                F.round(F.col("n_hits") / F.lit(10.0), 6).alias(
                    "recall_at_10"
                ),
            )
        )

    return (
        hits(1).unionByName(hits(2)).unionByName(hits(4)).orderBy("nprobe")
    )
