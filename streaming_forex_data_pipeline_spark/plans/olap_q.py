"""Round-8 registered queries: multidimensional OLAP aggregates,
event-funnel/cohort analytics, and dataset-preparation QA.

Three families, all oracle-exact against DuckDB:

* **Multidimensional aggregates** — ROLLUP / CUBE / GROUPING SETS /
  PIVOT.  Spark executes all grouping-set variants as ONE scan + one
  Expand (each row fans out once per grouping set) + a single
  partial+final hash aggregate — the same shuffle budget as a plain
  GROUP BY, which is exactly why these beat N separate aggregation
  passes at 100 TB.  Money sums use the integer-cents contract
  (`pricing_summary`'s pattern) so the hash compare is
  aggregation-order-insensitive.

* **Event analytics** — strict sequential funnel and weekly cohort
  retention over the `events` stream table (the reference's
  pipeline events are quote ingest cycles; these are the standard
  product-analytics faces of the same event-log shape).  Everything
  is keyed by user_id: per-user aggregation + a users-sized join,
  shuffles partition by the natural key and all counts are exact
  integers.

* **Dataset-prep QA** — k-fold assignment balance, duplicate-group
  holdout splitting (leakage-proof BY CONSTRUCTION, complementing the
  measuring `split_leakage`), int8 embedding quantization QA, and an
  n-gram novelty-over-ingestion-order curve.

The funnel, cohort and Q3 plans are `plans/fragments.py` builders,
shared with their bucketed probes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import similarity as SIM
from ..llm.silvers import knn_graph_silver
from ..llm.vocab import hll_fold_constants
from ..sources.tables import fan_out, load_table
from .fragments import (
    cohort_over_events,
    funnel_over_events,
    shipping_priority_over,
)
from .oracle_sql import _hll_user_regs_sql, _knn_graph_ctes, hll_estimate_sql
from .registry import register

R = 6  # float rounding for cross-engine hash stability


@register(
    "rollup_shipping",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0, 6)
         AS sum_qty,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0, 6)
         AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY gid, returnflag, linestatus
""",
    doc="GROUP BY ROLLUP over (returnflag, linestatus) with "
    "grouping_id: detail rows + per-flag subtotals + grand total in "
    "ONE scan.  Spark compiles rollup to a single Expand (3 grouping "
    "sets -> each input row emitted 3x with the inapplicable keys "
    "nulled) feeding one partial+final hash aggregate — one shuffle "
    "for all three levels, vs three scans + three shuffles for the "
    "UNION ALL equivalent.  Money sums are integer cents (exact, "
    "order-insensitive); NULL group keys are disambiguated from real "
    "values by grouping_id and rendered 'ALL' on both engines.",
)
def rollup_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indicators import cents

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents("l_quantity")) / 100.0, R).alias("sum_qty"),
            F.round(F.sum(cents("l_extendedprice")) / 100.0, R).alias(
                "sum_price"
            ),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "gid",
            "n",
            "sum_qty",
            "sum_price",
        )
        .orderBy("gid", "returnflag", "linestatus")
    )


@register(
    "cube_order_mix",
    oracle="""
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 6)
         AS sum_price,
       round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
             / count(*), 6) AS avg_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
""",
    doc="GROUP BY CUBE over (status, priority): all 4 grouping sets "
    "(detail, each one-dimensional margin, grand total) from one scan "
    "— the classic OLAP cross-tab margin query.  Same Expand+single-"
    "aggregate physical shape as rollup_shipping (4x row fan-out, one "
    "shuffle); at 100 TB the Expand multiplies map-side rows but "
    "partial aggregation collapses them before the exchange, so "
    "shuffle bytes stay at (groups x sets), not (rows x sets).  "
    "Averages derive from exact integer-cent sums.",
)
def cube_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.indicators import cents

    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents("o_totalprice")) / 100.0, R).alias(
                "sum_price"
            ),
            F.round(F.sum(cents("o_totalprice")) / 100.0 / n, R).alias(
                "avg_price"
            ),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "gid",
            "n",
            "sum_price",
            "avg_price",
        )
        .orderBy("gid", "status", "priority")
    )


@register(
    "grouping_sets_revenue",
    oracle="""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY gid, returnflag, linestatus
""",
    doc="Explicit GROUPING SETS ((returnflag), (linestatus), ()): two "
    "independent one-dimensional revenue breakdowns plus the grand "
    "total WITHOUT the detail level — the sets rollup/cube cannot "
    "express.  Declared in Spark SQL (the DataFrame API has no "
    "grouping-sets builder); Catalyst plans the identical single "
    "Expand + one hash aggregate.  Revenue = price x (1 - discount) "
    "in exact 1e-4 integer units per the pricing_summary contract.",
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    # the revenue divisor must be CAST(10000.0 AS DOUBLE): Spark SQL
    # parses the bare literal 10000.0 as DECIMAL(5,1), which would
    # silently turn the whole revenue column decimal
    return spark.sql("""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))
             / CAST(10000.0 AS DOUBLE), 6) AS revenue
FROM __gs_lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY gid, returnflag, linestatus
""")


@register(
    "pivot_event_matrix",
    oracle="""
SELECT date_trunc('day', ts) AS day,
       count(*) FILTER (event_type = 'click')    AS click,
       count(*) FILTER (event_type = 'error')    AS error,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'signup')   AS signup,
       count(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
ORDER BY day
""",
    doc="PIVOT: day x event-type count matrix over the events stream "
    "table.  The pivot values are DECLARED (the 5 known types), which "
    "is the scale-safe form — Spark then skips the implicit "
    "distinct-scan it would otherwise run to discover pivot columns, "
    "and plans a single partial+final hash aggregate with 5 "
    "conditional counts (exactly the oracle's FILTER shape).  Output "
    "is days x 5 — bounded by the calendar, not the corpus.",
)
def pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    piv = (
        e.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "day", *[F.coalesce(t, F.lit(0)).cast("long").alias(t) for t in types]
    ).orderBy("day")


@register(
    "funnel_conversion",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t GROUP BY 1
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t GROUP BY 1
),
c AS (
  SELECT 1 AS stage_ord, 'signup' AS stage, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'view', count(*) FROM s2
  UNION ALL SELECT 3, 'click', count(*) FROM s3
  UNION ALL SELECT 4, 'purchase', count(*) FROM s4
)
SELECT stage_ord, stage, n_users,
       round(CAST(n_users AS DOUBLE)
             / first_value(n_users) OVER (ORDER BY stage_ord), 6)
         AS conv_from_start,
       round(CAST(n_users AS DOUBLE)
             / lag(n_users) OVER (ORDER BY stage_ord), 6)
         AS conv_from_prev
FROM c ORDER BY stage_ord
""",
    doc="Strict sequential funnel over the events table: users who "
    "signed up, then VIEWED after signing up, then CLICKED after that "
    "view, then PURCHASED after that click — each stage's timestamp "
    "must strictly follow the previous stage's first qualifying "
    "timestamp (the product-analytics funnel, not the weaker "
    "did-all-four-ever set).  Physical shape: 4 chained per-user "
    "min-aggregates, each a users-keyed shuffle co-partitioned with "
    "the events join key, so at 100 TB every stage is one exchange on "
    "user_id and the frontier frame shrinks monotonically.  The "
    "4-row conversion readout computes on exact BIGINT counts.",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_over_events(load_table(spark, sf_dir, "events"))


@register(
    "cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort
  FROM events GROUP BY 1
),
sizes AS (SELECT cohort, count(*) AS n_cohort FROM firsts GROUP BY 1),
active AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk
  FROM events
),
ret AS (
  SELECT f.cohort,
         CAST(date_diff('day', f.cohort, a.wk) // 7 AS INT) AS week_offset,
         count(DISTINCT a.user_id) AS n_active
  FROM active a JOIN firsts f USING (user_id)
  GROUP BY 1, 2
)
SELECT r.cohort, r.week_offset, r.n_active, s.n_cohort,
       round(CAST(r.n_active AS DOUBLE) / s.n_cohort, 6) AS retention
FROM ret r JOIN sizes s USING (cohort)
ORDER BY cohort, week_offset
""",
    doc="Weekly cohort retention matrix: users grouped by the ISO week "
    "of their FIRST event; each cell = the share of a cohort active "
    "in week cohort+k.  Two users-keyed aggregations plus one "
    "users-sized join — the cohort dimension is calendar-bounded, so "
    "output and join state stay tiny while the event scan is one "
    "pass.  week_offset is exact integer day arithmetic on "
    "Monday-truncated weeks (no epoch/timezone math), and retention "
    "is a division of exact counts.",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cohort_over_events(load_table(spark, sf_dir, "events"))


@register(
    "rfm_segments",
    oracle="""
WITH mx AS (SELECT max(ts) AS m FROM events),
per_user AS (
  SELECT user_id,
         date_diff('day', max(ts), (SELECT m FROM mx)) AS rec_days,
         count(*) AS freq,
         sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS mon_cents
  FROM events GROUP BY 1
),
binned AS (
  SELECT user_id, mon_cents,
         NTILE(4) OVER (ORDER BY rec_days, user_id)  AS r_bin,
         NTILE(4) OVER (ORDER BY freq, user_id)      AS f_bin,
         NTILE(4) OVER (ORDER BY mon_cents, user_id) AS m_bin
  FROM per_user
)
SELECT r_bin, f_bin, m_bin, count(*) AS n_users,
       round(sum(mon_cents) / 100.0 / count(*), 6) AS avg_monetary
FROM binned GROUP BY 1, 2, 3
ORDER BY r_bin, f_bin, m_bin
""",
    doc="RFM (recency/frequency/monetary) segmentation: each user "
    "scored into exact quartiles on days-since-last-event, event "
    "count, and purchase value, then counted per (r,f,m) segment "
    "(bins ascend — bin 4 = most frequent / highest spend / longest "
    "inactive).  The quartiles use llm/corpus.exact_ntile — the "
    "distributed range-repartition NTILE (SQL-standard remainder "
    "semantics, differentially verified in round 6) — so no "
    "single-partition global window touches the users frame: three "
    "range exchanges + one tiny offsets broadcast each.  Monetary "
    "sums are integer cents (exact).",
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import exact_ntile
    from ..operators.indicators import cents

    e = load_table(spark, sf_dir, "events")
    mx = e.agg(F.max("ts").alias("__mx"))
    per_user = (
        e.groupBy("user_id")
        .agg(
            F.max("ts").alias("__last"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase", cents("value")
                ).otherwise(F.lit(0))
            ).alias("mon_cents"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "user_id",
            F.datediff("__mx", "__last").alias("rec_days"),
            "freq",
            "mon_cents",
        )
    )
    d = exact_ntile(per_user, ["rec_days", "user_id"], 4, "r_bin")
    d = exact_ntile(d, ["freq", "user_id"], 4, "f_bin")
    d = exact_ntile(d, ["mon_cents", "user_id"], 4, "m_bin")
    return (
        d.groupBy("r_bin", "f_bin", "m_bin")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(
                F.sum("mon_cents") / 100.0 / F.count(F.lit(1)), R
            ).alias("avg_monetary"),
        )
        .orderBy("r_bin", "f_bin", "m_bin")
    )


@register(
    "kfold_assign",
    oracle="""
WITH folds AS (
  SELECT ('0x' || substr(md5('cv1:' || CAST(doc_id AS VARCHAR)), 1, 15))
           ::BIGINT % 5 AS fold,
         source, n_chars
  FROM documents
)
SELECT fold, count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) AS mean_chars
FROM folds GROUP BY fold ORDER BY fold
""",
    doc="K-fold cross-validation assignment (k=5) by the engine-"
    "portable content-id hash (llm/corpus.portable_bucket): every "
    "document lands in exactly one fold, deterministically across "
    "runs, partitionings, and engines — the CV-split primitive a "
    "training pipeline needs before any honest ablation.  The output "
    "is the fold-balance dashboard (doc counts, source coverage, "
    "char mass per fold): one keyed aggregation, exact integers, "
    "k rows at any corpus size.  Complements dataset_split (fraction "
    "split) with the rotation-eval face.",
)
def kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import portable_bucket

    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("fold", portable_bucket(F.col("doc_id"), "cv1:", 5))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.sum("n_chars").alias("sum_chars"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), R
            ).alias("mean_chars"),
        )
        .orderBy("fold")
    )


@register(
    "group_holdout_split",
    oracle=r"""
WITH g AS (
  SELECT doc_id, n_chars,
         md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS grp
  FROM documents
),
assigned AS (
  SELECT doc_id, n_chars, grp,
         CASE WHEN ('0x' || substr(md5('gh1:' || grp), 1, 15))::BIGINT % 10
                   = 0
              THEN 'holdout' ELSE 'train' END AS split
  FROM g
),
straddle AS (
  SELECT count(*) AS n_straddle FROM (
    SELECT grp FROM (SELECT DISTINCT grp, split FROM assigned)
    GROUP BY grp HAVING count(*) > 1
  )
)
SELECT split, count(*) AS n_docs,
       count(DISTINCT grp) AS n_groups,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       (SELECT n_straddle FROM straddle) AS n_straddle
FROM assigned GROUP BY split ORDER BY split
""",
    doc="Duplicate-group-aware holdout split: the split key is the "
    "NORMALIZED-CONTENT hash (llm/text.md5_fingerprint — the exact-"
    "dedup canonical group), not the document id, so every copy of "
    "the same content lands on the same side — train/eval leakage "
    "through exact duplicates is impossible BY CONSTRUCTION, not "
    "merely measured after the fact (split_leakage's job).  The "
    "query emits its own proof: n_straddle counts groups seen in "
    "both splits and must read 0.  One keyed aggregation plus a "
    "groups-keyed distinct — two exchanges at any scale, ~10% "
    "holdout by the portable hash.",
)
def group_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import portable_bucket
    from ..llm.text import md5_fingerprint

    d = load_table(spark, sf_dir, "documents")
    assigned = d.select(
        "doc_id",
        "n_chars",
        md5_fingerprint("text").alias("grp"),
    ).withColumn(
        "split",
        F.when(
            portable_bucket(F.col("grp"), "gh1:", 10) == 0, "holdout"
        ).otherwise("train"),
    )
    straddle = (
        assigned.select("grp", "split")
        .distinct()
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") > 1)
        .agg(F.count(F.lit(1)).alias("n_straddle"))
    )
    return (
        assigned.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("grp").alias("n_groups"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .crossJoin(F.broadcast(straddle))
        .orderBy("split")
    )


def _int8_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared quantize-dequantize pipeline: (vec_id, label, x, r) with
    x the double-cast original and r its int8 symmetric-max-abs
    reconstruction; the dims-sized scale model rides one broadcast."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = e.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    sc = (
        ed.select(F.posexplode("x").alias("d", "v"))
        .groupBy("d")
        .agg((F.max(F.abs(F.col("v"))) / F.lit(127.0)).alias("s"))
    )
    sa = sc.agg(
        F.array_sort(F.collect_list(F.struct("d", "s"))).alias("sm")
    ).select(F.transform("sm", lambda t: t["s"]).alias("scales"))
    r = F.zip_with(
        "x",
        "scales",
        lambda x, s: F.when(s == 0, F.lit(0.0)).otherwise(
            F.round(x / s, 0) * s
        ),
    )
    return ed.crossJoin(F.broadcast(sa)).withColumn("r", r).drop("scales")


@register(
    "quantize_int8",
    oracle="""
WITH ed AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
ex AS (
  SELECT unnest(x) AS v, generate_subscripts(x, 1) AS d FROM ed
),
sc AS (SELECT d, max(abs(v)) / 127 AS s FROM ex GROUP BY d),
sa AS (SELECT list(s ORDER BY d) AS scales FROM sc),
calc AS (
  SELECT vec_id, label, x,
         list_transform(generate_series(1, len(x)),
           i -> CASE WHEN scales[i] = 0 THEN 0.0
                     ELSE round(x[i] / scales[i]) * scales[i] END) AS r
  FROM ed, sa
),
err AS (
  SELECT vec_id, label, x, r,
         list_transform(generate_series(1, len(x)),
                        i -> x[i] - r[i]) AS e
  FROM calc
)
SELECT vec_id, label,
       round(list_dot_product(e, e) / len(x), 8) AS mse,
       round(list_aggregate(list_transform(e, v -> abs(v)), 'max'), 6)
         AS max_abs_err,
       round(list_dot_product(x, r)
             / (sqrt(list_dot_product(x, x))
                * sqrt(list_dot_product(r, r))), 5) AS cos_recon
FROM err ORDER BY vec_id
""",
    doc="Int8 embedding quantization QA: symmetric per-dimension "
    "max-abs scales (the faiss/SQ8 contract — scale_d = max|x_d|/127, "
    "a 64-double model no matter the corpus size), quantize-"
    "dequantize, and per-vector reconstruction fidelity (MSE, max "
    "abs error, cosine of vector vs its reconstruction).  This is "
    "the go/no-go artifact before shrinking an ANN index 4x.  Scale "
    "shape: the scales frame is ONE dims-sized aggregate broadcast "
    "back (never collected); everything else is per-row array "
    "algebra in fixed order (zip_with/aggregate folds mirror "
    "DuckDB's list ops), so the plan is scan + tiny broadcast + "
    "scan.  Zero-variance dimensions quantize to 0 by the s=0 guard.",
)
def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import dot

    calc = _int8_recon(spark, sf_dir)
    err = calc.withColumn("e", F.zip_with("x", "r", lambda x, y: x - y))
    dim = F.size("x").cast("double")
    return err.select(
        "vec_id",
        "label",
        F.round(dot(F.col("e"), F.col("e")) / dim, 8).alias("mse"),
        F.round(
            F.array_max(F.transform("e", lambda v: F.abs(v))), R
        ).alias("max_abs_err"),
        F.round(
            dot(F.col("x"), F.col("r"))
            / (
                F.sqrt(dot(F.col("x"), F.col("x")))
                * F.sqrt(dot(F.col("r"), F.col("r")))
            ),
            5,
        ).alias("cos_recon"),
    ).orderBy("vec_id")


@register(
    "ngram_novelty",
    oracle=r"""
WITH ws AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS w
  FROM documents
),
pairs AS (
  SELECT DISTINCT doc_id,
         w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4] AS gram
  FROM ws, LATERAL (SELECT unnest(range(1, len(w) - 3)) AS i) r
),
firsts AS (SELECT gram, min(doc_id) AS first_doc FROM pairs GROUP BY gram),
totals AS (SELECT doc_id, count(*) AS n_grams FROM pairs GROUP BY 1),
novel AS (
  SELECT first_doc AS doc_id, count(*) AS n_novel FROM firsts GROUP BY 1
),
per_doc AS (
  SELECT t.doc_id, t.n_grams, coalesce(v.n_novel, 0) AS n_novel
  FROM totals t LEFT JOIN novel v USING (doc_id)
),
mx AS (SELECT max(doc_id) AS m FROM documents)
SELECT CAST(doc_id * 10 // (m + 1) AS INT) AS decile,
       count(*) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS total_grams,
       CAST(sum(n_novel) AS BIGINT) AS novel_grams,
       round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 6) AS novelty
FROM per_doc, mx
GROUP BY 1 ORDER BY decile
""",
    doc="N-gram novelty over ingestion order: for each document, the "
    "share of its distinct word-5-grams never seen in any EARLIER "
    "document (first_seen = min doc_id per gram), aggregated into "
    "doc-id deciles — the marginal-new-content curve that tells a "
    "data pipeline when additional crawl batches stop adding "
    "information (the saturating complement of dup_ngram_coverage's "
    "duplication view).  Scale shape: one distinct + one keyed min "
    "over the gram space, then per-doc novelty comes from the FIRSTS "
    "frame alone (group first_doc, count) — a docs-sized left join, "
    "never a gram-sized join-back; the decile readout is 10 rows of "
    "exact integers.",
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import word_ngrams

    d = fan_out(load_table(spark, sf_dir, "documents"))
    pairs = (
        d.select(
            "doc_id",
            F.explode(
                word_ngrams(
                    F.split(F.lower(F.trim(F.col("text"))), r"\s+"), 5
                )
            ).alias("gram"),
        )
        .distinct()
    )
    firsts = pairs.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    totals = pairs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        firsts.groupBy(F.col("first_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("__novel"))
    )
    per_doc = totals.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("__novel", F.lit(0)).alias("n_novel"),
    )
    mx = d.agg(F.max("doc_id").alias("__m"))
    return (
        per_doc.crossJoin(F.broadcast(mx))
        .groupBy(
            F.floor(
                F.col("doc_id") * 10 / (F.col("__m") + 1)
            ).cast("int").alias("decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_grams").alias("total_grams"),
            F.sum("n_novel").alias("novel_grams"),
            F.round(
                F.sum("n_novel").cast("double") / F.sum("n_grams"), R
            ).alias("novelty"),
        )
        .orderBy("decile")
    )


@register(
    "reservoir_by_source",
    oracle=r"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         ln((('0x' || substr(md5('res2:' || CAST(doc_id AS VARCHAR)),
                             1, 13))::BIGINT + 0.5)
            / 4503599627370496.0)
         / n_chars AS res_key_raw
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT doc_id, source, n_chars, res_key_raw,
         row_number() OVER (PARTITION BY source
                            ORDER BY res_key_raw DESC, doc_id)
           AS sample_rank
  FROM keyed
)
SELECT doc_id, source, n_chars, round(res_key_raw, 6) + 0 AS res_key,
       sample_rank
FROM r WHERE sample_rank <= 5
ORDER BY source, sample_rank
""",
    doc="Stratified weighted reservoir sampling (llm/corpus.py:"
    "weighted_reservoir_sample_by_group): an independent A-Res "
    "reservoir of 5 documents PER SOURCE, weights = n_chars — the "
    "per-shard sampling primitive (inspect every source's "
    "representative docs, not just the global winners).  Ranked on "
    "the UNROUNDED key like the global face (the round-7 rounding-"
    "collapse lesson applies identically here); the window partitions "
    "by source, so the plan is one group-keyed exchange with "
    "per-group top-k heaps — no global sort, no single-partition "
    "window, and per-group determinism under any partitioning.",
)
def reservoir_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import weighted_reservoir_sample_by_group

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return weighted_reservoir_sample_by_group(
        d, "source", k=5, weight_col="n_chars", seed="res2"
    ).orderBy("source", "sample_rank")


@register(
    "sessionize_events",
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_us
  FROM events
),
flagged AS (
  SELECT user_id, event_id, us,
         CASE WHEN prev_us IS NULL OR us - prev_us > 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM ordered
),
sid AS (
  SELECT user_id, us,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id, count(*) AS n_events,
         max(us) - min(us) AS dur_us
  FROM sid GROUP BY 1, 2
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS total_events,
       CAST((2 * sum(n_events) * 1000000 + count(*))
            // (2 * count(*)) AS BIGINT) / 1000000.0
         AS mean_session_events,
       CAST((2 * sum(dur_us) + count(*)) // (2 * count(*)) AS BIGINT)
         / 1000000.0 AS mean_session_secs,
       CAST(max(dur_us) AS BIGINT) / 1000000.0 AS max_session_secs
FROM sessions GROUP BY user_id
ORDER BY user_id
""",
    doc="Per-user inactivity sessionization over the events table "
    "(30-minute gap rule): lag -> gap flag -> running-sum session id "
    "-> per-session spans -> per-user session dashboard.  The "
    "user-activity complement of the quote-stream session_windows "
    "(ST8): every window partitions by user_id, so the plan is one "
    "user-keyed exchange and per-user ordered scans — the shape that "
    "holds at any user count.  All durations are exact epoch-micros "
    "BIGINT arithmetic END TO END: the per-user means round half-up "
    "at microsecond resolution via integer division div(2s + n, 2n) "
    "— a mean like sum_us/n lands EXACTLY on 6dp half-boundaries, "
    "where Spark's shortest-repr BigDecimal round and DuckDB's "
    "binary round disagree (observed at sf0.1); integer half-up "
    "sidesteps float rounding entirely, and the final /1e6 is the "
    "same exact-int-over-constant division on both engines.",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segmented-scan sessionization (round-9 rewrite): the naive
    plan's per-user window puts a power-law user's ENTIRE history in
    one task — the skew soak measured exp 1.06 and a 10x corpus
    spending ~90% of its wall time in the hot user's single sort.
    This is the classic two-phase parallel prefix instead:

    1. chunk each user's history into CALENDAR-DAY segments (a pure
       per-row column, floor(us / day) — deterministic, no extra
       exchange, unlike a range repartition); every window below
       partitions by (user_id, chunk), so the hot user's work is
       bounded by one day of their activity per task instead of
       their lifetime;
    2. per-chunk local lag + local running session count;
    3. a CHUNK-level boundary frame (<= users x active-days rows:
       last event time and session-start count per chunk) supplies
       each chunk's carry-in via tiny per-user windows over chunk
       ids;
    4. session_id = local running count + carried offset — exactly
       the integers the single-window plan produces, so the oracle
       and the registered output are unchanged.

    The hot user's cost drops from one O(n_user log n_user) task to
    per-day slices spread over all cores.  Measured on the 30%-hot-key
    soak corpus (local[32]): exp 1.06 -> 0.25, the 10x corpus 20.3s ->
    4.6s; the price is ~0.5s of constant stage latency (boundary
    windows + one small join) at sf0.1, the right trade because the
    single-task window is a hard wall at scale.  tests/test_skew.py
    pins the chunked window shape."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    ev = e.select("user_id", "event_id", us.alias("us"))
    chunked = ev.withColumn(
        "pid", F.floor(F.col("us") / F.lit(86_400_000_000))
    )
    gap = 1_800_000_000
    w_loc = Window.partitionBy("user_id", "pid").orderBy("us", "event_id")
    w_run = w_loc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # one window pass over the big frame: within-chunk lag, the
    # INTERNAL session-start flag (chunk-head rows stay 0 — their
    # verdict needs the previous chunk's last event time), and its
    # running count
    loc = (
        chunked.withColumn("prev_loc", F.lag("us").over(w_loc))
        .withColumn(
            "int_new",
            F.when(
                F.col("prev_loc").isNotNull()
                & (F.col("us") - F.col("prev_loc") > gap),
                1,
            ).otherwise(0),
        )
        .withColumn("run_int", F.sum("int_new").over(w_run))
    )
    # ALL cross-chunk state lives in one boundary frame (<= users x
    # active-days rows): whether each chunk's head row starts a
    # session, and the exclusive prefix of session starts carried in
    # from earlier chunks — tiny per-user windows over chunk ids,
    # never a corpus-sized one, and only ONE join back to the big
    # frame
    w_chunk = Window.partitionBy("user_id").orderBy("pid")
    w_off = w_chunk.rowsBetween(Window.unboundedPreceding, -1)
    bounds = (
        loc.groupBy("user_id", "pid")
        .agg(
            F.min("us").alias("first_us"),
            F.max("us").alias("last_us"),
            F.sum("int_new").alias("int_starts"),
        )
        .withColumn("prev_last", F.lag("last_us").over(w_chunk))
        .withColumn(
            "head_start",
            F.when(
                F.col("prev_last").isNull()
                | (F.col("first_us") - F.col("prev_last") > gap),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "offset",
            F.coalesce(
                F.sum(F.col("int_starts") + F.col("head_start")).over(w_off),
                F.lit(0),
            ),
        )
        .select("user_id", "pid", "head_start", "offset")
    )
    # session_id = carried offset + head-row start + internal running
    # count — exactly the single-window plan's integers
    sid = loc.join(bounds, ["user_id", "pid"]).withColumn(
        "session_id",
        F.col("offset") + F.col("head_start") + F.col("run_int"),
    )
    sessions = sid.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("us") - F.min("us")).alias("dur_us"),
    )
    n = F.count(F.lit(1))
    half_up = lambda s, d: F.call_function(  # noqa: E731 — local alias
        "div", F.lit(2) * s + d, F.lit(2) * d
    )
    return (
        sessions.groupBy("user_id")
        .agg(
            n.alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            (
                half_up(F.sum("n_events") * 1_000_000, n) / 1_000_000.0
            ).alias("mean_session_events"),
            (half_up(F.sum("dur_us"), n) / 1_000_000.0).alias(
                "mean_session_secs"
            ),
            (F.max("dur_us") / 1_000_000.0).alias("max_session_secs"),
        )
        .orderBy("user_id")
    )


@register(
    "shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
             / 10000.0, 6) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
    doc="Shipping-priority top-N (TPC-H Q3 shape): unshipped BUILDING-"
    "segment orders ranked by outstanding revenue.  The physical plan "
    "is the canonical star-join posture this engine standardizes on: "
    "the filtered customer dimension BROADCASTS (plan-gated), the "
    "orders-lineitem fact-fact join shuffles co-keyed on the order "
    "key, both date filters push to the parquet scans, and the top-10 "
    "compiles to TakeOrderedAndProject (per-partition partial top-k, "
    "never a global sort).  Revenue in exact 1e-4 integer units.",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shipping_priority_over(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


def _pagerank_oracle(iters: int = 10, scale: int = 1_000_000_000_000,
                     d: int = 85, k: int = 20) -> str:
    """Unrolled integer-PageRank oracle: the knn_graph edge CTEs (same
    plane literals) followed by one CTE per iteration — pure BIGINT
    floor arithmetic, so DuckDB reproduces Spark's ranks exactly."""
    base = (100 - d) * scale // 100
    head = "\nWITH " + _knn_graph_ctes() + f""",
edges AS (SELECT src, dst FROM r WHERE rank <= 3),
deg AS (SELECT src, count(*) AS dg FROM edges GROUP BY 1),
nodes AS (SELECT vec_id FROM embeddings),
p0 AS (SELECT vec_id, CAST({scale} AS BIGINT) AS pr FROM nodes)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
p{i} AS (
  SELECT n.vec_id,
         CAST({base} + ({d} * coalesce(s.c, 0)) // 100 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS vec_id, sum(p.pr // d.dg) AS c
    FROM edges e JOIN deg d ON e.src = d.src
                 JOIN p{i - 1} p ON p.vec_id = e.src
    GROUP BY 1
  ) s USING (vec_id)
)""")
    tail = f"""
SELECT vec_id, pr FROM p{iters}
ORDER BY pr DESC, vec_id
LIMIT {k}
"""
    return head + "".join(steps) + tail


@register(
    "pagerank_topk",
    oracle=_pagerank_oracle(),
    doc="PageRank over the document kNN similarity graph "
    "(llm/similarity.py:integer_pagerank over knn_graph's edges, 10 "
    "iterations, d=0.85): the canonical ITERATIVE distributed graph "
    "algorithm — centrality over the semantic neighborhood graph "
    "surfaces hub documents (dedup representatives, curriculum "
    "anchors).  Made exactly hash-checkable by running the recurrence "
    "in INTEGER mass units (int64 floor arithmetic end to end): a "
    "float PageRank compounds ulp drift across iterations and can "
    "never be strictly compared cross-engine, while integer sums are "
    "aggregation-order-free by construction.  Under the broadcast "
    "threshold the edges and node ids are fetched once and the 10 "
    "int64 steps run on the driver (bit-identical); above it each "
    "step is one edges-keyed join + one keyed integer sum (the Pregel "
    "step expressed relationally).  The oracle unrolls the same 10 "
    "steps as chained CTEs.  Top-20 via TakeOrdered.",
)
def pagerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # r11 verdict Next #1: read the build-once graph silver instead of
    # rebuilding the bucketed self-join + top-k window per run
    edges = knn_graph_silver(spark, sf_dir, k=3, n_planes=4).select(
        "src", "dst"
    )
    pr = SIM.integer_pagerank(
        edges, e.select("vec_id"), iters=10, scale=1_000_000_000_000
    )
    return pr.orderBy(F.desc("pr"), "vec_id").limit(20)


def _rolling_wau_oracle() -> str:
    """Sliding-window HLL oracle: per-day register files densified over
    a (day x bucket) spine, merged by 7-day windowed MAX per bucket,
    folded to estimates with the exact-integer S* contract — plus the
    exact rolling distinct as the in-plan yardstick."""
    m, w1, _ = hll_fold_constants()
    return f"""
WITH {_hll_user_regs_sql('day', 'day')},
days AS (SELECT DISTINCT day FROM hr),
spine AS (
  SELECT d.day, s.bucket
  FROM days d, (SELECT unnest(range(0, {m})) AS bucket) s
),
dense AS (
  SELECT sp.day, sp.bucket, CAST(coalesce(t.rho, 0) AS INT) AS rho
  FROM spine sp LEFT JOIN touched t USING (day, bucket)
),
merged AS (
  SELECT day, bucket,
         max(rho) OVER (PARTITION BY bucket ORDER BY day
                        RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                              AND CURRENT ROW) AS rho
  FROM dense
),
folded AS (
  SELECT day,
         CAST(sum(1::BIGINT << ({w1} - rho)) AS BIGINT) AS s_star,
         count(*) FILTER (rho = 0) AS v_zero
  FROM merged GROUP BY day
),
exact AS (
  SELECT d.day, count(DISTINCT e.user_id) AS wau_exact
  FROM days d JOIN events e
    ON e.ts >= d.day - INTERVAL 6 DAY
   AND e.ts < d.day + INTERVAL 1 DAY
  GROUP BY 1
)
SELECT f.day,
       CAST(x.wau_exact AS BIGINT) AS wau_exact,
       round({hll_estimate_sql('f.s_star', 'f.v_zero')}, 6) AS wau_est
FROM folded f JOIN exact x USING (day)
ORDER BY day
"""


@register(
    "rolling_wau_hll",
    oracle=_rolling_wau_oracle(),
    doc="Rolling 7-day active users (WAU) via MERGED HyperLogLog "
    "register files: one pass builds a 64-register file per day, a "
    "7-day windowed element-wise MAX per bucket merges them (the HLL "
    "merge law riding an ordinary range window), and each day folds "
    "to its estimate with the exact-integer S* contract — the "
    "textbook 100 TB answer to sliding-window COUNT DISTINCT, where "
    "the exact form re-scans each event into 7 windows.  State per "
    "day is 64 integers regardless of user count; the dense "
    "(day x bucket) frame is calendar-bounded.  The exact rolling "
    "distinct rides the SAME plan as the in-plan yardstick (rel_err "
    "readable by eye), formulated as an explode-7-offsets EQUI-join "
    "(linear in events; the naive days-x-events range predicate is a "
    "nested-loop the 10x soak caught super-linear) — at production "
    "scale that column is the piece you drop, the estimate tier is "
    "the face.",
)
def rolling_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..llm import vocab as VO
    m, w1, c = hll_fold_constants()

    e = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    keyed = e.select(day.alias("day"), "user_id")
    touched = VO.hll_keyed_rhos(
        keyed, "user_id", ["day"]
    ).withColumnRenamed("max_rho", "rho")
    days = keyed.select("day").distinct()
    spine = days.crossJoin(
        spark.range(0, m).select(F.col("id").cast("long").alias("bucket"))
    )
    dense = spine.join(touched, ["day", "bucket"], "left").select(
        "day",
        "bucket",
        F.coalesce("rho", F.lit(0)).cast("int").alias("rho"),
    )
    w7 = (
        Window.partitionBy("bucket")
        .orderBy(F.col("day").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    merged = dense.select(
        "day", "bucket", F.max("rho").over(w7).alias("rho")
    )
    folded = merged.groupBy("day").agg(
        # F.shiftleft only takes a Python-int shift; the SQL form
        # accepts a column (the vocab.py hll_estimate idiom)
        F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({w1} - rho AS INT))"
            )
        ).alias("s_star"),
        F.count(F.when(F.col("rho") == 0, 1)).alias("v_zero"),
    )
    raw = F.lit(c) / F.col("s_star").cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero")),
    ).otherwise(raw)
    # exact tier as an EQUI-join: each (event-day, user) pair feeds the
    # 7 window anchors it belongs to via an explode of fixed offsets —
    # linear in events, where the naive days-x-events range predicate
    # compiles to a BroadcastNestedLoopJoin whose work grows with
    # days * events (caught super-linear by the 10x soak, exp 1.41)
    du = e.select(day.alias("eday"), "user_id").distinct()
    contrib = du.select(
        F.explode(
            F.array(*[F.lit(i) for i in range(7)])
        ).alias("off"),
        "eday",
        "user_id",
    ).select(
        (F.col("eday") + F.make_dt_interval(days=F.col("off"))).alias(
            "day"
        ),
        "user_id",
    )
    exact = (
        contrib.join(days, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    return (
        folded.join(exact, "day")
        .select("day", "wau_exact", F.round(est, R).alias("wau_est"))
        .orderBy("day")
    )


@register(
    "segment_overlap",
    oracle="""
SELECT a.event_type AS type_a, b.event_type AS type_b,
       count(DISTINCT a.user_id) AS n_users
FROM (SELECT DISTINCT event_type, user_id FROM events) a
JOIN (SELECT DISTINCT event_type, user_id FROM events) b
  USING (user_id)
WHERE a.event_type <= b.event_type
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Segment-overlap matrix via BITMAPS (the Druid/ClickHouse "
    "user-segmentation trick): each event type's audience compiles to "
    "a bitmap of int64 words (word = user_id div 64, bit_or of "
    "1 << (user_id mod 64)), and every pairwise distinct-user "
    "intersection is a word-aligned AND + popcount — ONE bitmap build "
    "plus a (segments x words)-sized join computes all 15 overlaps, "
    "where the naive form runs 15 distinct-count self-joins over the "
    "full event log.  Exactness is free (bitmaps are not sketches), "
    "so the oracle can be the plain distinct-intersection SQL.  At "
    "100 TB the bitmap frame is #users/64 x #segments words — the "
    "compression that makes audience algebra interactive.",
)
def segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    word = F.call_function("div", F.col("user_id"), F.lit(64)).alias("word")
    # F.shiftleft only takes a Python-int shift; the SQL form accepts
    # a column (the vocab.py hll_estimate idiom)
    bit = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))"
    )
    bm = (
        e.select("event_type", word, bit.alias("bit"))
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
    )
    a = bm.select(
        F.col("event_type").alias("type_a"), "word",
        F.col("bits").alias("bits_a"),
    )
    b = bm.select(
        F.col("event_type").alias("type_b"), "word",
        F.col("bits").alias("bits_b"),
    )
    return (
        a.join(b, "word")
        .filter(F.col("type_a") <= F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(
                F.bit_count(
                    F.col("bits_a").bitwiseAND(F.col("bits_b"))
                ).cast("long")
            ).alias("n_users")
        )
        # drop empty intersections: two segments sharing a user-id
        # WORD BLOCK but no users would emit an n_users=0 row the
        # oracle's inner join can never produce (review-found latent
        # divergence — current testdata happens to overlap everywhere)
        .filter(F.col("n_users") > 0)
        .orderBy("type_a", "type_b")
    )


@register(
    "quantized_recall",
    oracle="""
WITH ed AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
ex AS (
  SELECT unnest(x) AS v, generate_subscripts(x, 1) AS d FROM ed
),
sc AS (SELECT d, max(abs(v)) / 127 AS s FROM ex GROUP BY d),
sa AS (SELECT list(s ORDER BY d) AS scales FROM sc),
recon AS (
  SELECT vec_id, x,
         list_transform(generate_series(1, len(x)),
           i -> CASE WHEN scales[i] = 0 THEN 0.0
                     ELSE round(x[i] / scales[i]) * scales[i] END) AS r
  FROM ed, sa
),
qf AS (SELECT x AS qx FROM recon WHERE vec_id = 0),
qq AS (SELECT r AS qr FROM recon WHERE vec_id = 0),
brute_f AS (
  SELECT vec_id,
         round(list_dot_product(x, qx)
               / (sqrt(list_dot_product(x, x))
                  * sqrt(list_dot_product(qx, qx))), 5) AS cos_sim
  FROM recon, qf
  ORDER BY cos_sim DESC, vec_id LIMIT 10
),
brute_q AS (
  SELECT vec_id,
         round(list_dot_product(r, qr)
               / (sqrt(list_dot_product(r, r))
                  * sqrt(list_dot_product(qr, qr))), 5) AS cos_sim
  FROM recon, qq
  ORDER BY cos_sim DESC, vec_id LIMIT 10
)
SELECT tier, n_hits, recall_at_10 FROM (
  SELECT 'float' AS tier, CAST(count(*) AS BIGINT) AS n_hits,
         round(count(*) / 10.0, 6) AS recall_at_10
  FROM brute_f t JOIN brute_f USING (vec_id)
  UNION ALL
  SELECT 'int8', CAST(count(*) AS BIGINT), round(count(*) / 10.0, 6)
  FROM brute_q t JOIN brute_f USING (vec_id)
)
ORDER BY tier
""",
    doc="Int8 quantization RECALL gate: top-10 cosine search run "
    "entirely in the quantized space (query AND corpus reconstructed "
    "— the symmetric-quantization serving scenario) scored against "
    "the float-space top-10.  quantize_int8 reports reconstruction "
    "ERROR; this reports the metric that actually decides the 4x "
    "index shrink — does the NEIGHBOR SET survive?  The float row is "
    "a 1.0 self-recall invariant (the ann_recall_report pattern).  "
    "Same broadcast-scales + fixed-order-fold plan shape as "
    "quantize_int8; both tiers are brute scans, so recall measures "
    "quantization alone, not bucketing.",
)
def quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.similarity import dot

    base = _int8_recon(spark, sf_dir).select("vec_id", "x", "r")

    def brute(vec_col: str, qcol_name: str, qdf: DataFrame) -> DataFrame:
        cos = F.round(
            dot(F.col(vec_col), F.col(qcol_name))
            / (
                F.sqrt(dot(F.col(vec_col), F.col(vec_col)))
                * F.sqrt(dot(F.col(qcol_name), F.col(qcol_name)))
            ),
            5,
        )
        return (
            base.crossJoin(F.broadcast(qdf))
            .select("vec_id", cos.alias("cos_sim"))
            .orderBy(F.desc("cos_sim"), "vec_id")
            .limit(10)
        )

    qf = base.filter(F.col("vec_id") == 0).select(F.col("x").alias("qx"))
    qq = base.filter(F.col("vec_id") == 0).select(F.col("r").alias("qr"))
    brute_f = brute("x", "qx", qf).select("vec_id")
    brute_q = brute("r", "qr", qq).select("vec_id")
    row_f = brute_f.join(brute_f.select("vec_id"), "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    ).select(
        F.lit("float").alias("tier"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, R).alias("recall_at_10"),
    )
    row_q = brute_q.join(brute_f, "vec_id").agg(
        F.count(F.lit(1)).alias("n_hits")
    ).select(
        F.lit("int8").alias("tier"),
        "n_hits",
        F.round(F.col("n_hits") / 10.0, R).alias("recall_at_10"),
    )
    return row_f.unionByName(row_q).orderBy("tier")


@register(
    "priority_pipeline",
    oracle="""
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY 1 ORDER BY 1
""",
    doc="Order-priority pipeline health (TPC-H Q4 shape): orders from "
    "one quarter having at least one lineitem shipped after the order "
    "date, counted by priority — the EXISTS-with-correlated-predicate "
    "face of the semi-join family (customers_with_orders_semi is the "
    "bare-EXISTS face).  Spark plans a LEFT SEMI hash join on the "
    "order key with the date filters pushed to both parquet scans; "
    "the semi join short-circuits per key, so the probe never "
    "materializes matching lineitems.  Output is priority-bounded.",
)
def priority_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_shipdate")
        # derivable static bound (see docstring): prunes the probe scan
        .filter(F.col("l_shipdate") > lo)
    )
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "funnel_windowed",
    oracle="""
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
s2 AS (
  SELECT e.user_id, s1.t1, min(e.ts) AS t FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'view' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 7 DAY GROUP BY 1, 2
),
s3 AS (
  SELECT e.user_id, s2.t1, min(e.ts) AS t FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s2.t
    AND e.ts <= s2.t1 + INTERVAL 7 DAY GROUP BY 1, 2
),
s4 AS (
  SELECT e.user_id, min(e.ts) AS t FROM events e JOIN s3 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s3.t
    AND e.ts <= s3.t1 + INTERVAL 7 DAY GROUP BY 1
),
c AS (
  SELECT 1 AS stage_ord, 'signup' AS stage, count(*) AS n_users FROM s1
  UNION ALL SELECT 2, 'view', count(*) FROM s2
  UNION ALL SELECT 3, 'click', count(*) FROM s3
  UNION ALL SELECT 4, 'purchase', count(*) FROM s4
)
SELECT stage_ord, stage, n_users,
       round(CAST(n_users AS DOUBLE)
             / first_value(n_users) OVER (ORDER BY stage_ord), 6)
         AS conv_from_start,
       round(CAST(n_users AS DOUBLE)
             / lag(n_users) OVER (ORDER BY stage_ord), 6)
         AS conv_from_prev
FROM c ORDER BY stage_ord
""",
    doc="Time-BOUNDED strict funnel (the window-funnel variant every "
    "product-analytics engine ships beside the unbounded one): each "
    "stage must fire strictly after the previous stage AND within 7 "
    "days of the user's FIRST stage, so the anchor timestamp rides "
    "the per-user frontier frame through every chained min-aggregate. "
    " Same scale shape as funnel_conversion — one user-keyed exchange "
    "per stage over a monotonically shrinking frontier — plus one "
    "carried column; the deadline predicate (ts <= anchor + 7d) "
    "cannot push to the scan (it is per-user), but it tightens each "
    "stage's frontier so later joins move fewer rows.  At sf0.01 the "
    "7-day bound drops conversion from 150/150/150/150-class "
    "unbounded counts to 150/139/117/85 — a genuinely different "
    "answer, not a re-dress of funnel_conversion.",
)
def funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    window = F.expr("INTERVAL 7 DAY")

    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
        .withColumn("t1", F.col("t"))
    )

    def next_stage(prev: DataFrame, etype: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(
                prev.select(
                    "user_id",
                    F.col("t").alias("__pt"),
                    F.col("t1").alias("__t1"),
                ),
                "user_id",
            )
            .filter(
                (F.col("ts") > F.col("__pt"))
                & (F.col("ts") <= F.col("__t1") + window)
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"), F.min("__t1").alias("t1"))
        )

    stages = [("signup", s1)]
    for etype in ("view", "click", "purchase"):
        stages.append((etype, next_stage(stages[-1][1], etype)))
    counts = None
    for i, (name, df) in enumerate(stages, start=1):
        row = df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i).alias("stage_ord"), F.lit(name).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionByName(row)
    w = Window.orderBy("stage_ord")
    return (
        counts.withColumn(
            "conv_from_start",
            F.round(
                F.col("n_users").cast("double")
                / F.first("n_users").over(w),
                R,
            ),
        )
        .withColumn(
            "conv_from_prev",
            F.round(
                F.col("n_users").cast("double") / F.lag("n_users").over(w),
                R,
            ),
        )
        .orderBy("stage_ord")
    )
