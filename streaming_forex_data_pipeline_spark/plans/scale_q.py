"""Round-9 scale-layout and graph/semi-structured queries.

Three capabilities a 100 TB deployment leans on that the registry did
not yet exercise:

- a BUCKETED silver layout for the power-law-keyed events table: the
  one-time bucketed write is the standing answer to every later
  user-keyed shuffle — funnels, cohorts, sessionization all become
  exchange-free on the fact side (`funnel_bucketed` proves it with the
  exact funnel_conversion oracle and a plan gate pinning zero
  user-keyed Exchange nodes);
- exact triangle counting over the document kNN graph via the
  degree-oriented wedge join (`llm/similarity.py:triangle_counts`) —
  the graph-cohesion companion to pagerank_topk;
- semi-structured JSON extraction over the events `props` column with
  the parse kept JVM-side (`get_json_object`, never a Python UDF).

Registered LAST (after tpch_q) so every earlier registration index —
the driver's evidence-rotation tie-break — stays where its historical
samples left it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..llm import similarity as SIM
from ..llm.silvers import knn_graph_silver
from ..llm.vocab import hll_fold_constants
from ..sources.tables import load_table
from .fragments import (
    cohort_over_events,
    funnel_over_events,
    funnel_stage_frontiers,
)
from .oracle_sql import _hll_user_regs_sql, _knn_graph_ctes, hll_estimate_sql
from .registry import _REGISTRY, register

R = 6


@register(
    "triangle_topk",
    oracle="\nWITH "
    + _knn_graph_ctes()
    + """,
edges AS (SELECT src, dst FROM r WHERE rank <= 3),
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst
),
deg AS (
  SELECT node, count(*) AS dg FROM (
    SELECT a AS node FROM und UNION ALL SELECT b FROM und
  ) GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM und e1
  JOIN und e2 ON e2.a = e1.b
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tn AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY 1
)
SELECT d.node AS vec_id,
       CAST(d.dg AS BIGINT) AS degree,
       CAST(coalesce(tn.n_triangles, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN d.dg >= 2
                  THEN 2.0 * coalesce(tn.n_triangles, 0)
                       / (d.dg * (d.dg - 1))
                  ELSE 0.0 END, 6) AS clustering
FROM deg d LEFT JOIN tn USING (node)
ORDER BY n_triangles DESC, vec_id
LIMIT 20
""",
    doc="Exact triangle census over the document kNN similarity graph "
    "(llm/similarity.py:triangle_counts over knn_graph's edges — the "
    "same k=3/4-plane graph pagerank_topk ranks): per-node triangle "
    "count, degree, and local clustering coefficient; top-20 by "
    "triangles.  Tight clusters mark paraphrase pockets / template "
    "families worth a near-dup re-visit.  The registered plan is the "
    "DEGREE-ORIENTED node-iterator: every undirected edge is oriented "
    "from its (degree,id)-smaller endpoint, wedges come only from "
    "out-neighbor pairs, and each triangle is generated exactly once "
    "at its unique two-out-edge apex — the orientation bounds wedge "
    "fan-out by out-degree (O(sqrt(m)) on any graph), which is what "
    "keeps a power-law hub from emitting deg^2 wedges at 100 TB.  "
    "Counts are exact integers; the clustering ratio divides exact "
    "ints identically on both engines.  The oracle closes ascending "
    "(a<b<c) triples over the same edge CTEs — orientation-free but "
    "triangle-identical.",
)
def triangle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r11 verdict Next #1: read the build-once graph silver instead of
    # rebuilding the bucketed self-join + top-k window per run
    edges = knn_graph_silver(spark, sf_dir, k=3, n_planes=4).select(
        "src", "dst"
    )
    t = SIM.triangle_counts(edges)
    return (
        t.select(
            F.col("node").alias("vec_id"),
            "degree",
            "n_triangles",
            F.round("clustering", R).alias("clustering"),
        )
        .orderBy(F.desc("n_triangles"), F.asc("vec_id"))
        .limit(20)
    )


@register(
    "props_json_stats",
    oracle="""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT CAST(json_extract_string(props, '$.k')
                                AS BIGINT)) AS BIGINT) AS n_distinct_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_sum,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_min,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS k_max
FROM events
GROUP BY 1
ORDER BY 1
""",
    doc="Semi-structured extraction over the events `props` JSON "
    "column: per-event-type stats of the numeric `$.k` property.  "
    "The parse stays JVM-side (`get_json_object` inside whole-stage "
    "codegen — never a Python UDF), absent keys flow as NULLs through "
    "the aggregates on both engines, and every output is an exact "
    "integer.  Physical shape: one projection + one small-group "
    "aggregate over a single scan — per-row JSON parse is the only "
    "cost, which is the correct 100 TB shape for schema-on-read "
    "property bags (when several keys are pulled at once the "
    "from_json single-parse variant applies; one key needs none).",
)
def props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        load_table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("k").alias("n_distinct_k"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
        .orderBy("event_type")
    )


def _ensure_events_bucketed(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> str:
    """Build-if-missing a BUCKETED-by-user_id silver copy of the events
    table and register it in this session's catalog; returns the table
    name.  The silver-cache protocol throughout: the location is keyed
    by the events corpus fingerprint under the per-user 0700 scratch
    root, the build is published through `scratch.build_once` (losers
    of a concurrent race adopt the winner's files — same fingerprint,
    same bytes), and later sessions re-attach
    by CREATE TABLE over the existing files, never rewriting them.

    Bucket files are written one-per-bucket (the pre-write repartition
    uses the same murmur3 hash bucketBy assigns with), sorted by
    (user_id, ts) within each bucket.  8 buckets at test scale; the
    layout is what a 100 TB deployment writes once with thousands of
    buckets so every later user-keyed join/aggregate is exchange-free.
    """
    from ..sources.layout import ensure_bucketed_silver
    from ..sources.scratch import corpus_fingerprint

    return ensure_bucketed_silver(
        spark,
        load_table(spark, sf_dir, "events"),
        corpus_fingerprint(sf_dir, table="events"),
        "events_by_user",
        "user_id",
        ("user_id", "ts"),
        n_buckets=n_buckets,
    )


@register(
    "funnel_bucketed",
    oracle=_REGISTRY["funnel_conversion"].oracle,
    doc="The strict-sequential funnel (funnel_conversion's exact plan "
    "and oracle) probing the BUCKETED-by-user_id silver events table "
    "instead of the raw parquet: because every stage frame inherits "
    "the scan's HashPartitioning(user_id), the 4 chained per-user "
    "min-aggregates and the 3 stage joins all satisfy their "
    "distribution requirements from the LAYOUT — the executed plan "
    "carries ZERO user-keyed Exchange nodes (pinned in "
    "tests/test_plan_quality.py), versus one exchange per stage on "
    "the raw scan.  This is the standing answer to the power-law "
    "user-key shuffle at 100 TB: pay the partitioning once at ingest "
    "(the bucketed write), and every funnel/cohort/sessionize run "
    "after it moves no fact rows at all.  The build amortizes via the "
    "fingerprint-keyed silver cache (same protocol as the IVF index); "
    "the registered query measures the probe.",
)
def funnel_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _ensure_events_bucketed(spark, sf_dir)
    return funnel_over_events(spark.table(tbl))


@register(
    "cohort_bucketed",
    oracle=_REGISTRY["cohort_retention"].oracle,
    doc="Weekly cohort retention (cohort_retention's exact plan and "
    "oracle) probing the bucketed-by-user_id silver events table: the "
    "per-user first-event aggregate, the (user, week) DISTINCT, and "
    "the users join all satisfy their distribution requirements from "
    "the layout — zero user-keyed Exchange nodes (plan-gated); the "
    "only remaining exchanges are cohort-keyed over users-sized "
    "frames.  Second proof (after funnel_bucketed) that ONE bucketed "
    "write amortizes across the whole event-analytics family.  "
    "sessionize_events is deliberately NOT given a bucketed probe: "
    "its round-9 segmented scan SPREADS a power-law user across "
    "(user, day) chunk tasks, and a user-bucketed read would undo "
    "exactly that — layout co-location and skew-spread pull opposite "
    "ways there, and the skew soak showed spread wins.",
)
def cohort_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _ensure_events_bucketed(spark, sf_dir)
    return cohort_over_events(spark.table(tbl))


@register(
    "funnel_ttc",
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
)
SELECT CAST(date_diff('second', s1.t, s4.t) // 86400 AS BIGINT)
         AS days_to_convert,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(min(date_diff('second', s1.t, s4.t)) AS BIGINT) AS min_ttc_sec,
       CAST(max(date_diff('second', s1.t, s4.t)) AS BIGINT) AS max_ttc_sec
FROM s4 JOIN s1 USING (user_id)
GROUP BY 1
ORDER BY 1
""",
    doc="Time-to-convert distribution for the strict funnel's full "
    "converters: for every user who completed signup -> view -> click "
    "-> purchase in strict sequence (funnel_conversion's frontier "
    "chain), the signup-to-purchase duration, histogrammed in whole "
    "days with per-bucket min/max seconds.  A genuinely different "
    "readout from the funnel counts (HOW LONG conversion takes, not "
    "how many convert); the physical shape adds one users-keyed join "
    "of the stage-1 and stage-4 frontier frames to the funnel's "
    "chained aggregates, and the histogram output is calendar-bounded "
    "at any corpus size.  Durations are exact integer seconds "
    "(date_diff on both engines; the day bucket is an exact floor of "
    "non-negative ints).",
)
def funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    stages = funnel_stage_frontiers(e)
    s1, s4 = stages[0][1], stages[-1][1]
    ttc = (
        s4.select("user_id", F.col("t").alias("t4"))
        .join(s1.select("user_id", F.col("t").alias("t1")), "user_id")
        .select(
            # second-BOUNDARY crossings (truncate each endpoint to its
            # second, then diff) — DuckDB date_diff('second') semantics,
            # NOT floor of the microsecond delta (off by one whenever
            # the start's sub-second fraction exceeds the end's)
            (
                F.floor(F.unix_micros("t4") / F.lit(1_000_000))
                - F.floor(F.unix_micros("t1") / F.lit(1_000_000))
            )
            .cast("long")
            .alias("ttc_sec"),
        )
    )
    return (
        ttc.groupBy(
            F.floor(F.col("ttc_sec") / F.lit(86400))
            .cast("long")
            .alias("days_to_convert")
        )
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.min("ttc_sec").alias("min_ttc_sec"),
            F.max("ttc_sec").alias("max_ttc_sec"),
        )
        .orderBy("days_to_convert")
    )


@register(
    "user_history_rollup",
    oracle="""
SELECT user_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         AS value_cents
FROM events
WHERE user_id = 7
GROUP BY 1, 2
ORDER BY day
""",
    doc="Point-lookup serving off the SAME bucketed layout the "
    "analytics run on: one user's per-day event counts and exact "
    "cents value totals.  Because the filter hits the bucket key, the "
    "scan BUCKET-PRUNES — the executed plan reads 1 of 8 bucket files "
    "(SelectedBucketsCount, plan-gated), so at 100 TB a user lookup "
    "touches 1/n_buckets of the corpus by FILE INDEX before any row "
    "filter runs; the user-keyed rollup then satisfies its "
    "distribution from the layout (no exchange).  The third face of "
    "the one bucketed write: batch analytics (funnel/cohort), "
    "streaming maintenance, and serving lookups off one layout.  "
    "Oracle is layout-free SQL over the raw events — same answer by "
    "construction.",
)
def user_history_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    tbl = _ensure_events_bucketed(spark, sf_dir)
    return (
        spark.table(tbl)
        .filter(F.col("user_id") == 7)
        .groupBy(
            "user_id", F.date_trunc("day", "ts").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "value_cents"
            ),
        )
        .orderBy("day")
    )


@register(
    "value_deciles",
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS vc,
         NTILE(10) OVER (PARTITION BY event_type
                         ORDER BY CAST(round(value * 100) AS BIGINT),
                                  event_id) AS decile
  FROM events
)
SELECT event_type, decile,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(vc) AS BIGINT) AS lo_cents,
       CAST(max(vc) AS BIGINT) AS hi_cents,
       CAST(sum(vc) AS BIGINT) AS sum_cents
FROM b
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Per-group EXACT decile bands of event value "
    "(llm/corpus.py:exact_ntile_by): SQL's NTILE(10) OVER (PARTITION "
    "BY event_type ORDER BY value) — but the registered plan is the "
    "grouped two-level rank construction, not a window that "
    "serializes each group through one sort task (the same power-law "
    "wall the segmented sessionize avoids: at 100 TB a hot event "
    "type IS most of the corpus).  Range-repartition on (group, "
    "value) bounds every local window by a partition slice; all "
    "cross-partition state is the broadcast (#partitions x #groups) "
    "offset frame.  Values ride as exact 2dp-grid cents, so bin "
    "edges, sums, and the oracle's NTILE agree bit-for-bit.",
)
def value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..llm.corpus import exact_ntile_by

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        "event_id",
    )
    binned = exact_ntile_by(
        ev, ["event_type"], ["vc", "event_id"], 10, out_col="decile"
    )
    return (
        binned.groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("vc").alias("lo_cents"),
            F.max("vc").alias("hi_cents"),
            F.sum("vc").alias("sum_cents"),
        )
        .orderBy("event_type", "decile")
    )


def _week_overlap_oracle() -> str:
    """Weekly HLL-overlap oracle: per-week register files, adjacent
    weeks paired by bucket-wise LAG, union = element-wise max,
    intersection = inclusion-exclusion over the three estimates —
    every estimate folded from the exact-integer S* contract."""
    m, w1, _ = hll_fold_constants()
    return f"""
WITH {_hll_user_regs_sql('week', 'wk')},
weeks AS (SELECT DISTINCT wk FROM hr),
spine AS (
  SELECT w.wk, s.bucket
  FROM weeks w, (SELECT unnest(range(0, {m})) AS bucket) s
),
dense AS (
  SELECT sp.wk, sp.bucket, CAST(coalesce(t.rho, 0) AS INT) AS rho
  FROM spine sp LEFT JOIN touched t USING (wk, bucket)
),
paired AS (
  SELECT wk, bucket, rho,
         lag(rho) OVER (PARTITION BY bucket ORDER BY wk) AS rho_prev,
         lag(wk) OVER (PARTITION BY bucket ORDER BY wk) AS wk_prev
  FROM dense
),
pp AS (SELECT * FROM paired WHERE wk_prev = wk - INTERVAL 7 DAY),
folded AS (
  SELECT wk,
         CAST(sum(1::BIGINT << ({w1} - rho_prev)) AS BIGINT) AS sa,
         count(*) FILTER (rho_prev = 0) AS va,
         CAST(sum(1::BIGINT << ({w1} - rho)) AS BIGINT) AS sb,
         count(*) FILTER (rho = 0) AS vb,
         CAST(sum(1::BIGINT << ({w1} - greatest(rho, rho_prev)))
              AS BIGINT) AS su,
         count(*) FILTER (greatest(rho, rho_prev) = 0) AS vu
  FROM pp GROUP BY 1
),
wu AS (
  SELECT DISTINCT CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk, user_id
  FROM events
),
exact AS (
  SELECT b.wk, count(DISTINCT b.user_id) AS overlap_exact
  FROM wu b JOIN wu a
    ON a.user_id = b.user_id AND a.wk = b.wk - INTERVAL 7 DAY
  GROUP BY 1
)
SELECT f.wk,
       CAST(coalesce(x.overlap_exact, 0) AS BIGINT) AS overlap_exact,
       round({hll_estimate_sql('f.sa', 'f.va')}, 6) AS prev_est,
       round({hll_estimate_sql('f.sb', 'f.vb')}, 6) AS cur_est,
       round({hll_estimate_sql('f.su', 'f.vu')}, 6) AS union_est,
       round(({hll_estimate_sql('f.sa', 'f.va')}) + ({hll_estimate_sql('f.sb', 'f.vb')})
             - ({hll_estimate_sql('f.su', 'f.vu')}), 6) AS overlap_est
FROM folded f LEFT JOIN exact x USING (wk)
ORDER BY wk
"""


@register(
    "week_overlap_hll",
    oracle=_week_overlap_oracle(),
    doc="Week-over-week active-user OVERLAP via HyperLogLog set "
    "algebra: adjacent weeks' register files pair bucket-wise (LAG "
    "over the calendar spine), the UNION sketch is the element-wise "
    "max (the HLL merge law), and the intersection estimate is "
    "inclusion-exclusion est(A)+est(B)-est(AUB) — the retention "
    "diagnostic at sketch cost, beside the exact overlap (a "
    "users-keyed distinct self-join) as the in-plan yardstick.  "
    "Completes the sketch algebra the registry exercises: union "
    "(rolling_wau_hll's windowed max), per-group files "
    "(hll_by_source), and now intersection.  All three estimates "
    "fold from exact-integer S* sums (llm/vocab.py:hll_keyed_rhos / "
    "hll_estimate contract), so the floats are per-row constant "
    "algebra and the hash check is exact.  State per week pair is "
    "3x64 integers at any corpus size.",
)
def week_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    return week_overlap_over_events(
        spark, load_table(spark, sf_dir, "events")
    )


def week_overlap_over_events(spark: SparkSession, e: DataFrame) -> DataFrame:
    """The HLL week-overlap plan over ANY events frame — factored so
    the zero-overlap shape (adjacent weeks with disjoint users) is
    unit-testable on a crafted frame."""
    from pyspark.sql import Window

    from ..llm import vocab as VO
    m, w1, c = hll_fold_constants()

    wk = F.date_trunc("week", F.col("ts"))
    keyed = e.select(wk.alias("wk"), "user_id")
    touched = VO.hll_keyed_rhos(
        keyed, "user_id", ["wk"]
    ).withColumnRenamed("max_rho", "rho")
    weeks = keyed.select("wk").distinct()
    spine = weeks.crossJoin(
        spark.range(0, m).select(F.col("id").cast("long").alias("bucket"))
    )
    dense = spine.join(touched, ["wk", "bucket"], "left").select(
        "wk",
        "bucket",
        F.coalesce("rho", F.lit(0)).cast("int").alias("rho"),
    )
    wlag = Window.partitionBy("bucket").orderBy("wk")
    paired = (
        dense.withColumn("rho_prev", F.lag("rho").over(wlag))
        .withColumn("wk_prev", F.lag("wk").over(wlag))
        .filter(
            F.col("wk_prev")
            == F.col("wk") - F.make_dt_interval(days=F.lit(7))
        )
    )

    def s_star(rho_col) -> F.Column:
        return F.sum(
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST({w1} - {rho_col} AS INT))"
            )
        )

    u = F.greatest("rho", "rho_prev")
    folded = paired.withColumn("rho_u", u).groupBy("wk").agg(
        s_star("rho_prev").alias("sa"),
        F.count(F.when(F.col("rho_prev") == 0, 1)).alias("va"),
        s_star("rho").alias("sb"),
        F.count(F.when(F.col("rho") == 0, 1)).alias("vb"),
        s_star("rho_u").alias("su"),
        F.count(F.when(F.col("rho_u") == 0, 1)).alias("vu"),
    )

    def est(s: str, v: str) -> F.Column:
        raw = F.lit(c) / F.col(s).cast("double")
        return F.when(
            (raw <= F.lit(2.5 * m)) & (F.col(v) > 0),
            F.lit(float(m))
            * F.log(F.lit(float(m)) / F.col(v).cast("double")),
        ).otherwise(raw)

    wu = keyed.distinct()
    exact = (
        wu.alias("b")
        .join(
            wu.alias("a"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (
                F.col("a.wk")
                == F.col("b.wk") - F.make_dt_interval(days=F.lit(7))
            ),
        )
        .groupBy(F.col("b.wk").alias("wk"))
        .agg(F.countDistinct("b.user_id").alias("overlap_exact"))
    )
    # LEFT join + coalesce: two adjacent weeks with DISJOINT user sets
    # have no exact-overlap row, and an inner join would drop the week
    # exactly when retention collapses — the moment the diagnostic
    # matters most (review-found; the oracle mirrors the shape)
    return (
        folded.join(exact, "wk", "left")
        .select(
            "wk",
            F.coalesce("overlap_exact", F.lit(0)).alias("overlap_exact"),
            F.round(est("sa", "va"), R).alias("prev_est"),
            F.round(est("sb", "vb"), R).alias("cur_est"),
            F.round(est("su", "vu"), R).alias("union_est"),
            F.round(
                est("sa", "va") + est("sb", "vb") - est("su", "vu"), R
            ).alias("overlap_est"),
        )
        .orderBy("wk")
    )
