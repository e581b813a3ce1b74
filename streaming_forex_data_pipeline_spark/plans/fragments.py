"""Spark plan builders shared by two or more plan modules.

The Q3/Q18 and funnel/cohort builders take caller-supplied frames, so
one composition serves the raw-parquet query and its probe over a
bucketed silver; `by_doc_id` orders the media codec queries.  Plan
modules import this module and ``oracle_sql``, never each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.indicators import cents

R = 6  # float rounding for cross-engine hash stability


def shipping_priority_over(
    c: DataFrame, o: DataFrame, li: DataFrame
) -> DataFrame:
    """The Q3 plan over caller-supplied (customer, orders, lineitem)
    frames — factored so the bucketed-layout probe in
    plans/pipeline_q.py runs the IDENTICAL composition over the
    co-bucketed silver tables."""
    cutoff = F.lit("1998-06-01").cast("timestamp")
    c = c.filter(F.col("c_mktsegment") == "BUILDING")
    o = o.filter(F.col("o_orderdate") < cutoff)
    li = li.filter(F.col("l_shipdate") > cutoff)
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(
            o.join(
                F.broadcast(c.select("c_custkey")),
                F.col("o_custkey") == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev_c4) / 10000.0, R).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def large_order_customers_over(
    li: DataFrame, o: DataFrame, c: DataFrame
) -> DataFrame:
    """The Q18 plan over caller-supplied frames — factored so the
    bucketed-layout probe in plans/pipeline_q.py runs the IDENTICAL
    composition over the co-bucketed silver tables."""
    qty = F.round(F.col("l_quantity")).cast("bigint")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("total_qty"))
        .filter(F.col("total_qty") > 175)
    )
    o = o.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = c.select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .orderBy(
            F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey")
        )
        .limit(100)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", R).alias("o_totalprice"),
            "total_qty",
        )
    )


def funnel_stage_frontiers(e: DataFrame) -> list[tuple[str, DataFrame]]:
    """The strict funnel's per-stage frontier frames over ANY events
    frame: stage k holds (user_id, t) = each surviving user's FIRST
    qualifying timestamp strictly after their stage k-1 time.  The
    single definition of funnel strictness — funnel_over_events counts
    the frontiers, scale_q's funnel_ttc histograms the first-to-last
    durations; a second copy of this chain would let the two readouts
    silently diverge (review-found)."""

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev.select("user_id", F.col("t").alias("__pt")), "user_id")
            .filter(F.col("ts") > F.col("__pt"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"))
        )

    s1 = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stages = [("signup", s1)]
    for etype in ("view", "click", "purchase"):
        stages.append((etype, first_after(stages[-1][1], etype)))
    return stages


def funnel_over_events(e: DataFrame) -> DataFrame:
    """The strict-sequential funnel plan over ANY events frame — shared
    by funnel_conversion (plain parquet scan) and funnel_bucketed
    (scale_q's user-bucketed silver table, where the same plan runs
    with zero user-keyed exchanges)."""
    stages = funnel_stage_frontiers(e)
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
                F.col("n_users").cast("double") / F.lag("n_users").over(w), R
            ),
        )
        .orderBy("stage_ord")
    )


def cohort_over_events(e: DataFrame) -> DataFrame:
    """The weekly-cohort retention plan over ANY events frame — shared
    by cohort_retention (raw scan) and cohort_bucketed (scale_q's
    user-bucketed silver table, where the user-keyed aggregate, the
    (user, week) distinct, and the user join all run exchange-free)."""
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n_cohort"))
    active = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    ret = (
        active.join(firsts, "user_id")
        .withColumn(
            "week_offset",
            F.floor(F.datediff("wk", "cohort") / F.lit(7.0)).cast("int"),
        )
        .groupBy("cohort", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        ret.join(sizes, "cohort")
        .select(
            "cohort",
            "week_offset",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"), R
            ).alias("retention"),
        )
        .orderBy("cohort", "week_offset")
    )


def by_doc_id(kernel, payloads: DataFrame) -> DataFrame:
    """``kernel(payloads)`` in doc_id order with the row kernel run
    once: an ``orderBy`` after the kernel samples its output for range
    bounds, a second kernel run; ranging the input does not."""
    return kernel(payloads.repartitionByRange("doc_id")).sortWithinPartitions(
        "doc_id"
    )
