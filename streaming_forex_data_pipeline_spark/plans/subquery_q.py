"""Round-10 registered queries: the TPC-H DECORRELATION family —
Q13/Q17/Q21/Q22, the four classic plan shapes where the textbook SQL
carries a correlated or existence subquery and a scale-correct engine
must rewrite it into joins and aggregates (round-9 verdict Next #2).
The star/semi/anti shapes landed in `tpch_q.py`; these are the hard
rest: a NULL-preserving outer count distribution, a correlated scalar
average, an EXISTS + NOT-EXISTS chain over the same fact, and a
global-scalar filter feeding an anti join.

Each oracle is written in the SPEC shape (the correlated/existence
subquery itself — DuckDB decorrelates internally), while the Spark
plan is the EXPLICIT rewrite a distributed engine wants, with the
posture documented per query and pinned by plan gates in
tests/test_plan_quality.py.  All money math uses the integer-cents
contract and every avg-threshold comparison is cross-multiplied into
exact integer inequality (qty < 0.2 * sum/n  <=>  5*qty*n < sum), so
no float average can land on a rounding boundary.

Reference analog: the existence-check anti-join family in
`/root/reference/app/database/repository.py:43-47` (duplicate-check
EXISTS before insert) — the same shapes at warehouse scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indicators import cents
from ..sources.tables import load_table
from .oracle_sql import _REV_C4_SQL
from .registry import register

R = 6  # float rounding for cross-engine hash stability

# the non-urgent order classes Q13's substitute filter keeps (the
# synthetic orders table has no o_comment for the spec's NOT LIKE
# '%special%requests%'; priority class is the closest join-side filter)
_ROUTINE = ("3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


@register(
    "customer_order_distribution",
    oracle=f"""
WITH per_cust AS (
  SELECT c.c_custkey,
         CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON o.o_custkey = c.c_custkey
   AND o.o_orderpriority IN {_ROUTINE!r}
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    doc="Customer order-count distribution (TPC-H Q13): how many "
    "customers placed exactly N routine-priority orders — INCLUDING "
    "the zero bucket, which is the whole point of the shape: the "
    "order filter must live in the OUTER JOIN CONDITION (not a WHERE) "
    "so customers whose every order is excluded still appear with "
    "count 0.  The Spark rewrite is aggregate-before-outer-join: "
    "orders reduce to one (custkey, count) row per customer FIRST "
    "(one map-side-combinable keyed aggregate over the filtered "
    "fact), then the LEFT join from customer preserves the no-match "
    "customers and coalesce(count, 0) realizes the NULL-preserving "
    "outer count — at 100 TB the join moves per-customer rows on "
    "both sides, never per-order rows, and the second aggregate "
    "(distribution over c_count) reduces to at most #distinct-counts "
    "groups, constant-size reduce side.",
)
def customer_order_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin(*_ROUTINE))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(per_cust, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "small_qty_revenue",
    oracle="""
SELECT round(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
             / 700.0, 6) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND 5 * CAST(round(l.l_quantity) AS BIGINT)
        * (SELECT count(*) FROM lineitem l2
           WHERE l2.l_partkey = l.l_partkey)
      < (SELECT CAST(sum(CAST(round(l2.l_quantity) AS BIGINT)) AS BIGINT)
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
""",
    doc="Small-quantity-order revenue (TPC-H Q17): yearly revenue lost "
    "if orders below 20% of a part's average quantity were not taken, "
    "for one brand.  The spec is a CORRELATED SCALAR SUBQUERY (per "
    "lineitem, the average quantity of its part) — the oracle keeps "
    "that shape; the Spark plan is the canonical decorrelation: one "
    "per-part aggregate (sum_qty, n_lines) over the brand-pruned "
    "fact, joined back on partkey.  Scale posture: the brand filter "
    "prunes part to a catalog sliver that BROADCASTS into the "
    "lineitem scan BEFORE the stats aggregate, so both fact passes "
    "touch only the brand's lines (~1/#brands of the table); the "
    "stats join is keyed on partkey and AQE broadcasts the tiny "
    "per-part frame at any scale.  The 0.2*avg threshold is "
    "cross-multiplied into the EXACT integer inequality 5*qty*n < "
    "sum_qty (quantities live on the 1..50 integer grid), so no "
    "float average exists to disagree between engines.",
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    qty = F.round(F.col("l_quantity")).cast("bigint")
    brand_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(brand_parts, F.col("p_partkey") == F.col("l_partkey"))
    )
    stats = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(qty).alias("__sum_qty"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        li.join(stats, F.col("l_partkey") == F.col("__pk"))
        .filter(F.lit(5) * qty * F.col("__n") < F.col("__sum_qty"))
        .agg(
            F.round(F.sum(cents("l_extendedprice")) / 700.0, R).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "waiting_supplier_ranking",
    oracle="""
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND date_diff('day', o.o_orderdate, l1.l_shipdate) > 60
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND date_diff('day', o.o_orderdate, l3.l_shipdate)
                        > 60)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 100
""",
    doc="Suppliers who kept orders waiting (TPC-H Q21; the synthetic "
    "lineitem has no commit/receipt dates, so 'late' is shipped more "
    "than 60 days after the order date — order-level, hence constant "
    "within the correlation group exactly like the spec's per-line "
    "receipt>commit test).  The spec chains EXISTS (another supplier "
    "participated) and NOT EXISTS (no OTHER supplier was late) over "
    "the SAME fact — the oracle keeps both subqueries; the Spark "
    "plan is the aggregate rewrite that replaces BOTH existence "
    "probes with one per-order stats frame: countDistinct(supplier) "
    "and countDistinct(late supplier) per F-order, then each late "
    "line qualifies iff n_supp >= 2 (the EXISTS) and n_late_supp == "
    "1 (the NOT EXISTS — the line's own supplier is late, so 'no "
    "other late supplier' is exactly 'one distinct late supplier').  "
    "Scale posture: the status filter pushes to the orders scan and "
    "prunes the fact join; stats and probe are co-keyed on orderkey "
    "(ONE exchange feeds both sides of the rejoin); the final count "
    "groups by supplier (map-side combinable) and the name join "
    "BROADCASTS the supplier dimension; top-100 compiles to "
    "TakeOrderedAndProject.",
)
def waiting_supplier_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    o_f = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    lines = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .withColumn(
            "__late",
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60,
        )
    )
    per_order = lines.groupBy(F.col("l_orderkey").alias("__ok")).agg(
        F.countDistinct("l_suppkey").alias("__n_supp"),
        F.countDistinct(
            F.when(F.col("__late"), F.col("l_suppkey"))
        ).alias("__n_late_supp"),
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        lines.filter(F.col("__late"))
        .join(per_order, F.col("l_orderkey") == F.col("__ok"))
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(100)
    )


# Q22's seven "country codes" — seven fixed nations of the synthetic
# catalog (the synthetic customer has no phone column to prefix-match)
_Q22_NATIONS = (
    "NATION_3",
    "NATION_6",
    "NATION_9",
    "NATION_12",
    "NATION_15",
    "NATION_18",
    "NATION_21",
)


@register(
    "idle_customer_balance",
    oracle=f"""
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) / 100.0, 6)
         AS totacctbal
FROM customer c
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE n.n_name IN {_Q22_NATIONS!r}
  AND CAST(round(c.c_acctbal * 100) AS BIGINT)
        * (SELECT count(*) FROM customer c2 WHERE c2.c_acctbal > 0.0)
      > (SELECT CAST(sum(CAST(round(c2.c_acctbal * 100) AS BIGINT))
                AS BIGINT)
         FROM customer c2 WHERE c2.c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY n.n_name
ORDER BY n.n_name
""",
    doc="Idle high-balance customers (TPC-H Q22; nation membership "
    "stands in for the spec's phone-prefix country codes, and 'no "
    "urgent orders' for 'no orders' — the synthetic data gives every "
    "customer at least one order, which would make the spec's anti "
    "join vacuously empty).  Two subquery shapes in one query, each "
    "with its distributed rewrite: the GLOBAL SCALAR threshold "
    "(average positive balance) becomes a one-row aggregate "
    "cross-joined as a broadcast — compared in exact integers via "
    "cross-multiplication (bal_cents * n_pos > sum_cents), so the "
    "float average's aggregation order cannot flip a boundary "
    "customer — and the NOT EXISTS becomes a LEFT ANTI join against "
    "the distinct urgent-order customer keys.  Scale posture: the "
    "scalar aggregate is one partial+final pass over customer; the "
    "anti join is keyed on custkey (the urgent side dedups to "
    "distinct keys first, shrinking the build side); the nation "
    "IN-list prunes via the broadcast nation dimension before the "
    "group-by, whose reduce side is at most 7 rows.",
)
def idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    bal_c = cents("c_acctbal")
    glob = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(bal_c).alias("__sum_c"),
        F.count(F.lit(1)).alias("__n_pos"),
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    n = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*_Q22_NATIONS))
        .select("n_nationkey", "n_name")
    )
    return (
        c.crossJoin(F.broadcast(glob))
        .filter(bal_c * F.col("__n_pos") > F.col("__sum_c"))
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(n, F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(bal_c) / 100.0, R).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


@register(
    "top_supplier_revenue",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(sum({_REV_C4_SQL}) AS BIGINT) AS total_c4
  FROM lineitem l
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       round(r.total_c4 / 10000.0, 6) AS total_revenue
FROM supplier s
JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_c4 = (SELECT max(total_c4) FROM revenue)
ORDER BY s.s_suppkey
""",
    doc="Top supplier by quarterly revenue (TPC-H Q15): the revenue "
    "VIEW + global-scalar-max shape — the spec compares each view row "
    "against a scalar subquery over the SAME view.  The Spark rewrite "
    "computes the view once (one keyed partial+final aggregate over "
    "the shipdate-pruned fact), derives the max as a one-row "
    "aggregate OF THAT FRAME, and broadcast-cross-joins it back as "
    "the filter — the view is never computed twice (the classic Q15 "
    "double-evaluation trap), and the tie comparison runs on the "
    "EXACT integer cents-x-pct total, so two engines can never "
    "disagree about who is 'the' top supplier on a float boundary.  "
    "The supplier dimension broadcasts onto the one-or-few winners.",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    revenue = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev_c4).alias("total_c4"))
    )
    mx = revenue.agg(F.max("total_c4").alias("__mx"))
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        revenue.crossJoin(F.broadcast(mx))
        .filter(F.col("total_c4") == F.col("__mx"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_c4") / 10000.0, R).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "cheapest_supplier_per_part",
    oracle="""
WITH sp AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS BIGINT) AS tot_c
  FROM lineitem
  GROUP BY 1, 2
)
SELECT p.p_partkey, p.p_name, s.s_name,
       round(sp.tot_c / 100.0, 6) AS min_total
FROM sp
JOIN part p ON p.p_partkey = sp.l_partkey
JOIN supplier s ON s.s_suppkey = sp.l_suppkey
WHERE sp.tot_c = (SELECT min(sp2.tot_c) FROM sp sp2
                  WHERE sp2.l_partkey = sp.l_partkey)
ORDER BY p.p_partkey, s.s_name
LIMIT 100
""",
    doc="Groupwise minimum with a correlated subquery (TPC-H Q2's "
    "min-cost-supplier shape; the synthetic schema has no partsupp, "
    "so the cost surface is each supplier's total shipped extended "
    "price per part): for every part, the supplier(s) achieving the "
    "minimum total — the spec correlates a scalar MIN subquery on the "
    "grouping key, and ties keep every achieving supplier.  The "
    "Spark rewrite is min-aggregate + rejoin: the per-(part, "
    "supplier) totals aggregate once (keyed partial+final), the "
    "per-part minimum derives from THAT frame with a second keyed "
    "aggregate, and an equi-join on (partkey, total == min) selects "
    "the achievers — both sides co-keyed on partkey, so the rejoin "
    "adds no third exchange; dimensions broadcast onto the winners.  "
    "All comparisons on EXACT integer cents — groupwise-min on a "
    "float aggregate is exactly where cross-engine ties diverge, so "
    "the total (not an average) is the cost surface.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(cents("l_extendedprice")).alias("tot_c"))
    )
    mins = sp.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.min("tot_c").alias("__min_c")
    )
    p = F.broadcast(
        load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    )
    s = F.broadcast(
        load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        sp.join(
            mins,
            (F.col("l_partkey") == F.col("__pk"))
            & (F.col("tot_c") == F.col("__min_c")),
        )
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round(F.col("tot_c") / 100.0, R).alias("min_total"),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


# --- round-10 completion of the TPC-H shape catalog: the remaining
# classic join/aggregate postures (Q7/Q8/Q9) and the two remaining
# subquery shapes (Q16's NOT-IN exclusion, Q20's nested semi over a
# correlated aggregate).  With these, every TPC-H query shape the
# synthetic schema can express has a registered, oracle-exact,
# posture-documented rendering.

_TRADE_NATIONS = ("NATION_1", "NATION_2")


@register(
    "nation_trade_volume",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       round(sum({_REV_C4_SQL}) / 10000.0, 6) AS revenue
FROM supplier s
JOIN lineitem l ON l.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
""",
    doc="Bilateral trade volume (TPC-H Q7): two years of revenue "
    "between one nation pair, by shipping direction and year.  The "
    "nation-pair disjunction becomes PER-SIDE PRUNES: the two-nation "
    "sliver of nation broadcasts into supplier AND customer before "
    "any fact shuffle (both dimensions drop to ~2/25 of their rows), "
    "and the cross-side condition reduces to supp_nation <> "
    "cust_nation as the join residual — the same per-side-relaxation "
    "move as Q19, applied to dimensions.  The fact chain shuffles in "
    "fact order (orders-customer on custkey, lineitem on orderkey, "
    "supplier on suppkey); the shipdate range pushes to the lineitem "
    "scan; revenue rides as exact integer cents-x-pct; at most "
    "2 x 2 x #years output groups.",
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    pair = F.broadcast(
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_name").isin(*_TRADE_NATIONS))
        .select("n_nationkey", "n_name")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(pair, F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(pair, F.col("n_nationkey") == F.col("c_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.round(F.sum(rev_c4) / 10000.0, R).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "market_share",
    oracle=f"""
WITH all_sales AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         {_REV_C4_SQL} AS volume_c4,
         n2.n_name AS supp_nation
  FROM part p
  JOIN lineitem l ON l.l_partkey = p.p_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
    AND p.p_type = 'STANDARD'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
)
SELECT o_year,
       round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume_c4
                      ELSE 0 END)
             / sum(volume_c4), 6) AS mkt_share
FROM all_sales
GROUP BY o_year
ORDER BY o_year
""",
    doc="National market share (TPC-H Q8): NATION_1 suppliers' share "
    "of the ASIA market for one part type, by order year.  Two "
    "broadcast prunes gate the fact chain: the region-filtered "
    "customer side (the Q5 move) and the type-filtered part catalog "
    "sliver; the supplier side joins un-pruned (its NATION is the "
    "measure, not a filter) with the nation name attached by "
    "broadcast.  The share is a ratio of two EXACT integer "
    "cents-x-pct sums aggregated in one pass (conditional numerator "
    "via CASE — no second scan, no join of two aggregates), so the "
    "final division is the only float op.  Output is #years rows.",
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(r, F.col("n_regionkey") == F.col("r_regionkey"))
                .select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    std_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type") == "STANDARD")
        .select("p_partkey")
    )
    supp_nation = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                n.select(
                    F.col("n_nationkey").alias("__nk2"),
                    F.col("n_name").alias("supp_nation"),
                )
            ),
            F.col("s_nationkey") == F.col("__nk2"),
        )
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    sales = (
        load_table(spark, sf_dir, "lineitem")
        .join(std_parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            o.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(asia_cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev_c4.alias("volume_c4"),
            "supp_nation",
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_1", F.col("volume_c4"))
        .otherwise(F.lit(0))
    )
    return (
        sales.groupBy("o_year")
        .agg(F.round(num / F.sum("volume_c4"), R).alias("mkt_share"))
        .orderBy("o_year")
    )


@register(
    "product_type_profit",
    oracle=f"""
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       round(sum({_REV_C4_SQL}
                 - CAST(round(p.p_retailprice * 100) AS BIGINT)
                   * CAST(round(l.l_quantity) AS BIGINT) * 100)
             / 10000.0, 6) AS profit
FROM part p
JOIN lineitem l ON l.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE 'red%'
GROUP BY 1, 2
ORDER BY nation, o_year DESC
""",
    doc="Product-line profit by supplier nation and year (TPC-H Q9; "
    "the synthetic schema has no partsupp supplycost, so cost = the "
    "part's retail price x quantity — same shape, catalog-priced): "
    "profit = revenue minus cost for every 'red' part, grouped by "
    "the supplying nation and order year.  The name-prefix filter "
    "prunes part to a catalog sliver that BROADCASTS into the "
    "lineitem scan carrying its retail price (no second fact pass "
    "for the cost side); orders joins on orderkey only to supply the "
    "year; nation broadcasts onto the supplier side.  Profit rides "
    "as ONE exact integer cents-x-pct expression (rev_c4 - "
    "retail_cents x qty x 100) so the sum is aggregation-order-free "
    "even though individual amounts go negative.",
)
def product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    red_parts = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey", "p_retailprice")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    n = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    qty = F.round(F.col("l_quantity")).cast("bigint")
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    amount_c4 = rev_c4 - cents("p_retailprice") * qty * F.lit(100)
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(red_parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(n, F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            "nation", F.year("o_orderdate").cast("int").alias("o_year")
        )
        .agg(F.round(F.sum(amount_c4) / 10000.0, R).alias("profit"))
        .orderBy(F.asc("nation"), F.desc("o_year"))
    )


@register(
    "supplier_diversity",
    oracle="""
SELECT p.p_brand, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#45'
  AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 0)
GROUP BY 1, 2
ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
""",
    doc="Supplier diversity per part class (TPC-H Q16; the synthetic "
    "supplier has no comment column, so the spec's "
    "complaint-exclusion NOT IN becomes negative-balance suppliers): "
    "how many distinct suppliers ship each (brand, size) class, "
    "excluding one brand, restricted to eight sizes, and never "
    "counting excluded suppliers.  The NOT IN rewrites as a LEFT "
    "ANTI join against the (tiny, broadcast) exclusion list — safe "
    "here because s_suppkey is non-null; a nullable NOT-IN column "
    "would need the null-aware variant — and both part predicates "
    "push to the part scan before its broadcast into the fact.  The "
    "distinct-count aggregate partial-aggregates on (brand, size, "
    "suppkey) before the final count — the two-level shape that "
    "keeps a hot part class from shipping raw rows.",
)
def supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#45")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    excluded = F.broadcast(
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(
            excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


@register(
    "dominant_part_suppliers",
    oracle="""
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE s.s_suppkey IN (
  SELECT sp.l_suppkey
  FROM (SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                 AS q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 2) sp
  JOIN part p ON p.p_partkey = sp.l_partkey
  WHERE p.p_name LIKE 'red%'
    AND 2 * sp.q > (SELECT CAST(sum(CAST(round(l2.l_quantity) AS BIGINT))
                           AS BIGINT)
                    FROM lineitem l2
                    WHERE l2.l_partkey = sp.l_partkey
                      AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                      AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00')
)
ORDER BY s.s_suppkey
""",
    doc="Dominant part suppliers (TPC-H Q20's nested shape; no "
    "partsupp availqty in the synthetic schema, so the inner "
    "threshold becomes market dominance: the supplier shipped MORE "
    "THAN HALF of a red part's total 1997 quantity): an IN subquery "
    "whose body itself carries a correlated scalar aggregate — the "
    "deepest nesting in the TPC-H catalog.  The rewrite flattens "
    "both levels into aggregates: per-(part, supplier) quantity and "
    "per-part total both derive from the SAME year-pruned, "
    "brand-pruned fact slice (co-keyed on partkey, one exchange feeds "
    "both), the dominance cut is the cross-multiplied EXACT integer "
    "inequality 2*q > total (no float half), and the IN collapses to "
    "a distinct key list feeding a LEFT SEMI join against supplier.  "
    "The year filter pushes to both scans; the red-part sliver "
    "broadcasts.",
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    qty = F.round(F.col("l_quantity")).cast("bigint")
    red = F.broadcast(
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("red"))
        .select("p_partkey")
    )
    li_red = (
        load_table(spark, sf_dir, "lineitem")
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi))
        .join(red, F.col("p_partkey") == F.col("l_partkey"))
        .select("l_partkey", "l_suppkey", qty.alias("__q"))
    )
    sp = li_red.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("__q").alias("q")
    )
    tot = li_red.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum("__q").alias("__tot")
    )
    dominant = (
        sp.join(tot, F.col("l_partkey") == F.col("__pk"))
        .filter(F.lit(2) * F.col("q") > F.col("__tot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        load_table(spark, sf_dir, "supplier")
        .join(
            dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )
