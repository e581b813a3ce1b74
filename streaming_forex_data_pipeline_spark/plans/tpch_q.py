"""Round-9 registered queries: three more classic TPC-H shapes over
the relational tables, continuing the Q1/Q3/Q4/Q5 family — each one a
canonical OLAP posture this engine standardizes on, adapted only where
the synthetic schema lacks a column (noted per query).

All money math uses the integer-cents contract (`pricing_summary`'s
pattern): extendedprice and discount become exact BIGINT cents before
any SUM, so the hash compare is aggregation-order-insensitive and the
final division by a constant is identical on both engines; the oracle
side's cents term is `plans/oracle_sql.py:_REV_C4_SQL`, shared with the
decorrelation family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.indicators import cents
from ..sources.tables import load_table
from .fragments import large_order_customers_over
from .oracle_sql import _REV_C4_SQL
from .registry import register

R = 6  # float rounding for cross-engine hash stability

@register(
    "returned_revenue",
    oracle=f"""
WITH per_cust AS (
  SELECT o.o_custkey,
         sum({_REV_C4_SQL}) AS rev_c4
  FROM orders o
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
    AND l.l_returnflag = 'R'
  GROUP BY o.o_custkey
)
SELECT c.c_custkey, c.c_name,
       round(p.rev_c4 / 10000.0, 6) AS revenue,
       round(c.c_acctbal, 6) + 0 AS c_acctbal,
       n.n_name
FROM per_cust p
JOIN customer c ON c.c_custkey = p.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    doc="Returned-item reporting (TPC-H Q10 shape, minus the contact "
    "columns the synthetic customer table does not carry): the top-20 "
    "customers by revenue lost to returns in one quarter.  The scale "
    "posture is AGGREGATE-BEFORE-DIMENSION: the orders-lineitem fact "
    "join reduces to one rev row per customer FIRST, so the customer "
    "dimension join moves per-customer rows, not per-lineitem rows "
    "(at 100 TB customer is itself fact-sized and cannot broadcast — "
    "pre-aggregation is what keeps that join small); nation "
    "broadcasts.  Both date filters push to the orders scan, the "
    "returnflag filter to the lineitem scan, and the top-20 compiles "
    "to TakeOrderedAndProject.  Revenue in exact integer cents-x-pct "
    "units until the final constant division.",
)
def returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1997-04-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    per_cust = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(rev_c4).alias("rev_c4"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        per_cust.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")
        )
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("rev_c4") / 10000.0, R).alias("revenue"),
            (F.round("c_acctbal", R) + F.lit(0)).alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "late_shipment_priority",
    oracle="""
SELECT CAST(least(floor(date_diff('day', o.o_orderdate, l.l_shipdate)
                        / 30.0), 6)
            AS INT) AS delay_bucket,
       CAST(count(*) FILTER (WHERE o.o_orderpriority IN
            ('1-URGENT', '2-HIGH')) AS BIGINT) AS high_line_count,
       CAST(count(*) FILTER (WHERE o.o_orderpriority NOT IN
            ('1-URGENT', '2-HIGH')) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY delay_bucket
ORDER BY delay_bucket
""",
    doc="Shipping-lateness priority counts (TPC-H Q12 shape; the "
    "synthetic lineitem has no shipmode/commitdate, so the grouping "
    "dimension is the order-to-ship delay in 30-day buckets capped at "
    "6; negative buckets are the synthetic data's shipped-before-"
    "ordered artifact rows, kept visible as a data-quality signal — "
    "same CASE-split-count idiom, exact integers end to end; the "
    "bucket floor runs as float-divide-then-floor on BOTH engines "
    "because DuckDB's integer // truncates toward zero on negatives "
    "where Spark floors).  "
    "One co-keyed orders-lineitem shuffle join with the year filter "
    "pushed to the orders scan; the conditional counts are one "
    "partial+final aggregate over at most 7 groups, so the reduce "
    "side is constant-size at any corpus scale.",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o.select("o_orderkey", "o_orderdate", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.least(
                F.floor(
                    F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
                    / F.lit(30)
                ),
                F.lit(6),
            )
            .cast("int")
            .alias("delay_bucket"),
            high.alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.count_if("is_high").alias("high_line_count"),
            F.count_if(~F.col("is_high")).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


@register(
    "promo_revenue_share",
    oracle=f"""
WITH joined AS (
  SELECT {_REV_C4_SQL} AS rev_c4,
         p.p_type LIKE 'PROMO%' AS is_promo
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
    AND l.l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
)
SELECT round(100.0 * (sum(CASE WHEN is_promo THEN rev_c4 ELSE 0 END)
                      / sum(rev_c4)), 6) AS promo_pct,
       round(sum(CASE WHEN is_promo THEN rev_c4 ELSE 0 END)
             / 10000.0, 6) AS promo_revenue,
       round(sum(rev_c4) / 10000.0, 6) AS total_revenue
FROM joined
""",
    doc="Promotion-revenue share (TPC-H Q14): the percentage of one "
    "month's revenue that came from PROMO-typed parts.  The part "
    "dimension BROADCASTS onto the shipdate-filtered lineitem scan "
    "(at 100 TB `part` is the catalog — millions of rows, megabytes "
    "— the textbook broadcast side), the month filter pushes to the "
    "lineitem scan, and the whole query reduces to one scalar "
    "partial+final aggregate: zero wide shuffles.  Both sums stay "
    "exact BIGINT cents-x-pct until the final constant divisions, so "
    "the percentage is a ratio of exact integers — identical double "
    "division on both engines.",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-06-01").cast("timestamp")
    hi = F.lit("1997-07-01").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    promo_c4 = F.sum(F.when(F.col("is_promo"), rev_c4).otherwise(F.lit(0)))
    total_c4 = F.sum(rev_c4)
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(F.lit(100.0) * (promo_c4 / total_c4), R).alias(
                "promo_pct"
            ),
            F.round(promo_c4 / 10000.0, R).alias("promo_revenue"),
            F.round(total_c4 / 10000.0, R).alias("total_revenue"),
        )
    )


@register(
    "large_order_customers",
    oracle="""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
           AS total_qty
  FROM lineitem
  GROUP BY 1
  HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 175
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
       round(o.o_totalprice, 6) AS o_totalprice, b.total_qty
FROM big b
JOIN orders o ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
""",
    doc="Large-volume customers (TPC-H Q18 shape): the 100 largest "
    "orders whose total line quantity exceeds 175 units, with the "
    "customer who placed each.  The scale posture is HAVING-BEFORE-"
    "JOIN: the fact-keyed aggregate (groupBy l_orderkey, a map-side-"
    "combinable integer sum) and its HAVING filter reduce the fact "
    "side to the rare qualifying orders BEFORE either dimension join "
    "touches it — at 100 TB the orders and customer joins move only "
    "the survivors, never per-lineitem rows.  Quantities ride as "
    "exact BIGINT units (the 1..50 integer grid recovered by round), "
    "so the HAVING cut and the output sums are aggregation-order-"
    "free; the top-100 compiles to TakeOrderedAndProject with a "
    "fully deterministic (totalprice DESC, orderdate, orderkey) key.",
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return large_order_customers_over(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


@register(
    "discounted_brand_revenue",
    oracle=f"""
SELECT p.p_brand,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum({_REV_C4_SQL}) / 10000.0, 6) AS revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 20 AND 30)
GROUP BY 1
ORDER BY 1
""",
    doc="Discounted revenue under a disjunction of brand/size/quantity "
    "arms (TPC-H Q19 shape, grouped per brand arm; the synthetic part "
    "has no container column, so each arm constrains brand+size+"
    "quantity).  The OR mixes columns from BOTH join sides, which no "
    "optimizer can push through the join as-is — so the plan applies "
    "the standard Q19 rewrite EXPLICITLY: the per-side relaxations "
    "(part: brand IN the three arms AND size in the union range; "
    "lineitem: quantity in the union range) are added as redundant "
    "conjuncts that DO reach the scans (99%+ of both tables never "
    "enters the join at 100 TB), the pruned part catalog broadcasts, "
    "and the exact arm disjunction evaluates as the residual on "
    "joined rows.  Revenue stays exact BIGINT cents-x-pct until the "
    "final constant division; three-group aggregate output.",
)
def discounted_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    arms = [
        ("Brand#12", 5, 1, 11),
        ("Brand#23", 10, 10, 20),
        ("Brand#4", 15, 20, 30),
    ]
    # per-side relaxations, pushed to the scans by construction
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin([a[0] for a in arms])
        & F.col("p_size").between(1, 15)
    )
    residual = None
    for brand, max_size, q_lo, q_hi in arms:
        arm = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        residual = arm if residual is None else (residual | arm)
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        li.join(
            F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(residual)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev_c4) / 10000.0, R).alias("revenue"),
        )
        .orderBy("p_brand")
    )


@register(
    "regional_supplier_volume",
    oracle=f"""
SELECT n.n_name,
       round(sum({_REV_C4_SQL}) / 10000.0, 6) AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
                AND s.s_nationkey = c.c_nationkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n.n_name
ORDER BY sum({_REV_C4_SQL}) DESC, n.n_name
""",
    doc="Local-supplier volume (TPC-H Q5): one year's revenue per "
    "ASIA nation counting only lineitems whose supplier sits in the "
    "customer's own nation.  The six-way join is staged by size: "
    "region-filtered nation (tiny) BROADCASTS into both customer and "
    "supplier, pruning each to the one region BEFORE any fact "
    "shuffle (4/5 of both sides never moves); the fact chain then "
    "runs keyed shuffles in fact order — customer-orders on custkey, "
    "then lineitem on orderkey — and the supplier join attaches on "
    "l_suppkey (left to AQE: at test scale the pruned supplier "
    "auto-broadcasts, at 100 TB it becomes a keyed shuffle join — "
    "deliberately NOT hint-pinned).  The Q5 signature predicate "
    "s_nationkey = c_nationkey evaluates as the join residual.  "
    "Output ordering uses the EXACT integer revenue (not the rounded "
    "float), so ranking is deterministic on both engines.",
)
def regional_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    asia = F.broadcast(
        n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
            "n_nationkey", "n_name"
        )
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(asia, F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_nationkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(asia, F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev_c4 = cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    return (
        c.join(o.select("o_orderkey", "o_custkey"),
               F.col("o_custkey") == F.col("c_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("s_suppkey") == F.col("l_suppkey"))
              & (F.col("s_nationkey") == F.col("c_nationkey")))
        .groupBy("n_name")
        .agg(
            F.sum(rev_c4).alias("__rev_c4"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("__rev_c4"), F.asc("n_name"))
        .select(
            "n_name",
            F.round(F.col("__rev_c4") / 10000.0, R).alias("revenue"),
            "n_lines",
        )
    )


@register(
    "forecast_revenue_change",
    oracle="""
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * CAST(round(l_discount * 100) AS BIGINT))
             / 10000.0, 6) AS revenue_lift,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    doc="Forecast-revenue-change (TPC-H Q6): the revenue that would "
    "be recovered by eliminating small discounts on small-quantity "
    "lines in one year.  The simplest-possible and therefore "
    "sharpest pushdown demonstration: NO join, one scalar aggregate, "
    "and all three predicates (shipdate range, discount band, "
    "quantity cap) must reach the parquet scan as PushedFilters with "
    "a two-column ReadSchema — at 100 TB this query is pure "
    "row-group-pruned scan bandwidth, and a plan that drags either "
    "filter above the scan reads the whole fact table "
    "(plan-gated in tests/test_plan_quality.py).  The discounted "
    "amount stays an exact BIGINT cents-x-pct sum until the final "
    "constant division.",
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1997-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= lo)
        & (F.col("l_shipdate") < hi)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    lift_c4 = F.sum(cents("l_extendedprice") * cents("l_discount"))
    return li.agg(
        F.round(lift_c4 / 10000.0, R).alias("revenue_lift"),
        F.count(F.lit(1)).alias("n_lines"),
    )
