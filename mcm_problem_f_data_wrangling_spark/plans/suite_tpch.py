"""TPC-H-completion suite: the remaining classic decision-support
query shapes over the driver's slimmed TPC-H testdata.  The testdata
omits partsupp, so the Q2/Q11/Q20 cost/stock forms run against a
deterministically synthesized partsupp (see PARTSUPP_CTE below) that
both engines derive identically — keeping them full hash-checkable;
Q9/Q16 use availqty-free adaptations; Q12/Q19/Q21/Q22 predicates are
adapted to the columns that exist (adaptations noted per query).

Together with q01/q03/q05 (plans/suite_more.py) this completes all
22 classic TPC-H query forms: scan-heavy aggregation, semi/
anti joins with non-equi residuals, multi-way star joins, correlated
per-group thresholds, HAVING subqueries, and disjunctive OR-of-ANDs
predicates — each written the way you'd want it to run on a
1000-executor cluster (dimension broadcasts, filter pushdown, partial
aggregation, TakeOrdered top-n instead of global sorts).

Same cross-engine determinism contract as ``plans.base``: money sums
decimal-cast before summing, counts BIGINT both sides, divisions done
once in double on identical inputs.  l_quantity is integral in the
testdata, so its double sums/averages are exact in any order and need
no decimal detour.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from .base import DSUM, dsum, query, table

def _ts(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


@query(
    "q04_order_priority",
    "TPC-H Q4 order-priority checking (EXISTS semi-join with a "
    "non-equi residual).  Adapted: the reference predicate "
    "l_receiptdate > l_commitdate has no counterpart columns here, so "
    "'late' is l_shipdate > o_orderdate + 90 days — same shape: an "
    "equi semi-join on orderkey with a row-level residual comparing "
    "columns from BOTH sides.  The quarter filter pushes to the "
    "orders scan and prunes before the join; LEFT SEMI means lineitem "
    "duplicates never inflate the count and the probe side "
    "short-circuits on first match.",
    """
SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY 1
""",
    tags=("M1", "join", "tpch"),
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


@query(
    "q06_revenue_delta",
    "TPC-H Q6 forecasting-revenue-change (the pure pushdown "
    "benchmark): one lineitem scan, three range predicates that ALL "
    "reach the parquet reader as PushedFilters, one decimal-exact "
    "global sum.  At 100 TB this is the query where scan pruning is "
    "the entire game — no join, no wide shuffle, the aggregate moves "
    "one row per partition.",
    f"""
SELECT {DSUM('l_extendedprice * l_discount')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    headline=True,
    tags=("M1", "agg", "tpch"),
)
def q06_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )


@query(
    "q07_volume_shipping",
    "TPC-H Q7 volume shipping between two nations: lineitem joined "
    "through supplier AND through orders→customer to nation on both "
    "legs, nation-pair filtered, revenue per (supp_nation, "
    "cust_nation, year).  Supplier and both nation copies broadcast; "
    "customer broadcasts after its nation filter prunes it to ~2/25 "
    "of rows.  The only repartition exchange is orders⨝lineitem — "
    "the same single big-join shape as q05, now with a symmetric "
    "OR-pair predicate that Catalyst keeps OUT of the join condition "
    "(it references only broadcast-side columns, so it evaluates as a "
    "post-join filter pushed into the dim pre-join).",
    f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(EXTRACT(year FROM l.l_shipdate) AS INT) AS l_year,
       {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
    OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate <= TIMESTAMP '1997-12-31'
GROUP BY 1, 2, 3
""",
    tags=("M1", "join", "tpch"),
)
def q07_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    pair = ("NATION_3", "NATION_8")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    s = (
        table(spark, sf_dir, "supplier")
        .join(broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .join(broadcast(n.filter(F.col("n_name").isin(*pair))), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") <= _ts("1997-12-31"))
    )
    joined = (
        li.join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"))


@query(
    "q08_market_share",
    "TPC-H Q8 national market share: of all 'PROMO'-type part revenue "
    "sold to ASIA-region customers per year, what fraction came from "
    "NATION_9 suppliers?  Every dimension (part filtered to PROMO, "
    "supplier+nation, customer+nation+region filtered to ASIA) "
    "broadcasts; the share is a conditional decimal sum over the SAME "
    "aggregate pass as the denominator — one big join, one tiny "
    "shuffle, one IEEE divide per year row.  (Adapted: p_type here is "
    "a plain category so the filter is equality, not LIKE; the "
    "supplier nation plays Q8's BRAZIL.)",
    f"""
WITH flat AS (
  SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n1.n_name AS supp_nation
  FROM lineitem l
  JOIN part p     ON p.p_partkey = l.l_partkey AND p.p_type = 'PROMO'
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'ASIA'
)
SELECT o_year,
       {DSUM("CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0 END")} AS nation_volume,
       {DSUM('volume')} AS total_volume,
       {DSUM("CASE WHEN supp_nation = 'NATION_9' THEN volume ELSE 0 END")} / {DSUM('volume')} AS mkt_share
FROM flat
GROUP BY 1
""",
    tags=("M1", "join", "tpch"),
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = (
        table(spark, sf_dir, "supplier")
        .join(broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    c = (
        table(spark, sf_dir, "customer")
        .join(broadcast(n.select("n_nationkey", "n_regionkey")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = table(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    flat = (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = dsum(
        F.when(F.col("supp_nation") == "NATION_9", F.col("volume")).otherwise(F.lit(0))
    )
    total_vol = dsum("volume")
    return flat.groupBy("o_year").agg(
        nation_vol.alias("nation_volume"),
        total_vol.alias("total_volume"),
        (nation_vol / total_vol).alias("mkt_share"),
    )


@query(
    "q10_returned_items",
    "TPC-H Q10 returned-item reporting: revenue lost to returns "
    "(l_returnflag='R') per customer over one quarter, top 20.  The "
    "quarter filter prunes orders BEFORE the fact join; customer and "
    "nation broadcast onto the ≤|customer|-row aggregate, so the "
    "heavy path is one orders⨝lineitem exchange plus a "
    "TakeOrderedAndProject (per-partition heaps, 20-row merge — never "
    "a global sort).  c_custkey tie-breaks the revenue ordering so "
    "the LIMIT is deterministic.",
    f"""
SELECT c.c_custkey, c.c_name,
       {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       n.n_name, c.c_acctbal
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= TIMESTAMP '1996-10-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND l.l_returnflag = 'R'
GROUP BY 1, 2, 4, 5
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
    tags=("M1", "join", "tpch"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(o.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"))
    )
    return (
        per_cust.join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
    )


@query(
    "q13_customer_distribution",
    "TPC-H Q13 customer order-count distribution: LEFT join customer→"
    "orders (keeping order-less customers as count 0) with a join-"
    "level filter (priority <> '1-URGENT' — adapted from Q13's "
    "comment NOT LIKE, which has no column here), then a histogram of "
    "customers per order count.  Two aggregates, both map-side "
    "combinable; the left join keys on o_custkey so the filter stays "
    "in the join condition, NOT the WHERE clause (a WHERE would turn "
    "the left join inner and drop the zero bucket).",
    """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM per_cust
GROUP BY 1
""",
    tags=("M1", "join", "tpch"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("long").alias("custdist")
    )


@query(
    "q14_promo_effect",
    "TPC-H Q14 promotion effect: share of one month's revenue from "
    "PROMO-type parts.  Part is the only dimension and broadcasts; "
    "the month filter pushes to the lineitem scan; numerator and "
    "denominator come out of ONE aggregate pass (conditional decimal "
    "sum), and the final percentage is a single IEEE multiply+divide "
    "on two exact sums.",
    f"""
SELECT 100.0 * {DSUM("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
         / {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS promo_revenue_pct,
       {DSUM("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")} AS promo_revenue,
       {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS total_revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '1996-03-01'
  AND l.l_shipdate <  TIMESTAMP '1996-04-01'
""",
    tags=("M1", "agg", "tpch"),
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = dsum(F.when(F.col("p_type") == "PROMO", net).otherwise(F.lit(0)))
    total = dsum(net)
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (F.lit(100.0) * promo / total).alias("promo_revenue_pct"),
            promo.alias("promo_revenue"),
            total.alias("total_revenue"),
        )
    )


@query(
    "q15_top_supplier",
    "TPC-H Q15 top supplier: quarterly revenue per supplier, return "
    "the max-revenue supplier(s) — ties kept via equality against the "
    "max, exactly like the reference's revenue = (SELECT max(...)) "
    "subquery.  The scalar max is ONE number, so it is aggregated and "
    "inlined as a driver literal (the a09/temperature_mix precedent) "
    "instead of a degenerate single-row join; revenue is decimal-"
    "exact on both engines so the double equality is bit-safe.",
    f"""
WITH rev AS (
  SELECT l_suppkey, {DSUM('l_extendedprice * (1 - l_discount)')} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1996-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
""",
    tags=("M1", "agg", "tpch"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("total_revenue")
    )
    # O(suppliers) aggregate → ONE scalar; inline as a literal (the
    # a09 precedent) rather than a constant-key join the plan audit
    # would flag as a BroadcastNestedLoopJoin.
    max_rev = float(rev.agg(F.max("total_revenue")).collect()[0][0])
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.filter(F.col("total_revenue") == F.lit(max_rev))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q17_small_quantity_revenue",
    "TPC-H Q17 small-quantity-order revenue: average yearly revenue "
    "lost if small orders (below 20% of the part's average quantity) "
    "were not taken, for one brand.  The correlated per-part AVG "
    "subquery becomes a window average over the SAME brand-filtered "
    "join output — the brand filter broadcasts into the fact scan "
    "first, so the window partitions over ~|brand parts| keys, not "
    "all parts.  l_quantity is integral → the windowed double "
    "sum/count is exact in any order; no decimal detour needed for "
    "the threshold.",
    f"""
WITH b AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#1'
), w AS (
  SELECT l_extendedprice, l_quantity,
         SUM(l_quantity) OVER (PARTITION BY l_partkey)
           / COUNT(*) OVER (PARTITION BY l_partkey) AS avg_qty
  FROM b
)
SELECT {DSUM('l_extendedprice')} / 7.0 AS avg_yearly,
       CAST(COUNT(*) AS BIGINT) AS n_small
FROM w
WHERE l_quantity < 0.2 * avg_qty
""",
    tags=("M1", "window", "tpch"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice")
    b = li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    w = Window.partitionBy("l_partkey")
    avg_qty = F.sum("l_quantity").over(w) / F.count(F.lit(1)).over(w)
    return (
        b.withColumn("avg_qty", avg_qty)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).cast("long").alias("n_small"),
        )
    )


@query(
    "q18_large_volume_customers",
    "TPC-H Q18 large-volume customers: orders whose line quantities "
    "sum above 300, with customer attribution, top 100 by order "
    "value.  The HAVING subquery is a pre-aggregate on lineitem "
    "(map-side combinable, integral sums) whose survivors are a tiny "
    "fraction of orders — so the expensive side collapses BEFORE "
    "touching orders/customer, and both of those join broadcast-"
    "small.  o_orderkey tie-breaks the ordering for a deterministic "
    "LIMIT.",
    """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
  FROM lineitem
  GROUP BY 1
  HAVING SUM(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice, b.sum_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
    tags=("M1", "agg", "tpch"),
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").cast("double").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
    )


@query(
    "q19_disjunctive_predicates",
    "TPC-H Q19 discounted revenue under OR-of-ANDs (the disjunctive-"
    "predicate benchmark): three brand × size-range × quantity-range "
    "conjunctions OR'd together.  (Adapted: p_container/shipmode "
    "don't exist here, so p_size carries the second per-branch "
    "dimension.)  The join stays a plain broadcast equi-join on "
    "partkey with the disjunction as a residual filter — Catalyst "
    "extracts the common l_quantity bounds for partial pushdown into "
    "the fact scan while the per-branch residues evaluate post-join.",
    f"""
SELECT {DSUM('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 35)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 50)
""",
    tags=("M1", "join", "tpch"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & q.between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & q.between(10, 35))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & q.between(20, 50))
    )
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(branch)
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )


@query(
    "q22_dormant_accounts",
    "TPC-H Q22 global-sales-opportunity shape: well-funded customers "
    "(balance above the positive-balance average) with NO recent "
    "orders, counted per nation.  (Adapted: c_phone country codes "
    "don't exist, so nation plays the geography and 'no orders since "
    "2000-01-01' plays Q22's 'no orders at all' — the testdata has "
    "no fully order-less customers.)  The scalar average inlines as "
    "a driver literal (a09 precedent); the NOT EXISTS is a LEFT ANTI "
    "join against date-filtered orders, which prunes the anti side "
    "at the scan.",
    f"""
WITH thr AS (
  SELECT {DSUM('c_acctbal', 2)} / COUNT(*) AS avg_bal
  FROM customer WHERE c_acctbal > 0
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       {DSUM('c.c_acctbal', 2)} AS totacctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE c.c_acctbal > (SELECT avg_bal FROM thr)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY 1
""",
    tags=("M1", "join", "tpch"),
)
def q22_dormant_accounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0)
    # ONE scalar threshold: decimal-exact mean, inlined driver-side
    # (a09 precedent) so both engines compare against the identical
    # double.
    row = pos.agg(
        (dsum("c_acctbal", 2) / F.count(F.lit(1))).alias("avg_bal")
    ).collect()[0]
    avg_bal = float(row["avg_bal"])
    recent = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= _ts("2000-01-01")
    ).select("o_custkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        c.filter(F.col("c_acctbal") > F.lit(avg_bal))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            dsum("c_acctbal", 2).alias("totacctbal"),
        )
    )


@query(
    "q09_product_profit",
    "TPC-H Q9-shape product-type profit by supplier nation and year.  "
    "Adapted: partsupp (and ps_supplycost) doesn't exist in this "
    "schema, so cost is proxied as 10% of p_retailprice per unit — "
    "the SHAPE is Q9's: a 5-table join with profit arithmetic "
    "combining fact columns (price, discount, quantity) with a "
    "dimension attribute (retail price), aggregated by two grouping "
    "keys from different dimensions.  part/supplier/nation broadcast; "
    "orders joins the fact on orderkey; one tiny final aggregate "
    "exchange.  Profit is decimal-exact per the base contract.",
    f"""
SELECT n.n_name AS nation,
       CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
       {DSUM('l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity')} AS profit,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
    tags=("M1", "join", "tpch"),
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = (
        F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(
            dsum(profit).alias("profit"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@query(
    "q12_priority_shipping_mix",
    "TPC-H Q12-shape shipping-mode priority mix.  Adapted: no "
    "l_shipmode column, so l_linestatus plays the mode and 'late' is "
    "l_shipdate > o_orderdate + 60 days (the q04 residual) — the "
    "SHAPE is Q12's: per mode, split the line count into high-"
    "priority (1-URGENT/2-HIGH) vs low via two conditional sums in "
    "ONE aggregate pass over the joined late lines.  The join keys "
    "on orderkey with the non-equi residual evaluated in-join; both "
    "scans prune to their referenced columns.",
    """
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
         AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
         AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
GROUP BY 1
""",
    tags=("M1", "join", "tpch"),
)
def q12_priority_shipping_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_shipdate"
    )
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q16_supplier_part_mix",
    "TPC-H Q16-shape parts/supplier relationship count.  Adapted: no "
    "partsupp table, so the part↔supplier links derive from observed "
    "lineitem pairs (DISTINCT (partkey, suppkey) — the pre-aggregate "
    "that bounds everything downstream at catalog size, not fact "
    "size).  Per (brand, type, size-bucket) excluding one brand: "
    "COUNT(DISTINCT suppliers) — the exact distinct-agg shape Q16 "
    "exercises; part broadcasts onto the link table.",
    """
WITH links AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p.p_brand, p.p_type,
       CAST(floor(p.p_size / 10.0) AS INT) AS size_bucket,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM links l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_size >= 5
GROUP BY 1, 2, 3
""",
    tags=("M1", "agg", "tpch"),
)
def q16_supplier_part_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    links = (
        table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") != "Brand#1") & (F.col("p_size") >= 5))
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    return (
        links.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(
            "p_brand",
            "p_type",
            F.floor(F.col("p_size") / 10.0).cast("int").alias("size_bucket"),
        )
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "q21_waiting_orders",
    "TPC-H Q21-shape suppliers-who-kept-orders-waiting (the double-"
    "correlated EXISTS/NOT-EXISTS classic).  Adapted: 'late' is the "
    "q04 proxy (l_shipdate > o_orderdate + 90 days).  The two "
    "correlated subqueries become per-order window counts over ONE "
    "exchange on orderkey: a supplier line counts iff its order is "
    "multi-supplier (another supplier EXISTS) and it is the ONLY "
    "late supplier (no other late supplier EXISTS).  Top-10 "
    "suppliers by wait count, name tie-break, via TakeOrdered.",
    """
WITH flat AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CAST(l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY AS INT) AS is_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey AND o.o_orderstatus = 'F'
),
per_supp AS (
  SELECT l_orderkey, l_suppkey, MAX(is_late) AS supp_late
  FROM flat GROUP BY 1, 2
),
per_order AS (
  SELECT l_orderkey, l_suppkey, supp_late,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         SUM(supp_late) OVER (PARTITION BY l_orderkey) AS n_late_supp
  FROM per_supp
)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM per_order po JOIN supplier s ON s.s_suppkey = po.l_suppkey
WHERE po.supp_late = 1 AND po.n_supp > 1 AND po.n_late_supp = 1
GROUP BY 1
ORDER BY numwait DESC, s.s_name
LIMIT 10
""",
    tags=("M1", "join", "tpch"),
)
def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    flat = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .cast("int")
        .alias("is_late"),
    )
    per_supp = flat.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("supp_late")
    )
    w = Window.partitionBy("l_orderkey")
    per_order = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_late",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("supp_late").over(w).alias("n_late_supp"),
    )
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_order.filter(
            (F.col("supp_late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
        )
        .join(broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Synthesized partsupp: the driver testdata omits TPC-H's partsupp
# table, which is the only reason Q2/Q11/Q20 were out of reach.  Both
# engines derive the SAME partsupp deterministically from (part ×
# supplier-count) with dbgen's supplier-assignment shape — 4 suppliers
# per part, base offset partkey + partkey/s_cnt, stride s_cnt/4
# (i·(s_cnt div 4) stays strictly inside (0, s_cnt) for i ≤ 3, so the
# 4 suppkeys are distinct mod s_cnt for ANY supplier count ≥ 4) — and
# integer-hash availqty / supplycost.  Every arithmetic step is
# integer or a single IEEE double op on identical inputs, so Spark and
# DuckDB agree bit-for-bit and all three queries stay full
# hash-checkable.  At scale the synthesis is a zero-shuffle projection
# of the part table (the supplier count is a driver-side O(1) scalar,
# as in dbgen itself), so partsupp never materializes wider than its
# consumers need.
# ---------------------------------------------------------------------------

PARTSUPP_CTE = """
ps_base AS (
  SELECT p.p_partkey AS ps_partkey,
         CAST((p.p_partkey + (p.p_partkey // sc.s_cnt) + t.i * (sc.s_cnt // 4)) % sc.s_cnt AS BIGINT) AS ps_suppkey
  FROM part p
  CROSS JOIN (SELECT CAST(COUNT(*) AS BIGINT) AS s_cnt FROM supplier) sc
  CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS i) t
),
partsupp AS (
  SELECT ps_partkey, ps_suppkey,
         CAST((ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS INT) AS ps_availqty,
         CAST((ps_partkey * 31 + ps_suppkey * 17) % 20000 AS DOUBLE) / 100.0 + 1.0 AS ps_supplycost
  FROM ps_base
)
""".strip()


def synth_partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic partsupp (ps_partkey, ps_suppkey, ps_availqty,
    ps_supplycost) — dbgen-shaped; see PARTSUPP_CTE for the contract.

    The supplier count is a driver-side O(1) scalar (dbgen itself is
    parameterized by S) — collecting it keeps the synthesis a pure
    zero-shuffle projection of part instead of a nested-loop join
    against a 1-row frame.
    """
    p = table(spark, sf_dir, "part").select("p_partkey")
    s_cnt = table(spark, sf_dir, "supplier").count()  # O(1) scalar, documented
    ps_base = (
        p.select(
            F.col("p_partkey").alias("ps_partkey"),
            F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
        )
        .selectExpr(
            "ps_partkey",
            f"CAST((ps_partkey + (ps_partkey div {s_cnt}) + i * ({s_cnt} div 4))"
            f" % {s_cnt} AS BIGINT) AS ps_suppkey",
        )
    )
    return ps_base.selectExpr(
        "ps_partkey",
        "ps_suppkey",
        "CAST((ps_partkey * 7 + ps_suppkey * 3) % 9999 + 1 AS INT) AS ps_availqty",
        "CAST((ps_partkey * 31 + ps_suppkey * 17) % 20000 AS DOUBLE) / 100.0 + 1.0"
        " AS ps_supplycost",
    )


@query(
    "q02_min_cost_supplier",
    "TPC-H Q2 minimum-cost supplier (correlated-MIN classic, the last "
    "unreachable form now closed by the synthesized partsupp).  For "
    "STANDARD parts of size <= 15, find each part's cheapest EUROPE "
    "supplier.  The correlated subquery (MIN(ps_supplycost) per part "
    "within region) becomes ONE window-min over the partkey exchange — "
    "no self-join, no second scan; supplier⨝nation⨝region prejoins to "
    "a tiny broadcast side.  LIMIT rides a total order (acctbal desc, "
    "nation, name, part, supplier) so row selection is deterministic "
    "across engines.",
    f"""
WITH {PARTSUPP_CTE},
eu_supp AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
  FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
),
costs AS (
  SELECT ps.ps_partkey AS p_partkey, p.p_brand, ps.ps_supplycost,
         e.s_suppkey, e.s_name, e.s_acctbal, e.n_name,
         MIN(ps.ps_supplycost) OVER (PARTITION BY ps.ps_partkey) AS min_cost
  FROM partsupp ps
  JOIN eu_supp e ON ps.ps_suppkey = e.s_suppkey
  JOIN part p ON ps.ps_partkey = p.p_partkey
  WHERE p.p_type = 'STANDARD' AND p.p_size <= 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
FROM costs
WHERE ps_supplycost = min_cost
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
""",
    tags=("M1", "join", "tpch"),
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu_supp = (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 15))
        .select("p_partkey", "p_brand")
    )
    costs = (
        ps.join(broadcast(eu_supp), ps.ps_suppkey == eu_supp.s_suppkey)
        .join(broadcast(p), ps.ps_partkey == p.p_partkey)
        .withColumn(
            "min_cost",
            F.min("ps_supplycost").over(Window.partitionBy("ps_partkey")),
        )
    )
    return (
        costs.filter(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_brand",
            "ps_supplycost",
            "s_suppkey",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "s_suppkey")
        .limit(100)
        .drop("s_suppkey")
    )


@query(
    "q11_important_stock",
    "TPC-H Q11 important-stock identification (HAVING-over-scalar-"
    "subquery classic).  Inventory value per part across two nations' "
    "suppliers, keeping parts whose value exceeds a RELATIVE threshold "
    "of the grand total — the spec's absolute fraction is made "
    "scale-free (0.002 of total) so the query stays selective at every "
    "SF.  Both sums are decimal-exact (decimal addition is associative, "
    "so the global-window total matches DuckDB bit-for-bit); the grand "
    "total is one empty-partition window over the already-aggregated "
    "per-part table — no rescan, no nested-loop join; the per-part "
    "aggregate is partial+final around one partkey shuffle.",
    f"""
WITH {PARTSUPP_CTE},
filtered AS (
  SELECT ps.ps_partkey, ps.ps_availqty, ps.ps_supplycost
  FROM partsupp ps
  JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name IN ('NATION_7', 'NATION_19')
),
val AS (
  SELECT ps_partkey,
         SUM(CAST(ps_supplycost * ps_availqty AS DECIMAL(18,6))) AS part_value_dec
  FROM filtered GROUP BY 1
)
SELECT ps_partkey, CAST(part_value_dec AS DOUBLE) AS part_value
FROM (
  SELECT ps_partkey, part_value_dec,
         SUM(part_value_dec) OVER () AS total_dec
  FROM val
)
WHERE CAST(part_value_dec AS DOUBLE) > 0.002 * CAST(total_dec AS DOUBLE)
ORDER BY part_value DESC, ps_partkey
""",
    tags=("M1", "agg", "tpch"),
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_7", "NATION_19")
    )
    supp_keys = s.join(broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    filtered = ps.join(broadcast(supp_keys), ps.ps_suppkey == F.col("s_suppkey"))
    val = filtered.groupBy("ps_partkey").agg(
        F.sum(
            (F.col("ps_supplycost") * F.col("ps_availqty")).cast("decimal(18,6)")
        ).alias("part_value_dec")
    )
    return (
        val.withColumn(
            "total_dec", F.sum("part_value_dec").over(Window.partitionBy())
        )
        .filter(
            F.col("part_value_dec").cast("double")
            > F.lit(0.002) * F.col("total_dec").cast("double")
        )
        .select(
            "ps_partkey", F.col("part_value_dec").cast("double").alias("part_value")
        )
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


@query(
    "q20_potential_promo_suppliers",
    "TPC-H Q20 potential-part-promotion (nested semi-join chain).  "
    "Suppliers in one nation holding excess stock (availqty > half the "
    "1996 shipped quantity) of any 'small' part.  The inner correlated "
    "subquery becomes a pre-aggregated (partkey, suppkey) shipped-"
    "quantity table joined once; the part-name filter is a broadcast "
    "semi-join that prunes partsupp before the fact-side join; the "
    "outer IN becomes a distinct-suppkey semi-join into supplier.",
    f"""
WITH {PARTSUPP_CTE},
shipped AS (
  SELECT l_partkey, l_suppkey, {DSUM('l_quantity')} AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate <  TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
),
excess AS (
  SELECT DISTINCT ps.ps_suppkey
  FROM partsupp ps
  JOIN part p ON ps.ps_partkey = p.p_partkey AND p.p_name LIKE 'small%'
  JOIN shipped sh ON sh.l_partkey = ps.ps_partkey AND sh.l_suppkey = ps.ps_suppkey
  WHERE ps.ps_availqty > 0.5 * sh.qty
)
SELECT s.s_name, s.s_acctbal
FROM supplier s
JOIN excess e ON s.s_suppkey = e.ps_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3'
ORDER BY s.s_name
""",
    tags=("M1", "join", "tpch"),
)
def q20_potential_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ps = synth_partsupp(spark, sf_dir)
    small_parts = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    shipped = (
        table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum("l_quantity").alias("qty"))
    )
    excess = (
        ps.join(broadcast(small_parts), ps.ps_partkey == F.col("p_partkey"), "left_semi")
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    return (
        s.join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(excess), F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
