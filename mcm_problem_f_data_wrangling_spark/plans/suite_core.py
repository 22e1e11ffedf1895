"""Relational + window query suite (SURVEY.md §2.1-§2.7 coverage).

Every SURVEY §2 operator that is SQL-expressible appears here as a
(Spark plan, DuckDB oracle) pair over the driver testdata
(FIXTURES.md role mapping: lineitem/orders = CES fact, part/supplier/
customer/nation/region = dimensions, events = timestamped series).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.cleaning import to_double_coerce
from ..functions.datefn import month_end, synthesize_date
from ..functions.predicates import ci_contains, code_matches, naics_mask
from ..functions.rolling import (
    cumulative_sum,
    diff,
    index_rebase,
    pct_change,
    rolling_avg,
    rolling_corr,
    rolling_median,
    rolling_std,
    tail_slice_flag,
)
from ..operators.grid import force_complete_month_grid
from ..operators.skew import spread
from .base import DSUM, MONTH_OF, MONTHLY_CTE, dsum, month_of, monthly_lineitem, query, table

# --------------------------------------------------------------------------
# Flagship: the collapse_career pipeline re-expressed over the fixtures
# (SURVEY.md §7 minimum slice: S→P5/P6/P8→J3→A1/A2→J5→W10 in one plan).
# --------------------------------------------------------------------------

_FLAGSHIP_SQL = f"""
WITH filt AS (
  SELECT {MONTH_OF('l.l_shipdate')} AS month, p.p_brand, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE regexp_matches(l.l_returnflag, '^[AR]$')
    AND (coalesce(p.p_type, '') IN ('PROMO', 'ECONOMY', 'STANDARD')
         OR starts_with(coalesce(p.p_type, ''), 'PROMO')
         OR starts_with(coalesce(p.p_type, ''), 'ECONOMY')
         OR starts_with(coalesce(p.p_type, ''), 'STANDARD'))
), per_brand AS (
  SELECT month, p_brand,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS w_dec,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS p
  FROM filt GROUP BY 1, 2
)
SELECT month,
       CAST(SUM(w_dec) AS DOUBLE) AS total_qty,
       ROUND(SUM(p * CAST(w_dec AS DOUBLE)) / SUM(CAST(w_dec AS DOUBLE)), 4)
         AS avg_price_weighted
FROM per_brand
GROUP BY month
ORDER BY month
""".strip()


@query(
    "flagship_career_collapse",
    "collapse_career re-expressed over lineitem/part: regex filter (P5) + "
    "exact-or-prefix dim predicate (P8) + broadcast fact⨝dim (J3) + "
    "group-sum (A1) + weighted mean (A2) + sort (W10). "
    "Parity: bls_ces/prep_CES_pandas.py:69-102,155-183.",
    _FLAGSHIP_SQL,
    headline=True,
    tags=("flagship", "M1"),
)
def flagship_career_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale note: the reference splits emp/earn rows then joins the two
    monthly aggregates (J5, prep_CES_pandas.py:97).  A literal self-join
    here would rescan the fact table — branch-divergent column pruning
    defeats exchange reuse — so the 100 TB-correct plan folds both
    metrics into ONE conditional aggregation over a single scan
    (SURVEY.md §4: split-then-aggregate ≡ pivot/conditional agg).  The
    genuine two-source aggregate join is exercised by
    ``j05_two_aggregate_join``; the faithful split+join form of the CES
    pipeline itself lives in ``operators.collapse.collapse_career``.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type")
    filt = (
        li.filter(F.col("l_returnflag").rlike("^[AR]$"))  # P5 regex filter
        .join(broadcast(part), F.col("l_partkey") == F.col("p_partkey"))  # J3
        .filter(code_matches("p_type", ["PROMO", "ECONOMY", "STANDARD"]))  # P8
        .select(month_of("l_shipdate").alias("month"), "p_brand", "l_quantity", "l_extendedprice")
    )
    # per-industry(brand) monthly observations: weight (kept DECIMAL so
    # re-aggregation stays order-independently exact) + mean price
    per_brand = filt.groupBy("month", "p_brand").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("w_dec"),
        (dsum("l_extendedprice") / F.count("l_extendedprice")).alias("p"),
    )
    w_dbl = F.col("w_dec").cast("double")
    return (
        per_brand.groupBy("month")
        .agg(
            F.sum("w_dec").cast("double").alias("total_qty"),  # A1
            F.round(F.sum(F.col("p") * w_dbl) / F.sum(w_dbl), 4).alias(
                "avg_price_weighted"
            ),  # A2 weighted mean as sum/sum
        )
        .orderBy("month")  # W10
    )


# --------------------------------------------------------------------------
# P: projections / filters / predicates
# --------------------------------------------------------------------------


@query(
    "p05_monthly_regex_filter",
    "P5: regex row filter keeping only M01-M03 synthesized period codes. "
    "Parity: bls_ces/load_CES_pandas.py:168 (monthly M01-M12 regex).",
    """
SELECT period, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT printf('M%02d', CAST(month(l_shipdate) AS INT)) AS period FROM lineitem)
WHERE regexp_matches(period, '^M(0[1-3])$')
GROUP BY period
""",
    tags=("M1",),
)
def p05_monthly_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    period = F.format_string("M%02d", F.month(F.col("l_shipdate").cast("date")))
    return (
        li.select(period.alias("period"))
        .filter(F.col("period").rlike("^M(0[1-3])$"))
        .groupBy("period")
        .agg(F.count("*").alias("n"))
    )


@query(
    "p06_in_list_filter",
    "P6: IN-list measure filter (datatype_text.isin). "
    "Parity: bls_ces/prep_CES_pandas.py:165.",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events WHERE event_type IN ('click', 'purchase')
GROUP BY event_type
""",
    tags=("M1",),
)
def p06_in_list_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin(["click", "purchase"]))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "p07_seasonal_equality",
    "P7: optional equality filter (seasonal == 'S'). "
    "Parity: bls_ces/load_CES_pandas.py:183-184.",
    f"""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n, {DSUM('o_totalprice')} AS total
FROM orders WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    tags=("M1",),
)
def p07_seasonal_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == F.lit("F"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dsum("o_totalprice").alias("total"))
    )


@query(
    "p08_exact_or_prefix_codes",
    "P8: exact-OR-prefix code predicate with NaN→'' safety. "
    "Parity: code_matches, bls_ces/load_CES_pandas.py:237-241.",
    """
SELECT p_type, CAST(COUNT(*) AS BIGINT) AS n
FROM part
WHERE coalesce(p_type, '') IN ('PRO', 'SM')
   OR starts_with(coalesce(p_type, ''), 'PRO')
   OR starts_with(coalesce(p_type, ''), 'SM')
GROUP BY p_type
""",
    tags=("M1",),
)
def p08_exact_or_prefix_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.filter(code_matches("p_type", ["PRO", "SM"]))
        .groupBy("p_type")
        .agg(F.count("*").alias("n"))
    )


@query(
    "p09_naics_mask",
    "P9: NAICS-style mask — strip, exact-IN (NA→False) OR prefix-any (NA→False). "
    "Parity: naics_mask, bls_ces/prep_CES_pandas.py:57-66.",
    """
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
FROM customer
WHERE coalesce(trim(c_mktsegment) IN ('MACHINERY'), FALSE)
   OR coalesce(starts_with(trim(c_mktsegment), 'AUTO')
               OR starts_with(trim(c_mktsegment), 'BUIL'), FALSE)
GROUP BY c_mktsegment
""",
    tags=("M1",),
)
def p09_naics_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(naics_mask("c_mktsegment", exact=["MACHINERY"], prefixes=["AUTO", "BUIL"]))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
    )


@query(
    "p10_ci_contains_search",
    "P10: case-insensitive substring metadata search, NA→False. "
    "Parity: bls_ces/load_CES_pandas.py:216-219.",
    """
SELECT p_name, p_brand FROM part
WHERE coalesce(contains(lower(p_name), 'widget'), FALSE)
ORDER BY p_partkey LIMIT 50
""",
    tags=("M1",),
)
def p10_ci_contains_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return (
        p.filter(ci_contains("p_name", "WIDGET"))
        .orderBy("p_partkey")
        .select("p_name", "p_brand")
        .limit(50)
    )


@query(
    "p11_distinct_pairs",
    "P11: drop_duplicates on code/name pairs. "
    "Parity: bls_ces/prep_CES_pandas.py:141,149,178.",
    "SELECT DISTINCT p_brand, p_type FROM part",
    tags=("M1",),
)
def p11_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "part").select("p_brand", "p_type").dropDuplicates()


@query(
    "p12_null_fill_join",
    "P12: left-join NULL region + fillna(0) — customers with no orders. "
    "Parity: fillna/dropna idioms, EDA.ipynb cells 23/27.",
    f"""
SELECT c.c_custkey,
       CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
       coalesce(o.spend, 0.0) AS spend
FROM customer c
LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS n_orders, {DSUM('o_totalprice')} AS spend
  FROM orders GROUP BY 1
) o ON c.c_custkey = o.o_custkey
""",
    tags=("M1",),
)
def p12_null_fill_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"), dsum("o_totalprice").alias("spend")
    )
    return c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left").select(
        "c_custkey",
        F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce(F.col("spend"), F.lit(0.0)).alias("spend"),
    )


@query(
    "f07_cast_coerce_null",
    "F7: to_numeric(errors='coerce') — garbage casts to NULL, not error. "
    "Parity: bls_ces/load_CES_pandas.py:171.",
    """
SELECT event_type,
       CAST(COUNT(*) FILTER (WHERE k IS NULL) AS BIGINT) AS n_null,
       CAST(SUM(CAST(k AS DECIMAL(18,6))) AS DOUBLE) AS total_k
FROM (
  SELECT event_type,
         TRY_CAST(CASE WHEN event_type = 'error' THEN 'N/A'
                       ELSE regexp_extract(props, '[0-9]+', 0) END AS DOUBLE) AS k
  FROM events
)
GROUP BY event_type
""",
    tags=("M1",),
)
def f07_cast_coerce_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    raw = F.when(F.col("event_type") == "error", F.lit("N/A")).otherwise(
        F.regexp_extract(F.col("props"), "[0-9]+", 0)
    )
    return (
        ev.select("event_type", to_double_coerce(raw).alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.when(F.col("k").isNull(), 1)).alias("n_null"),
            dsum("k").alias("total_k"),
        )
    )


# --------------------------------------------------------------------------
# J: joins
# --------------------------------------------------------------------------


@query(
    "j01_dictionary_bridge_join",
    "J1+J2: dimension bridge chain (series→industry→datatype analogue: "
    "customer→nation→region), both joins broadcast. "
    "Parity: build_dictionary, bls_ces/load_CES_pandas.py:136-139.",
    f"""
SELECT r.r_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       {DSUM('c.c_acctbal')} AS acctbal_total
FROM customer c
LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
""",
    tags=("M1",),
)
def j01_dictionary_bridge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), dsum("c_acctbal").alias("acctbal_total"))
    )


@query(
    "j03_fact_dict_broadcast",
    "J3: the workhorse big⨝small fact⨝dictionary broadcast join. "
    "Parity: bls_ces/prep_CES_pandas.py:158.",
    """
SELECT p.p_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS net_revenue
FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
""",
    headline=True,
    tags=("M1",),
)
def j03_fact_dict_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"), "left")
        .groupBy("p_type")
        .agg(F.count("*").alias("n"), dsum(net).alias("net_revenue"))
    )


@query(
    "j05_two_aggregate_join",
    "J5: join of two independently-aggregated monthly frames on date. "
    "Parity: bls_ces/prep_CES_pandas.py:97.",
    f"""
WITH rev AS (
  SELECT {MONTH_OF('l_shipdate')} AS month, {DSUM('l_extendedprice')} AS revenue
  FROM lineitem GROUP BY 1
), ord AS (
  SELECT {MONTH_OF('o_orderdate')} AS month, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT rev.month AS month, rev.revenue AS revenue,
       CAST(coalesce(ord.n_orders, 0) AS BIGINT) AS n_orders
FROM rev LEFT JOIN ord ON rev.month = ord.month
""",
    tags=("M1",),
)
def j05_two_aggregate_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    rev = li.groupBy(month_of("l_shipdate").alias("month")).agg(dsum("l_extendedprice").alias("revenue"))
    ords = o.groupBy(month_of("o_orderdate").alias("month")).agg(F.count("*").alias("n_orders"))
    return rev.join(ords, "month", "left").select(
        "month", "revenue", F.coalesce(F.col("n_orders"), F.lit(0)).cast("long").alias("n_orders")
    )


@query(
    "j04_weight_attach",
    "J4: composite-key (month, code) left join attaching renamed weights "
    "to an observation frame — earnings rows get emp_weight_thousands "
    "from the employment frame. "
    "Parity: bls_ces/prep_CES_pandas.py:81-87 (pre-join rename of "
    "value→emp_weight_thousands, join on ['date','industry_code']).",
    f"""
WITH earn AS (
  SELECT {MONTH_OF('l_shipdate')} AS month, l_linestatus AS code,
         {DSUM('l_extendedprice')} / COUNT(l_extendedprice) AS price
  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1, 2
), emp AS (
  SELECT {MONTH_OF('l_shipdate')} AS month, l_linestatus AS code,
         {DSUM('l_quantity')} AS emp_weight_thousands
  FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1, 2
)
SELECT e.month AS month, e.code AS code, e.price AS price,
       w.emp_weight_thousands AS emp_weight_thousands
FROM earn e LEFT JOIN emp w ON e.month = w.month AND e.code = w.code
""",
    tags=("M1",),
)
def j04_weight_attach(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    earn = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(month_of("l_shipdate").alias("month"), F.col("l_linestatus").alias("code"))
        .agg((dsum("l_extendedprice") / F.count("l_extendedprice")).alias("price"))
    )
    emp = (
        li.filter(F.col("l_returnflag") == "A")
        .groupBy(month_of("l_shipdate").alias("month"), F.col("l_linestatus").alias("code"))
        .agg(dsum("l_quantity").alias("emp_weight_thousands"))  # the pre-join rename
    )
    return earn.join(emp, ["month", "code"], "left")


@query(
    "j06_exog_month_end_join",
    "J6: exogenous-series merge — both sides normalized to month-END "
    "(last_day ≡ to_period('M').to_timestamp('M')) then left-joined; "
    "missing exog months optionally zero-filled. Spark has no index "
    "joins, so the month-end key is materialized as a column. "
    "Parity: EDA.ipynb cell 23 (AI-intensity merge, fill_pre_ai='zero').",
    f"""
WITH ts AS (
  SELECT CAST(last_day(l_shipdate) AS DATE) AS month_end,
         {DSUM('l_extendedprice')} AS revenue
  FROM lineitem GROUP BY 1
), exog AS (
  SELECT CAST(last_day(ts) AS DATE) AS month_end, {DSUM('value')} AS ai_intensity
  FROM events GROUP BY 1
)
SELECT t.month_end AS month_end, t.revenue AS revenue,
       x.ai_intensity AS ai_intensity,
       coalesce(x.ai_intensity, 0.0) AS ai_intensity_filled
FROM ts t LEFT JOIN exog x ON t.month_end = x.month_end
""",
    tags=("M2",),
)
def j06_exog_month_end_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    ev = table(spark, sf_dir, "events")
    ts = li.groupBy(F.last_day("l_shipdate").alias("month_end")).agg(
        dsum("l_extendedprice").alias("revenue")
    )
    exog = ev.groupBy(F.last_day(F.col("ts").cast("date")).alias("month_end")).agg(
        dsum("value").alias("ai_intensity")
    )
    return ts.join(exog, "month_end", "left").select(
        "month_end",
        "revenue",
        "ai_intensity",
        F.coalesce("ai_intensity", F.lit(0.0)).alias("ai_intensity_filled"),
    )


# --------------------------------------------------------------------------
# A: aggregations
# --------------------------------------------------------------------------


@query(
    "a01_group_sum",
    "A1: group-sum by key (employment by month analogue). "
    "Parity: bls_ces/prep_CES_pandas.py:74-77.",
    f"""
SELECT l_returnflag, {DSUM('l_quantity')} AS sum_qty, CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
""",
    tags=("M1",),
)
def a01_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n"))
    )


@query(
    "a02_weighted_mean",
    "A2: employment-weighted mean decomposed to sum/sum — no UDAF. "
    "Parity: bls_ces/prep_CES_pandas.py:88-94 (groupby.apply lambda X2).",
    """
SELECT l_returnflag,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty_weighted_price
FROM lineitem GROUP BY 1
""",
    tags=("M1",),
)
def a02_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    num = dsum(F.col("l_extendedprice") * F.col("l_quantity"))
    den = dsum("l_quantity")
    return li.groupBy("l_returnflag").agg((num / den).alias("qty_weighted_price"))


@query(
    "a03_value_counts",
    "A3: value_counts — group-count, sort desc, head. "
    "Parity: bls_ces/prep_CES_pandas.py:169.",
    """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1 ORDER BY n DESC, event_type LIMIT 10
""",
    tags=("M1",),
)
def a03_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "event_type")
        .limit(10)
    )


@query(
    "a04_dedupe_collapse",
    "A4: duplicate-month collapse under all three dedupe rules in ONE "
    "single-scan conditional aggregate — mean (exact sum/count), sum "
    "(decimal-exact), and pandas' order-sensitive 'last' as a "
    "lexicographic struct max over (order_key, value): F.last over an "
    "unordered group is shuffle-nondeterministic (SURVEY.md §7 hard "
    "parts), and the synthetic lineitem has duplicate (orderkey, "
    "linenumber) pairs so the value itself is the tiebreak. Operator "
    "form: operators/grid.collapse_duplicate_months. "
    "Parity: ensure_monthly_index / to_month_*_index, EDA.ipynb cells 25,27-28.",
    f"""
SELECT {MONTH_OF('l_shipdate')} AS month,
       {DSUM('l_extendedprice')} / COUNT(l_extendedprice) AS mean_price,
       {DSUM('l_quantity')} AS sum_qty,
       (MAX({{'k': l_orderkey * 10 + l_linenumber, 'v': l_extendedprice}})).v
         AS last_price
FROM lineitem GROUP BY 1
""",
    tags=("M2",),
)
def a04_dedupe_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # struct max orders lexicographically on (k, v) in both engines, so
    # ties on the order key fall back to the value — fully deterministic.
    uk = (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("k")
    return li.groupBy(month_of("l_shipdate").alias("month")).agg(
        (dsum("l_extendedprice") / F.count("l_extendedprice")).alias("mean_price"),
        dsum("l_quantity").alias("sum_qty"),
        F.max(F.struct(uk, F.col("l_extendedprice").alias("v")))["v"].alias("last_price"),
    )


@query(
    "a05_minmax_summary",
    "A5: min/max/count output sanity summary. "
    "Parity: bls_ces/check_ces_outputs.py:31-41.",
    """
SELECT l_returnflag,
       CAST(MIN(l_shipdate) AS DATE) AS min_date, CAST(MAX(l_shipdate) AS DATE) AS max_date,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
""",
    tags=("M1",),
)
def a05_minmax_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    return li.groupBy("l_returnflag").agg(
        F.min(d).alias("min_date"),
        F.max(d).alias("max_date"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("n"),
    )


@query(
    "a06_quantile_summary",
    "A6: exact percentile fan summary (p05/p10/p50/p90/p95 + moments). "
    "Parity: np.quantile over MC paths, EDA.ipynb cells 27/28/32.",
    f"""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.05), 4) AS p05,
       ROUND(quantile_cont(l_extendedprice, 0.10), 4) AS p10,
       ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.90), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
       {DSUM('l_extendedprice')} / COUNT(l_extendedprice) AS mean_price,
       ROUND(stddev_samp(l_extendedprice), 4) AS std_price,
       MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
FROM lineitem GROUP BY 1
""",
    headline=True,
    tags=("M1",),
)
def a06_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the exact-percentile partial agg buffers every value, so a
    # single-row-group scan serializes the buffer build on one core;
    # round-robin first measured 1.3 s -> 1.04 s at sf0.1 (identity at
    # production scan widths)
    li = spread(table(spark, sf_dir, "lineitem"))
    x = F.col("l_extendedprice")
    # ONE percentile aggregate over an array of probabilities, not five
    # scalar percentile aggs: each scalar agg maintains its own
    # every-value buffer per group, so the fan was 5x the accumulation
    # work and 5x the agg-buffer memory (measured 4.7s -> 1.8s at
    # sf0.1).  Identical values — same interpolation, same input.
    ps = F.percentile(x, F.array(*[F.lit(p) for p in (0.05, 0.10, 0.50, 0.90, 0.95)]))
    return (
        li.groupBy("l_returnflag")
        .agg(
            ps.alias("_ps"),
            (dsum(x) / F.count(x)).alias("mean_price"),
            F.round(F.stddev_samp(x), 4).alias("std_price"),
            F.min(x).alias("min_price"),
            F.max(x).alias("max_price"),
        )
        .select(
            "l_returnflag",
            *[
                F.round(F.col("_ps")[i], 4).alias(name)
                for i, name in enumerate(["p05", "p10", "p50", "p90", "p95"])
            ],
            "mean_price",
            "std_price",
            "min_price",
            "max_price",
        )
    )


@query(
    "a07_first_nonnull",
    "A7: first non-null value per series in time order. "
    "Parity: .dropna().iloc[0], EDA.ipynb cell 5 (add_features index base).",
    """
SELECT user_id, v AS first_v FROM (
  SELECT user_id, v,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
    FROM events
  ) WHERE v IS NOT NULL
) WHERE rn = 1
""",
    tags=("M1",),
)
def a07_first_nonnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").withColumn(
        "v", F.when(F.col("event_type") == "error", F.lit(None)).otherwise(F.col("value"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.filter(F.col("v").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("v").alias("first_v"))
    )


# --------------------------------------------------------------------------
# W: window / time-series (over the shared monthly frame)
# --------------------------------------------------------------------------

def _w():
    """Per-series ordered window (lazy: needs an active session)."""
    return Window.partitionBy("flag").orderBy("month")


@query(
    "w01_pct_change",
    "W1: lag-k percent change — MoM (k=1) and YoY (k=12) × 100. "
    "Parity: pct_change, EDA.ipynb cell 5.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       (revenue / lag(revenue, 1) OVER w - 1) * 100.0 AS mom_pct,
       (revenue / lag(revenue, 12) OVER w - 1) * 100.0 AS yoy_pct
FROM monthly
WINDOW w AS (PARTITION BY flag ORDER BY month)
""",
    tags=("M2",),
)
def w01_pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select(
        "flag",
        "month",
        pct_change("revenue", _w(), 1, scale=100.0).alias("mom_pct"),
        pct_change("revenue", _w(), 12, scale=100.0).alias("yoy_pct"),
    )


@query(
    "w02_rolling_mean",
    "W2: rolling mean w∈{6,12} with pandas min_periods=w NULL guard. "
    "Parity: rolling(w).mean(), EDA.ipynb cell 5.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       CASE WHEN COUNT(revenue) OVER w6 >= 6
            THEN ROUND(AVG(revenue) OVER w6, 4) END AS roll6,
       CASE WHEN COUNT(revenue) OVER w12 >= 12
            THEN ROUND(AVG(revenue) OVER w12, 4) END AS roll12
FROM monthly
WINDOW w6 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
       w12 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
""",
    headline=True,
    tags=("M2",),
)
def w02_rolling_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select(
        "flag",
        "month",
        F.round(rolling_avg("revenue", _w(), 6), 4).alias("roll6"),
        F.round(rolling_avg("revenue", _w(), 12), 4).alias("roll12"),
    )


@query(
    "w03_rolling_std",
    "W3: rolling sample std of MoM % change, w∈{6,12}, min_periods guard. "
    "Parity: rolling(w).std(), EDA.ipynb cells 5/17/20.",
    f"""
WITH {MONTHLY_CTE},
mom AS (
  SELECT flag, month,
         (revenue / lag(revenue, 1) OVER (PARTITION BY flag ORDER BY month) - 1) * 100.0 AS mom_pct
  FROM monthly
)
SELECT flag, month,
       CASE WHEN COUNT(mom_pct) OVER w6 >= 6
            THEN ROUND(stddev_samp(mom_pct) OVER w6, 6) END AS vol6,
       CASE WHEN COUNT(mom_pct) OVER w12 >= 12
            THEN ROUND(stddev_samp(mom_pct) OVER w12, 6) END AS vol12
FROM mom
WINDOW w6 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
       w12 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
""",
    tags=("M2",),
)
def w03_rolling_std(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir).withColumn(
        "mom_pct", pct_change("revenue", _w(), 1, scale=100.0)
    )
    return m.select(
        "flag",
        "month",
        F.round(rolling_std("mom_pct", _w(), 6), 6).alias("vol6"),
        F.round(rolling_std("mom_pct", _w(), 12), 6).alias("vol12"),
    )


@query(
    "w04_rolling_corr",
    "W4: 12-month rolling correlation of two metrics, pairwise min_periods. "
    "Parity: emp.rolling(12).corr(wage), EDA.ipynb cell 17.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       CASE WHEN COUNT(CASE WHEN qty IS NOT NULL AND revenue IS NOT NULL THEN 1 END) OVER w12 >= 12
            THEN ROUND(corr(qty, revenue) OVER w12, 6) END AS roll_corr_12
FROM monthly
WINDOW w12 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 11 PRECEDING AND CURRENT ROW)
""",
    tags=("M2",),
)
def w04_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select(
        "flag",
        "month",
        F.round(rolling_corr("qty", "revenue", _w(), 12), 6).alias("roll_corr_12"),
    )


@query(
    "w05_rolling_median",
    "W5: rolling median w=13, min_periods=6 (outlier-repair window). "
    "Parity: fix_last_outlier_with_rolling_median, EDA.ipynb cell 28.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       CASE WHEN COUNT(revenue) OVER w13 >= 6
            THEN ROUND(median(revenue) OVER w13, 4) END AS roll_med_13
FROM monthly
WINDOW w13 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 12 PRECEDING AND CURRENT ROW)
""",
    tags=("M2",),
)
def w05_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select(
        "flag",
        "month",
        F.round(rolling_median("revenue", _w(), 13, min_periods=6), 4).alias("roll_med_13"),
    )


@query(
    "w06_differences",
    "W6: first difference and seasonal (12) difference. "
    "Parity: diff/seasonal shift, EDA.ipynb cell 25.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       revenue - lag(revenue, 1) OVER w AS d1,
       revenue - lag(revenue, 12) OVER w AS d12
FROM monthly
WINDOW w AS (PARTITION BY flag ORDER BY month)
""",
    tags=("M2",),
)
def w06_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select(
        "flag",
        "month",
        diff("revenue", _w(), 1).alias("d1"),
        diff("revenue", _w(), 12).alias("d12"),
    )


@query(
    "w07_index_rebase",
    "W7: rebase to first non-null = 100. "
    "Parity: x / x.iloc[0] * 100, EDA.ipynb cell 5.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       revenue / first_value(revenue IGNORE NULLS)
         OVER (PARTITION BY flag ORDER BY month ROWS UNBOUNDED PRECEDING) * 100.0
         AS rev_index
FROM monthly
""",
    tags=("M2",),
)
def w07_index_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.select("flag", "month", index_rebase("revenue", _w()).alias("rev_index"))


@query(
    "w08_cumulative_sum",
    "W8: running cumulative sum (decimal-exact across engines). "
    "Parity: np.cumsum path building, EDA.ipynb cell 27.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month,
       CAST(SUM(CAST(revenue AS DECIMAL(18,6)))
            OVER (PARTITION BY flag ORDER BY month ROWS UNBOUNDED PRECEDING) AS DOUBLE)
         AS cum_revenue
FROM monthly
""",
    tags=("M2",),
)
def w08_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    cum = cumulative_sum(F.col("revenue").cast("decimal(18,6)"), _w()).cast("double")
    return m.select("flag", "month", cum.alias("cum_revenue"))


@query(
    "w09_tail_window",
    "W9: last-12-months tail slice then aggregate (drift-fit window). "
    "Parity: s.iloc[-window:], fit_rw_drift_params, EDA.ipynb cell 27.",
    f"""
WITH {MONTHLY_CTE},
tail AS (
  SELECT flag, revenue,
         row_number() OVER (PARTITION BY flag ORDER BY month DESC) AS rn
  FROM monthly
)
SELECT flag,
       CAST(SUM(CAST(revenue AS DECIMAL(18,6))) AS DOUBLE) / COUNT(revenue) AS tail12_avg,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tail WHERE rn <= 12 GROUP BY flag
""",
    tags=("M2",),
)
def w09_tail_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir).withColumn(
        "in_tail", tail_slice_flag(["flag"], "month", 12)
    )
    return (
        m.filter(F.col("in_tail"))
        .groupBy("flag")
        .agg(
            (dsum("revenue") / F.count("revenue")).alias("tail12_avg"),
            F.count("*").alias("n"),
        )
    )


@query(
    "w10_multikey_sort_projection",
    "W10+P1: canonical projection with 3-key global sort (bounded by limit). "
    "Parity: sort_values + 10-col projection, bls_ces/load_CES_pandas.py:190-198.",
    f"""
SELECT l_returnflag, {MONTH_OF('l_shipdate')} AS month, l_orderkey, l_linenumber,
       l_quantity, l_extendedprice
FROM lineitem
ORDER BY l_returnflag, month, l_orderkey, l_linenumber
LIMIT 2000
""",
    tags=("M1",),
)
def w10_multikey_sort_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_returnflag",
            month_of("l_shipdate").alias("month"),
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
        )
        .orderBy("l_returnflag", "month", "l_orderkey", "l_linenumber")
        .limit(2000)
    )


@query(
    "w11_top_n",
    "W11: top-n peek with deterministic tiebreak. "
    "Parity: .head(n), bls_ces/prep_CES_pandas.py:169.",
    f"""
SELECT l_partkey, {DSUM('l_extendedprice')} AS revenue
FROM lineitem GROUP BY 1
ORDER BY revenue DESC, l_partkey LIMIT 10
""",
    tags=("M1",),
)
def w11_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice").alias("revenue"))
        .orderBy(F.desc("revenue"), "l_partkey")
        .limit(10)
    )


@query(
    "w12_month_grid_gapfill",
    "W12: complete monthly grid reindex — NULL rows inserted for gaps. "
    "Parity: force_complete_month_grid, EDA.ipynb cell 25.",
    f"""
WITH m AS (
  SELECT l_partkey AS p_partkey, {MONTH_OF('l_shipdate')} AS month,
         {DSUM('l_quantity')} AS qty
  FROM lineitem WHERE l_partkey < 20 GROUP BY 1, 2
), bounds AS (
  SELECT p_partkey, MIN(month) AS mn, MAX(month) AS mx FROM m GROUP BY 1
), spine AS (
  SELECT p_partkey, CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month
  FROM bounds
)
SELECT s.p_partkey, s.month, m.qty
FROM spine s LEFT JOIN m ON m.p_partkey = s.p_partkey AND m.month = s.month
""",
    tags=("M2",),
)
def w12_month_grid_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 20)
    m = li.groupBy(
        F.col("l_partkey").alias("p_partkey"), month_of("l_shipdate").alias("month")
    ).agg(dsum("l_quantity").alias("qty"))
    return force_complete_month_grid(m, keys=["p_partkey"], month_col="month")


@query(
    "w13_future_month_index",
    "W13: future month index generation (forecast horizon scaffold). "
    "Parity: future_month_index, EDA.ipynb cells 27-28.",
    f"""
WITH b AS (
  SELECT l_returnflag AS flag, MAX({MONTH_OF('l_shipdate')}) AS mx
  FROM lineitem GROUP BY 1
)
SELECT flag, CAST(s AS BIGINT) AS step, CAST(mx + s * INTERVAL 1 MONTH AS DATE) AS month
FROM b, (SELECT unnest(generate_series(1, 6)) AS s)
""",
    tags=("M2",),
)
def w13_future_month_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    b = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.max(month_of("l_shipdate")).alias("mx")
    )
    months = F.sequence(
        F.add_months(F.col("mx"), 1), F.add_months(F.col("mx"), 6), F.expr("interval 1 month")
    )
    return b.select("flag", F.posexplode(months).alias("pos", "month")).select(
        "flag", (F.col("pos") + 1).cast("long").alias("step"), "month"
    )


# --------------------------------------------------------------------------
# U / F: set ops and scalar functions
# --------------------------------------------------------------------------


@query(
    "u01_union_long_format",
    "U1: union-all stacking per-metric long tables. "
    "Parity: pd.concat(export_long_rows), EDA.ipynb cell 32.",
    f"""
SELECT 'revenue' AS metric, p_brand, {DSUM('l_extendedprice')} AS val
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 2
UNION ALL
SELECT 'quantity' AS metric, p_brand, {DSUM('l_quantity')} AS val
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 2
""",
    tags=("M1",),
)
def u01_union_long_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    # Examined r12, left as-is: branching both metrics off ONE shared
    # aggregate does NOT dedupe the fact scan — column pruning splits
    # the shared agg back into two branch-specific aggregates (each
    # branch needs only its own metric column), so the plan keeps two
    # (fully pruned) scans either way, and the A/B measured the
    # single-agg form 0.74 -> 0.82 s (plan-verified in r12).
    rev = j.groupBy("p_brand").agg(dsum("l_extendedprice").alias("val")).select(
        F.lit("revenue").alias("metric"), "p_brand", "val"
    )
    qty = j.groupBy("p_brand").agg(dsum("l_quantity").alias("val")).select(
        F.lit("quantity").alias("metric"), "p_brand", "val"
    )
    return rev.unionByName(qty)


@query(
    "u02_intersect_active_users",
    "U-ext: INTERSECT — users active in both the first and last week of "
    "the events range. Engine extension per SURVEY.md §2.6 (no "
    "intersect/except in the reference; free in Spark, exposed anyway).",
    """
SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-08 00:00:00'
INTERSECT
SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-22 00:00:00'
""",
    tags=("M1", "setop"),
)
def u02_intersect_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first = ev.filter(F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
    last = ev.filter(F.col("ts") >= F.lit("2024-01-22 00:00:00").cast("timestamp"))
    return first.select("user_id").intersect(last.select("user_id"))


@query(
    "u03_except_all_multiset",
    "U-ext: EXCEPT ALL — multiset difference of per-event-type user "
    "occurrences (duplicates preserved: a user with 5 clicks and 3 "
    "views keeps 2 rows). Engine extension per SURVEY.md §2.6.",
    """
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT ALL
SELECT user_id FROM events WHERE event_type = 'view'
""",
    tags=("M1", "setop"),
)
def u03_except_all_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    views = ev.filter(F.col("event_type") == "view").select("user_id")
    return clicks.exceptAll(views)


@query(
    "f01_06_date_synthesis",
    "F1-F6: CES date synthesis round-trip — strip 'M', zfill, concat, "
    "to_date, month-end. Parity: bls_ces/load_CES_pandas.py:149-154.",
    """
SELECT DISTINCT
       CAST(year(l_shipdate) AS BIGINT) AS year,
       printf('M%02d', CAST(month(l_shipdate) AS INT)) AS period,
       CAST(concat(year(l_shipdate), '-',
                   lpad(replace(printf('M%02d', CAST(month(l_shipdate) AS INT)), 'M', ''), 2, '0'),
                   '-01') AS DATE) AS date,
       last_day(CAST(concat(year(l_shipdate), '-',
                   lpad(replace(printf('M%02d', CAST(month(l_shipdate) AS INT)), 'M', ''), 2, '0'),
                   '-01') AS DATE)) AS month_end
FROM lineitem
""",
    tags=("M1",),
)
def f01_06_date_synthesis(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    d = F.col("l_shipdate").cast("date")
    year = F.year(d).cast("long")
    period = F.format_string("M%02d", F.month(d))
    date = synthesize_date(year, period)
    return li.select(
        year.alias("year"),
        period.alias("period"),
        date.alias("date"),
        month_end(date).alias("month_end"),
    ).dropDuplicates()


@query(
    "f09_14_scalar_math",
    "F9-F14: log, clip (greatest), arithmetic over grouped rows. "
    "Parity: np.log / np.maximum, EDA.ipynb cells 5/27.",
    f"""
SELECT l_returnflag,
       ROUND(SUM(ln(l_quantity)), 6) AS log_qty_sum,
       {DSUM('greatest(l_quantity - 25.0, 0.0)')} AS clipped_qty_sum,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE)
         AS charged
FROM lineitem GROUP BY 1
""",
    tags=("M1",),
)
def f09_14_scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    charged = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")) * (F.lit(1) + F.col("l_tax"))
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(F.log(F.col("l_quantity"))), 6).alias("log_qty_sum"),
        dsum(F.greatest(F.col("l_quantity") - 25.0, F.lit(0.0))).alias("clipped_qty_sum"),
        dsum(charged).alias("charged"),
    )


@query(
    "u04_rollup_hierarchy",
    "ROLLUP grouping sets over (returnflag, linestatus): subtotals and "
    "grand total in ONE partial/final hash-agg pass — no grouping sets "
    "exist in the reference (SURVEY.md §2.4 note); at scale this beats "
    "N separate aggregations + union by reusing one shuffle. GROUPING() "
    "flags disambiguate real NULL keys from subtotal rows.",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       {DSUM('l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    tags=("M1", "groupingsets"),
)
def u04_rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    ).select(
        "l_returnflag", "l_linestatus", "g_flag", "g_status", "sum_qty", "n_rows"
    )


@query(
    "u05_cube_order_matrix",
    "CUBE over (orderstatus, orderpriority): all 4 grouping sets from "
    "one shuffle (engine extension — SURVEY.md §2.4 note).",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    tags=("M1", "groupingsets"),
)
def u05_cube_order_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double"), 6
        ).alias("total_price"),
    ).select(
        "o_orderstatus", "o_orderpriority", "g_status", "g_priority",
        "n_orders", "total_price",
    )


@query(
    "w14_pivot_event_matrix",
    "Pivot day × event_type value sums (engine extension: the reference "
    "splits-then-aggregates instead of pivoting, SURVEY.md §2 hard-parts "
    "note). Spark .pivot() with an EXPLICIT value list — omitting it "
    "costs an extra distinct-scan job to discover columns, and a "
    "high-cardinality pivot column would explode the schema; oracle is "
    "the equivalent conditional aggregation.",
    """
SELECT CAST(ts AS DATE) AS day,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'click' THEN value END), 0.0), 6) AS click,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'view' THEN value END), 0.0), 6) AS view,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0.0), 6) AS purchase,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN value END), 0.0), 6) AS signup,
       ROUND(COALESCE(SUM(CASE WHEN event_type = 'error' THEN value END), 0.0), 6) AS error
FROM events GROUP BY 1
""",
    tags=("M1", "pivot"),
)
def w14_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.select(F.col("ts").cast("date").alias("day"), "event_type", "value")
        .groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.round(F.sum("value"), 6))
    )
    # a (day, type) combo with no rows is a NULL cell after pivot (the
    # per-group agg never ran) — pin to 0.0 like the oracle's COALESCE
    return out.select(
        "day", *[F.coalesce(F.col(k), F.lit(0.0)).alias(k) for k in kinds]
    )


@query(
    "p14_json_props_extract",
    "Semi-structured extraction (engine extension): parse the events "
    "JSON props column with an EXPLICIT from_json schema (schema "
    "inference would cost a discovery pass and drift with the data) "
    "and aggregate the extracted field.  Stays in whole-stage codegen; "
    "at scale the parse cost rides the scan, no extra pass.",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
       CAST(COUNT(DISTINCT CAST(props->>'k' AS INT)) AS BIGINT) AS n_distinct_k
FROM events
GROUP BY 1
""",
    tags=("M1", "json"),
)
def p14_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


@query(
    "j08_semi_anti_join",
    "LEFT SEMI / LEFT ANTI joins (J-ext): orders with vs without "
    "lineitems, summarized per status.  Semi/anti ship only the LEFT "
    "side's columns through the join — at scale that halves the "
    "shuffled bytes vs inner-join-then-distinct, and the anti side is "
    "the idiomatic referential-integrity audit.",
    """
WITH w AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_with
  FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  GROUP BY 1
), wo AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_without
  FROM orders o WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
  GROUP BY 1
)
SELECT COALESCE(w.o_orderstatus, wo.o_orderstatus) AS o_orderstatus,
       COALESCE(n_with, 0) AS n_with, COALESCE(n_without, 0) AS n_without
FROM w FULL OUTER JOIN wo ON w.o_orderstatus = wo.o_orderstatus
""",
    tags=("M1", "join"),
)
def j08_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    semi = (
        o.join(li, o.o_orderkey == li.k, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_with"))
    )
    anti = (
        o.join(li, o.o_orderkey == li.k, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_without"))
    )
    return (
        semi.join(anti, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            F.coalesce("n_with", F.lit(0)).alias("n_with"),
            F.coalesce("n_without", F.lit(0)).alias("n_without"),
        )
    )


@query(
    "w15_ntile_price_quartiles",
    "NTILE bucketing (W-ext): per-returnflag price quartiles — the "
    "windowed bucketing used for percentile-band features.  One "
    "shuffle+sort per partition key.",
    f"""
WITH t AS (
  SELECT l_returnflag, l_extendedprice,
         ntile(4) OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS q
  FROM lineitem
)
SELECT l_returnflag, CAST(q AS INT) AS quartile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(l_extendedprice), 2) AS price_lo,
       ROUND(MAX(l_extendedprice), 2) AS price_hi
FROM t GROUP BY 1, 2
""",
    tags=("M1", "window"),
)
def w15_ntile_price_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select(
            "l_returnflag",
            "l_extendedprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("l_returnflag", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("price_lo"),
            F.round(F.max("l_extendedprice"), 2).alias("price_hi"),
        )
    )


@query(
    "a08_nested_array_agg",
    "Nested-result aggregation (A-ext): per-status sorted array of "
    "distinct priorities + its cardinality.  collect_list/list() order "
    "is partition-dependent in BOTH engines — sort_array/list_sort "
    "pins it, and the array is serialized to a JSON string so the "
    "result is hashable by any cross-engine canonicalizer (pandas "
    "sort_values/hashing dies on list-typed cells).",
    """
SELECT o_orderstatus,
       CAST(to_json(list_sort(list(DISTINCT o_orderpriority))) AS VARCHAR) AS priorities,
       CAST(len(list(DISTINCT o_orderpriority)) AS INT) AS n_priorities
FROM orders GROUP BY 1
""",
    tags=("M1", "nested"),
)
def a08_nested_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.to_json(F.sort_array(F.collect_set("o_orderpriority"))).alias("priorities"),
        F.size(F.collect_set("o_orderpriority")).alias("n_priorities"),
    )
