"""One-scan dataset profiler: exact stats vs per-column recompute,
approx_distinct error bound, and single-scan plan shape."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.profile import profile_dataset

SF = "/root/testdata/sf0.01"


def test_profile_matches_per_column_exact(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    prof = {r["column"]: r for r in profile_dataset(orders).collect()}
    total = orders.count()
    assert set(prof) == set(orders.columns)
    for c in orders.columns:
        row = prof[c]
        assert row["n"] == total
        assert row["n_null"] == total - orders.filter(F.col(c).isNotNull()).count()
    # numeric bounds
    mn, mx = orders.agg(F.min("o_totalprice"), F.max("o_totalprice")).first()
    assert prof["o_totalprice"]["min_num"] == float(mn)
    assert prof["o_totalprice"]["max_num"] == float(mx)
    assert prof["o_totalprice"]["min_str"] is None
    # string bounds
    smn, smx = orders.agg(F.min("o_orderstatus"), F.max("o_orderstatus")).first()
    assert prof["o_orderstatus"]["min_str"] == smn
    assert prof["o_orderstatus"]["max_str"] == smx
    assert prof["o_orderstatus"]["min_num"] is None
    # timestamp bounds surface as epoch micros
    tmn = orders.agg(F.unix_micros(F.min(F.col("o_orderdate").cast("timestamp")))).first()[0]
    assert prof["o_orderdate"]["min_num"] == float(tmn)


def test_profile_approx_distinct_bounded(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    prof = {r["column"]: r for r in profile_dataset(orders).collect()}
    for c in ("o_orderkey", "o_orderstatus", "o_orderpriority"):
        exact = orders.select(c).distinct().count()
        approx = prof[c]["approx_distinct"]
        assert abs(approx - exact) <= max(2, 0.1 * exact), (c, approx, exact)


def test_profile_handles_nulls_and_column_subset(spark):
    df = spark.createDataFrame(
        [
            (1, "a", datetime.datetime(2024, 1, 1), 2.5),
            (2, None, None, None),
            (None, "b", datetime.datetime(2024, 2, 1), -1.0),
        ],
        "id bigint, s string, ts timestamp, x double",
    )
    # a column subset is a select ahead of the profile
    prof = {r["column"]: r for r in profile_dataset(df.select("id", "s", "x")).collect()}
    assert set(prof) == {"id", "s", "x"}
    assert prof["id"]["n"] == 3 and prof["id"]["n_null"] == 1
    assert prof["s"]["n_null"] == 1 and prof["s"]["min_str"] == "a"
    assert prof["x"]["min_num"] == -1.0 and prof["x"]["max_num"] == 2.5


def test_profile_is_single_scan(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    plan = profile_dataset(orders)._jdf.queryExecution().executedPlan().toString()
    # one parquet scan total, regardless of column count
    assert plan.count("Scan parquet") == 1, plan
