"""Sketch aggregates: bounded relative error vs the exact answers."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.sketch import (
    approx_distinct_by,
    approx_quantiles_by,
)

SF = "/root/testdata/sf0.01"


def test_approx_distinct_within_rsd(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: r["d"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_orderkey").alias("d"))
        .collect()
    }
    approx = {
        r["l_returnflag"]: r["approx_distinct"]
        for r in approx_distinct_by(li, ["l_returnflag"], "l_orderkey").collect()
    }
    assert set(approx) == set(exact)
    for k, d in exact.items():
        assert abs(approx[k] - d) / d < 0.05  # 5x the 1% rsd, generous

def test_approx_quantiles_close_to_exact(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    exact = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
        )
        .collect()
    }
    approx = {
        r["l_returnflag"]: (r["p50"], r["p90"])
        for r in approx_quantiles_by(
            li, ["l_returnflag"], "l_extendedprice", (0.5, 0.9)
        ).collect()
    }
    for k, (e50, e90) in exact.items():
        a50, a90 = approx[k]
        assert abs(a50 - e50) / e50 < 0.01
        assert abs(a90 - e90) / e90 < 0.01


def test_rolling_distinct_exact_window_semantics(spark):
    import datetime as dt

    from mcm_problem_f_data_wrangling_spark.operators.sketch import (
        rolling_distinct_exact,
    )

    T = dt.datetime
    ev = spark.createDataFrame(
        [
            (1, T(2024, 1, 1)), (2, T(2024, 1, 1)),
            (1, T(2024, 1, 3)),
            (3, T(2024, 1, 9)),  # day 1+2 fall out of the 7-day window by Jan 9
        ],
        "user_id bigint, ts timestamp",
    )
    out = {str(r["day"]): r["active_users"] for r in rolling_distinct_exact(ev).collect()}
    assert out == {
        "2024-01-01": 2,          # u1,u2
        "2024-01-03": 2,          # u1,u2 (Jan1 still in window)
        "2024-01-09": 2,          # u3 + u1 (Jan3 in [Jan3..Jan9]); Jan1 aged out
    }
