"""Retention cohorts: offsets, cohort sizes, single-exchange plan."""

from __future__ import annotations

import datetime as dt

from mcm_problem_f_data_wrangling_spark.operators.retention import retention_cohorts

T = dt.datetime


def test_weekly_retention_triangle(spark):
    # weeks: W0=2024-01-01(Mon), W1=01-08, W2=01-15
    ev = spark.createDataFrame(
        [
            # u1: active W0, W1, W2
            (1, T(2024, 1, 2)), (1, T(2024, 1, 9)), (1, T(2024, 1, 16)),
            # u2: active W0, W2 (skips W1 — still offset-2 retained)
            (2, T(2024, 1, 3)), (2, T(2024, 1, 17)),
            # u3: first seen W1 only
            (3, T(2024, 1, 10)), (3, T(2024, 1, 11)),  # two events, one period
        ],
        "user_id bigint, ts timestamp",
    )
    out = {
        (r["cohort_period"].date(), r["period_offset"]): (r["n_active"], r["cohort_size"])
        for r in retention_cohorts(ev).collect()
    }
    w0, w1 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
    assert out[(w0, 0)] == (2, 2)
    assert out[(w0, 1)] == (1, 2)   # only u1 back in W1
    assert out[(w0, 2)] == (2, 2)   # u1 and u2 in W2
    assert out[(w1, 0)] == (1, 1)
    assert set(out) == {(w0, 0), (w0, 1), (w0, 2), (w1, 0)}


def test_retention_single_user_exchange(spark):
    ev = spark.createDataFrame([(1, T(2024, 1, 1))], "user_id bigint, ts timestamp")
    plan = retention_cohorts(ev)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("hashpartitioning(user_id") <= 1
