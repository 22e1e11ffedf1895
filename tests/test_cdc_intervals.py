"""CDC snapshot apply + gaps-and-islands interval merge."""

from __future__ import annotations

import datetime as dt

from mcm_problem_f_data_wrangling_spark.operators.cdc import cdc_apply
from mcm_problem_f_data_wrangling_spark.operators.intervals import merge_intervals

T = dt.datetime


def _changes(spark):
    return spark.createDataFrame(
        [
            (1, T(2024, 1, 1), "U", "a@x.com", 10.0),
            (1, T(2024, 1, 5), "U", "a@y.com", 11.0),   # wins for key 1
            (2, T(2024, 1, 2), "U", "b@x.com", 20.0),
            (2, T(2024, 1, 9), "D", None, None),        # key 2 deleted
            (3, T(2024, 1, 3), "D", None, None),
            (3, T(2024, 1, 4), "U", "c@x.com", 30.0),   # re-inserted after delete
        ],
        "id bigint, ts timestamp, op string, email string, score double",
    )


def test_cdc_apply_latest_wins_and_deletes_drop(spark):
    out = cdc_apply(
        _changes(spark), ["id"], "ts", "op", ["email", "score"]
    )
    rows = {r["id"]: r for r in out.collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["email"] == "a@y.com" and rows[1]["score"] == 11.0
    assert rows[3]["email"] == "c@x.com"


def test_cdc_apply_same_ts_tiebreak_deterministic(spark):
    ch = spark.createDataFrame(
        [(1, T(2024, 1, 1), "U", "first", 1.0), (1, T(2024, 1, 1), "U", "second", 2.0)],
        "id bigint, ts timestamp, op string, email string, score double",
    )
    out = cdc_apply(ch, ["id"], "ts", "op", ["email", "score"], tiebreak_cols=["email"])
    assert out.collect()[0]["email"] == "second"   # lexicographic max tiebreak


def test_merge_intervals_islands(spark):
    iv = spark.createDataFrame(
        [
            (1, 0, 10), (1, 5, 12), (1, 12, 15),   # chain: overlap then touch
            (1, 20, 25),                            # separate island
            (2, 3, 4),
        ],
        "k bigint, s bigint, e bigint",
    )
    out = merge_intervals(iv, ["k"], "s", "e")
    spans = sorted(
        [(r["k"], r["span_start"], r["span_end"], r["n_merged"]) for r in out.collect()]
    )
    assert spans == [(1, 0, 15, 3), (1, 20, 25, 1), (2, 3, 4, 1)]


def test_merge_intervals_contained_interval(spark):
    # an interval fully inside a previous one must not reopen an island
    iv = spark.createDataFrame(
        [(1, 0, 100), (1, 5, 8), (1, 50, 120), (1, 130, 131)],
        "k bigint, s bigint, e bigint",
    )
    out = merge_intervals(iv, ["k"], "s", "e")
    spans = sorted([(r["span_start"], r["span_end"]) for r in out.collect()])
    assert spans == [(0, 120), (130, 131)]


def test_merge_intervals_single_exchange(spark):
    iv = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 12)], "k bigint, s bigint, e bigint"
    )
    plan = merge_intervals(iv, ["k"], "s", "e")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1


def test_width_bucket_agrees_with_histogram_arithmetic(spark):
    # the histogram query uses floor(x/w) clamped; Spark's native
    # width_bucket must agree (shifted by 1) everywhere in [lo, hi)
    from pyspark.sql import functions as F

    df = spark.range(0, 500000, 997).select(
        (F.col("id") + 0.5).alias("price")
    )
    cmp = df.select(
        F.width_bucket("price", F.lit(0.0), F.lit(500000.0), F.lit(20)).alias("wb"),
        (F.least(F.floor(F.col("price") / 25000.0), F.lit(19)) + 1).alias("arith"),
    )
    assert cmp.filter(F.col("wb") != F.col("arith")).count() == 0
