"""as-of join: hand-computed fixture and plan shape."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.asof import asof_join


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _fixture(spark):
    left = spark.createDataFrame(
        [
            (1, "u1", _ts("2024-01-01 10:00:30")),
            (2, "u1", _ts("2024-01-01 10:02:00")),
            (3, "u2", _ts("2024-01-01 09:00:00")),  # before any right row
            (4, "u3", _ts("2024-01-01 12:00:00")),  # key absent on right
        ],
        "event_id long, user_id string, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            ("u1", _ts("2024-01-01 10:00:00"), 100, 1.0),
            ("u1", _ts("2024-01-01 10:00:30"), 101, 2.0),  # equal ts → matches (<=)
            ("u1", _ts("2024-01-01 10:05:00"), 102, 3.0),  # after both lefts
            ("u2", _ts("2024-01-01 11:00:00"), 103, 4.0),
        ],
        "user_id string, ts timestamp, event_id long, value double",
    )
    return left, right


def test_asof_join_hand_computed(spark):
    left, right = _fixture(spark)
    got = {
        r["event_id"]: (r["event_id_asof"], r["value_asof"])
        for r in asof_join(left, right, on=["user_id"], attach=("event_id", "value")).collect()
    }
    assert got[1] == (101, 2.0)  # equal-ts right row matches
    assert got[2] == (101, 2.0)  # 10:05 row is in the future → excluded
    assert got[3] == (None, None)
    assert got[4] == (None, None)


def test_asof_join_single_shuffle_no_nested_loop(spark):
    left, right = _fixture(spark)
    plan = (
        asof_join(left, right, on=["user_id"], attach=("value",))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_windowed_range_join_hand_computed(spark):
    from mcm_problem_f_data_wrangling_spark.operators.range_join import (
        windowed_range_join,
    )

    left = spark.createDataFrame(
        [(1, "u1", 100.0), (2, "u1", 250.0), (3, "u2", 100.0)],
        "lid long, user_id string, lts double",
    ).withColumn("lts", F.timestamp_seconds("lts"))
    right = spark.createDataFrame(
        [
            ("u1", 100.0, "exact-start"),
            ("u1", 160.0, "in-window-crosses-bin"),  # bin(160//60)=2 vs left bin 1
            ("u1", 161.0, "past-60s-window"),
            ("u1", 310.0, "exact-end-for-left2"),
            ("u2", 90.0, "before-start"),
        ],
        "user_id string, rts double, tag string",
    ).withColumn("rts", F.timestamp_seconds("rts"))
    pairs = windowed_range_join(left, right, ["user_id"], "lts", "rts", 60.0)
    got = sorted((r["lid"], r["tag"]) for r in pairs.collect())
    assert got == [
        (1, "exact-start"),        # rts == lts included
        (1, "in-window-crosses-bin"),
        (2, "exact-end-for-left2"),  # rts == lts + W included
    ]
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
