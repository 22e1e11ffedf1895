"""Skew-resistant helpers: semantics must equal the unsalted plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.skew import salted_group_agg


@pytest.fixture(scope="module")
def skewed(spark):
    # one hot key carrying 90% of rows, plus a long tail
    rows = [("hot", float(i % 7)) for i in range(9000)]
    rows += [(f"k{i % 50}", float(i % 11)) for i in range(1000)]
    return spark.createDataFrame(rows, ["key", "value"])


def test_salted_agg_matches_plain(skewed):
    plain = {
        (r["key"]): (r["s"], r["n"])
        for r in skewed.groupBy("key")
        .agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("s"), F.count("*").alias("n"))
        .collect()
    }
    salted = {
        (r["key"]): (r["s"], r["n"])
        for r in salted_group_agg(
            skewed,
            ["key"],
            {"s": F.sum(F.col("value").cast("decimal(18,6)")), "n": F.count(F.lit(1))},
            n_salts=8,
        ).collect()
    }
    assert plain == salted


def test_salted_agg_two_exchanges(skewed):
    plan = salted_group_agg(
        skewed, ["key"], {"n": F.count(F.lit(1))}, n_salts=8
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") >= 2  # (key,salt) shuffle then key shuffle


def test_aqe_splits_skewed_join_at_runtime(spark):
    """AQE skew-join handling: with a 90%-hot key and thresholds scaled
    to test data, the final adaptive plan must mark the skewed
    partition split (skew=true) — this is the runtime half of the skew
    story (operators/skew.py salting is the compile-time half)."""
    restore = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        left = spark.range(100_000).selectExpr(
            "CASE WHEN id % 10 < 9 THEN 7 ELSE id % 1000 END AS k",
            "id AS payload",
        )
        right = spark.range(1000).selectExpr("id AS k", "id * 2 AS attr")
        joined = left.join(right, "k")
        # execute through THIS frame's own QueryExecution (count()/write
        # build separate query trees whose adaptive plans finalize
        # independently) — toPandas collects via the same _jdf
        n = len(joined.toPandas())
        assert n == 100_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed partition"
    finally:
        for k, v in restore.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
