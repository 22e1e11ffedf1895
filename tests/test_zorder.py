"""Z-order interleave correctness: known bits, the bit-for-bit SQL
mirror the oracle uses, and the 64-bit overflow guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.functions.zorder import (
    zorder_value,
    zorder_value_sql,
)


def test_interleave_known_bits(spark):
    # x=0b11 -> even positions, y=0b10 -> odd positions: 0b1101 = 13
    df = spark.createDataFrame([(3, 2)], "x bigint, y bigint")
    z = df.select(zorder_value([F.col("x"), F.col("y")], bits=2).alias("z")).first()["z"]
    assert z == 13


def test_interleave_matches_sql_mirror(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") * 7 % 256).alias("x"), (F.col("id") * 13 % 256).alias("y")
    )
    spark_z = [
        r["z"]
        for r in df.select(zorder_value([F.col("x"), F.col("y")], bits=8).alias("z"))
        .orderBy("z")
        .collect()
    ]
    import duckdb

    sql_z = [
        r[0]
        for r in duckdb.sql(
            "WITH d AS (SELECT (range * 7 % 256) AS x, (range * 13 % 256) AS y "
            "FROM range(0, 1000)) SELECT "
            + zorder_value_sql(["x", "y"], bits=8)
            + " AS z FROM d ORDER BY z"
        ).fetchall()
    ]
    assert spark_z == sql_z


def test_interleave_rejects_overflow(spark):
    with pytest.raises(ValueError):
        zorder_value([F.lit(1), F.lit(2)], bits=32)
