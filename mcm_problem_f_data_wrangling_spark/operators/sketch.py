"""Sketch-based approximate aggregates — the 100 TB substitutes for
exact distinct counts and exact percentiles (engine extension).

At scale, ``COUNT(DISTINCT x)`` shuffles every distinct value and
exact ``percentile`` buffers whole groups; the sketch versions carry
fixed-size state (HyperLogLog++ registers / a quantile summary) through
an ordinary partial/final aggregation, so cost is O(groups), not
O(rows).  The exact queries stay available (``a06_quantile_summary``,
``p11_distinct_pairs``) — these are the drop-ins once groups stop
fitting in memory.

Accuracy is implementation-defined (HLL++ rsd, Greenwald-Khanna
accuracy parameter), so there is no cross-engine oracle; correctness
is bounded-relative-error tests against the exact answers
(``tests/test_sketch.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def approx_distinct_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Per-group HyperLogLog++ distinct count (relative std dev 1%)."""
    return df.groupBy(*group_cols).agg(
        F.approx_count_distinct(value_col, 0.01).alias("approx_distinct"),
        F.count(value_col).alias("n_rows"),
    )


def rolling_distinct_exact(
    events: DataFrame,
) -> DataFrame:
    """Exact rolling 7-day distinct actives (the WAU curve) of
    ``(user_id, ts)`` events.

    Rolling COUNT(DISTINCT) cannot be composed from daily distinct
    counts (overlap) and DISTINCT isn't allowed in window aggregates;
    the distributed-exact formulation instead explodes each distinct
    (user, day) pair to the 7 report days it contributes
    to, then counts distinct users per report day — one explode (×N)
    over the already-deduped pair table + one shuffle.  Report days
    are restricted to days observed in the data (broadcast semi-join
    on the day spine).  Output: (day, active_users).
    """
    day = F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    pairs = events.select(F.col("user_id"), day).dropDuplicates()
    spine = pairs.select("day").dropDuplicates()
    contrib = pairs.select(
        F.col("user_id"),
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select(F.col("user_id"), F.date_add("day", F.col("off")).alias("day"))
    return (
        contrib.join(F.broadcast(spine), "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def approx_quantiles_by(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-group approximate quantiles (Greenwald-Khanna style summary
    at accuracy 10000)."""
    q = F.percentile_approx(
        value_col, F.array(*[F.lit(x) for x in quantiles]), F.lit(10000)
    )
    out = df.groupBy(*group_cols).agg(q.alias("qs"))
    return out.select(
        *group_cols,
        *[
            F.round(F.col("qs")[i], 6).alias(f"p{int(x * 100):02d}")
            for i, x in enumerate(quantiles)
        ],
    )
