"""Cohort retention analysis over the events stream.

Users are grouped into cohorts by first-active period (week here);
retention is the count of cohort members active again k periods later
— the standard growth-analytics triangle.  No analogue in the
reference (monthly snapshot series only); engine extension over
``events``.

Shape: ONE user-keyed exchange.  Activity is reduced to distinct
(user, period) pairs (map-side combinable), the cohort period is
attached with a window-min over user — same partitioning, no join —
and the (cohort, offset) counts are a second, much smaller
aggregation.  The naive formulation self-joins activity against a
first-seen table: two shuffles of the big side plus a join.
``cohort_size`` rides along as a window-max over the offset-0 row
(every user is active in their own first period by construction), so
retention rate = n_active / cohort_size needs no extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def retention_cohorts(events: DataFrame) -> DataFrame:
    """(cohort_period, period_offset, n_active, cohort_size) table of
    ``(user_id, ts)`` events over weeks; offsets are days/7 (exact
    integers on truncated timestamps).
    """
    # repartition by user FIRST: hash(user) satisfies the clustering
    # requirement of BOTH the (user, period) dedup (subset rule) and
    # the user window, so the raw side crosses the wire exactly once
    # (left alone, Catalyst shuffles on (user, period) for the dedup
    # and then again on user for the window)
    act = (
        events.select(
            F.col("user_id"), F.date_trunc("week", F.col("ts")).alias("period")
        )
        .repartition(F.col("user_id"))
        .dropDuplicates()
    )
    w = Window.partitionBy("user_id")
    coh = act.withColumn("cohort_period", F.min("period").over(w))
    offset = (
        F.datediff(F.col("period").cast("date"), F.col("cohort_period").cast("date"))
        / 7
    ).cast("long")
    agg = coh.groupBy(
        F.col("cohort_period"), offset.alias("period_offset")
    ).agg(F.count(F.lit(1)).alias("n_active"))
    wc = Window.partitionBy("cohort_period")
    return agg.withColumn(
        "cohort_size",
        F.max(F.when(F.col("period_offset") == 0, F.col("n_active"))).over(wc),
    )
