"""Ordered event-funnel conversion (view → click → purchase …).

Classic product-analytics operator: how many users performed step 1,
then step 2 strictly after their first step-1 event, then step 3 after
that, etc.  The reference has no event-sequence surface (monthly
series only); engine extension over the ``events`` table.

Shape: the sequential dependency (step i's anchor time depends on step
i-1's) is expressed as CASCADED WINDOW AGGREGATES over one
``partitionBy(user)`` window — each step's first-completion time is a
conditional min over the partition referencing the previous step's
column.  Catalyst plans all steps over a single Exchange on user_id:
one shuffle for the whole funnel, no self-joins (the textbook SQL
formulation joins events per step — S scans and S shuffles).

The final per-step user counts are conditional sums over the distinct
per-user completion rows — map-side combinable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    steps: list[tuple[str, Column]],
    within_seconds: int | None = None,
) -> DataFrame:
    """Per-step completion counts for an ordered funnel over
    ``(user_id, ts)`` events.

    ``steps`` is (name, predicate) per step; a user completes step i at
    the earliest event satisfying predicate i that is strictly later
    than their step i-1 completion (any matching event for step 1) —
    and, with ``within_seconds``, no more than that long after it (the
    usual product-analytics conversion-window semantics).

    Output: (stage_idx, stage, n_users, n_entered) — ``n_entered`` is
    step i-1's ``n_users`` (total funnel entrants for step 1), so
    conversion rate is n_users / n_entered.
    """
    w = Window.partitionBy("user_id")
    cur = events
    prev_t: Column | None = None
    tcols: list[str] = []
    for i, (name, pred) in enumerate(steps):
        tcol = f"__t{i}"
        if prev_t is None:
            cond = pred
        else:
            cond = pred & (F.col("ts") > prev_t)
            if within_seconds is not None:
                cond = cond & (
                    F.col("ts")
                    <= prev_t + F.make_dt_interval(secs=F.lit(float(within_seconds)))
                )
        cur = cur.withColumn(
            tcol, F.min(F.when(cond, F.col("ts"))).over(w)
        )
        prev_t = F.col(tcol)
        tcols.append(tcol)

    per_user = cur.groupBy("user_id").agg(
        *[F.min(t).alias(t) for t in tcols]  # constant per partition; min = the value
    )
    counts = per_user.agg(
        F.count(F.lit(1)).alias("__total"),
        *[F.count(t).alias(f"__n{i}") for i, t in enumerate(tcols)],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col(f"__n{i}").alias("n_users"),
                F.col("__total" if i == 0 else f"__n{i-1}").alias("n_entered"),
            )
            for i, (name, _) in enumerate(steps)
        ]
    )
    return counts.select(F.explode(rows).alias("r")).select("r.*")
