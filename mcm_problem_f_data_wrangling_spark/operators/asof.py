"""As-of (last-value-before) join — an operator Spark lacks natively
(engine extension; pandas ``merge_asof`` / DuckDB ``ASOF JOIN``
equivalent).

Naive SQL for "latest right row with ``r.ts <= l.ts`` per key" is an
inequality join — Spark plans that as BroadcastNestedLoopJoin (or a
cartesian) and it dies at scale.  The scalable formulation used here:
tag and UNION both sides, sort each key's rows by (ts, side) inside a
single window, and carry the right side's columns forward with
``last(ignorenulls)`` — right rows sort before left rows at equal ts,
so the match is ``<=``.  ONE shuffle on the join key, no range
explosion, and AQE handles skewed keys like any other window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    attach: tuple[str, ...] = (),
) -> DataFrame:
    """Left as-of join on the ``ts`` column of both sides: for every
    left row, attach ``attach`` columns (as ``<c>_asof``, with the right
    ``ts`` as ``ts_asof``) from the latest right row with right ``ts``
    <= left ``ts`` per ``on`` key (NULLs when no such row).

    Ties on the right ``ts`` within a key resolve to one arbitrary row —
    the same contract as DuckDB ASOF JOIN / pandas merge_asof.
    """
    out_cols = [f"{c}_asof" for c in attach]
    ats = "ts_asof"  # right timestamp always attached

    r = right.select(
        *on,
        F.col("ts").alias(ats),
        *[F.col(c).alias(rc) for c, rc in zip(attach, out_cols)],
        F.lit(0).alias("__side"),
    )
    l = left.withColumn(ats, F.lit(None).cast(r.schema[ats].dataType))
    for c, rc in zip(attach, out_cols):
        l = l.withColumn(rc, F.lit(None).cast(dict(right.dtypes)[c]))
    l = l.withColumn("__side", F.lit(1))
    for c in l.columns:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None).cast(dict(l.dtypes)[c]))

    order_ts = F.when(F.col("__side") == 0, F.col(ats)).otherwise(F.col("ts"))
    w = (
        Window.partitionBy(*on)
        .orderBy(order_ts, "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = l.unionByName(r.select(*l.columns))
    filled = unioned.withColumns(
        {c: F.last(c, ignorenulls=True).over(w) for c in [ats, *out_cols]}
    )
    return filled.filter(F.col("__side") == 1).drop("__side")
