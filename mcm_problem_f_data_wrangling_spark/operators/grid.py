"""Monthly-grid normalization (SURVEY.md §2.4 A4, §2.5 W12).

The notebook's ``ensure_monthly_index`` (``EDA.ipynb cell 25``) does
two things: collapse duplicate months by a dedupe rule (mean/sum/last)
and reindex onto a complete month grid inserting NULL rows for gaps.

Scale design: the calendar spine is generated per-series from that
series' own min/max month via ``sequence`` + ``explode`` — the spine
for a century of months is ~1200 rows per series, negligible next to
the data; the left join back is keyed on (series, month) and AQE
broadcasts the smaller side.  ``last``-based dedupe uses a
lexicographic struct max over (order, value) — NOT ``F.last`` over an
unordered group, which is non-deterministic under shuffle
(SURVEY.md §7 hard parts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEDUPE_RULES = ("mean", "sum", "last")


def collapse_duplicate_months(
    df: DataFrame,
    value_cols: list[str],
    keys: list[str],
    month_col: str = "month",
    rule: str = "mean",
    order_col: str | None = None,
) -> DataFrame:
    """A4: duplicate-month collapse by mean / sum / last.

    Parity: ``to_month_*_index`` helpers (``EDA.ipynb cells 25, 27-28``).
    ``rule='last'`` requires ``order_col`` and uses ``max_by(value,
    order)`` for deterministic pick-latest.
    """
    if rule not in DEDUPE_RULES:
        raise ValueError(f"rule must be one of {DEDUPE_RULES}, got {rule!r}")
    g = df.groupBy(*keys, month_col)
    if rule == "mean":
        aggs = [F.avg(c).alias(c) for c in value_cols]
    elif rule == "sum":
        aggs = [F.sum(c).alias(c) for c in value_cols]
    else:
        if not order_col:
            raise ValueError("rule='last' requires order_col for determinism")
        # lexicographic struct max: ties on order_col fall back to the
        # value itself, so the pick is deterministic even when order_col
        # is not unique (max_by alone is arbitrary under ties).
        aggs = [
            F.max(F.struct(F.col(order_col).alias("k"), F.col(c).alias("v")))["v"].alias(c)
            for c in value_cols
        ]
    return g.agg(*aggs)


def force_complete_month_grid(
    df: DataFrame,
    keys: list[str],
    month_col: str = "month",
) -> DataFrame:
    """W12: reindex onto a gap-free month grid (NULLs for missing months).

    Parity: ``force_complete_month_grid`` (``EDA.ipynb cell 25``,
    ``reindex(pd.date_range(min, max, freq='M'))``).  Spine built
    per-series from ``sequence(min_month, max_month, 1 month)``.
    """
    spine = (
        df.groupBy(*keys)
        .agg(F.min(month_col).alias("_min_m"), F.max(month_col).alias("_max_m"))
        .select(
            *keys,
            F.explode(
                F.sequence(F.col("_min_m"), F.col("_max_m"), F.expr("interval 1 month"))
            ).alias(month_col),
        )
    )
    return spine.join(df, keys + [month_col], "left")


def interpolate_linear(
    df: DataFrame,
    keys: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-series linear interpolation of ``y_col``'s NULL values, in
    place, between the
    nearest non-null neighbors (pandas ``Series.interpolate
    (method='index')`` over the numeric ``x_col`` axis) — the natural
    companion to :func:`force_complete_month_grid`, whose gap rows it
    fills.  Leading/trailing NULLs (no neighbor on one side) stay NULL
    — pandas ``interpolate(method='index', limit_area='inside')``
    semantics (NOT pandas' bare default, which forward-fills trailing
    NaNs with the last observed value); the parity tests assert the
    ``limit_area='inside'`` form.

    Two frame scans over ONE ``(keys)``-partitioned sort — no
    self-joins, no spine re-shuffle: ``last(non-null (x,y) struct)``
    over the preceding frame and ``first`` over the following frame
    give both anchor points; the weight ``(x-x0)/(x1-x0)`` and the
    blend are plain double arithmetic on identical inputs in any
    engine.  ``x_col`` must be numeric (callers materialize e.g. a
    month index) so the weight math stays engine-portable.
    """
    from pyspark.sql import Window

    y, x = F.col(y_col), F.col(x_col).cast("double")
    anchor = F.when(y.isNotNull(), F.struct(x.alias("x"), y.alias("y")))
    w = Window.partitionBy(*keys).orderBy(x_col)
    prev = F.last(anchor, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.first(anchor, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    frac = (x - prev["x"]) / (nxt["x"] - prev["x"])
    filled = (
        F.when(y.isNotNull(), y)
        .when(
            prev.isNotNull() & nxt.isNotNull(),
            prev["y"] + (nxt["y"] - prev["y"]) * frac,
        )
    )
    return df.withColumn(y_col, filled)
