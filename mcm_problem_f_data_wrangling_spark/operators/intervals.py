"""Gaps-and-islands: merge overlapping/adjacent intervals per key.

Collapses a set of (start, end) intervals into maximal disjoint
spans — user activity spans from per-event validity windows, sensor
uptime ranges, contiguous availability blocks. The classic SQL
pattern: an island opens where the interval's start exceeds the
running max of all previous ends; a prefix sum of those flags labels
islands; a group-by per (key, island) emits the merged span. No
analogue in the reference; engine extension.

Scale shape: two window passes + one aggregate, all over the SAME
key partitioning, so Catalyst plans a single exchange on ``key_cols``
(the windows' sort is reused). No self-join, no explosion — O(n log
n/partition) regardless of interval density, where the naive
overlap-self-join is O(n²) per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def merge_intervals(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Merge overlapping and exactly-touching intervals per key.

    Output: key_cols + (span_start, span_end, n_merged) — one row per
    maximal merged span. Intervals are treated as closed on both ends,
    so spans that merely touch (prev_end == start) merge.
    """
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    prev_max_end = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col(start_col) > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    labeled = df.withColumn(
        "__island", F.sum(new_island).over(w)
    )
    return (
        labeled.groupBy(*key_cols, "__island")
        .agg(
            F.min(start_col).alias("span_start"),
            F.max(end_col).alias("span_end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
        .drop("__island")
    )
