"""Structured Streaming extension (SURVEY.md §2.8): the tumbling-window
rollup.

The reference is pure batch over monthly snapshot files — no streaming
surface exists in it.  This module is the clearly-labeled *extension*
the survey plans (§2.8, §7): the event-time tumbling-window rollup,
applied to a stream the caller opens.  ``s08_tumbling_window_rollup``
runs it over a file stream with an ``availableNow`` trigger (processes
all available data then stops — the batch-equivalent execution mode)
and checks it against the batch oracle.

Scale notes: a tumbling event-time window with watermark keeps state
bounded to (watermark horizon / window size) windows per key; the
aggregation itself is the same partial/final hash agg as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_rollup_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_size: str = "1 day",
    watermark: "str | None" = "2 days",
) -> DataFrame:
    """Watermark → tumbling window agg (count + sum) on a stream the
    caller opened (with its schema fix-ups, e.g. nanos-as-long
    timestamps).

    The sum is decimal-exact (cast to ``DECIMAL(18,6)`` before
    aggregating, back to double after) for the same reason as the
    batch suite (plans/base.py): decimal addition is associative, so
    the result is bit-identical to the batch oracle no matter how the
    micro-batch planner splits the input.

    ``watermark=None`` skips the watermark: Spark's event-time
    watermark requires TIMESTAMP and rejects TIMESTAMP_NTZ
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), while windowing on NTZ is
    both supported and the PORTABLE choice — buckets follow the
    wall-clock day exactly like the batch oracle's date_trunc, under
    any session timezone.  Complete-mode sinks never evict state, so
    the watermark is semantics-free there anyway; append-mode callers
    on TIMESTAMP streams keep it.
    """
    if watermark is not None:
        stream = stream.withWatermark(ts_col, watermark)
    return (
        stream
        .groupBy(F.window(F.col(ts_col), window_size).alias("w"), F.col(key_col))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total"),
        )
        .select(F.col("w.start").cast("date").alias("day"), key_col, "n", "total")
    )
