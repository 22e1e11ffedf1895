"""Structured Streaming extension (SURVEY.md §2.8).

The reference is pure batch over monthly snapshot files — no streaming
surface exists in it.  This module is the clearly-labeled *extension*
the survey plans (§2.8, §7): the same tumbling-window rollup the batch
suite runs (``s08_tumbling_window_rollup``) expressed over
``readStream``, with a watermark for late data.  The batch mirror is
what the correctness oracle checks; the streaming variant is exercised
in tests with a file source + ``availableNow`` trigger (processes all
available data then stops — the batch-equivalent execution mode).

Scale notes: a tumbling event-time window with watermark keeps state
bounded to (watermark horizon / window size) windows per key; the
aggregation itself is the same partial/final hash agg as batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def streaming_tumbling_rollup(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_size: str = "1 day",
    watermark: str = "2 days",
) -> DataFrame:
    """readStream → watermark → tumbling window agg (count + sum).

    Returns the unstarted streaming DataFrame; callers attach a sink
    (tests use ``format("memory")`` + ``trigger(availableNow=True)``).

    The sum is decimal-exact (cast to ``DECIMAL(18,6)`` before
    aggregating, back to double after) for the same reason as the
    batch suite (plans/base.py): decimal addition is associative, so
    the result is bit-identical to the batch mirror no matter how the
    micro-batch planner splits the input — which is exactly what the
    live driver gate compares against.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return tumbling_rollup_agg(stream, ts_col, key_col, window_size, watermark)


def tumbling_rollup_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_size: str = "1 day",
    watermark: "str | None" = "2 days",
) -> DataFrame:
    """The rollup aggregation on an already-opened stream (callers
    that need schema fix-ups — e.g. nanos-as-long timestamps — open
    the stream themselves and pass it here).

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

