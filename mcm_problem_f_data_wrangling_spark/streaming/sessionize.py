"""Gap-based sessionization (SURVEY.md §2.8 extension — the reference
has no event-stream surface).

Events for a key belong to one session while consecutive event times
are ≤ ``gap_seconds`` apart; a larger gap closes the session and
starts a new one.  A closed session row is ``(key, session_start,
session_end, n_events, total_value)``.

:func:`sessionize_batch` is pure window functions: flag gap breaks
with ``lag``, running-sum the flags into a session id, aggregate.  One
shuffle on the key; everything in whole-stage codegen, and
oracle-checkable (lag + windowed sum exist in ANSI SQL).  The live
streaming session gates (s31, s43) use Spark's native
``session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch sessionization: lag → gap flag → running-sum session id →
    aggregate.  Emits ALL sessions (batch input is complete)."""
    w = Window.partitionBy(key_col).orderBy(ts_col)
    # TIMESTAMP_NTZ cannot cast straight to BIGINT; route through
    # TIMESTAMP (exact under the session's pinned UTC zone) and compare
    # in integer microseconds.
    # whole-SECOND gap math (the documented cross-engine contract —
    # the oracle floors epoch()); comparing raw microseconds instead
    # flags a 21600.5 s gap that floored seconds call exactly 21600
    ts_s = F.floor(
        F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(1_000_000)
    ).cast("long")
    new_session = F.when(
        ts_s - F.lag(ts_s).over(w) > gap_seconds, F.lit(1)
    ).otherwise(F.lit(0))
    sid = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("_sid", sid)
        .groupBy(F.col(key_col).cast("string").alias("key"), "_sid")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            # decimal-cast before summing: order-independent exactness
            # (plans/base.py determinism contract)
            F.sum(F.col(value_col).cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .drop("_sid")
    )
