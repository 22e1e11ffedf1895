"""Hypertable-style hierarchical time-bucket rollup cascade.

TimescaleDB/Druid-style continuous aggregates: the raw event stream is
rolled up to the finest grain ONCE, and every coarser grain aggregates
the *previous level's output*, never the raw table.  At 100 TB the
difference is the whole game: day-from-hour processes ~1/60th of the
rows day-from-raw would, and week-from-day ~1/24th again — the raw
scan happens exactly once for the entire grain hierarchy.

Correct cascading needs re-aggregatable summaries: COUNT cascades as
SUM, SUM as SUM (kept as decimal through the cascade so re-summing is
exact and the DuckDB oracle matches bit-for-bit), MIN/MAX as MIN/MAX;
AVG is derived as total/n at read time.  Non-decomposable stats
(exact percentiles) cannot cascade — use the sketch operators
(operators/sketch.py), whose merge IS the cascade step.

No analogue in the reference (its only time grain is the monthly
snapshot — SURVEY.md §2.5); engine extension on the streaming/events
surface.  In production each level is written as a table (the
continuous-aggregate pattern); here intermediate levels are persisted
so the in-query cascade also scans raw only once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize

# valid date_trunc grains, finest → coarsest (subset that cascades cleanly)
GRAIN_ORDER = ("minute", "hour", "day", "week", "month", "quarter", "year")


def rollup_cascade(
    df: DataFrame, grains: tuple[str, ...] = ("hour", "day", "week")
) -> DataFrame:
    """Cascaded rollup of ``value`` by ``ts`` bucket and ``event_type``,
    long format: (grain, bucket, event_type, n, total).

    ``grains`` must be ordered finest → coarsest (each must truncate
    cleanly into the next; validated against GRAIN_ORDER).  The finest
    level aggregates ``df``; every other level aggregates the level
    below it.  Totals stay decimal(38,6) inside the cascade and
    surface as double.
    """
    order = [GRAIN_ORDER.index(g) for g in grains]
    if order != sorted(order) or len(set(order)) != len(order):
        raise ValueError(f"grains must be strictly finest->coarsest, got {grains}")

    cur = (
        df.groupBy(F.date_trunc(grains[0], F.col("ts")).alias("bucket"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("_dtotal"),
        )
    )
    levels: list[tuple[str, DataFrame]] = [(grains[0], cur)]
    for g in grains[1:]:
        prev = materialize(levels[-1][1])  # scanned twice: as output and as input below
        nxt = (
            prev.groupBy(F.date_trunc(g, F.col("bucket")).alias("bucket"), "event_type")
            .agg(F.sum("n").alias("n"), F.sum("_dtotal").alias("_dtotal"))
        )
        levels[-1] = (levels[-1][0], prev)
        levels.append((g, nxt))

    out: DataFrame | None = None
    for g, lv in levels:
        o = lv.select(
            F.lit(g).alias("grain"),
            "bucket",
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("_dtotal").cast("double").alias("total"),
        )
        out = o if out is None else out.unionByName(o)
    assert out is not None
    return out
