"""Distributed order statistics: global rank / running sum / lag
WITHOUT a global single-task window.

An unpartitioned ``Window.orderBy(...)`` serializes its whole input
through ONE task — invisible at sf0.01, fatal at fact scale (VERDICT
r3 on a12; same shape found in the equi-depth histogram and id-gap
queries).  Every helper here uses the same two-pass discipline
instead:

1. ``repartitionByRange`` on the (UNIQUE) order key — any boundary
   choice is correct because the key is total;
2. the per-row statistic runs per partition in parallel;
3. an O(#partitions) boundary table (per-partition counts / sums /
   last values, combined by a window over <= n_buckets rows — bounded
   by the partition COUNT, never by data size) stitches partitions
   together.

The bucketed frame goes through ``materialize`` (local medium) so
both passes structurally share ONE partition-id assignment (range
sampling is seeded-deterministic, but two lineage copies agreeing is
an accident, not a contract) and the second pass doesn't recompute
the input.

.. warning:: two operational caveats of that checkpoint (ADVICE r4;
   mirrors the note in ``dedup.py``):

   - **eager = plan-BUILD-time execution.**  Merely *constructing* a
     query through these helpers runs a Spark job to materialize the
     bucketed input — callers composing plans lazily (e.g. registry
     imports, ``.explain()`` tooling) pay that job before any action.
   - **executor-local blocks are unrecoverable.**  The local medium
     stores blocks on executors; on a real cluster an executor loss
     makes downstream stages unrecomputable.  The medium is chosen in
     one place, ``materialize.py``; the stitch logic reads the
     ``_PID`` column, not the partitioning, so it is medium-agnostic.

Callers pass order columns that form a TOTAL order (add a unique
tie-break key); with ties the assignment of equal rows to ranks is
partition-dependent.  ``n_buckets`` defaults to 2x the cluster's
default parallelism (A/B at 7.5M groups: 32 fixed buckets left cores
idle behind stragglers, 2x-parallelism buckets ran 2.3x faster); pass
~|rows|/target_partition_rows explicitly when group counts dwarf the
cluster.

Decimal running sums stay exact as long as the input leaves precision
headroom: SUM widens precision by 10 and the offset stitch adds 1
more, so a decimal(18,6) input (the a12 revenue shape) is exact,
while an input already at scale/precision extremes (e.g. the
scale-20 result of a decimal division) would hit Spark's 38-digit
clamp one widening EARLIER than the single-window plan and can differ
in its last digit.  ``global_lag``'s order columns must be plain
ascending columns (its boundary ``max_by`` keys on them directly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..materialize import materialize

_PID = "__prefix_pid"


def _bucketize(
    df: DataFrame, order_by: list[Column], n_buckets: int | None
) -> DataFrame:
    if n_buckets is None:
        n_buckets = 2 * df.sparkSession.sparkContext.defaultParallelism
    return materialize(
        df.repartitionByRange(n_buckets, *order_by).withColumn(
            _PID, F.spark_partition_id()
        )
    )


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out: str = "rank",
    n_buckets: int | None = None,
) -> DataFrame:
    """1-based global row number over a total order, fully parallel."""
    pp = _bucketize(df, order_by, n_buckets)
    w_in = Window.partitionBy(_PID).orderBy(*order_by)
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        pp.groupBy(_PID)
        .agg(F.count(F.lit(1)).alias("__c"))
        .select(_PID, F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"))
    )
    return (
        pp.withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offs), _PID)
        .withColumn(out, F.col("__off") + F.col("__rn"))
        .drop(_PID, "__rn", "__off")
    )


def global_running_sum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out: str = "running",
    n_buckets: int | None = None,
) -> DataFrame:
    """Inclusive running sum of ``value_col`` over a total order."""
    pp = _bucketize(df, order_by, n_buckets)
    w_in = Window.partitionBy(_PID).orderBy(*order_by).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    # __off stays NULL (not 0) when NO prior partition holds a non-null
    # value: the native running sum is NULL until the first non-null
    # value, and a 0 here would turn those leading NULLs into 0s.  SUM
    # skips NULLs on both levels, so __off is the carried prefix
    # whenever one exists.
    offs = (
        pp.groupBy(_PID)
        .agg(F.sum(value_col).alias("__s"))
        .select(_PID, F.sum("__s").over(w_off).alias("__off"))
    )
    stitched = F.when(
        F.col("__cum").isNull() & F.col("__off").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("__off"), F.lit(0)) + F.coalesce(F.col("__cum"), F.lit(0))
    )
    return (
        pp.withColumn("__cum", F.sum(value_col).over(w_in))
        .join(F.broadcast(offs), _PID)
        .withColumn(out, stitched)
        .drop(_PID, "__cum", "__off")
    )


def global_lag(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    out: str = "prev",
    n_buckets: int | None = None,
) -> DataFrame:
    """``lag(value_col, 1)`` over a total order; NULL on the first row.

    Each partition's first row takes the previous NON-EMPTY
    partition's last value (``max_by`` over the order key — empty
    partitions never appear in the boundary aggregate, and range
    partition index is monotone in the order key).
    """
    pp = _bucketize(df, order_by, n_buckets)
    w_in = Window.partitionBy(_PID).orderBy(*order_by)
    w_off = Window.orderBy(_PID)
    offs = (
        pp.groupBy(_PID)
        .agg(F.max_by(value_col, F.struct(*order_by)).alias("__last"))
        .select(_PID, F.lag("__last").over(w_off).alias("__prev_last"))
    )
    # the boundary value substitutes ONLY on each partition's first row
    # (__rn = 1) — coalescing on __lag IS NULL would also fire when the
    # predecessor row's VALUE is genuinely NULL mid-partition, wrongly
    # backfilling the prior partition's last value (round-4 review)
    return (
        pp.withColumn("__lag", F.lag(value_col).over(w_in))
        .withColumn("__rn", F.row_number().over(w_in))
        .join(F.broadcast(offs), _PID)
        .withColumn(
            out,
            F.when(F.col("__rn") == 1, F.col("__prev_last")).otherwise(
                F.col("__lag")
            ),
        )
        .drop(_PID, "__lag", "__rn", "__prev_last")
    )
