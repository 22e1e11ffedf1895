"""Change-data-capture apply: change log -> current snapshot.

Collapses an ordered stream of row-level changes (upserts + deletes)
into the final table state — the core of lakehouse MERGE/upsert
maintenance (Delta/Iceberg MERGE INTO, Kafka compacted-topic
materialization). No analogue in the reference (its tables are static
monthly extracts); engine extension per SURVEY.md §2.3 notes.

Scale shape: the winner per key is ``max(struct(order, payload))`` —
an ordinary combinable aggregate, so Spark computes it with map-side
partial aggregation and ONE shuffle on the key, no global sort and no
window. At 100 TB the alternative (row_number over a key window)
sorts every partition; struct-max only keeps one candidate row per
key per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cdc_apply(
    changes: DataFrame,
    key_cols: list[str],
    ts_col: str,
    op_col: str,
    attr_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a change log and return the resulting snapshot.

    For each key the latest change by ``(ts_col, *tiebreak_cols)``
    wins; if its ``op_col`` equals ``"D"`` the key is absent
    from the output, otherwise the output row carries the winning
    change's ``attr_cols``.
    """
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak_cols or [])]
    payload = F.struct(
        *order,
        F.col(op_col).alias("__op"),
        F.struct(*[F.col(c) for c in attr_cols]).alias("__attrs"),
    )
    latest = (
        changes.groupBy(*key_cols)
        .agg(F.max(payload).alias("__w"))
        .select(
            *key_cols,
            F.col("__w.__op").alias("__op"),
            *[F.col(f"__w.__attrs.{c}").alias(c) for c in attr_cols],
        )
    )
    return latest.filter(F.col("__op") != "D").drop("__op")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Table diff between two snapshots: the inverse of ``cdc_apply``.

    Returns one row per changed key with ``change_type`` in
    ``('insert', 'delete', 'update')`` plus ``old_<c>`` / ``new_<c>``
    for every compared column; unchanged keys are dropped.  This is
    the lakehouse "what did this batch change" primitive (Delta CDF /
    Iceberg changelog derivation, snapshot-based replication diffing).

    Scale shape: ONE full-outer shuffle join on the key — both sides
    hash-partition once, comparison is row-local (null-safe ``<=>``
    so NULL→value and value→NULL both count as updates), and the
    unchanged majority is filtered before anything else happens, so
    the output stays proportional to the churn, not the table.
    """
    compare_cols = compare_cols or [
        c for c in old.columns if c not in key_cols and c in new.columns
    ]
    o = old.select(
        *key_cols, *[F.col(c).alias(f"old_{c}") for c in compare_cols]
    ).withColumn("__o", F.lit(1))
    n = new.select(
        *key_cols, *[F.col(c).alias(f"new_{c}") for c in compare_cols]
    ).withColumn("__n", F.lit(1))
    j = o.join(n, on=key_cols, how="full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("__o").isNull(), F.lit("insert"))
        .when(F.col("__n").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            *key_cols,
            "change_type",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )
