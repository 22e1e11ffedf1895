"""Slowly-changing-dimension (SCD type 2) history derivation.

Turns a change-event stream (key, ts, attributes) into versioned
dimension history: one row per (key, version) with
[valid_from, valid_to) intervals and an is_current flag — the standard
warehouse shape for as-of dimension joins (pair with
``operators/asof.py`` to attach the version in effect at fact time).
No analogue in the reference (static monthly dimensions); engine
extension.

Shape: one key-partitioned window (sort by event time) does
everything — no-op-change collapse via lag comparison, interval close
via lead — so the cost is one shuffle on the dimension key regardless
of attribute count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    updates: DataFrame,
    key_cols: list[str],
    ts_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Versioned history from change events.

    - consecutive updates with identical ``attr_cols`` collapse into
      the earlier version (no-op changes don't open new intervals);
    - ``valid_to`` is the next version's ``valid_from`` (NULL = still
      current, with ``is_current`` = 1);
    - the attributes themselves break ties within the same timestamp
      deterministically.

    Output: key_cols + attr_cols + (valid_from, valid_to, version,
    is_current).
    """
    order = [F.col(ts_col)] + [F.col(c) for c in attr_cols]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    attrs = F.struct(*[F.col(c) for c in attr_cols])
    changed = (
        F.lag(attrs).over(w).isNull()
        | (attrs != F.lag(attrs).over(w))
    )
    versions = (
        updates.withColumn("__chg", changed)
        .filter(F.col("__chg"))
        .drop("__chg")
    )
    # second window over the SAME partitioning/ordering: no extra shuffle
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        versions.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("version", F.row_number().over(w2).cast("long"))
        .withColumn(
            "is_current",
            F.col("valid_to").isNull().cast("bigint"),
        )
        .select(
            *key_cols,
            *attr_cols,
            "valid_from",
            "valid_to",
            "version",
            "is_current",
        )
    )
