"""Declarative data-quality expectations: constraint checks compiled
into the fewest possible scans.

The validation step of an ingestion pipeline asserts NOT NULL / range /
set-membership / uniqueness / referential integrity before data is
published.  Naively that is one query per constraint; at 100 TB it must
not be.  Here every *row-local* check (null, range, in-set) compiles to
a conditional aggregate inside ONE map-side-combinable ``agg`` — one
scan total regardless of how many such checks are registered.  The two
checks that genuinely need data movement keep it minimal:

- uniqueness is ``COUNT(*) - COUNT(DISTINCT key)``, a partial-agg
  shuffle on the key (the exact path; an HLL ``approx_count_distinct``
  variant would make it scan-local at the cost of exactness);
- referential integrity is a LEFT ANTI join against the dimension,
  broadcast when the dimension is small (always, for real FK dims).

The report is one row per check: ``(check_name, n_rows, n_violations,
passed)`` with ``passed`` as BIGINT 0/1 so the whole report is
engine-portable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _report_row(name: str, total: Column, violations: Column) -> Column:
    v = violations.cast("long")
    return F.struct(
        F.lit(name).alias("check_name"),
        total.cast("long").alias("n_rows"),
        v.alias("n_violations"),
        F.when(v == 0, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("passed"),
    )


def expectations_report(
    df: DataFrame,
    *,
    not_null: tuple[str, ...] = (),
    ranges: dict[str, tuple[float | None, float | None]] | None = None,
    in_set: dict[str, tuple] | None = None,
    unique: tuple[tuple[str, ...], ...] = (),
    references: tuple[tuple[str, DataFrame, str], ...] = (),
) -> DataFrame:
    """Run all registered checks; return one report row per check.

    ``ranges`` maps column -> (lo, hi) inclusive bounds (None = open
    side); violations count non-null values outside the bounds.
    ``in_set`` maps column -> allowed values; non-null values outside
    the set violate.  ``unique`` lists key tuples.  ``references``
    lists (fk_col, dim_df, pk_col) foreign keys.
    """
    ranges = ranges or {}
    in_set = in_set or {}

    # --- row-local checks: ONE scan, one conditional agg per check ---
    aggs = [F.count(F.lit(1)).alias("__total")]
    names: list[str] = []
    for c in not_null:
        names.append(f"not_null:{c}")
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c))).alias(f"__v_{len(names)}"))
    for c, (lo, hi) in ranges.items():
        cond = F.lit(False)
        if lo is not None:
            cond = cond | (F.col(c) < F.lit(lo))
        if hi is not None:
            cond = cond | (F.col(c) > F.lit(hi))
        names.append(f"range:{c}")
        aggs.append(F.count(F.when(cond, 1)).alias(f"__v_{len(names)}"))
    for c, vals in in_set.items():
        names.append(f"in_set:{c}")
        aggs.append(F.count(F.when(~F.col(c).isin(*vals), 1)).alias(f"__v_{len(names)}"))
    one = df.agg(*aggs)
    scan_report = one.select(
        F.explode(
            F.array(
                *[
                    _report_row(n, F.col("__total"), F.col(f"__v_{i + 1}"))
                    for i, n in enumerate(names)
                ]
            )
        ).alias("r")
    ).select("r.*")
    parts = [scan_report]

    # --- uniqueness: partial-agg shuffle on the key (exact) ---
    for key in unique:
        u = df.agg(
            F.count(F.lit(1)).alias("__total"),
            F.count_distinct(*[F.col(k) for k in key]).alias("__d"),
        ).select(
            F.inline(
                F.array(
                    _report_row(
                        f"unique:{','.join(key)}",
                        F.col("__total"),
                        F.col("__total") - F.col("__d"),
                    )
                )
            )
        )
        parts.append(u)

    # --- referential integrity: broadcast left join + conditional agg
    # (one scan; LEFT not ANTI so total and orphan counts share it) ---
    for fk, dim, pk in references:
        dimk = (
            dim.select(F.col(pk).alias(fk)).distinct().withColumn("__hit", F.lit(1))
        )
        r = (
            df.join(F.broadcast(dimk), on=fk, how="left")
            .agg(
                F.count(F.lit(1)).alias("__total"),
                F.count(F.when(F.col("__hit").isNull(), 1)).alias("__v"),
            )
            .select(
                F.inline(
                    F.array(_report_row(f"fk:{fk}", F.col("__total"), F.col("__v")))
                )
            )
        )
        parts.append(r)

    return reduce(DataFrame.unionByName, parts)
