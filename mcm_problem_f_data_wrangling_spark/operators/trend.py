"""Per-group OLS trend fit from exact sufficient statistics.

Fits y = slope·x + intercept per group in ONE scan: the normal
equations need only {n, Σx, Σx², Σy, Σy², Σxy}, all map-side-
combinable aggregates — so a million series cost one partial-agg
shuffle, versus per-group iterative fitting.  The reference's trend
layer fits a random-walk-with-drift (operators/forecast.py mirrors
it); this is the regression generalization the survey's model layer
calls for (SURVEY.md §2.9).

Cross-engine determinism (same contract as operators/corrmatrix.py):
sums are decimal-exact — x as DECIMAL(10,0) so the x·y product stays
inside DECIMAL(38) without Spark's precision-loss fallback, y² widened
to DECIMAL(38,12) — then slope/intercept/R² derive from those exact
sums with the textbook formulas in IEEE double, so DuckDB reproduces
every bit.  Zero x-variance → slope/intercept/R² NULL; zero
y-variance → R² NULL (SQL zero-denominator contract, SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ols_trend(
    df: DataFrame,
    group_cols: list[str],
    x: Column,
    y: Column,
) -> DataFrame:
    """One row per group: (n, slope, intercept, r2), rounded to 9
    places; ``y`` sums as decimal with 6 places."""
    xd = x.cast("decimal(10,0)")
    yd = y.cast("decimal(18,6)")
    yw = y.cast("decimal(28,6)")
    agg = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("__sx"),
        F.sum(xd * xd).cast("double").alias("__sxx"),
        F.sum(yd).cast("double").alias("__sy"),
        F.sum((yw * yw).cast("decimal(38,12)")).cast("double").alias("__syy"),
        F.sum(xd * yd).cast("double").alias("__sxy"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("__sx"), F.col("__sxx")
    sy, syy, sxy = F.col("__sy"), F.col("__syy"), F.col("__sxy")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    ssy = n * syy - sy * sy
    slope = F.when(den != 0, num / den)
    intercept = F.when(den != 0, (sy - (num / den) * sx) / n)
    r2 = F.when((den != 0) & (ssy != 0), num * num / (den * ssy))
    return agg.select(
        *group_cols,
        "n",
        F.round(slope, 9).alias("slope"),
        F.round(intercept, 9).alias("intercept"),
        F.round(r2, 9).alias("r2"),
    )
