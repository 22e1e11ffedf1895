"""One-scan pairwise correlation matrix.

The reference computes one rolling correlation between two series (nb
c17, SURVEY.md §2.5 W4); the engine generalizes to the full pairwise
Pearson matrix over any column set — the standard EDA/feature-triage
step — computed in ONE aggregation pass: every pairwise correlation
derives from {n, Σx, Σx², Σxy}, all of which are map-side-combinable
sums, so k columns cost one scan and one 1-row shuffle for k(k-1)/2
correlations (the naive per-pair ``df.corr(a, b)`` loop scans k²/2
times).

Cross-engine determinism: the sums are decimal-exact (cast before
summing, like every other money-sum in the suite — see plans/base.py),
and the correlation is derived from those exact sums with the textbook
formula, so the DuckDB oracle reproduces the value bit-for-bit —
which engine-native ``corr()`` (Welford-style streaming) would not.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def corr_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations → (col_a, col_b, corr), one scan,
    over the columns cast to ``decimal(18,6)`` and rounded to 6 places.

    ``corr`` is NULL for a zero-variance column (SQL convention).
    """
    dec = "decimal(18,6)"
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).cast(dec)).cast("double").alias(f"__s_{c}"))
    for a, b in combinations(cols, 2):
        aggs.append(
            F.sum((F.col(a).cast(dec) * F.col(b).cast(dec)).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"__p_{a}_{b}")
        )
    for c in cols:
        aggs.append(
            F.sum((F.col(c).cast(dec) * F.col(c).cast(dec)).cast("decimal(38,12)"))
            .cast("double")
            .alias(f"__p_{c}_{c}")
        )
    agg = df.agg(*aggs)

    n = F.col("__n").cast("double")

    def var_term(c: str):
        return n * F.col(f"__p_{c}_{c}") - F.col(f"__s_{c}") * F.col(f"__s_{c}")

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"),
                F.lit(b).alias("col_b"),
                F.round(
                    # try_divide: a zero-variance column yields NULL corr
                    # instead of DIVIDE_BY_ZERO under the driver's ANSI-on
                    # session (oracle mirrors with NULLIF)
                    F.try_divide(
                        n * F.col(f"__p_{a}_{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}"),
                        F.sqrt(var_term(a) * var_term(b)),
                    ),
                    6,
                ).alias("corr"),
            )
            for a, b in combinations(cols, 2)
        ]
    )
    return agg.select(F.explode(pairs).alias("r")).select("r.*")
