"""One-scan dataset profiler: per-column completeness / bounds /
cardinality for arbitrary tables.

The first step of any ingestion pipeline — "what is in this table?" —
must not cost one scan PER COLUMN at 100 TB.  Everything here comes
from ONE pass: all per-column aggregates run inside a single
map-side-combinable ``agg`` (Catalyst evaluates them in the same
WholeStageCodegen loop), the result is a 1-row relation, and the
wide→long reshape explodes that single row — so the total cost is one
scan + a 1-row shuffle regardless of column count.

Typing rules keep the output engine-portable (the oracle replays the
exact values): numeric bounds surface as DOUBLE, string bounds as
strings (no number→text formatting, which engines disagree on),
timestamps as epoch MICROS.  ``approx_distinct`` (HLL++, the 100 TB
cardinality path — exact per-column distinct would need an EXPAND of
the whole scan) is estimator-specific, so the oracled query projects
it away and tests bound its error instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    NumericType,
    StringType,
    TimestampNTZType,
    TimestampType,
)

# Parquet timestamps without a timezone annotation surface as NTZ under
# Spark 4's inferTimestampNTZ default; the session pins UTC, so casting
# NTZ through TIMESTAMP yields the same epoch-micros DuckDB reports.
_TEMPORAL = (TimestampType, TimestampNTZType, DateType)


def profile_dataset(df: DataFrame) -> DataFrame:
    """Long-format profile: one row per column of ``df`` with
    (column, n, n_null, min_num, max_num, min_str, max_str,
    approx_distinct)."""
    fields = {f.name: f.dataType for f in df.schema.fields}
    cols = list(fields)
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    aggs = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        t = fields[c]
        aggs.append(F.count(F.col(c)).alias(f"__n_{c}"))
        aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__d_{c}"))
        if isinstance(t, NumericType):
            mn, mx = F.min(c).cast("double"), F.max(c).cast("double")
        elif isinstance(t, _TEMPORAL):
            mn = F.unix_micros(F.min(F.col(c).cast("timestamp"))).cast("double")
            mx = F.unix_micros(F.max(F.col(c).cast("timestamp"))).cast("double")
        else:
            mn = mx = null_d
        aggs.append(mn.alias(f"__mn_{c}"))
        aggs.append(mx.alias(f"__mx_{c}"))
        if isinstance(t, StringType):
            smn, smx = F.min(c), F.max(c)
        else:
            smn = smx = null_s
        aggs.append(smn.alias(f"__smn_{c}"))
        aggs.append(smx.alias(f"__smx_{c}"))
    one = df.agg(*aggs)
    entries = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__total").alias("n"),
            (F.col("__total") - F.col(f"__n_{c}")).alias("n_null"),
            F.col(f"__mn_{c}").alias("min_num"),
            F.col(f"__mx_{c}").alias("max_num"),
            F.col(f"__smn_{c}").alias("min_str"),
            F.col(f"__smx_{c}").alias("max_str"),
            F.col(f"__d_{c}").alias("approx_distinct"),
        )
        for c in cols
    ]
    return one.select(F.explode(F.array(*entries)).alias("p")).select("p.*")
