"""Shared plumbing for the query suite (``queries()`` / ``oracle_sql()``).

Cross-engine determinism contract
---------------------------------
The driver hash-compares Spark results against DuckDB oracles, so
every query here is engineered for bit-stable values across engines:

- **Money/quantity sums are decimal-exact.**  Doubles are cast to
  ``DECIMAL(18,6)`` *before* summing (per-value rounding is
  deterministic; decimal addition is associative), summed exactly,
  then cast back to double.  This removes FP-summation-order
  divergence entirely — Spark's partial/final aggregate order and
  DuckDB's need not match.
- **Division happens in double, after exact sums** — one IEEE op on
  identical inputs is identical everywhere.
- **Frame aggregates that can't be decimalized** (stddev, corr,
  median interpolation, percentile) are rounded to a precision
  several orders above their worst-case cross-engine error.
- **Counts are BIGINT on both sides** (DuckDB ``SUM(int)`` is HUGEINT,
  ``len()`` is BIGINT; Spark ``count`` is long — everything is cast).
- Column names are aliased identically in both dialects (the driver
  sorts columns by name before hashing).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass(frozen=True)
class Query:
    """One driver-checkable query: Spark plan + optional DuckDB oracle."""

    name: str
    doc: str
    spark: Callable[[SparkSession, str], DataFrame]
    sql: str | None = None
    headline: bool = False
    tags: tuple[str, ...] = field(default=())


QUERIES: list[Query] = []
"""Every registered query, in registration (suite-import) order."""


def query(
    name: str,
    doc: str,
    sql: str | None = None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
):
    """Register the decorated ``fn(spark, sf_dir)`` as a :class:`Query`."""

    def wrap(fn):
        if any(q.name == name for q in QUERIES):
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES.append(Query(name, doc, fn, sql, headline, tags))
        return fn

    return wrap


# DuckDB whitespace tokenizer shared by the text oracles
TOKS = r"list_filter(regexp_split_to_array(text, '\s+'), t -> t != '')"


def H16(expr: str) -> str:
    """DuckDB 16-bit token hash: the first 4 hex digits of md5."""
    return f"CAST('0x' || substr(md5({expr}), 1, 4) AS BIGINT)"


# DuckDB 3-word shingles of ``toks`` (a doc's short tail is one shingle)
SHINGLES = (
    "CASE WHEN len(toks) >= 3 "
    "THEN list_transform(generate_series(1, len(toks) - 2), "
    "i -> array_to_string(toks[i:i+2], ' ')) "
    "ELSE [array_to_string(toks, ' ')] END"
)


def _sig_col_sql(i: int) -> str:
    # Kirsch–Mitzenmacher two-hash scheme, mirroring
    # operators/dedup.py minhash_hashpair_col / minhash_signature_cols:
    # ONE md5 per shingle, split into two 56-bit halves (h1, h2), then
    # s_i = min over shingles of (h1 + i*h2).
    h1 = "CAST('0x' || substr(m, 1, 14) AS BIGINT)"
    h2 = "CAST('0x' || substr(m, 15, 14) AS BIGINT)"
    body = h1 if i == 0 else f"{h1} + {i} * {h2}"
    return f"list_min(list_transform(m5, m -> {body})) AS s{i}"


_SIG_COLS_SQL = ",\n       ".join(_sig_col_sql(i) for i in range(16))


def sig_cte(src: str = "documents") -> str:
    """MinHash-signature CTE chain over ``src`` (a table or an
    earlier CTE — the sharded gates pass their sample CTE)."""
    return f"""
toks_t AS (SELECT doc_id, {TOKS} AS toks FROM {src}),
sh AS (SELECT doc_id, {SHINGLES} AS shingles FROM toks_t),
m5_t AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS m5 FROM sh),
sig AS (
  SELECT doc_id,
       {_SIG_COLS_SQL}
  FROM m5_t
)
""".strip()


# the 16-signature MinHash CTE over ``documents``, and its LSH banding
# (8 bands × 2 rows) over the ``sig`` CTE
SIG_CTE = sig_cte()
BANDED_SQL = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_idx, concat_ws('|', s{b * 2}, s{b * 2 + 1}) AS band_key FROM sig"
    for b in range(8)
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # driver testdata stores events.ts as TIMESTAMP(NANOS)
        from ..sources.readers import read_nanos_timestamp_parquet

        return read_nanos_timestamp_parquet(spark, path)
    return spark.read.parquet(path)


def stream_table(
    spark: SparkSession, sf_dir: str, name: str, schema: StructType | None = None
) -> DataFrame:
    """Replay a testdata table as a file stream.

    ``<name>.parquet`` is a flat FILE in the driver's testdata but a
    Spark-written DIRECTORY in ``benchdata/sf1``; the streaming file
    source needs a directory base path, so the glob plus recursive
    lookup reads both layouts.  ``schema`` defaults to the table's
    on-disk schema, read with ``nanosAsLong`` on (a TimestampType
    ``ts`` in the read schema would make the scan throw on the
    TIMESTAMP(NANOS) layout); ``ts`` then gets the same nanos fix-up
    as :func:`sources.readers.read_nanos_timestamp_parquet`.
    """
    from ..sources.readers import micros_from_nanos

    if schema is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(os.path.join(sf_dir, f"{name}.parquet*"))
    )
    return micros_from_nanos(stream)


def dsum(col: Column | str, scale: int = 6) -> Column:
    """Decimal-exact sum of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def DSUM(expr: str, scale: int = 6) -> str:
    """DuckDB mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"


def month_of(ts_col: str) -> Column:
    """Month-start DATE from a timestamp column (F6 month grain)."""
    return F.trunc(F.col(ts_col).cast("date"), "month")


def MONTH_OF(expr: str) -> str:
    return f"CAST(date_trunc('month', {expr}) AS DATE)"


def monthly_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared monthly series: decimal-exact revenue/qty per
    (l_returnflag, month) — the engine's ``career_monthly`` analogue
    (FIXTURES.md §5 role mapping: lineitem plays the CES fact)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.col("l_returnflag").alias("flag"),
        month_of("l_shipdate").alias("month"),
    ).agg(
        dsum("l_extendedprice").alias("revenue"),
        dsum("l_quantity").alias("qty"),
    )


MONTHLY_CTE = f"""
monthly AS (
  SELECT l_returnflag AS flag,
         {MONTH_OF('l_shipdate')} AS month,
         {DSUM('l_extendedprice')} AS revenue,
         {DSUM('l_quantity')} AS qty
  FROM lineitem
  GROUP BY 1, 2
)
""".strip()
