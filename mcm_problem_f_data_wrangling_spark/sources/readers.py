"""Source readers (SURVEY.md §2.1, S1-S4/S7) re-expressed Spark-first.

Parity notes
------------
- S3 (tab TSV, all-string, header-strip): reference reads with
  ``sep="\\t", dtype="string"`` and strips header whitespace
  (``bls_ces/load_CES_pandas.py:62-65``, ``bls_ces/prep_CES_pandas.py:44-49``).
  Spark CSV with ``inferSchema=false`` is all-string by default; the
  header strip/lower is a driver-side rename (schema is metadata — no
  executor work, SURVEY.md §2.2 P2/P3).
- S2 (whitespace-delimited scan, ``bls_ces/load_CES_pandas.py:49-56``):
  ``spark.read.text`` + regex split.  Kept for completeness; S3
  supersedes it in the reference too.
- S1 (HTTP download, ``bls_ces/load_CES_pandas.py:30-46``) is driver-side
  ingestion, not a distributed op: a tiny idempotent fetch into a
  landing dir is provided in ``download_file``.  At 100 TB the landing
  zone is object storage and the fetch is out-of-band; Spark only ever
  sees the landed files.
"""

from __future__ import annotations

import os
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_columns(df: DataFrame, lower: bool = True) -> DataFrame:
    """Header normalization (P2): strip whitespace, optionally lowercase.

    Mirrors ``bls_ces/load_CES_pandas.py:64,91-93`` /
    ``prep_CES_pandas.py:48``.  Pure metadata rename — zero executor
    cost at any scale.
    """
    names = [c.strip() for c in df.columns]
    if lower:
        names = [c.lower() for c in names]
    return df.toDF(*names)


def find_col(df: DataFrame, candidates: list[str]) -> str:
    """Dynamic key-column resolution (P3): first candidate present.

    Mirrors ``bls_ces/load_CES_pandas.py:96-110`` (KeyError on miss).
    Operates on schema metadata only.
    """
    lower = {c.lower(): c for c in df.columns}
    for cand in candidates:
        if cand.lower() in lower:
            return lower[cand.lower()]
    raise KeyError(f"none of {candidates} found in columns {list(df.columns)}")


def read_tsv(spark: SparkSession, path: str) -> DataFrame:
    """S3: tab-delimited scan, all-string.

    All-string matches ``dtype="string"`` at
    ``bls_ces/load_CES_pandas.py:63``.
    """
    df = spark.read.option("sep", "\t").option("header", "true").csv(path)
    return normalize_columns(df, lower=False)


def read_csv(
    spark: SparkSession, path: str, date_cols: list[str] | None = None
) -> DataFrame:
    """S4: all-string CSV scan with optional date parsing.

    Mirrors ``pd.read_csv(parse_dates=["date"])`` at
    ``bls_ces/check_ces_outputs.py:27``: named ``date_cols`` are cast
    with ``to_date`` (NULL on garbage — same as pandas
    ``errors="coerce"``).
    """
    df = normalize_columns(spark.read.option("header", "true").csv(path), lower=False)
    for c in date_cols or []:
        if c in df.columns:
            # try_to_date, not to_date: pandas errors="coerce" yields
            # NaT on garbage; plain to_date THROWS under an ANSI-on
            # session (the driver's vanilla config)
            df = df.withColumn(c, F.try_to_date(F.col(c)))
    return df


def read_whitespace_tsv(spark: SparkSession, path: str, n_cols: int, names: list[str]) -> DataFrame:
    """S2: whitespace-delimited scan (regex separator).

    Mirrors ``pd.read_csv(sep=r"\\s+", engine="python")`` at
    ``bls_ces/load_CES_pandas.py:49-56``.  Implemented as a line scan +
    split — stays in whole-stage codegen (no Python UDF).
    """
    lines = spark.read.text(path)
    # limit=n_cols: the LAST column absorbs remaining tokens, so a
    # whitespace-bearing final field ("UNITED STATES") round-trips
    # instead of silently truncating to its first token
    parts = F.split(F.trim(F.col("value")), r"\s+", n_cols)
    cols = [parts.getItem(i).alias(names[i]) for i in range(n_cols)]
    # drop the header row by filtering out lines equal to the header tokens
    first = lines.limit(1).collect()
    header = first[0][0] if first else None
    body = lines.filter(F.col("value") != F.lit(header)) if header is not None else lines
    return body.select(*cols)


def read_nanos_timestamp_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan tolerant of a TIMESTAMP(NANOS) ``ts`` column.

    Spark has no nanosecond timestamp type and refuses TIMESTAMP(NANOS)
    parquet by default; with ``legacy.parquet.nanosAsLong`` the column
    arrives as raw nanos (long) and is truncated to microseconds here —
    the same truncation DuckDB applies — via integer division (a
    double-precision divide would lose exactness above 2^53 nanos).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return micros_from_nanos(spark.read.parquet(path))


def micros_from_nanos(df: DataFrame) -> DataFrame:
    """Turn the raw-nanos (bigint) ``ts`` of a ``nanosAsLong`` read
    into a microsecond timestamp; other columns pass through."""
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def download_file(name: str, dest_dir: str, base_url: str) -> str:
    """S1: idempotent driver-side HTTP fetch into a landing dir.

    Mirrors ``download_file`` at ``bls_ces/load_CES_pandas.py:30-46``
    (skip when a non-empty file already exists; UA header set).  Not a
    Spark op — ingestion happens before the distributed plan.
    """
    os.makedirs(dest_dir, exist_ok=True)
    dest = os.path.join(dest_dir, name)
    if os.path.exists(dest) and os.path.getsize(dest) > 0:
        return dest
    req = urllib.request.Request(
        f"{base_url.rstrip('/')}/{name}",
        headers={"User-Agent": "mcm-problem-f-spark/0.1 (data pipeline)"},
    )
    with urllib.request.urlopen(req) as resp, open(dest, "wb") as fh:
        fh.write(resp.read())
    return dest


def read_jsonl_permissive(
    spark: SparkSession,
    path: str,
    schema: str,
) -> DataFrame:
    """JSONL scan that SURVIVES malformed lines — crawl-scale corpora
    always contain some.

    PERMISSIVE mode parses what it can and lands the raw text of
    unparseable lines in ``_corrupt_record`` (added to the schema as
    string — Spark only populates it when the column exists).  Callers
    split the result: ``filter(col("_corrupt_record").isNull())`` is
    the clean feed, the rest goes to a quarantine sink
    for inspection — never silently dropped (FAILFAST would kill a
    100 TB job for one bad line; DROPMALFORMED loses data invisibly).
    """
    return (
        spark.read.schema(f"{schema}, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — columnar, splittable, filter-pushdown-capable (the
    plan shows PushedFilters against the ORC reader exactly like
    parquet; asserted in tests/test_plan_pushdown.py)."""
    return spark.read.orc(path)


def read_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across files with EVOLVED schemas (a long-lived
    100 TB corpus accretes columns over time; per-file footers
    disagree).  ``mergeSchema=true`` unions the footers — columns
    absent from older files read as NULL.  Off by default in Spark
    because footer merging costs a per-file read at planning time;
    turn it on per-read here, not globally.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
