"""Driver-checkable ingest-path queries (SURVEY.md §2.1 S2-S5 and
§2.2 P2-P4).

The reference's source operators — tab-TSV all-string scan with
header strip (S3, ``bls_ces/load_CES_pandas.py:62-65``), CSV scan
with date parse (S4, ``check_ces_outputs.py:27``), whitespace-TSV
scan (S2, ``load_CES_pandas.py:49-56``), single-file CSV sink (S5,
``load_CES_pandas.py:251-253``), header normalization / dynamic key
resolution / key strip (P2/P3/P4) — are file-format plumbing with no
natural oracle of their own.  These queries give them one: each
ROUNDTRIPS driver testdata through the engine's writer + reader into
a deterministic aggregate, while the DuckDB oracle computes the same
aggregate straight from the parquet.  A scan that drops/garbles a
row, mis-strips a header, or mis-parses a date breaks the hash.

The flat files live under /tmp (unique per (pid, sf) — safe for
concurrent harnesses; tiny dimension tables only, so the sink's
``coalesce(1)`` non-scale path is exercised exactly where the
reference uses it).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .base import query, table

def _tmpdir(tag: str, sf_dir: str) -> str:
    key = os.path.basename(sf_dir.rstrip("/")) or "sf"
    d = os.path.join(tempfile.gettempdir(), f"spark_graft_src_{os.getpid()}_{key}_{tag}")
    os.makedirs(d, exist_ok=True)
    return d


@query(
    "src01_tsv_ingest_normalize",
    "S3+P2+P3+P4+S5 end-to-end: the region dim is exported through "
    "the engine's single-file CSV sink as a TAB-separated file with "
    "deliberately uglied headers ('  R_RegionKey  '), re-ingested "
    "all-string via read_tsv (header strip), normalized "
    "(normalize_columns lower), the key column resolved dynamically "
    "(find_col over candidate aliases — the reference's schema-drift "
    "defense), values trimmed and cast (F7 coerce semantics), then "
    "aggregated.  The oracle computes the identical aggregate from "
    "the parquet directly, so any row dropped/garbled in the "
    "writer->reader path, any header mis-strip, or any cast drift "
    "breaks the hash.",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(MIN(r_regionkey) AS BIGINT) AS min_key,
       CAST(MAX(r_regionkey) AS BIGINT) AS max_key,
       array_to_string(list_sort(list(r_name)), '|') AS names
FROM region
""",
    tags=("M0", "sources"),
)
def src01_tsv_ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import find_col, normalize_columns, read_tsv
    from ..sources.writers import write_csv_single

    region = table(spark, sf_dir, "region")
    ugly = region.select(
        F.col("r_regionkey").cast("string").alias("  R_RegionKey  "),
        F.concat(F.lit("  "), F.col("r_name")).alias(" R_NAME"),
    )
    d = _tmpdir("tsv", sf_dir)
    path = os.path.join(d, "region.tsv")
    write_csv_single(ugly, path, header=True, sep="\t")
    back = normalize_columns(read_tsv(spark, path), lower=True)
    key = find_col(back, ["regionkey", "r_regionkey", "region_key"])
    return back.select(
        F.trim(F.col(key)).try_cast("long").alias("k"),
        F.trim(F.col("r_name")).alias("r_name"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("k").alias("min_key"),
        F.max("k").alias("max_key"),
        F.array_join(F.array_sort(F.collect_list("r_name")), "|").alias("names"),
    )


@query(
    "src02_csv_date_parse_scan",
    "S4 CSV-with-date-parse roundtrip: one order per priority class "
    "(deterministic min_by sample) exported to CSV, re-ingested with "
    "read_csv(date_cols=['o_orderdate']) — pandas parse_dates/"
    "errors='coerce' semantics (a planted garbage date row parses to "
    "NULL, not an error) — then summarized.  Oracle recomputes from "
    "parquet and plants the same NULL.",
    """
WITH sample AS (
  SELECT o_orderpriority,
         MIN(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1
),
dated AS (
  SELECT s.o_orderpriority, s.o_orderkey,
         CAST(o.o_orderdate AS DATE) AS d
  FROM sample s JOIN orders o ON s.o_orderkey = o.o_orderkey
)
SELECT CAST(COUNT(*) + 1 AS BIGINT) AS n_rows,
       CAST(COUNT(d) AS BIGINT) AS n_dates,
       CAST(MIN(d) AS VARCHAR) AS min_date,
       CAST(MAX(d) AS VARCHAR) AS max_date
FROM dated
""",
    tags=("M0", "sources"),
)
def src02_csv_date_parse_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_csv
    from ..sources.writers import write_csv_single

    orders = table(spark, sf_dir, "orders")
    sample = (
        orders.groupBy("o_orderpriority")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
        .join(orders, ["o_orderpriority", "o_orderkey"])
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_orderdate").cast("date").cast("string").alias("o_orderdate"),
        )
    )
    # pure-JVM one-row local relation, NOT createDataFrame(list): a
    # list-backed frame is a 32-partition pickled-Python RDD, and the
    # sink's coalesce(1) funnels every partition through ONE task that
    # launches Python workers serially — r12 measured the CSV write
    # 6.4 s -> 0.6 s from this one substitution (rows identical)
    garbage = spark.range(1).select(
        F.lit("0-GARBAGE").alias("o_orderpriority"),
        F.lit(-1).cast("long").alias("o_orderkey"),
        F.lit("not-a-date").alias("o_orderdate"),
    )
    d = _tmpdir("csv", sf_dir)
    path = os.path.join(d, "orders_sample.csv")
    write_csv_single(sample.unionByName(garbage), path, header=True)
    back = read_csv(spark, path, date_cols=["o_orderdate"])
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_orderdate").cast("long").alias("n_dates"),
        F.min("o_orderdate").cast("string").alias("min_date"),
        F.max("o_orderdate").cast("string").alias("max_date"),
    )


@query(
    "src03_whitespace_tsv_scan",
    "S2 whitespace-delimited scan (regex-sep read the reference "
    "implements with pandas engine='python'): nation keys + names "
    "written space-separated, re-read via spark.read.text + split "
    "(read_whitespace_tsv), cast, aggregated.  Oracle from parquet.",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       array_to_string(list_sort(list(n_name)), '|') AS names
FROM nation
""",
    tags=("M0", "sources"),
)
def src03_whitespace_tsv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_whitespace_tsv

    nation = table(spark, sf_dir, "nation")
    d = _tmpdir("ws", sf_dir)
    path = os.path.join(d, "nation.txt")
    lines = ["n_nationkey   n_name"] + [  # header line (reader strips it)
        f"{r['n_nationkey']}   {r['n_name']}"
        for r in nation.select("n_nationkey", "n_name").collect()
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    back = read_whitespace_tsv(spark, path, n_cols=2, names=["k", "n_name"])
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col("k").try_cast("long")).alias("key_sum"),
        F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("names"),
    )


@query(
    "src04_orc_roundtrip",
    "S-ext ORC interchange roundtrip: the nation dim is written "
    "through the engine's ORC sink PARTITIONED by n_regionkey "
    "(Hive-style partition directories — the layout lever the sink "
    "exists for), re-read via read_orc (partition-column recovery "
    "included), and aggregated.  The oracle computes the identical "
    "aggregate straight from the parquet, so a row lost to a stripe "
    "bug, a mis-recovered partition value, or a type drift in the "
    "ORC writer->reader path breaks the hash.  Pushdown through ORC "
    "partitions is separately asserted in tests/test_plan_pushdown.",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(SUM(n_nationkey * (1 + n_regionkey)) AS BIGINT) AS keyed_sum,
       array_to_string(list_sort(list(n_name)), '|') AS names
FROM nation
""",
    tags=("M0", "sources"),
)
def src04_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_orc
    from ..sources.writers import write_orc

    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    d = _tmpdir("orc", sf_dir)
    path = os.path.join(d, "nation_orc")
    write_orc(nation, path, partition_by=["n_regionkey"])
    back = read_orc(spark, path)
    # keyed_sum mixes the partition column back into the hash so a
    # partition-directory value mangled on recovery cannot cancel out
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.sum(
            F.col("n_nationkey") * (F.lit(1) + F.col("n_regionkey").cast("long"))
        ).cast("long").alias("keyed_sum"),
        F.array_join(F.array_sort(F.collect_list("n_name")), "|").alias("names"),
    )


@query(
    "src05_jsonl_quarantine",
    "S-ext JSONL ingest with corrupt-record quarantine (the "
    "crawl-corpus ingest path: LLM training data arrives as JSONL "
    "and always contains malformed lines): the region dim is written "
    "line-delimited, three deliberately broken lines (truncated "
    "JSON, bare text, unclosed string) are appended, and the "
    "permissive reader must land EXACTLY the planted garbage in the "
    "quarantine column while every good row survives to the "
    "aggregate.  Oracle: the same aggregate from parquet plus the "
    "planted quarantine count AND the sorted quarantined payloads as "
    "literals — a reader that drops a good line, mis-parses a field, "
    "or silently DROPS a bad line (instead of quarantining it) breaks "
    "the hash: the three planted lines must physically appear in the "
    "quarantine column, not merely be absent from the good side "
    "(ADVICE r4 — the old lines-minus-good count couldn't tell "
    "\"quarantined\" from \"swallowed\").",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_good,
       CAST(3 AS BIGINT) AS n_quarantined,
       CAST(MIN(r_regionkey) AS BIGINT) AS min_key,
       CAST(MAX(r_regionkey) AS BIGINT) AS max_key,
       array_to_string(list_sort(list(r_name)), '|') AS names,
       'not json at all|{"r_regionkey": 98, "r_name": "BROKEN|{"r_regionkey": 99, "r_name":' AS quarantined
FROM region
""",
    tags=("M0", "sources"),
)
def src05_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    from ..sources.readers import read_jsonl_permissive

    region = table(spark, sf_dir, "region")
    d = _tmpdir("jsonl", sf_dir)
    path = os.path.join(d, "region.jsonl")
    rows = region.select("r_regionkey", "r_name").collect()
    lines = [
        _json.dumps({"r_regionkey": r["r_regionkey"], "r_name": r["r_name"]})
        for r in rows
    ] + [
        '{"r_regionkey": 99, "r_name":',  # truncated JSON
        "not json at all",                # bare text
        '{"r_regionkey": 98, "r_name": "BROKEN',  # unclosed string
    ]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    back = read_jsonl_permissive(spark, path, "r_regionkey long, r_name string")
    # ONE conditional aggregation over good + corrupt rows together.
    # Spark refuses plans whose referenced columns are ONLY the
    # internal corrupt column (SQLSTATE 0A000); mixing the data
    # columns into the same aggregate satisfies the restriction while
    # letting the quarantine side be counted and HASHED directly —
    # the three planted bad lines must appear verbatim in the
    # quarantine column (ADVICE r4: the old physical-lines-minus-good
    # count was blind to a reader that silently dropped corrupt
    # lines instead of quarantining them).
    bad = F.col("_corrupt_record")
    return back.agg(
        F.count(F.when(bad.isNull(), F.lit(1))).cast("long").alias("n_good"),
        F.count(bad).cast("long").alias("n_quarantined"),
        F.min(F.when(bad.isNull(), F.col("r_regionkey")))
        .cast("long")
        .alias("min_key"),
        F.max(F.when(bad.isNull(), F.col("r_regionkey")))
        .cast("long")
        .alias("max_key"),
        F.array_join(
            F.array_sort(F.collect_list(F.when(bad.isNull(), F.col("r_name")))), "|"
        ).alias("names"),
        F.array_join(F.array_sort(F.collect_list(bad)), "|").alias("quarantined"),
    )


@query(
    "src06_schema_evolution",
    "S-ext evolving-parquet scan (a long-lived corpus accretes "
    "columns; per-file footers disagree): generation 1 of the nation "
    "dim is written WITHOUT the name-length column, generation 2 "
    "WITH it; the mergeSchema read must union the footers, surface "
    "gen-1 rows with NULL in the new column, and lose nothing.  The "
    "split is deterministic (even/odd nationkey), so the oracle "
    "reproduces the whole merged view — including the NULL-vs-filled "
    "accounting — straight from parquet.",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
       CAST(COUNT(CASE WHEN n_nationkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_with_len,
       CAST(SUM(CASE WHEN n_nationkey % 2 = 1 THEN len(n_name) END) AS BIGINT) AS name_len_sum
FROM nation
""",
    tags=("M0", "sources"),
)
def src06_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.readers import read_parquet_evolving
    from ..sources.writers import write_parquet

    nation = table(spark, sf_dir, "nation")
    d = _tmpdir("evolve", sf_dir)
    path = os.path.join(d, "nation_evolving")
    gen1 = nation.filter(F.col("n_nationkey") % 2 == 0).select("n_nationkey")
    gen2 = nation.filter(F.col("n_nationkey") % 2 == 1).select(
        "n_nationkey", F.length("n_name").cast("long").alias("name_len")
    )
    write_parquet(gen1, path, mode="overwrite")
    write_parquet(gen2, path, mode="append")
    back = read_parquet_evolving(spark, path)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_nationkey").cast("long").alias("key_sum"),
        F.count("name_len").cast("long").alias("n_with_len"),
        F.sum("name_len").cast("long").alias("name_len_sum"),
    )
