"""Fixed StructType schemas.

The reference discovers columns dynamically at runtime (``find_col``,
``bls_ces/load_CES_pandas.py:96-110``) because BLS headers drift.  The
Spark-first design (SURVEY.md §1.3) pins explicit schemas — letting the
scan skip inference and letting Catalyst prune columns — and keeps a
small normalization layer (``sources.readers.normalize_columns``) for
the alias-resolution role ``find_col`` played.

The schemas are the driver testdata's (TESTDATA.md): TPC-H-ish parquet,
recorded here for documentation/validation (parquet is self-describing).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _s(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


# --- driver testdata (TESTDATA.md) -----------------------------------------

TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": _s(("r_regionkey", IntegerType()), ("r_name", StringType())),
    "nation": _s(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _s(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _s(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _s(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _s(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _s(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _s(
        ("event_id", LongType()),
        ("ts", TimestampType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _s(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _s(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TESTDATA_TABLES = tuple(TESTDATA_SCHEMAS)
