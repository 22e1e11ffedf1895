"""One-py4j-call double-array literals must be BIT-identical to
F.lit(list) — the oracle hash contract rides on it (r12: lit_doubles /
lit_double_matrix replaced per-element F.lit in the PQ/IVF/SRP literal
paths; see functions/vectors.py)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.functions.vectors import (
    lit_double_matrix,
    lit_doubles,
)

SPECIALS = [
    0.0,
    -0.0,
    1.0,
    -1.5,
    float("nan"),
    float("inf"),
    float("-inf"),
    1e-308,  # subnormal territory
    -2.2250738585072014e-308,
    1.7976931348623157e308,  # max double
    0.1,  # classic non-representable decimal
    1 / 3,
]


def _bits(v: float) -> int:
    import struct

    return struct.unpack("<Q", struct.pack("<d", v))[0]


def test_lit_doubles_bit_identical(spark):
    rng = random.Random(7)
    vals = SPECIALS + [rng.uniform(-1e6, 1e6) for _ in range(500)]
    row = spark.range(1).select(
        F.lit([float(v) for v in vals]).alias("ref"),
        lit_doubles(vals).alias("got"),
    ).first()
    assert [_bits(v) for v in row["ref"]] == [_bits(v) for v in row["got"]]


def test_lit_doubles_constant_folded(spark):
    # the casts must fold to one literal at optimization time — a
    # per-row parse would silently tank every consumer
    df = spark.range(10).select(F.element_at(lit_doubles([1.5, 2.5]), 1).alias("v"))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "cast(" not in plan.lower(), plan


def test_lit_double_matrix_bit_identical(spark):
    rng = random.Random(11)
    rows = [[rng.gauss(0, 1) for _ in range(16)] for _ in range(32)]
    rows.append(SPECIALS[:8])
    got = spark.range(1).select(lit_double_matrix(rows).alias("m")).first()["m"]
    assert len(got) == len(rows)
    for ref_r, got_r in zip(rows, got):
        assert [_bits(float(v)) for v in ref_r] == [_bits(v) for v in got_r]


def test_empty_literals(spark):
    row = spark.range(1).select(
        lit_doubles([]).alias("a"), lit_double_matrix([]).alias("m")
    ).first()
    assert row["a"] == [] and row["m"] == []


def test_nan_inf_round_trip(spark):
    got = spark.range(1).select(lit_doubles(SPECIALS).alias("a")).first()["a"]
    assert math.isnan(got[4]) and got[5] == math.inf and got[6] == -math.inf
    assert math.copysign(1.0, got[1]) == -1.0  # -0.0 preserved


def test_fold_norm_bit_identical_to_jvm(spark):
    # _centroid_choices ships centroid norms as driver-computed
    # literals; they must match the JVM l2_norm fold bit-for-bit or
    # near-tie argmax cell assignments could flip
    import random

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.functions.vectors import l2_norm
    from mcm_problem_f_data_wrangling_spark.operators.similarity import _fold_norm

    rng = random.Random(5)
    vecs = [[rng.gauss(0, 1) for _ in range(17)] for _ in range(64)]
    vecs.append([0.0] * 17)
    df = spark.createDataFrame([(v,) for v in vecs], "v array<double>")
    jvm = [r["n"] for r in df.select(l2_norm("v").alias("n")).collect()]
    assert [_bits(x) for x in jvm] == [_bits(_fold_norm(v)) for v in vecs]


def test_centroid_choices_argmax_stable(spark):
    # assign_cells (the r12 let-bound + literal-norm form) must pick
    # the same cell and cosine as a naive per-centroid cosine
    import random

    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.functions.vectors import (
        cosine_similarity,
        lit_doubles,
    )
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        _centroid_choices,
    )

    rng = random.Random(9)
    cents = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(5)] + [[0.0] * 8]
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(50)] + [[0.0] * 8]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id long, v array<double>"
    )
    got = df.select(
        "id", F.array_max(_centroid_choices("v", cents)).alias("m")
    ).collect()
    naive_cols = [
        F.struct(
            cosine_similarity(F.col("v"), lit_doubles(c)).alias("c"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(cents)
    ]
    ref = df.select("id", F.array_max(F.array(*naive_cols)).alias("m")).collect()
    assert {r["id"]: (r["m"]["cell"], r["m"]["c"]) for r in got} == {
        r["id"]: (r["m"]["cell"], r["m"]["c"]) for r in ref
    }


def test_lit_strings_bit_identical(spark):
    from mcm_problem_f_data_wrangling_spark.functions.vectors import lit_strings

    vals = [
        "",
        "plain",
        "with 'single' quotes",
        'with "double" quotes',
        "back\\slash",
        "trailing backslash\\",
        "new\nline",
        "tab\there",
        "unicode: héllo wörld — ünïcode ✓ 中文",
        "mixed '\\' \n \t end",
        "  leading and trailing  ",
    ]
    row = spark.range(1).select(
        F.lit(vals).alias("ref"),
        lit_strings(vals).alias("got"),
    ).first()
    assert list(row["ref"]) == list(row["got"])


def test_lit_strings_empty_and_folded(spark):
    from mcm_problem_f_data_wrangling_spark.functions.vectors import lit_strings

    row = spark.range(1).select(lit_strings([]).alias("e")).first()
    assert list(row["e"]) == []
    # must fold to one literal at optimization time
    df = spark.range(5).select(
        F.array_contains(lit_strings(["a", "b"]), "a").alias("v")
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "array(" not in plan.lower(), plan


def test_lit_strings_none_is_null_like_f_lit(spark):
    from mcm_problem_f_data_wrangling_spark.functions.vectors import lit_strings

    vals = ["a", None, "None", "it's"]
    row = spark.range(1).select(
        F.lit(vals).alias("ref"),
        lit_strings(vals).alias("got"),
    ).first()
    assert list(row["got"]) == list(row["ref"]) == ["a", None, "None", "it's"]


def test_lit_strings_refuses_escaped_string_literals(spark):
    import pytest

    from mcm_problem_f_data_wrangling_spark.functions.vectors import lit_strings

    key = "spark.sql.parser.escapedStringLiterals"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            lit_strings(["a\\b"])
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)
