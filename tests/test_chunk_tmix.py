"""Chunk-level dedup + temperature source mixing."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.curation import temperature_mix
from mcm_problem_f_data_wrangling_spark.operators.dedup import chunk_dedup


def test_chunk_dedup_first_occurrence_wins(spark):
    # doc 1 owns the 8-word chunk a; doc 2 repeats it and vanishes (all
    # chunks seen); doc 3 keeps only its novel tail chunk
    a, tail = "a b c d e f g h", "s t u v w x y z"
    docs = spark.createDataFrame(
        [(1, a), (2, a), (3, f"{a} {tail}")],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in chunk_dedup(docs).collect()}
    assert set(out) == {1, 3}
    assert out[1]["text_dedup"] == a
    assert out[3]["text_dedup"] == tail
    assert out[3]["n_chunks_kept"] == 1


def test_chunk_dedup_within_doc_repeat_collapses(spark):
    chunk = "p q r s t u v w"
    docs = spark.createDataFrame(
        [(7, " ".join([chunk] * 3))], "doc_id bigint, text string"
    )
    out = chunk_dedup(docs).collect()[0]
    assert out["text_dedup"] == chunk


def test_chunk_dedup_order_restored(spark):
    words = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame([(1, words)], "doc_id bigint, text string")
    out = chunk_dedup(docs).collect()[0]
    assert out["text_dedup"] == words
    assert out["n_chunks_kept"] == 5


def test_temperature_mix_flattens_dominant_group(spark):
    rows = [(i, "big") for i in range(2000)] + [(10_000 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = temperature_mix(df, "source", alpha=0.5, budget_frac=0.5)
    kept = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # sqrt weighting: small keeps a larger FRACTION than big
    assert kept["small"] / 100 > kept["big"] / 2000
    total = kept["big"] + kept["small"]
    assert abs(total - 1050) < 150  # ~budget_frac of 2100


def test_temperature_mix_alpha1_is_uniform_rate(spark):
    rows = [(i, "a") for i in range(400)] + [(1000 + i, "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    out = temperature_mix(df, "source", alpha=1.0, budget_frac=0.5)
    kept = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # alpha=1 keeps every group at the same ~50% rate
    assert abs(kept["a"] / 400 - 0.5) < 0.1
    assert abs(kept["b"] / 100 - 0.5) < 0.15


def test_temperature_mix_deterministic_under_repartition(spark):
    rows = [(i, "s" + str(i % 3)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id bigint, source string")
    a = sorted(r["doc_id"] for r in temperature_mix(df, "source").collect())
    b = sorted(
        r["doc_id"] for r in temperature_mix(df.repartition(7), "source").collect()
    )
    assert a == b
