"""Curation ops: determinism, cap enforcement, rate targeting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.curation import (
    hash_split,
    source_mix,
    stratified_cap,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_split_fractions_and_determinism(spark, docs):
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = docs.count()
    assert abs(counts["train"] / n - 0.8) < 0.06
    assert set(counts) == {"train", "val", "test"}
    # same doc -> same split regardless of partitioning
    again = hash_split(docs.repartition(7), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    a = {r["doc_id"]: r["split"] for r in out.select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in again.select("doc_id", "split").collect()}
    assert a == b


def test_hash_split_rejects_bad_weights(docs):
    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", {"train": 0.5, "val": 0.1})


def test_stratified_cap_enforced_and_stable(spark, docs):
    capped = stratified_cap(docs, ["lang"], cap=10)
    per = {r["lang"]: r["n"] for r in capped.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert all(v <= 10 for v in per.values())
    ids1 = {r["doc_id"] for r in capped.select("doc_id").collect()}
    ids2 = {
        r["doc_id"]
        for r in stratified_cap(docs.repartition(11), ["lang"], cap=10).select("doc_id").collect()
    }
    assert ids1 == ids2  # hash-ordered keep set, not partition-layout luck


def test_source_mix_hits_target_rates(spark, docs):
    halved = {f"src{i}" for i in range(10, 20)}
    mixed = source_mix(docs, "source", {"src0": 0.0, **{s: 0.5 for s in halved}})
    per = {r["source"]: r["n"] for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()}
    orig = {r["source"]: r["n"] for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert "src0" not in per  # rate 0 drops everything
    unlisted = set(orig) - halved - {"src0"}
    assert unlisted and all(per[s] == orig[s] for s in unlisted)  # kept whole
    halved_kept = sum(per.get(s, 0) for s in halved)
    assert abs(halved_kept / sum(orig[s] for s in halved) - 0.5) < 0.1


def test_weighted_sample_deterministic_and_monotone(spark):
    from mcm_problem_f_data_wrangling_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(
        [(i, 0.5 if i % 2 else 0.0) for i in range(200)], "doc_id bigint, w double"
    )
    kept1 = sorted(r["doc_id"] for r in weighted_sample(df, "w").collect())
    kept2 = sorted(
        r["doc_id"] for r in weighted_sample(df.repartition(7), "w").collect()
    )
    assert kept1 == kept2                       # partitioning-independent
    assert all(i % 2 for i in kept1)            # weight 0 rows never kept
    assert 0 < len(kept1) < 100                 # ~half of the weight-0.5 rows
    # raising every weight only ADDS docs (hash threshold is fixed per doc)
    kept_hi = {r["doc_id"] for r in weighted_sample(df, F.col("w") * 2).collect()}
    assert set(kept1) <= kept_hi


def test_weighted_sample_clamps_weights(spark):
    from mcm_problem_f_data_wrangling_spark.operators.curation import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, -3.0)], "doc_id bigint, w double"
    )
    kept = {r["doc_id"] for r in weighted_sample(df, "w").collect()}
    assert kept == {1}  # >1 clamps to always-keep; <0 clamps to never


def test_topk_weighted_sample_properties(spark):
    """A-Res: exact size k, deterministic under repartition, and
    inclusion biased toward heavy weights (a weight-10 row beats a
    weight-0.01 row with overwhelming frequency)."""
    from mcm_problem_f_data_wrangling_spark.operators.curation import (
        topk_weighted_sample,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 100, 10.0).otherwise(0.01).alias("w"),
    )
    got = topk_weighted_sample(df, "w", k=50).collect()
    assert len(got) == 50
    heavy = sum(1 for r in got if r["doc_id"] < 100)
    assert heavy >= 45  # heavy rows dominate the fixed-size sample
    again = {
        r["doc_id"]
        for r in topk_weighted_sample(df.repartition(13), "w", k=50).collect()
    }
    assert again == {r["doc_id"] for r in got}
