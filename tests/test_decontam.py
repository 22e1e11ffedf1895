"""Decontamination operator: strict shingles + overlap flagging."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.functions.textfn import strict_word_shingles
from mcm_problem_f_data_wrangling_spark.operators.decontam import ngram_decontaminate


def test_strict_shingles_empty_below_k(spark):
    df = spark.createDataFrame(
        [("a b c",), ("a b c d",), ("",)], "text string"
    ).select(strict_word_shingles("text", k=4).alias("sh"))
    rows = [r["sh"] for r in df.collect()]
    assert rows == [[], ["a b c d"], []]


def test_decontaminate_flags_exact_and_partial_overlap(spark):
    # eval doc: 10 tokens -> three 8-grams
    ev = spark.createDataFrame(
        [(100, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")], "doc_id bigint, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"),   # full overlap: 3 shared
            (2, "zz t3 t4 t5 t6 t7 t8 t9 t10"),       # suffix overlap: 1 shared
            (3, "t8 t7 t6 t5 t4 t3 t2 t1"),           # reversed: none
            (4, "t1 t2 t3"),                           # too short: none
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in ngram_decontaminate(tr, ev, k=8).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_shared_ngrams"] == 3 and out[1]["n_eval_docs"] == 1
    assert out[2]["n_shared_ngrams"] == 1


def test_decontaminate_short_eval_docs_flag_nothing(spark):
    ev = spark.createDataFrame([(100, "a b c")], "doc_id bigint, text string")
    tr = spark.createDataFrame([(1, "a b c")], "doc_id bigint, text string")
    assert ngram_decontaminate(tr, ev, k=8).count() == 0


def test_decontaminate_plan_broadcasts_eval_side(spark):
    ev = spark.createDataFrame([(100, "t1 t2 t3 t4 t5 t6 t7 t8")], "doc_id bigint, text string")
    tr = spark.createDataFrame([(1, "t1 t2 t3 t4 t5 t6 t7 t8")], "doc_id bigint, text string")
    plan = ngram_decontaminate(tr, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_bloom_decontaminate_matches_exact_even_under_fp_stress(spark):
    """The Bloom path is EXACT: no false negatives by construction,
    and false positives die in the verify join — equality holds even
    with a deliberately tiny 256-bit filter where nearly every probe
    collides."""
    from mcm_problem_f_data_wrangling_spark.operators.decontam import (
        bloom_decontaminate,
    )

    words = [f"w{i}" for i in range(40)]
    ev = spark.createDataFrame(
        [(100 + i, " ".join(words[i : i + 10])) for i in range(0, 30, 10)],
        "doc_id bigint, text string",
    )
    tr = spark.createDataFrame(
        [(i, " ".join(words[i % 32 : i % 32 + 8 + i % 3])) for i in range(25)],
        "doc_id bigint, text string",
    )
    exact = {tuple(r) for r in ngram_decontaminate(tr, ev, k=8).collect()}
    assert exact  # fixture really overlaps
    for m_bits in (1 << 20, 256):
        got = {
            tuple(r)
            for r in bloom_decontaminate(tr, ev, k=8, m_bits=m_bits).collect()
        }
        assert got == exact


def test_bloom_decontaminate_prunes_disjoint_corpus_before_verify(spark):
    """With a disjoint train corpus and a real-sized filter, the
    Bloom probes prune (almost) everything: the pass-through stream
    into the verify join is empty or a tiny FP trickle, never the
    whole corpus."""
    from mcm_problem_f_data_wrangling_spark.operators.decontam import (
        _shingle_pairs,
        bloom_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, " ".join(f"e{i}" for i in range(12)))],
        "doc_id bigint, text string",
    )
    tr = spark.createDataFrame(
        [(d, " ".join(f"t{d}_{i}" for i in range(12))) for d in range(50)],
        "doc_id bigint, text string",
    )
    assert bloom_decontaminate(tr, ev, k=8).count() == 0
    n_shingles = _shingle_pairs(tr, 8).count()
    assert n_shingles == 50 * 5  # the stream the filter had to prune
