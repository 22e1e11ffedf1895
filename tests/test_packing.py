"""Sequence packing: bin boundaries and the overflow rule."""

from __future__ import annotations

from mcm_problem_f_data_wrangling_spark.operators.packing import pack_sequences


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, source string, n_tokens bigint")


def test_contiguous_packing_boundaries(spark):
    docs = _docs(
        spark,
        [(1, "s", 60), (2, "s", 30), (3, "s", 30), (4, "s", 10), (5, "s", 100)],
    )
    out = {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in
           pack_sequences(docs, "n_tokens", capacity=100).collect()}
    # cumsum-excl: 0, 60, 90, 120, 130
    assert out[1] == (0, 0)
    assert out[2] == (0, 60)
    assert out[3] == (0, 90)   # straddles 100-boundary: stays in bin 0 (overflow)
    assert out[4] == (1, 20)
    assert out[5] == (1, 30)


def test_packing_is_per_partition(spark):
    docs = _docs(spark, [(1, "x", 80), (2, "y", 80), (3, "x", 80), (4, "y", 80)])
    out = {r["doc_id"]: r["bin_id"] for r in
           pack_sequences(docs, "n_tokens", capacity=100).collect()}
    # each source packs independently: second doc of each source starts bin 0 offset 80 -> next bin
    assert out == {1: 0, 2: 0, 3: 0, 4: 0}


def test_oversized_doc_gets_own_bins(spark):
    docs = _docs(spark, [(1, "s", 250), (2, "s", 10)])
    out = {r["doc_id"]: (r["bin_id"], r["bin_offset"]) for r in
           pack_sequences(docs, "n_tokens", capacity=100).collect()}
    assert out[1] == (0, 0)
    assert out[2] == (2, 50)  # resumes at cumsum 250 -> bin 2
