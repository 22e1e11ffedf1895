"""Tests for the round-continuation operators: linear interpolation
(pandas parity), inverted index, semantic dedup (brute-force reference
with planted near-duplicates), and the stream-static enrichment join."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.grid import interpolate_linear
from mcm_problem_f_data_wrangling_spark.operators.index import inverted_index
from mcm_problem_f_data_wrangling_spark.operators.similarity import semantic_dedup
from mcm_problem_f_data_wrangling_spark.functions.textfn import tokens


def test_interpolate_linear_matches_pandas(spark):
    # two series; gaps in the middle, NULL head on s1 and NULL tail on s2
    rows = [
        ("s1", 0.0, None),
        ("s1", 1.0, 10.0),
        ("s1", 2.0, None),
        ("s1", 4.0, None),  # irregular spacing: x jumps 2→4→5
        ("s1", 5.0, 40.0),
        ("s1", 6.0, 46.0),
        ("s2", 0.0, 5.0),
        ("s2", 3.0, None),
        ("s2", 4.0, 9.0),
        ("s2", 5.0, None),
    ]
    df = spark.createDataFrame(rows, ["k", "x", "y"])
    got = {
        (r["k"], r["x"]): r["y"]
        for r in interpolate_linear(df, ["k"], "x", "y").collect()
    }
    for k in ("s1", "s2"):
        pdf = pd.DataFrame(
            [(x, y) for kk, x, y in rows if kk == k], columns=["x", "y"]
        ).set_index("x")
        # pandas index-weighted interpolation without extrapolation
        exp = pdf["y"].interpolate(method="index", limit_area="inside")
        for x, v in exp.items():
            g = got[(k, x)]
            if pd.isna(v):
                assert g is None, (k, x, g)
            else:
                assert g == pytest.approx(v, abs=1e-12), (k, x, g, v)


def test_interpolate_preserves_observed_values(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 3.5), ("a", 2.0, None), ("a", 3.0, 4.5)], ["k", "x", "y"]
    )
    out = {r["x"]: r["y"] for r in interpolate_linear(df, ["k"], "x", "y").collect()}
    assert out[1.0] == 3.5 and out[3.0] == 4.5
    assert out[2.0] == pytest.approx(4.0)


def test_inverted_index_small_corpus(spark):
    docs = spark.createDataFrame(
        [
            (1, "a b a c"),
            (2, "b c"),
            (3, "a   a"),  # runs of whitespace produce no empty tokens
        ],
        ["doc_id", "text"],
    )
    out = {
        r["term"]: (r["df_count"], r["tf_total"], r["postings"])
        for r in inverted_index(docs, tokens("text"), "doc_id").collect()
    }
    assert out["a"] == (2, 4, "1,3")
    assert out["b"] == (2, 2, "1,2")
    assert out["c"] == (2, 2, "1,2")


def test_inverted_index_min_df_and_cap(spark):
    docs = spark.createDataFrame(
        [(i, "common " + ("rare" if i == 0 else "")) for i in range(30)],
        ["doc_id", "text"],
    )
    out = {
        r["term"]: r
        for r in inverted_index(
            docs, tokens("text"), "doc_id", min_df=2, postings_cap=5
        ).collect()
    }
    assert "rare" not in out  # df=1 < min_df
    assert out["common"]["df_count"] == 30
    assert out["common"]["postings"] == "0,1,2,3,4"  # capped, ascending


def _brute_semdedup(X: np.ndarray, cells: np.ndarray, t: float) -> set[int]:
    """Reference survivor set: v kept iff no lower-id same-cell vector
    has cosine > t with it."""
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    kept = set()
    for i in range(len(X)):
        if not any(
            S[j, i] > t for j in range(i) if cells[j] == cells[i]
        ):
            kept.add(i)
    return kept


def test_semantic_dedup_matches_bruteforce(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 8))
    # plant near-duplicates: vectors 40..49 are tiny perturbations of 0..9
    dup = base[:10] + rng.normal(scale=0.01, size=(10, 8))
    X = np.vstack([base, dup])
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    centroids = [[float(v) for v in c] for c in (X[0], X[17], X[33])]

    kept = semantic_dedup(df, centroids, threshold=0.95)
    got = {r["vec_id"] for r in kept.collect()}

    # reproduce the operator's own cell assignment (max-cosine centroid)
    C = np.array(centroids)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cells = (Xn @ Cn.T).argmax(axis=1)
    exp = _brute_semdedup(X, cells, 0.95)
    assert got == exp
    # only planted duplicates can be dropped (originals are mutually
    # far apart), and at least some duplicate lands in its original's cell
    dropped = set(range(len(X))) - got
    assert dropped, "planted near-duplicates must produce drops"
    assert dropped <= set(range(40, 50))


def test_semantic_dedup_repartition_invariant(spark):
    rng = np.random.default_rng(11)
    X = rng.normal(size=(30, 6))
    X[25:] = X[:5] + 1e-3
    rows = [(i, [float(v) for v in X[i]]) for i in range(len(X))]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [[float(v) for v in X[0]], [float(v) for v in X[15]]]
    a = {r["vec_id"] for r in semantic_dedup(df, cents, 0.95).collect()}
    b = {
        r["vec_id"]
        for r in semantic_dedup(df.repartition(7), cents, 0.95).collect()
    }
    assert a == b


def test_enrich_stream_matches_batch_join(spark, tmp_path):
    from mcm_problem_f_data_wrangling_spark.streaming.enrich import enrich_stream

    path = str(tmp_path / "enrich_stream")
    facts = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(100)], ["event_id", "user_id", "value"]
    )
    facts.coalesce(2).write.mode("overwrite").parquet(path)
    dim = spark.createDataFrame(
        [(0, "gold"), (1, "silver"), (2, "bronze")], ["user_id", "segment"]
    )

    expected = {
        (r["event_id"], r["segment"])
        for r in facts.join(dim, "user_id", "left").collect()
    }

    stream = spark.readStream.schema(facts.schema).parquet(path)
    out = enrich_stream(stream, dim, ["user_id"], "left")
    assert out.isStreaming
    # stateless joins emit in append mode (complete is aggregate-only)
    q = (
        out.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_id"], r["segment"])
        for r in spark.sql("SELECT * FROM enrich_test").collect()
    }
    assert got == expected
    assert any(seg is None for _, seg in got)  # user_id=3 has no dim row


def test_enrich_stream_rejects_state_requiring_joins(spark, tmp_path):
    from mcm_problem_f_data_wrangling_spark.streaming.enrich import enrich_stream

    path = str(tmp_path / "enrich_stream2")
    df = spark.createDataFrame([(1, 1)], ["a", "user_id"])
    df.write.mode("overwrite").parquet(path)
    stream = spark.readStream.schema(df.schema).parquet(path)
    with pytest.raises(ValueError):
        enrich_stream(stream, df, ["user_id"], "full")


def test_chunk_documents_coverage_and_overlap(spark):
    from mcm_problem_f_data_wrangling_spark.operators.chunking import (
        chunk_documents,
    )

    text = " ".join(f"t{i}" for i in range(100))
    docs = spark.createDataFrame([(1, text), (2, "a b"), (3, "")], ["doc_id", "text"])
    rows = chunk_documents(docs, chunk_tokens=10, stride=7).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)

    assert 3 not in by_doc  # empty doc emits nothing
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "a b"
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # starts are 0, 7, 14, ... < 100
    assert [r["start_token"] for r in c1] == list(range(0, 100, 7))
    # every token appears in at least one chunk; overlap = 3 tokens
    covered = set()
    for r in c1:
        toks = r["chunk_text"].split(" ")
        assert len(toks) == r["n_tokens"] <= 10
        assert toks[0] == f"t{r['start_token']}"
        covered.update(toks)
    assert covered == {f"t{i}" for i in range(100)}


def test_star_join_plan_broadcasts_dimension_chain(spark):
    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    df = REGISTRY["q05_star_join_revenue"].spark(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # the date filter must reach the orders parquet scan
    assert "PushedFilters" in plan
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "o_orderdate" in optimized


def test_id_gap_detection_on_gapped_ids(spark, tmp_path):
    """The gap arithmetic — one row per missing range [lag+1, id-1]
    with its width — pinned on a synthetic gapped events table
    (ADVICE r1).  Since round 4 the query audits the PURCHASE
    subsequence (the full driver id sequence is gapless), so the
    planted rows are purchases plus a click decoy that must be
    ignored by the filter, not counted as a gap."""
    import datetime

    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    ids = [1, 2, 5, 6, 10, 11, 12, 40]  # holes: 3-4, 7-9, 13-39
    ts0 = datetime.datetime(2024, 1, 1)
    # a non-purchase event INSIDE a hole (id 8) must not close it
    all_ids = ids + [8]
    pdf = pd.DataFrame(
        {
            "event_id": all_ids,
            "ts": [ts0 + datetime.timedelta(minutes=i) for i in range(len(all_ids))],
            "user_id": [1] * len(all_ids),
            "event_type": ["purchase"] * len(ids) + ["click"],
            "value": [1.0] * len(all_ids),
            "props": ["{}"] * len(all_ids),
        }
    )
    sf_dir = str(tmp_path)
    pdf.to_parquet(f"{sf_dir}/events.parquet", index=False)

    got = sorted(
        (r["gap_start"], r["gap_end"], r["n_missing"])
        for r in REGISTRY["s21_id_gap_detection"].spark(spark, sf_dir).collect()
    )
    assert got == [(3, 4, 2), (7, 9, 3), (13, 39, 27)]


def test_semantic_dedup_blas_matches_hof(spark):
    """The BLAS per-cell path and the HOF join reference implement the
    SAME order-free survivor rule — identical kept sets."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        _semantic_dedup_sql,
        train_ivf_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _, cents = train_ivf_cells(emb, k=8, iters=2)
    for thr in (0.3, 0.5, 0.9):
        a = {r["vec_id"] for r in _semantic_dedup_sql(emb, cents, threshold=thr).collect()}
        b = {r["vec_id"] for r in semantic_dedup(emb, cents, threshold=thr).collect()}
        assert a == b


def test_theil_sen_matches_numpy_and_resists_outlier(spark, tmp_path):
    """w31 (the REGISTERED query, not a re-implementation): slope median
    equals the brute-force pairwise median over the planted monthly
    series, and a single outlier month leaves the slope near the true
    value (OLS would move)."""
    import itertools

    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    # one returnflag, 20 months, revenue = 2*i + 1 with an outlier at i=7
    rows = []
    for i in range(20):
        y, m = divmod(i, 12)
        rev = 500.0 if i == 7 else 2.0 * i + 1.0
        rows.append(("A", f"{1995 + y}-{m + 1:02d}-15", rev, 1.0))
    li = (
        spark.createDataFrame(rows, ["l_returnflag", "d", "l_extendedprice", "l_quantity"])
        .withColumn("l_shipdate", F.col("d").cast("timestamp_ntz"))
        .drop("d")
    )
    d = str(tmp_path)
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = REGISTRY["w31_theil_sen_trend"].spark(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    pts = [(float(i), 500.0 if i == 7 else 2.0 * i + 1.0) for i in range(20)]
    slopes = sorted(
        (y2 - y1) / (x2 - x1)
        for (x1, y1), (x2, y2) in itertools.combinations(pts, 2)
    )
    ref_slope = round(float(np.median(slopes)), 6)
    assert r["n_pairs"] == len(slopes)
    assert abs(r["slope_med"] - ref_slope) < 1e-9
    assert abs(r["slope_med"] - 2.0) < 0.25  # outlier-resistant
    ref_intercept = round(float(np.median([y - ref_slope * x for x, y in pts])), 6)
    assert abs(r["intercept_med"] - ref_intercept) < 1e-9


def test_lsh_recall_gate_complete_on_testdata(spark):
    """x_lsh_recall_gate: ground truth comes from the COMPLETE
    prefix-filter join, so every near-identical testdata pair must be
    found by LSH at J>=0.8 (detection prob 1-(1-0.64)^8 ~ 0.9997 per
    pair; the generator's duplicates are ~exact so in practice all
    hit), and the structural laws hold: n_hit <= n_true_pairs,
    n_hit <= n_candidates, recall in [0,1], and monotone thresholds
    (n_true_pairs non-increasing as threshold rises)."""
    from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

    rows = {
        r["threshold"]: r
        for r in REGISTRY["x_lsh_recall_gate"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert rows, "gate must produce at least one threshold row"
    prev_true = None
    for thr in sorted(rows):
        r = rows[thr]
        assert r["n_hit"] <= r["n_true_pairs"]
        assert r["n_hit"] <= r["n_candidates"]
        assert 0.0 <= r["recall"] <= 1.0
        if prev_true is not None:
            assert r["n_true_pairs"] <= prev_true
        prev_true = r["n_true_pairs"]
    # the generator's planted duplicates are near-exact: at the top
    # threshold LSH must find every true pair
    top = rows[max(rows)]
    assert top["recall"] == 1.0
