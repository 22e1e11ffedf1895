"""Dedup + similarity operators on synthetic corpora with planted
duplicates (the testdata documents are all unique, so near-dup recall
is exercised here)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash16_frame,
    srp_hyperplanes,
)
from mcm_problem_f_data_wrangling_spark.operators.grid import (
    collapse_duplicate_months,
)
from mcm_problem_f_data_wrangling_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, BASE, len(BASE)),
        (2, "  " + BASE + "  ", len(BASE) + 4),  # whitespace-variant exact dup
        (3, BASE.replace("dog", "hound"), len(BASE) + 2),  # near dup
        (4, "completely different text about spark sql query planning engines", 64),
        (5, BASE.replace("cat", "kitten").replace("fox", "wolf"), len(BASE) + 5),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "n_chars"])


def test_exact_dedup_collapses_whitespace_variants(corpus):
    groups = exact_dedup_groups(corpus).collect()
    by_n = sorted((g["n_docs"], g["keep_doc_id"]) for g in groups)
    assert (2, 1) in by_n  # docs 1+2 share a fingerprint; min id kept
    assert len(groups) == 4


def test_minhash_lsh_finds_near_dups(corpus):
    sigs = minhash_signatures(corpus)
    pairs = {(r["doc_id_1"], r["doc_id_2"]) for r in lsh_candidate_pairs(sigs).collect()}
    assert (1, 2) in pairs  # identical after normalization
    assert (1, 3) in pairs  # one-word change shares most shingles
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_near_dups_close(corpus):
    out = {r["doc_id"]: r["simhash"] for r in simhash16_frame(corpus).collect()}
    assert out[1] == out[2]
    ham_near = bin(out[1] ^ out[3]).count("1")
    ham_far = bin(out[1] ^ out[4]).count("1")
    assert ham_near < ham_far


def test_ngram_jaccard_scores(corpus):
    pairs = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(corpus, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    assert pairs[(1, 3)] > 0.8
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(11)
    rows = []
    for vid in range(60):
        label = vid % 3
        base = np.zeros(8)
        base[label] = 1.0
        v = base + rng.normal(0, 0.05, 8)
        rows.append((vid, [float(x) for x in v], label))
    # planted near-duplicate of vec 0
    dup = [float(x) for x in np.array(rows[0][1]) + 1e-4]
    rows.append((999, dup, 0))
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_embedding_neardup_detects_plant(vectors):
    """SRP-LSH banding must catch the planted near-dup: a 1e-4
    perturbation flips no sign bit under the seeded hyperplanes, so
    (0, 999) collide in their band; and the band space must be finer
    than the 3 coarse labels (the round-1 fixed-cardinality banding
    weakness)."""
    top = embedding_neardup_pairs(vectors, srp_hyperplanes(8, n_bits=4)).collect()
    planted = [r for r in top if (r["vec_id_1"], r["vec_id_2"]) == (0, 999)]
    assert planted and planted[0]["cos_sim"] > 0.999
    assert len({r["band"] for r in top}) > 3


def test_srp_band_recall_on_near_identical(spark):
    """Recall property: every pair of IDENTICAL vectors must share a
    band (sign bits are equal by construction), so SRP banding has
    recall 1.0 on exact duplicates regardless of n_bits; random other
    vectors spread over >1 band."""
    rng = np.random.RandomState(3)
    base = rng.normal(0, 1, 16)
    rows = [(i, [float(x) for x in rng.normal(0, 1, 16)]) for i in range(40)]
    rows += [(100, [float(x) for x in base]), (101, [float(x) for x in base])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    hp = srp_hyperplanes(16, n_bits=5, seed=5)
    out = embedding_neardup_pairs(df, hp).collect()
    dup_rows = [r for r in out if (r["vec_id_1"], r["vec_id_2"]) == (100, 101)]
    # identical vectors collide and top their band (cos=1)
    assert len(dup_rows) == 1
    assert dup_rows[0]["cos_sim"] == 1.0
    assert len({r["band"] for r in out}) > 2


def test_bruteforce_topk_finds_plant(vectors):
    q = [float(x) for x in vectors.filter("vec_id = 0").head()["embedding"]]
    top = brute_force_topk(vectors.filter("vec_id != 0"), q, k=3).collect()
    assert top[0]["vec_id"] == 999
    assert top[0]["cos_sim"] > 0.999


def test_ivf_topk_probes_right_cell(vectors):
    q = [float(x) for x in vectors.filter("vec_id = 0").head()["embedding"]]
    top = ivf_topk(vectors, q, k=3)
    rows = top.collect()
    assert rows[0]["vec_id"] in (0, 999)
    got_labels = {
        vectors.filter(F.col("vec_id") == r["vec_id"]).head()["label"] for r in rows
    }
    assert got_labels == {0}  # only the probed cell was searched


def test_ivf_topk_precomputed_cents_row_identical(vectors):
    """Passing a materialized centroid frame (the r13 recall-gate
    fusion) must give byte-identical results to the internal
    aggregation — same values by construction."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        centroids_by_cell,
    )

    q = [float(x) for x in vectors.filter("vec_id = 0").head()["embedding"]]
    cents = centroids_by_cell(vectors).localCheckpoint()
    for n_probe in (1, 2):
        base = ivf_topk(vectors, q, k=5, n_probe=n_probe).collect()
        got = ivf_topk(vectors, q, k=5, n_probe=n_probe, cents=cents).collect()
        assert [tuple(r) for r in base] == [tuple(r) for r in got]


def test_dedupe_rule_last_is_deterministic(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01", 1, 10.0), ("a", "2024-01-01", 2, 20.0), ("a", "2024-02-01", 3, 30.0)],
        ["career", "month", "seq", "v"],
    )
    out = collapse_duplicate_months(
        df, ["v"], keys=["career"], month_col="month", rule="last", order_col="seq"
    ).collect()
    got = {r["month"]: r["v"] for r in out}
    assert got == {"2024-01-01": 20.0, "2024-02-01": 30.0}


def test_ivf_trained_cells_recall(spark):
    """A trained spherical-k-means quantizer must beat the provided
    near-random label cells by a wide margin: recall ≥ 0.7 probing ONE
    of ten cells (observed 0.9), ≥ 0.9 probing two (observed 1.0).
    Brute force stays the exactness baseline."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        query_vector_of,
        train_ivf_cells,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned, cents = train_ivf_cells(emb, k=10, iters=3)
    assigned = assigned.cache()
    sizes = [r["count"] for r in assigned.groupBy("cell").count().collect()]
    assert len(sizes) == 10 and max(sizes) < 3 * min(sizes)  # balanced codebook
    q = query_vector_of(emb, emb.select("vec_id").head()[0])
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    r1 = {r["vec_id"] for r in ivf_topk(assigned, q, k=10, cell_col="cell", n_probe=1).collect()}
    r2 = {r["vec_id"] for r in ivf_topk(assigned, q, k=10, cell_col="cell", n_probe=2).collect()}
    assert len(exact & r1) / 10 >= 0.7
    assert len(exact & r2) / 10 >= 0.9


def test_query_vectors_of_batched_fetch(spark):
    """query_vectors_of fetches several query literals in ONE job and
    must agree with the per-id fetch; missing ids raise KeyError."""
    import pytest as _pytest

    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        query_vector_of,
        query_vectors_of,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = query_vectors_of(emb, (0, 1, 2))
    assert set(got) == {0, 1, 2}
    for i in (0, 1, 2):
        assert got[i] == query_vector_of(emb, i)
    with _pytest.raises(KeyError, match="-5"):
        query_vectors_of(emb, (0, -5))


def test_trainers_deterministic_under_repartition(spark):
    """The bounded-sample trainers must be partitioning-independent:
    the sample is the lowest-hash-of-id rows (content-uniform even on
    id-sorted ingest) regardless of layout, and the numpy Lloyd loop
    is sequential — so codebooks are bit-identical on any cluster
    width (the property the old per-iteration distributed means could
    NOT give)."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        train_ivf_cells,
        train_pq,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    _, c1 = train_ivf_cells(emb, k=5, iters=2)
    _, c2 = train_ivf_cells(emb.repartition(7), k=5, iters=2)
    assert c1 == c2
    cb1 = train_pq(emb, m=8, k=8, iters=2)
    cb2 = train_pq(emb.repartition(7), m=8, k=8, iters=2)
    assert cb1 == cb2


def test_ivf_knn_join_blas_tie_at_k_boundary(spark):
    """Exact-duplicate embeddings (the dedup domain) create cosine
    ties straddling the k cutoff; the (cos desc, nid asc) ranking
    resolves them to the lowest neighbor ids."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        ivf_knn_join,
    )

    # one cell; ids 10..40 share a vector (all pairwise cos == 1.0),
    # id 50 is distinct.  k=2 from any query hits a 3-way tie at the
    # boundary — the winners must be the two LOWEST other ids.
    rows = [(i, [1.0, 0.0], 0) for i in (40, 30, 20, 10)] + [(50, [0.0, 1.0], 0)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    by_q = {}
    for qid, nid, _ in ivf_knn_join(df, df, k=2).collect():
        by_q.setdefault(qid, []).append(nid)
    assert sorted(by_q[40]) == [10, 20]  # lowest tied ids win
    assert sorted(by_q[10]) == [20, 30]


def test_ivf_knn_join_zero_norm_query_both_engines_drop(spark):
    """A zero-norm vector (failed encode / padding) is never a query
    hit and never a neighbor: its NULL unit vector is filtered before
    the pair join, so it emits zero rows."""
    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        ivf_knn_join,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 0.0], 0),  # zero-norm: never a query hit, never a neighbor
        (4, [0.5, 0.5], 0),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    a = sorted(map(tuple, ivf_knn_join(df, df, k=2).collect()))
    assert a
    assert not any(q == 3 or n == 3 for q, n, _ in a)
    # every other query still gets its k neighbors
    assert sorted({q for q, _, _ in a}) == [1, 2, 4]
    assert len(a) == 6


def test_trainer_sample_is_hash_ordered_not_id_prefix(spark):
    """On id-correlated corpora the training sample must NOT be the
    lowest-id prefix: planting two disjoint clusters in the low-id and
    high-id halves, a k=2 codebook trained with sample_n = half the
    corpus must still see BOTH clusters (a prefix sample would place
    both centroids inside the first cluster)."""
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.similarity import (
        train_ivf_cells,
    )

    rng = np.random.RandomState(3)
    rows = []
    for vid in range(200):
        base = np.zeros(4)
        base[0 if vid < 100 else 1] = 1.0  # content correlates with id
        v = base + rng.normal(0, 0.01, 4)
        rows.append((vid, [float(x) for x in v], 0))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    assigned, cents = train_ivf_cells(df, k=2, iters=3, sample_n=100)
    got = assigned.groupBy("cell").agg(
        F.min("vec_id").alias("lo"), F.max("vec_id").alias("hi")
    ).collect()
    # both cells exist and split cleanly on the id halves
    assert len(got) == 2
    spans = sorted((r["lo"], r["hi"]) for r in got)
    assert spans[0][1] < 100 <= spans[1][0]


def test_edit_distance_pairs_banded(spark):
    from mcm_problem_f_data_wrangling_spark.operators.dedup import (
        edit_distance_pairs,
    )

    df = spark.createDataFrame(
        [
            (1, "red widget", "A"),
            (2, "red widgets", "A"),   # dist 1, same band ✓
            (3, "red widget", "B"),    # identical text, DIFFERENT band ✗
            (4, "blue bolt", "A"),     # dist > 2 from widgets ✗
            (5, "red midget", "A"),    # dist 1 from 1, 2 from 2 ✓
        ],
        "pid long, name string, band string",
    )
    pairs = {
        (r["id_1"], r["id_2"]): r["dist"]
        for r in edit_distance_pairs(df, "name", ["band"], "pid", max_dist=2).collect()
    }
    assert pairs == {(1, 2): 1, (1, 5): 1, (2, 5): 2}
    plan_df = edit_distance_pairs(df, "name", ["band"], "pid", max_dist=2)
    plan = plan_df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_edit_distance_pair_counts_matches_id_level(spark):
    """The distinct-collapsed count form equals aggregating the
    id-level pairs — including duplicate-name groups (C(c,2) at
    dist 0) and cross-name multiplicities (c1*c2)."""
    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.operators.dedup import (
        edit_distance_pair_counts,
        edit_distance_pairs,
    )

    rows = []
    pid = 0
    # 4 copies of "red widget", 3 of "red widgets", 2 of "blue bolt",
    # 1 "red midget" in band A; copies of the same strings in band B
    for band in ("A", "B"):
        for name, c in (
            ("red widget", 4),
            ("red widgets", 3),
            ("blue bolt", 2),
            ("red midget", 1),
        ):
            for _ in range(c):
                rows.append((pid, name, band))
                pid += 1
    df = spark.createDataFrame(rows, "pid long, name string, band string")
    via_ids = {
        (r["band"], r["dist"]): r["n"]
        for r in edit_distance_pairs(df, "name", ["band"], "pid", max_dist=2)
        .groupBy("band", "dist")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    via_counts = {
        (r["band"], r["dist"]): r["n_pairs"]
        for r in edit_distance_pair_counts(
            df, "name", ["band"], "pid", max_dist=2
        ).collect()
    }
    assert via_counts == via_ids
    # sanity on the arithmetic: per band, dist 0 = C(4,2)+C(3,2)+C(2,2)
    assert via_counts[("A", 0)] == 6 + 3 + 1


def test_ivf_knn_join_recall_on_clustered_vectors(spark):
    import math
    import random

    from mcm_problem_f_data_wrangling_spark.operators.similarity import ivf_knn_join

    rng = random.Random(7)
    base = [
        [10.0 if d == c else 0.0 for d in range(8)] for c in range(4)
    ]
    rows = []
    for i in range(48):
        c = i % 4
        rows.append((i, [base[c][d] + rng.uniform(-1, 1) for d in range(8)], c))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>, label int")

    # exact top-3: everything in one cell == brute-force kNN join
    exact_df = df.withColumn("label", F.lit(0))
    exact = {
        (r["vec_id"], r["neighbor_id"])
        for r in ivf_knn_join(exact_df, exact_df, k=3).collect()
    }
    # own-cell probe over the TRUE cluster labels (stand-in for a
    # trained codebook's assignment)
    approx = {
        (r["vec_id"], r["neighbor_id"])
        for r in ivf_knn_join(df, df, k=3).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, recall


def test_ivf_knn_join_excludes_self_and_respects_k(spark):
    from mcm_problem_f_data_wrangling_spark.operators.similarity import ivf_knn_join

    df = spark.createDataFrame(
        [(i, [float(i), 1.0], 0) for i in range(5)],
        "vec_id bigint, embedding array<double>, label int",
    )
    out = ivf_knn_join(df, df, k=2).collect()
    assert all(r["vec_id"] != r["neighbor_id"] for r in out)
    from collections import Counter

    per_q = Counter(r["vec_id"] for r in out)
    assert set(per_q.values()) == {2}


def test_jaccard_prefix_complete_vs_brute_force(spark):
    """Prefix filtering must lose NO pair >= threshold (AllPairs
    completeness), including pairs the length-banded heuristic misses."""
    import itertools
    import random

    from mcm_problem_f_data_wrangling_spark.operators.dedup import (
        jaccard_join_prefix,
    )

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(50)]
    docs = []
    for i in range(40):
        n = rng.randint(3, 30)
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # plant exact + near dups at very different positions
    docs.append((100, docs[0][1]))
    docs.append((101, docs[5][1] + " extra trailing words here"))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.3
    got = {
        (r["doc_id_1"], r["doc_id_2"]): (r["n_common"], r["jaccard"])
        for r in jaccard_join_prefix(df, threshold=t).collect()
    }

    def shingles(text):
        toks = text.split()
        if len(toks) >= 3:
            return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        return {" ".join(toks)}

    sets = {i: shingles(tx) for i, tx in docs}
    want = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        inter = len(sets[i] & sets[j])
        union = len(sets[i] | sets[j])
        if union and inter / union >= t:
            want[(i, j)] = (inter, round(inter / union, 9))
    assert got == want and (0, 100) in got


def test_incremental_lsh_dedup_matches_full_batch(spark):
    """Splitting the corpus at id 400 and deduping the increment against
    the stored signatures must keep EXACTLY the new docs the full-batch
    order-free rule (drop iff any lower-id doc shares a band) keeps."""
    from mcm_problem_f_data_wrangling_spark.operators.dedup import (
        banded_keys,
        incremental_lsh_dedup,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    kept, kept_sigs = incremental_lsh_dedup(new, minhash_signatures(corpus))
    got = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert got == {r["doc_id"] for r in kept_sigs.select("doc_id").collect()}

    # full-batch reference: order-free lower-id band-collision rule
    nb = banded_keys(minhash_signatures(docs))
    a, b = nb.alias("a"), nb.alias("b")
    dropped = {
        r["doc_id"]
        for r in a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .distinct()
        .collect()
    }
    want = {
        r["doc_id"] for r in docs.filter(F.col("doc_id") >= 400).collect()
    } - dropped
    assert got == want


class TestHammingNeardup:
    def test_pigeonhole_exact_64bit(self, spark):
        """64-bit hashes, max_hamming=3 (Manku's production setting):
        the banded plan must reproduce the brute-force pair set."""
        from itertools import combinations

        from mcm_problem_f_data_wrangling_spark.operators.dedup import (
            hamming_neardup_pairs,
        )

        base = 0x0123_4567_89AB_CDEF
        vals = [
            base,
            base ^ 0x1,                        # d=1 from base
            base ^ 0x8000_0000_0000_0000,      # d=1 from base (top bit)
            base ^ 0x7,                        # d=3 from base
            base ^ 0x0F0F,                     # d=8 — beyond threshold
            0x7EDC_BA98_7654_3210,             # far from everything
        ]
        df = spark.createDataFrame(
            [(i, v - (1 << 64 if v >= 1 << 63 else 0)) for i, v in enumerate(vals)],
            "doc_id INT, h LONG",
        )
        got = {
            (r["doc_id_1"], r["doc_id_2"], r["hamming"])
            for r in hamming_neardup_pairs(
                df, "h", "doc_id", bits=64, max_hamming=3
            ).collect()
        }
        want = {
            (i, j, bin(vals[i] ^ vals[j]).count("1"))
            for i, j in combinations(range(len(vals)), 2)
            if bin(vals[i] ^ vals[j]).count("1") <= 3
        }
        assert got == want and len(want) >= 4

    def test_width_guard(self, spark):
        from mcm_problem_f_data_wrangling_spark.operators.dedup import (
            hamming_neardup_pairs,
        )

        df = spark.createDataFrame([(0, 1)], "doc_id INT, h LONG")
        with pytest.raises(ValueError, match="max_hamming"):
            hamming_neardup_pairs(df, "h", "doc_id", bits=16, max_hamming=31)


def test_minhash_jaccard_pairs_subset_of_exact_with_true_values(spark):
    """LSH-verified pairs are a SUBSET of the exact prefix join with
    identical jaccard values on the shared pairs — banding can miss,
    never fabricate — and high-J planted pairs are never missed
    (P(candidate) = 1-(1-J^2)^8 ~ 1 at J ~ 0.9)."""
    from mcm_problem_f_data_wrangling_spark.operators.dedup import (
        jaccard_join_prefix,
        minhash_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(40)]
    rows = []
    for d in range(20):
        toks = [words[(d * 7 + j) % 40] for j in range(30)]
        rows.append((d, " ".join(toks)))
        if d < 6:  # high-J twin: one token changed out of 30
            tw = list(toks)
            tw[7] = "zz"
            rows.append((100 + d, " ".join(tw)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    lsh = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in minhash_jaccard_pairs(df, threshold=0.3).collect()
    }
    exact = {
        (r["doc_id_1"], r["doc_id_2"]): r["jaccard"]
        for r in jaccard_join_prefix(df, threshold=0.3).collect()
    }
    assert set(lsh) <= set(exact)
    for p, j in lsh.items():
        assert j == exact[p]
    for d in range(6):  # planted high-J twins must all be found
        assert (d, 100 + d) in lsh
