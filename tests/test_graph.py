"""Connected components: property-check against a union-find reference.

The Spark implementation (operators/graph.py) is iterative min-label
propagation with pointer jumping; the reference below is a classic
driver-side disjoint-set.  Agreement on random graphs (including
isolated vertices, self-loops, duplicate and reversed edges) pins the
semantics; a chain graph pins the O(log d) claim by converging well
under the max_iter rail.
"""

from __future__ import annotations

import random

import pytest

from mcm_problem_f_data_wrangling_spark.operators.graph import (
    connected_components,
    duplicate_clusters,
    symmetrize_edges,
)


def _union_find_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component id = min node in component
    comp: dict[int, int] = {}
    roots: dict[int, int] = {}
    for v in range(n_nodes):
        r = find(v)
        roots.setdefault(r, min(u for u in range(n_nodes) if find(u) == r))
        comp[v] = roots[r]
    return comp


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_cc_matches_union_find_on_random_graphs(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    # adversarial extras: duplicates, reversals, self-loops
    edges += [(b, a) for a, b in edges[:5]] + [(7, 7), (edges[0][0], edges[0][1])]
    expected = _union_find_components(n, edges)

    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    assert got == expected


def test_cc_chain_converges_fast(spark):
    # a 64-long path has diameter 63; pointer jumping must close it in
    # far fewer than 63 rounds (log2(63) ≈ 6 plus constant slack)
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "src bigint, dst bigint"
    )
    labels = connected_components(edges_df, max_iter=10)
    rows = labels.collect()
    assert len(rows) == 64
    assert {r["component"] for r in rows} == {0}


def test_cc_isolated_nodes_are_singletons(spark):
    edges_df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    nodes_df = spark.createDataFrame([(i,) for i in range(5)], "node bigint")
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges_df, nodes=nodes_df).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 3, 4: 4}


def test_symmetrize_drops_self_loops(spark):
    edges_df = spark.createDataFrame([(1, 1), (1, 2)], "src bigint, dst bigint")
    rows = {(r["a"], r["b"]) for r in symmetrize_edges(edges_df).collect()}
    assert rows == {(1, 2), (2, 1)}


def test_duplicate_clusters_covers_all_docs_once(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", 22),
            (2, "alpha  beta gamma delta", 23),  # exact dup after ws-normalize
            (3, "alpha beta gamma delta epsilon", 28),  # near-dup of 1/2
            (4, "totally unrelated words here", 28),
            (5, "x", 1),
        ],
        "doc_id bigint, text string, n_chars bigint",
    )
    out = duplicate_clusters(docs).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2, 3, 4, 5]
    by_id = {r["doc_id"]: r for r in out}
    # 1,2 exact-dup; 3 near-dups into the same cluster transitively
    assert by_id[2]["cluster_id"] == 1 and by_id[3]["cluster_id"] == 1
    assert by_id[4]["cluster_id"] == 4 and by_id[5]["cluster_id"] == 5
    kept = {r["doc_id"] for r in out if r["is_kept"] == 1}
    assert kept == {1, 4, 5}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from mcm_problem_f_data_wrangling_spark.operators.graph import pagerank

    # small weighted digraph incl. a dangling node (3) and a hub (0)
    e = [(0, 1), (0, 2), (1, 2), (2, 0), (2, 0), (4, 3), (0, 3)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iters=4).collect()}

    nodes = sorted({x for p in e for x in p})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    outdeg = np.zeros(n)
    for s, _ in e:
        outdeg[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(4):
        nxt = np.full(n, 0.15 / n)
        for s, d in e:
            nxt[idx[d]] += 0.85 * r[idx[s]] / outdeg[idx[s]]
        r = nxt
    for node in nodes:
        assert abs(got[node] - r[idx[node]]) < 1e-9, node
    # hub 2 receives the double-weighted edge mass -> top rank for 0
    assert got[0] == max(got.values())


def test_pagerank_bit_identical_under_repartition(spark):
    from mcm_problem_f_data_wrangling_spark.operators.graph import pagerank

    e = [(i % 17, (i * 7) % 23) for i in range(300)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    a = {r["node"]: r["rank_fp"] for r in pagerank(edges, iters=3).collect()}
    b = {
        r["node"]: r["rank_fp"]
        for r in pagerank(edges.repartition(13), iters=3).collect()
    }
    assert a == b  # exact integer equality, not approximate


def test_triangle_counts_known_graph(spark):
    from mcm_problem_f_data_wrangling_spark.operators.graph import triangle_counts

    # K4 on {0,1,2,3}: every node sits in C(3,2)=3 triangles; plus a
    # pendant edge (3,4) and an isolated triangle-free path (5,6).
    e = [(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3), (3, 4), (5, 6)]
    edges = spark.createDataFrame(e, "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_counts_brute_force_and_hub(spark):
    import itertools

    from mcm_problem_f_data_wrangling_spark.operators.graph import triangle_counts

    # pseudo-random graph plus a degree-200 hub (orientation stress):
    e = {(min(a, b), max(a, b)) for a, b in
         (((i * 7) % 29, (i * 13 + 3) % 29) for i in range(150)) if a != b}
    e |= {(100, i) for i in range(29)}  # hub adjacent to every node
    edges = spark.createDataFrame(sorted(e), "src bigint, dst bigint")
    got = {r["node"]: r["triangles"] for r in triangle_counts(edges).collect()}
    adj = {}
    for a, b in e:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {n: 0 for n in adj}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for n in (a, b, c):
                want[n] += 1
    assert got == {n: k for n, k in want.items() if k > 0}
    # duplicate + reversed edges must not change counts
    doubled = edges.unionAll(
        edges.selectExpr("dst as src", "src as dst")
    ).unionAll(edges)
    got2 = {r["node"]: r["triangles"] for r in triangle_counts(doubled).collect()}
    assert got2 == got


def test_k_core_matches_python_peel(spark):
    """k_core equals the textbook iterative peel on a planted graph:
    a 5-clique (4-core) + a path tail + a triangle."""
    from mcm_problem_f_data_wrangling_spark.operators.graph import k_core

    edges = []
    clique = [0, 1, 2, 3, 4]
    for i in clique:
        for j in clique:
            if i < j:
                edges.append((i, j))
    edges += [(4, 10), (10, 11), (11, 12)]       # path tail
    edges += [(20, 21), (21, 22), (20, 22)]       # triangle (2-core)
    df = spark.createDataFrame(edges, ["src", "dst"])

    def peel(es, k):
        from collections import defaultdict

        adj = defaultdict(set)
        for a, b in es:
            adj[a].add(b)
            adj[b].add(a)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj.pop(n):
                        adj[m].discard(n)
                    changed = True
        return {n for n in adj if adj[n]}

    for k in (2, 3, 4, 5):
        got = {r["node"] for r in k_core(df, k).collect()}
        assert got == peel(edges, k), f"k={k}"


def test_assert_materialized_pins_checkpoint_coupling(spark):
    """duplicate_clusters deletes its parquet grounding dir relying on
    connected_components returning a localCheckpoint-materialized
    result; assert_materialized makes that coupling structural — this
    test fails if either the assertion or the checkpoint is removed."""
    import pytest

    from mcm_problem_f_data_wrangling_spark.operators.graph import (
        assert_materialized,
    )

    plain = spark.range(5).selectExpr("id", "id * 2 AS b")
    with pytest.raises(AssertionError, match="LogicalRDD"):
        assert_materialized(plain, "test")
    ck = plain.localCheckpoint(eager=True)
    assert assert_materialized(ck, "test") is ck
    # the real call site: duplicate_clusters asserts materialization
    # BEFORE deleting its grounding dir, so its result stays readable
    # after the finally-rmtree — collect after the call proves it
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "zzz yyy xxx")],
        "doc_id bigint, text string",
    )
    out = duplicate_clusters(docs)
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}


def test_cc_state_media_label_identical(spark):
    """The two round-grounding media (r13: eager localCheckpoint
    default vs durable parquet) must produce byte-identical labels —
    the medium is an I/O choice, never an algorithm change."""
    rng = random.Random(13)
    n = 80
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(70)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    loc = sorted(
        tuple(r)
        for r in connected_components(
            edges_df, nodes=nodes_df, state="local"
        ).collect()
    )
    pq = sorted(
        tuple(r)
        for r in connected_components(
            edges_df, nodes=nodes_df, state="parquet"
        ).collect()
    )
    assert loc == pq and len(loc) == n


def _count_local_checkpoints(monkeypatch, df) -> list:
    calls: list = []
    orig = type(df).localCheckpoint

    def counting(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(type(df), "localCheckpoint", counting)
    return calls


def test_cc_default_state_without_work_dir_is_local(spark, monkeypatch):
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src bigint, dst bigint"
    )
    calls = _count_local_checkpoints(monkeypatch, edges_df)
    rows = connected_components(edges_df).collect()
    assert {r["component"] for r in rows} == {0} and len(rows) == 8
    # every round grounds through localCheckpoint, plus the result
    assert len(calls) > 1


def test_cc_default_state_with_work_dir_is_parquet(spark, monkeypatch, tmp_path):
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(7)], "src bigint, dst bigint"
    )
    calls = _count_local_checkpoints(monkeypatch, edges_df)
    work = str(tmp_path / "cc")
    rows = connected_components(edges_df, work_dir=work).collect()
    assert {r["component"] for r in rows} == {0} and len(rows) == 8
    # rounds are durable parquet in the caller's directory; only the
    # result itself is checkpointed
    assert len(calls) == 1
    assert spark.read.parquet(f"{work}/edges_0").count() == 7


def test_local_state_with_work_dir_raises(spark, tmp_path):
    from mcm_problem_f_data_wrangling_spark.operators.graph import k_core

    edges_df = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    with pytest.raises(ValueError, match="durable"):
        connected_components(edges_df, work_dir=str(tmp_path), state="local")
    with pytest.raises(ValueError, match="durable"):
        k_core(edges_df, k=1, work_dir=str(tmp_path), state="local")


def test_k_core_state_media_identical(spark):
    from mcm_problem_f_data_wrangling_spark.operators.graph import k_core

    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(80)]
    edges_df = spark.createDataFrame(edges, "src bigint, dst bigint")
    loc = sorted(r["node"] for r in k_core(edges_df, k=3, state="local").collect())
    pq = sorted(r["node"] for r in k_core(edges_df, k=3, state="parquet").collect())
    assert loc == pq
