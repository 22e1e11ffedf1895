"""Distributed connected components + duplicate-cluster resolution.

The dedup family (``operators/dedup.py``) stops at *candidate pairs*
(LSH buckets, Jaccard bands, fingerprint groups).  A production
training-data pipeline needs one more step: resolve the pair graph into
duplicate CLUSTERS and pick one canonical survivor per cluster —
near-duplication is transitive in practice (A≈B, B≈C ⇒ drop two of
{A,B,C}), so keeping "one per pair" under-deletes.  The reference has
nothing like this (its dedup surface is ``drop_duplicates``,
SURVEY.md §2.2 P11); this is an engine extension on the BASELINE.json
north star, same family as GraphFrames/GraphX connectedComponents.

Algorithm: **alternating large-star / small-star edge contraction**
(Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii — "Connected
Components in MapReduce and Beyond", SoCC 2014), pure DataFrame ops —
no RDDs, no Python in the loop.  State is the EDGE set itself, which
contracts toward per-component stars centered on the component min:

- *large-star(E)*: per node x over Γ(x) (both directions), with
  m = min(Γ(x) ∪ {x}), emit (y, m) for every neighbor y > x;
- *small-star(E)*: orient every edge toward its smaller endpoint; per
  node x over its smaller neighbors N, with m = min(N), emit (y, m)
  for y ∈ N ∪ {x} \\ {m}.

Each phase is one groupBy + one equi-join over the current edge set.
Two properties make this the 100 TB algorithm over hash-min label
propagation: the round count is governed by CONTRACTION, not graph
distance (hash-min needs ~eccentricity rounds — measured 9-10 on the
20M-node chain+random smoke, whose farthest node is ~9 hops from the
min; two-phase converges in 4-5 iterations on the same graph), and
the edge set COLLAPSES after the first iteration (measured 470k → 109k
→ 100k at 100k nodes; per-iteration shuffle falls with it), so late
iterations are near-free.  At convergence the edge set IS the answer:
(leaf → component-min) star edges — byte-identical labels to hash-min
(the recursive-CTE oracle in x_dedup_clusters_cc pins this).
Convergence = a stable (count, Σu, Σv, Σhash) edge-set checksum, read
from an Observation riding the state write.

Iteration state is GROUNDED each phase — every phase starts from a
materialized edge set, never from lineage (the hash-min predecessor's
un-grounded loop re-referenced the previous edge set three times per
phase and its recompute tree grew ~3^phases: flat ~1 s/round through
round 17, then 2.2 s, 4 s, 9 s, 22 s, 57 s).  Two grounding media,
picked by ``state``:

- ``'local'`` (default without a ``work_dir``): ``materialize``'s
  local medium, whose result plan is a bare ``LogicalRDD``
  (``assert_materialized`` proves exactly this), so truncation is
  structural, not best-effort.  No FS write, no parquet encode/decode,
  no listing: measured 3.0 → 2.2 s (sf1) and 3.6 → 2.2 s (sf0.1) on
  the x_dedup_clusters_cc edge set, labels byte-identical.  The round
  blocks are executor-local (the single-node / bench profile) and live
  as long as the caller's ``barrier_scope``.
- ``'parquet'`` (default with a ``work_dir``): ``materialize``'s
  parquet medium, one write+read of ``work_dir`` per round — durable,
  fault-tolerant rounds.  At cluster scale pass ``work_dir`` on a
  distributed FS — the same pattern GraphX uses for iterative state.
  A ``work_dir`` with ``state='local'`` is refused: it would silently
  keep no durable state.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import materialize
from .dedup import ngram_jaccard_pairs


def symmetrize_edges(edges: DataFrame) -> DataFrame:
    """Undirected ``(a, b)`` view of a ``(src, dst)`` edge list: both
    directions, self-loops dropped.

    Dedupe on the CANONICAL (least, greatest) orientation first, then
    mirror (r13): the old mirror-then-distinct shuffled 2·|edges| rows
    through the dropDuplicates exchange; canonicalizing first halves
    that shuffle and the mirror is a shuffle-free union of two
    projections.  Output rows identical — {(a,b),(b,a)} over the same
    distinct undirected edge set (k_core's 23.9M-row sf1 edge
    materialization: the distinct now sees 12M rows).
    """
    canon = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("u"),
            F.greatest(F.col("src"), F.col("dst")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    return canon.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        canon.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )


def _check_state(state: str, work_dir: str | None) -> None:
    """Refuse an unknown grounding medium, and ``'local'`` rounds with a
    ``work_dir``: they would silently keep no durable state."""
    if state not in ("local", "parquet"):
        raise ValueError(f"unknown state medium {state!r}")
    if state == "local" and work_dir is not None:
        raise ValueError(
            "state='local' keeps no durable state, so it cannot use "
            f"work_dir={work_dir!r}; pass state='parquet' or drop work_dir"
        )


def _round_path(base: str | None, name: str) -> str | None:
    """One round's ``materialize`` path (None = the local medium)."""
    return None if base is None else f"{base}/{name}"


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iter: int = 60,
    work_dir: str | None = None,
    on_round=None,
    state: str | None = None,
) -> DataFrame:
    """Connected components of an undirected ``(src, dst)`` edge list →
    (node, component).

    ``component`` is the smallest node id in the component (a stable,
    deterministic cluster id).  ``nodes`` (a ``node`` column)
    optionally supplies isolated vertices (no incident edges); otherwise the vertex set is derived
    from the edges.

    ``state`` picks the per-round grounding medium (module docstring):
    ``'local'`` = local-checkpoint rounds — fastest,
    executor-local, the single-node profile; ``'parquet'`` = durable
    rounds in ``work_dir`` — the fault-tolerant cluster profile.
    ``None`` (default) means ``'parquet'`` when a ``work_dir`` is given
    and ``'local'`` otherwise; ``'local'`` with a ``work_dir`` raises
    ``ValueError``.  Labels are identical either way (pinned in tests).

    ``work_dir`` holds parquet state when used (see module docstring);
    default is a local temp dir, removed afterwards — on a cluster
    pass a distributed-FS path.  ``max_iter`` bounds two-phase
    (large-star + small-star) iterations; hitting it raises rather
    than returning a half-contracted labeling.  ``on_round`` (optional
    ``Callable[[int], None]``) fires after each iteration's state
    write — the observability seam the scale smoke uses to sample
    per-iteration shuffle volume from the UI REST API.
    """
    if state is None:
        state = "local" if work_dir is None else "parquet"
    _check_state(state, work_dir)
    # parquet rounds live in work_dir or a temp dir removed afterwards
    base = None if state == "local" else work_dir or tempfile.mkdtemp(prefix="cc_state_")
    try:
        # canonical undirected edge set (u < v), deduped ONCE; the
        # (possibly expensive) input edge plan executes exactly once
        # into the grounded state, and everything downstream reads that
        e0 = (
            edges.select(
                F.least(F.col("src"), F.col("dst")).alias("u"),
                F.greatest(F.col("src"), F.col("dst")).alias("v"),
            )
            .where(F.col("u") != F.col("v"))
            .dropDuplicates()
        )
        cur = materialize(e0, _round_path(base, "edges_0"))
        # no vertex-set materialization: both star phases provably
        # preserve every endpoint (a node always reappears as a leaf or
        # a center of the rewired edges), so the final stars cover
        # every non-isolated vertex — singletons exist only when the
        # caller passes ``nodes``, and are resolved by one anti-join at
        # the end.  (Skipping the two full-edge-scan distinct + write
        # shaved ~60 s off the 20M-node smoke's first iteration.)

        from pyspark.sql import Observation

        def large_star(E: DataFrame) -> DataFrame:
            # per node x: m = min(Γ(x) ∪ {x}); strictly-larger
            # neighbors re-attach to m.  shuffle-hash for the m join —
            # the r4-measured winner over sort-merge and per-round
            # broadcast for iteration-state joins.
            nbrs = E.select(
                F.col("u").alias("x"), F.col("v").alias("y")
            ).unionByName(E.select(F.col("v").alias("x"), F.col("u").alias("y")))
            m = nbrs.groupBy("x").agg(
                F.least(F.min("y"), F.first("x")).alias("m")
            )
            return (
                nbrs.join(m.hint("shuffle_hash"), "x")
                .where(F.col("y") > F.col("x"))
                .select(F.col("y").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .dropDuplicates()
            )

        def small_star(E: DataFrame) -> DataFrame:
            # orient toward the smaller endpoint; per node x over its
            # smaller neighbors N: m = min(N); everything in
            # N ∪ {x} \ {m} re-attaches to m
            o = E.select(
                F.greatest("u", "v").alias("x"), F.least("u", "v").alias("y")
            )
            m = o.groupBy("x").agg(F.min("y").alias("m"))
            leaves = o.join(m.hint("shuffle_hash"), "x").select(
                F.col("y").alias("u"), F.col("m").alias("v")
            )
            centers = m.select(F.col("x").alias("u"), F.col("m").alias("v"))
            return (
                leaves.unionByName(centers)
                .where(F.col("u") != F.col("v"))
                .dropDuplicates()
            )

        prev_sig = None
        for i in range(max_iter):
            ls = large_star(cur)
            # the intermediate edge set feeds small_star's groupBy AND
            # join branches — ground it (the state discipline) so
            # neither branch recomputes large_star
            ls = materialize(ls, _round_path(base, f"edges_{i + 1}L"))
            ss = small_star(ls)
            # convergence checksum folded into the state-grounding job
            # via an Observation — ONE job per iteration.  The edge set
            # is exactly stable at the star fixpoint; (count, Σu, Σv,
            # Σxxhash64(u,v)) pins it without a second scan.
            obs = Observation(f"cc_iter_{i}")
            cur = materialize(
                ss.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
                    F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
                ),
                _round_path(base, f"edges_{i + 1}"),
            )
            if on_round is not None:
                on_round(i)
            got = obs.get
            sig = (got["n"], got["su"], got["sv"], got["h"])
            if sig == prev_sig:
                # stars reached: edges are (leaf → component min).
                # labels = leaves + centers + singletons; the min-agg
                # on the leaf side is belt-and-braces (at the fixpoint
                # each leaf has exactly one edge)
                leaves = (
                    cur.groupBy(F.col("u").alias("node"))
                    .agg(F.min("v").alias("component"))
                )
                centers = (
                    cur.select(F.col("v").alias("node"))
                    .dropDuplicates()
                    .withColumn("component", F.col("node"))
                )
                labeled = leaves.unionByName(centers)
                labeled = labeled.groupBy("node").agg(
                    F.min("component").alias("component")
                )
                if nodes is not None:
                    singles = (
                        nodes.select(F.col("node"))
                        .dropDuplicates()
                        .join(labeled, "node", "left_anti")
                        .withColumn("component", F.col("node"))
                    )
                    labeled = labeled.unionByName(singles)
                # materialize the result off the state dir before it
                # is deleted
                return materialize(labeled)
            prev_sig = sig
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    finally:
        if base is not None and work_dir is None:
            shutil.rmtree(base, ignore_errors=True)


def assert_materialized(df: DataFrame, context: str = "") -> DataFrame:
    """Assert ``df`` is a checkpoint barrier (its analyzed plan is a
    single ``LogicalRDD`` — what ``materialize`` returns for its local
    medium), i.e. no upstream scan can re-execute.

    Callers that delete a grounding directory a result was computed
    FROM must pass the result through this first: the coupling between
    "the plan was materialized" and "its inputs may be removed" is
    then structural — removing the checkpoint upstream turns a silent
    read-after-delete failure into this loud error.
    """
    try:
        node = df._jdf.queryExecution().analyzed().nodeName()
    except AttributeError as exc:
        # private classic-JVM surface — absent under Spark Connect or
        # if the internal API shifts; keep the failure mode
        # intelligible instead of a bare AttributeError (ADVICE r11)
        raise RuntimeError(
            "assert_materialized needs the classic-JVM DataFrame "
            "internals (df._jdf.queryExecution) which are unavailable "
            f"in this environment{' in ' + context if context else ''}; "
            "cannot prove the plan is checkpoint-materialized before "
            "its grounding directory is deleted"
        ) from exc
    if node != "LogicalRDD":
        raise AssertionError(
            f"expected a checkpoint-materialized plan (LogicalRDD), got "
            f"{node}{' in ' + context if context else ''} — the grounding "
            f"directory this result reads from is about to be deleted"
        )
    return df


def duplicate_clusters(
    docs: DataFrame,
    jaccard_threshold: float = 0.2,
    pair_method: str = "prefix",
) -> DataFrame:
    """Resolve exact + near-dup evidence into clusters with one survivor.

    Edge set = (a) star edges doc→min-doc within each exact-fingerprint
    group and (b) near-dup Jaccard pairs at ``jaccard_threshold`` —
    the two cheap evidence sources; transitive closure across BOTH is
    what a pairwise keep-rule cannot express.

    ``pair_method`` picks the near-dup evidence engine:

    - ``'prefix'`` (default): exact AllPairs prefix-filtered
      bigram-shingle Jaccard (``dedup.ngram_jaccard_pairs``) —
      COMPLETE, but its candidate cost is threshold-shaped (the
      prefix is a ``(1-t)``-fraction of every shingle set), so low
      thresholds blow up.  The audit path.
    - ``'lsh'``: MinHash-LSH banded candidates + exact trigram-
      shingle Jaccard verify (``dedup.minhash_jaccard_pairs``) —
      banding cost is threshold-INDEPENDENT; recall < 1 near the
      threshold (quantified by the ``x_lsh_recall_gate`` query), and
      verified pairs are exact, so the cluster graph can only be
      MISSING edges vs the audit path, never carry a false one.  The
      production path for sub-threshold dedup at corpus scale.

    Output: (doc_id, cluster_id, is_kept) for EVERY input doc —
    singletons are their own cluster — with is_kept = 1 exactly on the
    min doc_id per cluster (deterministic survivor rule).
    """
    if pair_method not in ("prefix", "lsh"):
        raise ValueError(f"unsupported pair_method: {pair_method!r}")
    from pyspark.sql import Window

    from ..functions.textfn import doc_fingerprint

    # ground the (id, text) projection ONCE in parquet: the two
    # evidence branches plus the node set would otherwise each re-scan
    # and re-evaluate the caller's input plan (the gate's md5 shard
    # filter ran 4x — ReuseExchange cannot dedupe scans feeding
    # differently-shaped subtrees).  Parquet, not localCheckpoint:
    # checkpoint blocks lose the vectorized columnar scan and an A/B
    # at sf1 measured the checkpointed jaccard ~1.9x SLOWER than the
    # same jaccard over a parquet re-read (33.7 s vs 17.7 s).
    base_dir = tempfile.mkdtemp(prefix="dupc_base_")
    try:
        base = materialize(docs.select(F.col("doc_id"), F.col("text")), base_dir)
        doc_fp = base.select(
            F.col("doc_id"), doc_fingerprint("text").alias("fingerprint")
        )
        # star edges doc -> min-doc per exact-fingerprint group via ONE
        # window min — same edges exact_dedup_groups + broadcast join
        # produced, minus the second fingerprint pass and the join
        star = (
            doc_fp.withColumn(
                "m", F.min("doc_id").over(Window.partitionBy("fingerprint"))
            )
            .filter(F.col("doc_id") != F.col("m"))
            .select(F.col("doc_id").alias("src"), F.col("m").alias("dst"))
        )
        if pair_method == "lsh":
            from .dedup import minhash_jaccard_pairs

            pairs = minhash_jaccard_pairs(base, threshold=jaccard_threshold)
        else:
            pairs = ngram_jaccard_pairs(base, threshold=jaccard_threshold)
        jac = pairs.select(
            F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
        )
        comp = connected_components(
            star.unionByName(jac),
            nodes=base.select(F.col("doc_id").alias("node")),
        )
        # comp must be localCheckpoint-materialized (inside
        # connected_components) before base_dir is removed — assert
        # it, so removing that checkpoint upstream fails HERE instead
        # of as a read-after-delete downstream
        assert_materialized(comp, "duplicate_clusters")
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).cast("bigint").alias("is_kept"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a ``(src, dst)`` edge list (Page et al. 1999),
    computed in 10^-15 fixed-point INTEGER arithmetic.

    ``rank_{t+1}(v) = (1-d)/N + d . sum_{u->v} rank_t(u)/outdeg(u)`` —
    the "leaky" formulation (dangling mass not redistributed; ranks
    stay comparable, just not sum-to-1), which keeps every iteration a
    pure join + aggregate so a SQL oracle can replay it exactly.

    Why integers: float contribution sums are aggregation-ORDER
    dependent — across engines, partitionings, even reruns.  Scaling
    ranks to 1e15 units makes every op exact (BIGINT div truncates
    identically everywhere, sums are associative), so the result is
    bit-identical on any cluster size AND in the DuckDB oracle, at
    ~1e-15 relative truncation per op — far below double noise.
    Duplicate (src,dst) edge rows act as edge weights.

    Scale shape per iteration: one shuffle keyed on ``dst`` (the
    contribution aggregate); rank⨝edges and outdeg⨝edges co-partition
    on ``src``.  Fixed shallow depth (3-5 iterations is the curation
    standard for domain-authority signals) keeps plain lineage fine —
    unlike the data-dependent-depth CC loop above, no parquet
    re-grounding needed.
    """
    from pyspark.sql import functions as F

    SCALE = 10**15
    d_num = round(damping * 100)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    base_int = (SCALE * (100 - d_num)) // 100 // n_nodes
    ranks = nodes.withColumn("rank_fp", F.lit(SCALE // n_nodes).cast("long"))
    for _ in range(iters):
        contrib = (
            edges.join(ranks.withColumnRenamed("node", "src"), on="src")
            .join(outdeg.withColumnRenamed("node", "src"), on="src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_fp div outdeg").alias("c"),
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(summed, on="node", how="left")
            .select(
                "node",
                (
                    F.lit(base_int)
                    + F.expr(f"({d_num} * coalesce(s, 0L)) div 100")
                ).alias("rank_fp"),
            )
        )
    return ranks.select(
        "node", "rank_fp", (F.col("rank_fp").cast("double") / F.lit(1.0e15)).alias("rank")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts (node, triangles) of a
    ``(src, dst)`` edge list.

    The node-iterator-with-degree-ordering algorithm (Schank & Wagner
    2005, the MapReduce form of Suri & Vassilvitskii 2011): orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher, enumerate wedges only FROM each edge's low-degree apex,
    and close them against the oriented edge set.  Orientation caps
    every out-degree at O(sqrt(m)), so wedge count is O(m^1.5)
    total — without it one celebrity node with degree d contributes
    d^2 wedges and the self-join explodes at 100 TB scale.

    All-integer pipeline: the (degree, id) order is packed into one
    BIGINT key ``deg * 1e9 + id`` (requires non-negative ids < 1e9),
    so orientation and both adjacency joins are plain equi-joins on
    BIGINTs — exact on any engine and any partitioning.

    Wedges are never materialized as rows.  The naive form (self-join
    to wedge rows, then a closing join on the wedge's outer pair)
    shuffles O(#wedges) rows TWICE — measured 4.1 GB written + 4.2 GB
    read at sf1, 92% of the query's executor time.  Instead the
    oriented out-neighborhoods are collected once into sorted arrays
    (one shuffle of m entries), each oriented edge (a, b) picks up
    ``N+(a)`` and ``N+(b)`` by two equi-joins, and the triangle
    corners fall out of ``array_intersect`` INSIDE one codegen stage:
    for the lowest-ordered edge of each triangle, the common
    out-neighbors are exactly its third corners.  The only super-m
    shuffle left is ``N+(a)`` riding the join on b — Σ|N+(a)| longs
    packed in arrays (~3x smaller than wedge rows, no sort), and the
    per-corner explode feeds a partial-agg directly.

    The oriented edge list feeds THREE plan branches (the adjacency
    build and both join probes), so it is materialized — without
    that, each branch re-derives the distinct + degree joins from the
    raw edges and the plan triples its shuffles.  Two longs per row,
    the same materialize-the-frontier call GraphX's TriangleCount
    makes.

    The curation use: triangle density / clustering coefficient as a
    graph-quality signal over co-occurrence graphs (same family as
    pagerank above).  Engine extension — the reference has no graph
    surface (SURVEY.md §2.3 covers hash equi-joins only).
    """
    e0 = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).cast("long").alias("u"),
            F.greatest(F.col("src"), F.col("dst")).cast("long").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e0.select(F.col("u").alias("node"))
        .unionAll(e0.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    ku = (F.col("du") * F.lit(1000000000) + F.col("u")).alias("ku")
    kv = (F.col("dv") * F.lit(1000000000) + F.col("v")).alias("kv")
    oriented = (
        e0.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(ku, kv)
        .select(
            F.least("ku", "kv").alias("a"), F.greatest("ku", "kv").alias("b")
        )
    )
    oriented = materialize(oriented)
    # sorted out-neighborhood per apex; orientation bounds |N+| at
    # O(sqrt(m)) so no array exceeds that (the celebrity-node guard)
    adj = oriented.groupBy("a").agg(F.sort_array(F.collect_list("b")).alias("nb"))
    # the heavy shuffle is N+(a) riding the join on b — but a triangle
    # corner c on edge (a, b) satisfies c > b (edges orient low→high,
    # so c ∈ N+(b) ⇒ c > b), so N+(a) is pruned to its elements > b
    # MAP-SIDE before the exchange.  For a random b ∈ N+(a) half the
    # sorted array survives on average: measured at sf1 the whole
    # query drops 58 → 39 s cold (12M edges, 18.8M triangles), oracle
    # checksum identical.
    e_ab = (
        oriented.join(adj, "a")
        .select(
            "a",
            "b",
            F.filter("nb", lambda x: x > F.col("b")).alias("nba"),
        )
        .join(
            adj.select(F.col("a").alias("b"), F.col("nb").alias("nbb")), "b"
        )
    )
    # corners of each triangle found on its lowest-ordered edge:
    # apex a and mid b each appear once per common neighbor, plus the
    # common neighbors themselves — one explode, no wedge rows.
    # NO size(cs) > 0 pre-filter (r12, plan-verified): exploding an
    # empty concat already emits zero rows, but the filter was pushed
    # into the adjacency join's condition as
    # size(array_intersect(nba, nbb)) > 0, so every oriented edge paid
    # the O(|N+(a)|+|N+(b)|) intersection TWICE — once in the join
    # condition and again in this projection.  Dropping the redundant
    # guard halves the per-edge intersection work; rows identical.
    n_tri = F.size("cs")
    corners = (
        e_ab.select("a", "b", F.array_intersect("nba", "nbb").alias("cs"))
        .select(
            F.explode(
                F.concat(
                    F.array_repeat(F.col("a"), n_tri),
                    F.array_repeat(F.col("b"), n_tri),
                    F.col("cs"),
                )
            ).alias("k")
        )
    )
    return corners.groupBy(
        (F.col("k") % F.lit(1000000000)).alias("node")
    ).agg(F.count(F.lit(1)).alias("triangles"))


def k_core(
    edges: DataFrame,
    k: int,
    max_iter: int = 1000,
    work_dir: str | None = None,
    on_round=None,
    state: str = "parquet",
) -> DataFrame:
    """Nodes of the k-core (maximal subgraph with min degree >= k) of a
    ``(src, dst)`` edge list —
    the graph-curation prune (low-connectivity spam/bot tails drop out
    before expensive per-node work).

    Iterative peel, same state discipline as :func:`connected_components`
    (grounded rounds; convergence via an Observation folded into the
    state grounding): each round computes degrees over the surviving
    edge set, keeps nodes with degree >= k, and LEFT SEMI-filters both
    edge endpoints against the survivors.  Work per round is one degree
    aggregate + two semi-joins, all keyed on node id; the edge set
    only shrinks.  Rounds equal the peel DEPTH, which is worst-case
    LINEAR (a bare path peels ~2 nodes per round) — unlike CC's
    contraction iterations — hence the large ``max_iter`` rail.
    Returns (node,) rows; empty result when no k-core exists.

    Unlike CC, ``state`` DEFAULTS TO ``'parquet'`` here: the peel runs
    tens-to-hundreds of rounds, and the r13 A/B measured
    localCheckpoint rounds 2.5× SLOWER at sf1 (41 s vs 16 s —
    accumulated executor-local blocks across deep loops, and the
    eager-checkpoint job bypasses AQE partition coalescing that the
    write path gets), while CC's 2-5 contraction rounds measured ~30%
    FASTER on 'local'.  The grounding medium never changes results
    (pinned in tests).  As in CC, ``state='local'`` with a
    ``work_dir`` raises ``ValueError`` instead of dropping the durable
    state the directory asks for.
    """
    from pyspark.sql import Observation

    _check_state(state, work_dir)
    base = None if state == "local" else work_dir or tempfile.mkdtemp(prefix="kcore_state_")
    try:
        cur = materialize(
            symmetrize_edges(edges), _round_path(base, "edges_0")
        )
        prev_edges = None
        for i in range(max_iter):
            deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
            keep = deg.filter(F.col("deg") >= k).select("a")
            nxt = cur.join(keep, "a", "left_semi").join(
                keep.select(F.col("a").alias("b")), "b", "left_semi"
            )
            obs = Observation(f"kcore_round_{i}")
            cur = materialize(
                nxt.select("a", "b").observe(obs, F.count(F.lit(1)).alias("n")),
                _round_path(base, f"edges_{i + 1}"),
            )
            if on_round is not None:
                on_round(i)
            n_edges = obs.get["n"]
            if n_edges == prev_edges:
                break
            prev_edges = n_edges
        else:
            raise RuntimeError(f"k_core did not converge in {max_iter} rounds")
        return materialize(cur.select(F.col("a").alias("node")).dropDuplicates())
    finally:
        if base is not None and work_dir is None:
            shutil.rmtree(base, ignore_errors=True)
