"""Similarity search over embedding columns (engine extension,
BASELINE.json north star).

Two tiers:
- **Brute-force cosine top-k** — the exactness baseline.  One
  broadcast of the query vector, one scan, one TakeOrdered(k).  Scales
  linearly; at 100 TB the scan dominates and parallelizes perfectly.
- **IVF (coarse-quantized) top-k** — the scale path.  Vectors are
  assigned to cells (here: the provided cluster/label column; in
  production k-means centroids built the same way); the query probes
  only the nearest cell(s), cutting the scanned fraction to
  cells_probed / n_cells.

The search paths are JVM-side higher-order-function arithmetic — no
UDFs; SemDeDup's per-cell pass is a BLAS Gram matmul in
``applyInPandas``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from ..functions.vectors import cosine_similarity, lit_double_matrix, lit_doubles
from ..materialize import materialize


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector."""
    # one py4j round trip for the whole vector (see lit_doubles)
    q = lit_doubles(query_vec)
    return (
        df.select(
            F.col("vec_id"),
            cosine_similarity(F.col("embedding"), q).alias("cos_raw"),
        )
        .orderBy(F.desc("cos_raw"), "vec_id")
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


def centroids_by_cell(df: DataFrame, cell_col: str = "label") -> DataFrame:
    """Per-cell mean vector (the IVF coarse quantizer codebook).

    Computed by exploding positions and averaging per (cell, pos) —
    one shuffle keyed on (cell, pos), then regrouped to arrays.
    """
    exploded = df.select(
        F.col(cell_col).alias("cell"), F.posexplode(F.col("embedding")).alias("pos", "v")
    )
    per_pos = exploded.groupBy("cell", "pos").agg(F.avg(F.col("v").cast("double")).alias("c"))
    return per_pos.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc")
    ).select("cell", F.transform(F.col("pc"), lambda x: x["c"]).alias("centroid"))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 5,
    cell_col: str = "label",
    n_probe: int = 1,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k: probe the ``n_probe`` nearest cells only.

    The probed-cell filter is a broadcast semi-join, so the main scan
    prunes to the probed partitions (with the table partitioned by
    cell on disk, this is partition pruning, not a filter).

    ``cents`` (optional) is a precomputed ``(cell, centroid)`` frame
    from :func:`centroids_by_cell` over the SAME ``df`` — callers that
    probe many (query, n_probe) combinations materialize it ONCE and
    pass it in, instead of re-running the per-cell aggregation inside
    every call (r13: the ANN recall gate ran it 6×, ~4 s of its wall).
    The values are identical by construction, so results don't change.
    """
    # one py4j round trip for the whole vector (see lit_doubles)
    q = lit_doubles(query_vec)
    if cents is None:
        cents = centroids_by_cell(df, cell_col=cell_col)
    probed = (
        cents.select("cell", cosine_similarity(F.col("centroid"), q).alias("qcos"))
        .orderBy(F.desc("qcos"), "cell")
        .limit(n_probe)
        .select(F.col("cell").alias("_probe_cell"))  # avoid name clash with cell_col
    )
    return (
        df.join(broadcast(probed), F.col(cell_col) == F.col("_probe_cell"))
        .select(F.col("vec_id"), cosine_similarity(F.col("embedding"), q).alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), "vec_id")
        .limit(k)
        .select("vec_id", F.round("cos_raw", 6).alias("cos_sim"))
    )


def assign_cells(df: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign each ``embedding`` to its max-cosine centroid (JVM-side
    argmax), as the ``cell`` column.

    Centroids arrive as driver-side literals (k × dim is tiny); the
    argmax is a lexicographic ``array_max`` over (cos, cell) structs —
    no shuffle, no UDF, scales as one map over the table.

    The struct array is built with ``transform`` over ONE array-of-
    arrays literal, not k expanded copies of the cosine expression:
    the expanded form grows the codegen tree linearly with k and falls
    out of whole-stage codegen past ~100 cells (measured 77 s → 116 s
    going 64 → 256 cells on 100k vectors; the transform form stays a
    single code path at any k).
    """
    return df.withColumn(
        "cell", F.array_max(_centroid_choices("embedding", centroids))["cell"]
    )


def _fold_norm(vals: "list[float]") -> float:
    """Driver-side replica of :func:`..functions.vectors.l2_norm`'s
    left fold — same op order, same IEEE doubles, so the result is
    BIT-identical to the JVM evaluation (pinned in tests)."""
    import math

    acc = 0.0
    for v in vals:
        acc = acc + float(v) * float(v)
    return math.sqrt(acc)


def _centroid_choices(vec_col: str, centroids: list[list[float]]) -> F.Column:
    """``array<struct<c: cosine, cell: int>>`` against every centroid —
    one ``transform`` over an array-of-arrays literal (single code
    path; see :func:`assign_cells` scale note).

    Per-element cost discipline (r12): the naive
    ``cosine_similarity(vec, element_at(cents, i+1))`` inside the
    lambda re-evaluated the VECTOR's norm once per centroid (a free
    subtree in a HOF lambda re-evaluates per element) and each
    centroid's norm once per row.  Here the row norm is let-bound
    (``bind1``: one evaluation, O(1) reads) and the centroid norms are
    driver-side literals (``_fold_norm`` replicates the JVM fold
    bit-exactly), so per row the arithmetic is k dots + ONE norm
    instead of k dots + 2k norms.  Cosines verified bit-identical
    including the zero-norm-centroid NULL case."""
    from ..functions.vectors import bind1, dot, l2_norm

    # ONE py4j round trip for the whole codebook (see lit_doubles;
    # F.lit on a nested list pays a py4j round trip per element)
    cents = lit_double_matrix(centroids)
    ncs = lit_doubles([_fold_norm(c) for c in centroids])
    idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))

    def body(nv):
        def one(i):
            denom = nv * F.element_at(ncs, i + 1)
            return F.struct(
                F.when(
                    denom > 0,
                    dot(F.col(vec_col), F.element_at(cents, i + 1)) / denom,
                ).alias("c"),
                i.alias("cell"),
            )

        return F.transform(idx, one)

    return bind1(l2_norm(F.col(vec_col)), body)


def _collect_train_sample(df: DataFrame, vec_col: str, sample_n: int) -> "list[list[float]]":
    """Deterministic but content-UNIFORM bounded training sample.

    MEMBERSHIP is the ``sample_n`` vectors with the lowest md5-hash
    of id — one TakeOrdered job (map-side partial top-N per partition
    + driver merge — never a full sort; at 100 TB this reads two
    columns and ships ≤ sample_n rows).  Drawing membership by a hash
    of the id rather than the id itself matters on real corpora: id
    order usually correlates with content (time- or source-sorted
    ingest), so a lowest-id PREFIX is a biased sample that
    under-represents later data in the codebooks/cells; the hash draw
    is uniform over the corpus yet still bit-reproducible across
    partitionings and engines (md5 is portable; ties broken by id).

    The returned sample is then sorted by id DRIVER-SIDE (O(sample_n
    log sample_n), trivial next to the Lloyd iterations): k-means
    init takes the first rows of the sample, so the row order feeds
    quantizer quality — id order keeps init independent of the hash
    function, and on corpora smaller than ``sample_n`` (the test
    fixtures) makes training exactly reproducible against the
    whole-corpus id-ordered baseline."""
    from ..functions.textfn import portable_hash64

    rows = (
        df.select("vec_id", vec_col)
        .orderBy(portable_hash64(F.col("vec_id").cast("string")), "vec_id")
        .limit(sample_n)
        .collect()
    )
    if not rows:
        raise ValueError("empty input — nothing to train on")
    rows.sort(key=lambda r: r[0])
    return [[float(v) for v in r[1]] for r in rows]


def train_ivf_cells(
    df: DataFrame,
    k: int = 10,
    iters: int = 3,
    sample_n: int = 65536,
) -> tuple[DataFrame, list[list[float]]]:
    """Spherical k-means coarse quantizer (Lloyd iterations on cosine).

    The provided ``label`` column in the test embeddings is nearly
    random w.r.t. cosine direction (IVF recall over it ≈ the scanned
    fraction), so a real deployment trains the codebook: init from the
    first k sample vectors by id (deterministic), then assign → mean →
    re-assign.

    Training runs DRIVER-SIDE over a deterministic bounded sample
    (``sample_n`` lowest-id vectors, one TakeOrdered job) — the FAISS
    production layout: the coarse codebook is O(k·d) and k-means
    converges on a bounded sample, so the cluster never pays ``iters``
    full-corpus shuffles for it (the previous formulation's per-
    iteration (cell, pos) aggregate is exactly the shuffle a 100 TB
    corpus cannot afford, and at gate scale its per-iteration job
    overhead dominated the ANN gate queries).  The full corpus is only
    ever touched by the returned lazy ``assign_cells`` map.

    Training is FP-order-dependent (mean of doubles), so trained-cell
    search quality is asserted by recall properties in tests, not by a
    cross-engine hash oracle (the oracle checks the provided-label
    mechanism instead).
    """
    import numpy as np

    X = np.asarray(
        _collect_train_sample(df, "embedding", sample_n), dtype=np.float64
    )
    cent = X[:k].copy()
    for _ in range(iters):
        xn = np.linalg.norm(X, axis=1, keepdims=True)
        cn = np.linalg.norm(cent, axis=1, keepdims=True)
        sims = np.divide(X, np.where(xn == 0, 1.0, xn)) @ np.divide(
            cent, np.where(cn == 0, 1.0, cn)
        ).T
        # ties: pick the HIGHEST cell, matching assign_cells' struct
        # array_max (equal cosine → larger cell index wins)
        lab = (sims.shape[1] - 1) - np.argmax(sims[:, ::-1], axis=1)
        for j in range(len(cent)):
            m = lab == j
            if m.any():
                cent[j] = X[m].mean(axis=0)
    centroids = [[float(v) for v in c] for c in cent]
    return assign_cells(df, centroids), centroids


# rows of a cell's Gram matrix that semantic_dedup computes at once
_GRAM_BLOCK = 4096


def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv method) with the per-cell pairwise
    pass in BLAS: coarse k-means cells bound the pair space, then
    within each cell a vector is dropped when an earlier (lower-id)
    cell-mate sits above the cosine threshold.

    The survivor rule — drop ``v`` iff ANY lower-id cell-mate has
    ``cos > threshold`` — is order-free, not a greedy sweep.  One
    ``applyInPandas`` per cell normalizes once and takes a blocked
    ``U @ Uᵀ`` Gram matmul instead of ~cell²/2 interpreted zip_with
    dot products.  Measured 52 s → 15 s against the HOF-join variant
    (:func:`_semantic_dedup_sql`, kept as the zero-Python reference
    the tests compare against) on 100k×16-dim vectors / 256 cells
    (local[32]) — this is the SemDeDup-paper shape (FAISS-style BLAS
    inside each cluster).

    ``_GRAM_BLOCK`` bounds the Gram working set at block×cell floats,
    so a hot cell costs memory linear in its size; pick the cell count
    so cells fit a worker (the SemDeDup paper's own constraint).
    """
    import numpy as np
    import pandas as pd

    assigned = assign_cells(df, centroids)
    schema = assigned.schema

    def dedup_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("vec_id", kind="mergesort").reset_index(drop=True)
        X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        n = len(X)
        if n <= 1:
            return pdf
        norms = np.linalg.norm(X, axis=1)
        norms[norms == 0] = 1.0
        U = X / norms[:, None]
        dropped = np.zeros(n, dtype=bool)
        for lo in range(0, n, _GRAM_BLOCK):
            hi = min(lo + _GRAM_BLOCK, n)
            G = U[lo:hi] @ U.T  # (hi-lo) × n
            # row i (global lo+i) vs column j: i "earlier than" j when
            # lo+i < j — mask everything else before the threshold test
            cols = np.arange(n)[None, :]
            rows = (lo + np.arange(hi - lo))[:, None]
            contrib = (G > threshold) & (rows < cols)
            dropped |= contrib.any(axis=0)
        return pdf[~dropped]

    return assigned.groupBy("cell").applyInPandas(dedup_cell, schema=schema)


def _semantic_dedup_sql(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public arXiv method): coarse k-means cells bound
    the pair space, then within each cell a vector is dropped when an
    earlier (lower-id) cell-mate sits above the cosine threshold.

    The survivor rule — keep ``v`` iff NO lower-id vector in the same
    cell has ``cos > threshold`` with it — is order-free and
    deterministic given the cell assignment (no greedy sweep whose
    result depends on visit order).  Plan shape: one broadcast-literal
    map for assignment, one (cell)-keyed self-join whose fan-out is
    bounded by cell size (~n/k), one left-anti join back.  The O(n²)
    all-pairs comparison never appears; at 100 TB the cell join is the
    same shape as the LSH-band join in ``operators.dedup``.

    The cell assignment is materialized, so the pair join and the
    final anti-join share one computation.
    """
    from ..functions.vectors import dot_unrolled, l2_norm

    assigned = materialize(assign_cells(df, centroids))
    # normalize ONCE per vector before the pair join: each of the
    # O(cell²) pair comparisons then costs a dot product alone instead
    # of dot + two norms (~3× less per-pair arithmetic; cos(a,b) ≡
    # dot(a/|a|, b/|b|) exactly, modulo last-ulp rounding)
    # zero vectors (padding / failed encodes) must not divide by zero —
    # ANSI mode (the driver's default) raises instead of yielding inf.
    # norm 0 → keep the zero vector as-is (cos vs anything = 0, so it
    # never crosses the threshold), matching the BLAS path's guard.
    safe_norm = F.when(F.col("__norm") > 0, F.col("__norm")).otherwise(F.lit(1.0))
    unit = assigned.withColumn("__norm", l2_norm(F.col("embedding"))).select(
        "vec_id",
        "cell",
        F.transform(
            F.col("embedding"), lambda v: v.cast("double") / safe_norm
        ).alias("__unit"),
    )
    a, b = unit.alias("a"), unit.alias("b")
    cond = (F.col("a.cell") == F.col("b.cell")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    # the O(cell²) per-pair dot, unrolled into whole-stage codegen
    # (r13): the centroid dimension is the expected vector dimension;
    # rows of any other size take the bit-identical HOF fallback
    dropped = (
        a.join(b, cond)
        .filter(
            dot_unrolled("a.__unit", "b.__unit", len(centroids[0]))
            > threshold
        )
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dropped, "vec_id", "left_anti")


def _knn_candidate_frames(queries: DataFrame, corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """kNN-join candidate generation: ``(vec_id, embedding, label)``
    queries tagged with their own cell and the corpus tagged with its
    cell, both keyed on ``__qcell`` for the pair join."""
    q = queries.select(
        F.col("vec_id").alias("__qid"),
        F.col("embedding").alias("__qvec"),
        F.col("label").alias("__qcell"),
    )
    c = corpus.select(
        F.col("vec_id").alias("__nid"),
        F.col("embedding").alias("__nvec"),
        F.col("label").alias("__qcell"),
    )
    return q, c


def _knn_topk(cand: DataFrame, k: int) -> DataFrame:
    """kNN-join ranking/output contract: per-query row_number over
    (cos desc, neighbor id asc), rounded presentation.

    ``cos_raw`` must be non-null: :func:`ivf_knn_join` drops zero-norm
    units and dimension mismatches BEFORE its pair join.  A NULL filter
    here would not be free — Catalyst pushes ``isnotnull(cos_raw)``
    into the pair join's condition, where ``cos_raw`` is the full
    O(dim) dot product, so every surviving pair would pay the dot
    product TWICE (r12 plan audit)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__qid").orderBy(F.desc("cos_raw"), "__nid")
    return (
        cand.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(
            F.col("__qid").alias("vec_id"),
            F.col("__nid").alias("neighbor_id"),
            F.round("cos_raw", 6).alias("cos_sim"),
        )
    )


def ivf_knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    dim: int | None = None,
) -> DataFrame:
    """kNN JOIN: top-k cosine neighbors for EVERY query vector.

    ``brute_force_topk``/``ivf_topk`` serve one query vector; bulk
    similarity (embedding near-dup sweeps, retrieval eval) needs all-N
    queries at once, and N × brute-force is O(N·M).  Here both sides
    carry a cell assignment and candidates are generated by an
    equi-join on cell — one shuffle keyed on cell id, never a cross
    join — then ranked per query with a window top-k
    (:func:`_knn_candidate_frames` / :func:`_knn_topk`).

    Each query probes its own ``label`` cell (fully deterministic —
    the cross-engine-oracle configuration).  Self-pairs (same id) are
    excluded, and so are zero-norm vectors: a zero-norm query emits no
    rows.

    ``dim`` is a pure PERFORMANCE hint: with it the per-pair dot
    product is :func:`..functions.vectors.dot_unrolled` — the same
    left-to-right fold compiled into whole-stage codegen instead of
    the interpreted ``aggregate(zip_with(...))`` — and rows of any
    other dimension fall back to the HOF dot, so results are
    row-identical for ANY value (bit-identity pinned in tests).
    """
    from ..operators.skew import spread

    q, c = _knn_candidate_frames(queries, corpus)
    # The pair join's probe side inherits the query scan's width — on a
    # single-row-group input (the bench testdata) that is ONE task doing
    # the entire |cells|·avg_cell² pair scoring on one core.  spread()
    # redistributes it over the core budget first (identity at
    # production scan widths, guide §2.5-shaped remedy).  The corpus
    # side is not spread: it either broadcasts (build cost is O(rows))
    # or shuffles by cell anyway.  Full width, not the 0.5 default:
    # work per probe row is |cell| dot products, so per-task work stays
    # large at any sane width (see spread's docstring).
    # by=__qid (r13): the broadcast pair join PRESERVES the probe
    # side's partitioning, so hash-clustering on the query id here
    # makes the downstream window top-k's ClusteredDistribution(__qid)
    # already satisfied — the 400k-pair-row exchange between the pair
    # stage and the ranking stage disappears (guide §2.4).
    q = spread(q, width=1.0, by=["__qid"])
    # pre-normalize both sides ONCE so each candidate pair costs one
    # dot product instead of dot + two norms (the pair count is
    # |cells|·avg_cell²-shaped and dwarfs both row counts); zero-norm
    # vectors get NULL units = NULL cosine, same as the try_divide
    # guard in cosine_similarity.
    from ..functions.vectors import dot, dot_unrolled, l2_norm

    def _unit(df_, vec, out):
        return df_.withColumn("__nrm", l2_norm(vec)).withColumn(
            out,
            F.when(
                F.col("__nrm") > 0,
                F.transform(F.col(vec), lambda x: x.cast("double") / F.col("__nrm")),
            ),
        ).drop("__nrm", vec)

    q = _unit(q, "__qvec", "__qunit")
    c = _unit(c, "__nvec", "__nunit")
    # NULL-cosine sources are eliminated BEFORE the join (zero-norm /
    # null-element vectors → NULL unit arrays; dimension mismatches →
    # size inequality) by O(1)-cheap predicates, so the pair
    # projection's cos_raw is non-null by construction (_knn_topk's
    # contract)
    q = q.filter(F.col("__qunit").isNotNull())
    c = c.filter(F.col("__nunit").isNotNull())
    # the dominant per-pair arithmetic: with a dim hint the dot runs
    # unrolled inside whole-stage codegen (bit-identical fold order;
    # wrong-dim rows fall back to the HOF dot inside the expression)
    pair_dot = (
        dot_unrolled("__qunit", "__nunit", dim)
        if dim
        else dot(F.col("__qunit"), F.col("__nunit"))
    )
    pairs = (
        q.join(c, ["__qcell"])
        .filter(F.col("__qid") != F.col("__nid"))
        .filter(F.size("__qunit") == F.size("__nunit"))
        .select(
            "__qid",
            "__nid",
            pair_dot.alias("cos_raw"),
        )
    )
    return _knn_topk(pairs, k)


def query_vector_of(df: DataFrame, vec_id: int) -> list[float]:
    """Driver-side fetch of one vector to use as a query literal."""
    row: Row | None = df.filter(F.col("vec_id") == vec_id).select("embedding").head()
    if row is None:
        raise KeyError(f"no vector with vec_id={vec_id}")
    return [float(v) for v in row[0]]


def query_vectors_of(
    df: DataFrame,
    vec_ids: "list[int] | tuple[int, ...]",
) -> dict[int, list[float]]:
    """Driver-side fetch of SEVERAL query vectors in one job (an
    IN-filter scan instead of one job per id)."""
    rows = (
        df.filter(F.col("vec_id").isin(list(vec_ids)))
        .select("vec_id", "embedding")
        .collect()
    )
    got = {int(r[0]): [float(v) for v in r[1]] for r in rows}
    missing = set(int(i) for i in vec_ids) - set(got)
    if missing:
        raise KeyError(f"no vector with vec_id in {sorted(missing)}")
    return got


# --- Product quantization (PQ) -------------------------------------------
#
# The memory-bound ANN tier: each vector compresses to m sub-space code
# ids (here 8 codes over 64 dims = 32x smaller than float32), and
# query-time scoring reads ONLY the codes — an asymmetric-distance
# (ADC) lookup against a per-query table.  At 100 TB the codes fit
# where raw vectors cannot, and search is a pure map + TakeOrdered:
# no shuffle, no join, no UDF (Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011).  For unit-norm vectors
# L2 ranking == cosine ranking, so PQ results are comparable with the
# cosine tiers above.


def _sq_l2(a, b) -> F.Column:
    """Squared L2 between two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_code_col(vec_col: str, codebooks: list[list[list[float]]]):
    """array<int> of per-subspace nearest-centroid codes — a pure
    projection (argmin over literal centroids per subspace), no
    shuffle, no explode.

    Each subspace's argmin is ONE ``transform`` over its k-centroid
    array literal, not k expanded copies of the squared-L2 tree — the
    expanded form put m·k distance expressions in one projection and
    fell out of whole-stage codegen (the assign_cells lesson)."""
    m = len(codebooks)
    k = len(codebooks[0])
    dsub = len(codebooks[0][0])

    from ..functions.vectors import bind1

    def argmin_fn(subvec, cents):
        # closure factory: a default-arg lambda would change the
        # visible arity and break PySpark's lambda-variable binding
        return lambda j: F.struct(
            _sq_l2(subvec, F.element_at(cents, j + 1)).alias("d"),
            j.alias("code"),
        )

    def body_fn(seq_, cents_):
        # closure factory again — bind1's body must stay unary
        return lambda sv: F.transform(seq_, argmin_fn(sv, cents_))

    subcodes = []
    for s in range(m):
        cents = lit_double_matrix(codebooks[s])
        seq = F.sequence(F.lit(0), F.lit(k - 1))
        # let-bind the sub-vector slice (r12): captured inside the
        # per-centroid lambda it re-sliced the vector k times per row
        # per subspace; bound as a lambda variable it slices once
        choices = bind1(
            F.slice(F.col(vec_col), s * dsub + 1, dsub), body_fn(seq, cents)
        )
        subcodes.append(F.array_min(choices)["code"])
    return F.array(*subcodes)


def encode_pq(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach the PQ code array (map-only; the compressed table keeps
    ids + codes and can DROP the raw vectors)."""
    return df.withColumn("pq_code", _pq_code_col(vec_col, codebooks))


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    sample_n: int = 65536,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means → codebooks[m][k][dim/m].

    Init: sub-vectors of the first ``k`` sample vectors by id
    (deterministic).
    Like :func:`train_ivf_cells`, training runs DRIVER-SIDE over a
    deterministic bounded sample (one TakeOrdered job) — the FAISS
    layout: codebooks are O(m·k·dsub) and converge on a sample, so a
    100 TB corpus never pays per-iteration encode+aggregate passes for
    them; only the one-shot :func:`encode_pq` map touches every row.
    Ties in the argmin pick the lowest code id, matching encode_pq's
    struct array_min.  Means are FP-order-dependent, so PQ quality is
    asserted by recall properties in tests rather than a cross-engine
    hash oracle.
    """
    import numpy as np

    X = np.asarray(
        _collect_train_sample(df, vec_col, sample_n), dtype=np.float64
    )
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    codebooks: list[list[list[float]]] = []
    for s in range(m):
        sub = X[:, s * dsub : (s + 1) * dsub]
        cb = sub[:k].copy()
        for _ in range(iters):
            # ||x-c||² = ||x||² + ||c||² - 2x·c without the (n,k,dsub)
            # broadcast temp — O(n·k) memory at any sample size
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                + (cb * cb).sum(axis=1)[None, :]
                - 2.0 * (sub @ cb.T)
            )
            lab = np.argmin(d2, axis=1)  # ties → lowest code id
            for j in range(k):
                msk = lab == j
                if msk.any():
                    cb[j] = sub[msk].mean(axis=0)
        codebooks.append([[float(v) for v in c] for c in cb])
    return codebooks


def _adc_dist_col(
    codebooks: list[list[list[float]]],
    query_vec: list[float],
) -> F.Column:
    """ADC squared-L2 column for one query: the per-query lookup table
    (m × k partial squared distances, computed driver-side — it is
    tiny) ships as literals; scoring is ``Σ_s lut[s][code_s]`` via
    element_at — a pure projection, no shuffle, no join."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])
    lut = [
        [
            sum(
                (query_vec[s * dsub + p] - c[p]) ** 2
                for p in range(dsub)
            )
            for c in codebooks[s]
        ]
        for s in range(m)
    ]
    parts = [
        F.element_at(
            lit_doubles(lut[s]),
            F.element_at("pq_code", s + 1) + 1,
        )
        for s in range(m)
    ]
    return sum(parts[1:], parts[0])


def pq_adc_topk(
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes only (projection +
    TakeOrdered over the compressed table; see :func:`_adc_dist_col`)."""
    dist = _adc_dist_col(codebooks, query_vec)
    return (
        codes.select(F.col("vec_id"), dist.alias("adc_raw"))
        .orderBy("adc_raw", "vec_id")
        .limit(k)
        .select("vec_id", F.round("adc_raw", 6).alias("adc_dist"))
    )


def pq_search_rerank(
    df: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    shortlist: int = 50,
) -> DataFrame:
    """Production PQ pattern: ADC shortlist over the compressed table,
    then EXACT cosine re-rank of only the shortlist against raw
    vectors.  The corpus-wide pass touches codes only (map +
    TakeOrdered); the raw table is read through a broadcast semi-join
    on ``shortlist`` ids — no corpus shuffle anywhere.  Measured here:
    m=16,k=32 codes (16x compression) lift recall@10 from 0.52
    (ADC-only) to 0.94 with a 50-deep shortlist."""
    sl = pq_adc_topk(codes, codebooks, query_vec, k=shortlist).select("vec_id")
    cand = df.join(broadcast(sl), on="vec_id", how="inner")
    return brute_force_topk(cand, query_vec, k=k)


def ivfpq_build(
    df: DataFrame,
    k_cells: int = 10,
    m: int = 8,
    k_codes: int = 16,
    iters: int = 2,
) -> tuple[DataFrame, list[list[list[float]]], list[list[float]]]:
    """IVF-PQ index build (the FAISS ``IVFx,PQy`` layout, Jegou et al.
    TPAMI'11 §V): coarse k-means cells for PRUNING + per-subspace PQ
    codebooks over the cell RESIDUALS ``x - centroid[cell]`` for
    COMPRESSION.  Residual encoding is what makes the combination
    better than either part: residuals have far less variance than raw
    vectors, so the same m×k code budget quantizes them much finer.

    Plan shape: the cell assignment and the residual projection are
    pure maps over literal centroid arrays; PQ training scans the
    residual table (never shuffles it at vector width).  Returns
    ``(codes(id, cell, pq_code), codebooks, centroids)`` — at 100 TB
    the codes table (one int cell + m small ints per vector) is the
    only thing the search fleet keeps hot; raw vectors stay cold until
    the final rerank's broadcast semi-join."""
    assigned, cents = train_ivf_cells(df, k=k_cells, iters=iters)
    cent_arr = lit_double_matrix(cents)
    resid = assigned.withColumn(
        "_resid",
        F.zip_with(
            F.col("embedding"),
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda a, b: a.cast("double") - b,
        ),
    )
    cb = train_pq(resid, m=m, k=k_codes, iters=iters, vec_col="_resid")
    codes = encode_pq(resid, cb, vec_col="_resid").select("vec_id", "cell", "pq_code")
    return codes, cb, cents


def ivfpq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
) -> DataFrame:
    """Encode vectors against a FROZEN IVF-PQ index (coarse centroids
    + PQ codebooks from a prior :func:`ivfpq_build`) — the incremental
    index-maintenance path.

    A growing corpus appends daily embedding deltas to a 100 TB ANN
    index; retraining (and re-encoding the whole corpus) for every
    delta is not an option, and because both the cell assignment and
    the PQ argmin are ROW-LOCAL maps over frozen literals, it never
    has to be: encoding the delta alone produces byte-identical codes
    to re-encoding those rows inside the full corpus (asserted by the
    ``x_sim_ivfpq_incremental`` gate and tests).  Appended as new
    files under the existing ``partitionBy(cell)`` layout, the delta
    is immediately searchable with unchanged n_probe pruning; existing
    partitions are never rewritten.  Quantization quality for the
    delta degrades only as the data distribution drifts from the
    training sample — the standard FAISS operating regime (monitor
    recall, retrain on drift).
    """
    assigned = assign_cells(df, centroids)
    cent_arr = lit_double_matrix(centroids)
    resid = assigned.withColumn(
        "_resid",
        F.zip_with(
            F.col("embedding"),
            F.element_at(cent_arr, F.col("cell") + 1),
            lambda a, b: a.cast("double") - b,
        ),
    )
    return encode_pq(resid, codebooks, vec_col="_resid").select(
        "vec_id", "cell", "pq_code"
    )


def ivfpq_topk(
    df: DataFrame,
    codes: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ search: probe the ``n_probe`` nearest cells, ADC-score
    ONLY their codes against the per-cell residual query
    ``q - centroid[cell]``, then exact-rerank the shortlist.

    The cell filter is a pushed-down ``IN`` predicate over the codes
    table (at 100 TB: partition pruning when codes are written
    partitioned by cell — the fleet reads n_probe/k_cells of the
    index); the per-cell ADC is one CASE over n_probe lookup-table
    expressions (n_probe is small); the raw table is touched only by
    the final broadcast semi-join.  No corpus shuffle anywhere."""
    import numpy as np

    q = np.asarray(query_vec, dtype=float)
    qn = q / (np.linalg.norm(q) or 1.0)
    sims = []
    for i, c in enumerate(centroids):
        cv = np.asarray(c, dtype=float)
        nrm = np.linalg.norm(cv)
        sims.append((float(qn @ (cv / nrm)) if nrm else -1.0, i))
    probed = [i for _, i in sorted(sims, reverse=True)[:n_probe]]

    dist = None
    for cell in probed:
        rq = [float(q[p] - centroids[cell][p]) for p in range(len(q))]
        cell_dist = _adc_dist_col(codebooks, rq)
        dist = (
            F.when(F.col("cell") == cell, cell_dist)
            if dist is None
            else dist.when(F.col("cell") == cell, cell_dist)
        )
    sl = (
        codes.filter(F.col("cell").isin(probed))
        .select(F.col("vec_id"), dist.alias("adc_raw"))
        .orderBy("adc_raw", "vec_id")
        .limit(shortlist)
        .select("vec_id")
    )
    cand = df.join(broadcast(sl), on="vec_id", how="inner")
    return brute_force_topk(cand, query_vec, k=k)
