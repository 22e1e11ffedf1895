"""Extension query suite: LLM-training-data pipeline operators over
``documents`` / ``embeddings`` (BASELINE.json north star) plus the
model/simulation layer (SURVEY.md §2.9 X3-X5) and the streaming
rollup's batch mirror.

Oracle portability: all text hashes are md5-derived
(``portable_hash64`` ≡ ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``)
so MinHash/SimHash signatures are bit-identical in DuckDB.  Vector
math is mirrored with unnest-by-position joins, double-cast before
multiplication (DuckDB FLOAT*FLOAT stays single-precision otherwise).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textfn import (
    BPEISH_TOKEN_RE,
    LANG_MARKERS,
    PII_PATTERNS,
    lang_id,
    pii_counts,
    portable_hash64,
    punct_ratio,
    quality_score,
    redact_pii,
    stopword_ratio,
    token_count_bpeish,
    token_count_ws,
    tokens,
)
from ..operators.dedup import (
    embedding_neardup_pairs,
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    srp_hyperplanes,
)
from ..operators.diagnostics import run_diagnostics
from ..operators.decontam import ngram_decontaminate
from ..operators.graph import duplicate_clusters
from ..operators.forecast import fit_rw_drift_forecast, monte_carlo_forecast
from ..operators.multimodal import attach_binary_metadata, decode_media, extract_features
from ..operators.asof import asof_join
from ..operators.curation import hash_split, source_mix, stratified_cap
from ..operators.quality import repetition_signals
from ..operators.range_join import windowed_range_join
from ..operators.sketch import approx_distinct_by, approx_quantiles_by
from ..operators.skew import salted_group_agg, spread
from ..operators.similarity import (
    brute_force_topk,
    ivf_knn_join,
    ivf_topk,
)
from .base import (
    BANDED_SQL,
    DSUM,
    H16,
    MONTH_OF,
    MONTHLY_CTE,
    SHINGLES,
    SIG_CTE,
    TOKS,
    dsum,
    monthly_lineitem,
    query,
    sig_cte,
    stream_table,
    table,
)
from ..materialize import barrier_scope, materialize
from ..functions.rolling import ewma_sql

# --- shared SQL fragments --------------------------------------------------


def _H60(expr: str) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


# --------------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------------


@query(
    "x_dedup_exact_fingerprint",
    "Exact dedup: whitespace-normalized 60-bit content fingerprint → "
    "hash-groupBy → keep min doc_id (engine extension; generalizes P11).",
    f"""
SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM (
  SELECT doc_id,
         {_H60(f"array_to_string({TOKS}, ' ')")} AS fingerprint
  FROM documents
)
GROUP BY fingerprint
""",
    tags=("M4", "dedup"),
)
def x_dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(table(spark, sf_dir, "documents"))


@query(
    "x_minhash_signatures",
    "MinHash: 16 Kirsch–Mitzenmacher min-hashes (min(h1 + i*h2) from one "
    "md5 per 3-word shingle) per doc — the signature stage of MinHash-LSH "
    "dedup.",
    f"WITH {SIG_CTE}\nSELECT * FROM sig",
    headline=True,
    tags=("M4", "dedup"),
)
def x_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(table(spark, sf_dir, "documents"))


@query(
    "x_dedup_minhash_lsh_pairs",
    "MinHash-LSH candidate pairs: 8 bands × 2 rows, banded equi-self-join "
    "on (band_idx, band_key) — never a cross join.",
    f"""
WITH {SIG_CTE},
banded AS (
{BANDED_SQL}
)
SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
FROM banded a
JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
            AND a.doc_id < b.doc_id
""",
    tags=("M4", "dedup"),
)
def x_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(docs))


@query(
    "x_dedup_lsh_verified_pairs",
    "LSH-banded candidates + EXACT Jaccard verify in one operator "
    "(operators/dedup.py minhash_jaccard_pairs) — the sub-threshold "
    "SCALE path: PPJoin's prefix is a (1-t)-fraction of every "
    "shingle set (at t=0.2, ~80% of every doc becomes join keys — "
    "the measured x_dedup_clusters_cc dominator), while banding "
    "cost is threshold-independent and candidate fan-out follows "
    "1-(1-J^2)^8.  Verified pairs are EXACT trigram-set Jaccards "
    "(array_intersect on distinct shingle arrays), so banding can "
    "only MISS near-threshold pairs (recall quantified by "
    "x_lsh_recall_gate), never fabricate one.  Deterministic "
    "end-to-end (md5 minhashes), so the oracle mirrors the BANDING "
    "itself, not just the verify — the hash pins candidates AND "
    "values.",
    f"""
WITH {SIG_CTE},
banded AS (
{BANDED_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS shd FROM sh),
v AS (
  SELECT c.doc_id_1, c.doc_id_2,
         CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE) AS n_common,
         CAST(len(x.shd) AS DOUBLE) AS n1,
         CAST(len(y.shd) AS DOUBLE) AS n2
  FROM cand c
  JOIN sets x ON c.doc_id_1 = x.doc_id
  JOIN sets y ON c.doc_id_2 = y.doc_id
)
SELECT doc_id_1, doc_id_2,
       ROUND(n_common / (n1 + n2 - n_common), 9) AS jaccard
FROM v WHERE n_common / (n1 + n2 - n_common) >= 0.3
""",
    tags=("M4", "dedup", "scale"),
)
def x_dedup_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import minhash_jaccard_pairs

    return minhash_jaccard_pairs(
        table(spark, sf_dir, "documents"), threshold=0.3
    )


@query(
    "x_dedup_simhash",
    "SimHash: 16-bit majority-vote fingerprint over md5 token hashes.",
    f"""
WITH toks_t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks, t -> {H16('t')}) AS th
  FROM toks_t
)
SELECT doc_id,
       CAST({' + '.join(f"(CASE WHEN 2 * len(list_filter(th, x -> ((x >> {b}) & 1) = 1)) > n THEN {1 << b} ELSE 0 END)" for b in range(16))}
            AS BIGINT) AS simhash
FROM h
""",
    tags=("M4", "dedup"),
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash16_frame

    docs = table(spark, sf_dir, "documents")
    # frame form: token-hash array projected once, not re-derived by
    # each of the 16 bit-count filters (r12; see simhash16_frame)
    return simhash16_frame(docs)


@query(
    "x_dedup_ngram_jaccard",
    "n-gram (bigram-shingle-set) Jaccard near-dup pairs — EXACT via "
    "AllPairs prefix filtering (round-2: replaces length-bucket "
    "banding, whose within-bucket fan-out degenerated toward O(n²) on "
    "homogeneous-length corpora and missed boundary-straddling pairs; "
    "the feature unit is the biGRAM, not the raw token — on this "
    "small-vocab corpus every token has df ~ 0.7n, so a token-set "
    "join has no rare prefixes and its TRUE result is itself "
    "quadratic: 99.1% of all pairs pass J >= 0.2.  Bigrams restore "
    "the feature sparsity prefix filtering needs at any scale).  The "
    "oracle is the brute-force all-pairs definition; the Spark plan "
    "produces the identical pair set from rare-gram prefix "
    "candidates.  Round-5: the registry entry runs the audit over a "
    "deterministic ~1/4 hash-sampled shard (portable_hash64(doc_id) "
    "% 4 = 0 — the oracle replays the exact shard), because the "
    "EXACT audit's cost is candidate-proportional by design and at "
    "54 s / sf0.1 it dominated full-suite sweeps (VERDICT r4 item 5); "
    "a sampled shard IS the production posture for an exact dedup "
    "audit — it estimates the corpus dup rate without paying the "
    "full candidate fan-out, and the operator itself stays complete "
    "for callers who want the whole corpus.",
    f"""
WITH dsamp AS (
  SELECT * FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0
),
t AS (SELECT doc_id, {TOKS} AS toks FROM dsamp),
d AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
    THEN list_transform(generate_series(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+1], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS tok
  FROM t
)
SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
       ROUND(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
         / CAST(len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS DOUBLE), 9)
         AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        / CAST(len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS DOUBLE) >= 0.2
""",
    tags=("M4", "dedup"),
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(
        portable_hash64(F.col("doc_id").cast("string")) % 4 == 0
    )
    return ngram_jaccard_pairs(shard)


# SRP-LSH banding literals for x_embed_neardup_pairs: the SAME seeded
# hyperplanes feed the Spark plan and the DuckDB oracle; dim 64 is the
# testdata embeddings contract (TESTDATA.md), n_bits=6 → 64 bands for
# 500 vectors (band count is a knob that grows with n at scale).
_SRP_HP = srp_hyperplanes(64, n_bits=6)
_SRP_HP_VALUES = ",\n  ".join(
    f"({hid}, {pos + 1}, {v!r})"
    for hid, row in enumerate(_SRP_HP)
    for pos, v in enumerate(row)
)


@query(
    "x_embed_neardup_pairs",
    "Embedding-cosine near-dup: top-3 pairs per LSH band by cosine.  "
    "Round-2: bands are sign-random-projection keys (Charikar SRP — "
    "6 seeded hyperplanes → 64 bands) instead of the fixed-cardinality "
    "label column, whose band size grew O(n) and degenerated the "
    "self-join to O(n²/k) at scale.  Sign bits come from DECIMAL-exact "
    "dot products, so Spark's fold order and DuckDB's aggregate order "
    "yield identical bands.",
    f"""
WITH hp(hid, pos, hval) AS (VALUES
  {_SRP_HP_VALUES}),
e AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
bits AS (
  SELECT e.vec_id, hp.hid,
         CASE WHEN SUM(CAST(e.val * hp.hval AS DECIMAL(38,14))) > 0
              THEN 1 ELSE 0 END AS bit
  FROM e JOIN hp USING (pos) GROUP BY 1, 2
),
keys AS (
  SELECT vec_id, CAST(SUM(bit * (1 << hid)) AS BIGINT) AS band
  FROM bits GROUP BY 1
),
p AS (
  SELECT ka.band, ka.vec_id AS v1, kb.vec_id AS v2,
         SUM(a.val * b.val) AS dot,
         SQRT(SUM(a.val * a.val)) AS na, SQRT(SUM(b.val * b.val)) AS nb
  FROM keys ka JOIN keys kb ON ka.band = kb.band AND ka.vec_id < kb.vec_id
  JOIN e a ON a.vec_id = ka.vec_id
  JOIN e b ON b.vec_id = kb.vec_id AND b.pos = a.pos
  GROUP BY 1, 2, 3
)
SELECT band, v1 AS vec_id_1, v2 AS vec_id_2, ROUND(dot / (na * nb), 6) AS cos_sim
FROM p
QUALIFY row_number() OVER (PARTITION BY band ORDER BY dot / (na * nb) DESC, v1, v2) <= 3
""",
    tags=("M4", "dedup"),
)
def x_embed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_neardup_pairs(table(spark, sf_dir, "embeddings"), _SRP_HP)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

_TOPK_PREFIX = """
WITH q AS (
  SELECT CAST(unnest(embedding) AS DOUBLE) AS qv, generate_subscripts(embedding, 1) AS pos
  FROM embeddings WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)
),
e AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
)
""".strip()


@query(
    "x_sim_search_bruteforce",
    "Brute-force cosine top-10 against the min-vec_id query vector — "
    "the exactness baseline for ANN.",
    f"""
{_TOPK_PREFIX},
s AS (
  SELECT e.vec_id, SUM(e.val * q.qv) AS dot,
         SQRT(SUM(e.val * e.val)) AS ne, SQRT(SUM(q.qv * q.qv)) AS nq
  FROM e JOIN q ON e.pos = q.pos
  WHERE e.vec_id != (SELECT MIN(vec_id) FROM embeddings)
  GROUP BY 1
)
SELECT vec_id, ROUND(dot / (ne * nq), 6) AS cos_sim
FROM s ORDER BY dot / (ne * nq) DESC, vec_id LIMIT 10
""",
    headline=True,
    tags=("M4", "similarity"),
)
def x_sim_search_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # ONE driver prefetch job (TakeOrdered 1) fetches the min-vec_id row
    # AND its vector; the former min()+head() pair cost two sequential
    # jobs against the same scan inside the timed region (guide §1:
    # driver round-trips are part of the query's wall).  NOT-NULL
    # filters (r12 advisor): orderBy sorts NULLs FIRST whereas the
    # oracle's MIN(vec_id) ignores them — on a corpus with a NULL id
    # or embedding the unfiltered head() would pick a different row
    # (or crash on the float() loop).
    qrow = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .head()
    )
    if qrow is None:
        raise KeyError("no vectors in embeddings")
    qid, qvec = qrow[0], [float(v) for v in qrow[1]]
    return brute_force_topk(emb.filter(F.col("vec_id") != qid), qvec, k=10)


@query(
    "x_sim_search_ivf",
    "IVF top-5: probe only the nearest coarse cell (label centroid) — "
    "the scale path cutting the scanned fraction to 1/n_cells.",
    f"""
{_TOPK_PREFIX},
cent AS (
  SELECT label, pos, AVG(val) AS c FROM e GROUP BY 1, 2
),
cq AS (
  SELECT cent.label, SUM(c * qv) AS dot,
         SQRT(SUM(c * c)) AS nc, SQRT(SUM(qv * qv)) AS nq
  FROM cent JOIN q ON cent.pos = q.pos GROUP BY 1
),
best AS (SELECT label FROM cq ORDER BY dot / (nc * nq) DESC, label LIMIT 1),
s AS (
  SELECT e.vec_id, SUM(e.val * q.qv) AS dot,
         SQRT(SUM(e.val * e.val)) AS ne, SQRT(SUM(q.qv * q.qv)) AS nq
  FROM e JOIN q ON e.pos = q.pos
  WHERE e.label = (SELECT label FROM best)
  GROUP BY 1
)
SELECT vec_id, ROUND(dot / (ne * nq), 6) AS cos_sim
FROM s ORDER BY dot / (ne * nq) DESC, vec_id LIMIT 5
""",
    headline=True,
    tags=("M4", "similarity"),
)
def x_sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # same single-prefetch-job shape (and NOT-NULL hardening) as
    # x_sim_search_bruteforce
    qrow = (
        emb.select("vec_id", "embedding")
        .where(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .orderBy("vec_id")
        .head()
    )
    if qrow is None:
        raise KeyError("no vectors in embeddings")
    qvec = [float(v) for v in qrow[1]]
    return ivf_topk(emb, qvec, k=5)


@query(
    "x_sim_knn_join",
    "kNN JOIN (operators/similarity.py ivf_knn_join): top-3 cosine "
    "neighbors for EVERY vector at once — candidates from an equi-join "
    "on the IVF cell (one shuffle keyed on cell, never a cross join), "
    "ranked per query by a window top-k.  Own-cell probing here "
    "(deterministic, oracle-checkable); multi-probe over trained "
    "centroids is property-tested for recall instead.",
    """
WITH e AS (
  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS val,
         generate_subscripts(embedding, 1) AS pos
  FROM embeddings
),
p AS (
  SELECT a.vec_id AS qid, b.vec_id AS nid,
         SUM(a.val * b.val) AS dot,
         SQRT(SUM(a.val * a.val)) AS na, SQRT(SUM(b.val * b.val)) AS nb
  FROM e a JOIN e b ON a.label = b.label AND a.pos = b.pos
                   AND a.vec_id != b.vec_id
  GROUP BY 1, 2
)
SELECT qid AS vec_id, nid AS neighbor_id, ROUND(dot / (na * nb), 6) AS cos_sim
FROM p
QUALIFY row_number() OVER (PARTITION BY qid ORDER BY dot / (na * nb) DESC, nid) <= 3
""",
    headline=True,  # r7: the one shuffle-heavy pair-join plan in the
    # bench set — tracks the cell join + window top-k round-over-round
    tags=("M4", "similarity"),
)
def x_sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    # dim=64 is a pure performance HINT (the embeddings fixture is
    # 64-dim at every SF): the per-pair dot unrolls into whole-stage
    # codegen instead of the interpreted aggregate(zip_with) fold.
    # Rows of any other dimension take the bit-identical HOF fallback
    # inside the same expression, so results are row-identical for any
    # value (r13; see functions/vectors.dot_unrolled).
    return ivf_knn_join(emb, emb, k=3, dim=64)


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------


@query(
    "x_text_quality",
    "Per-doc quality metrics: token counts (ws + BPE-ish), punctuation "
    "ratio, stopword ratio, composite quality score.",
    f"""
WITH d AS (SELECT doc_id, text, {TOKS} AS toks FROM documents)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{BPEISH_TOKEN_RE}')) AS BIGINT) AS n_tokens_bpeish,
       ROUND(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       ROUND(CAST(len(list_filter(toks, t -> list_contains({LANG_MARKERS['en']}, lower(t)))) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS stopword_ratio,
       ROUND((
         (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.3 END)
         + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                        / greatest(length(text), 1) * 4, 1.0))
         + least(CAST(len(list_filter(toks, t -> list_contains({LANG_MARKERS['en']}, lower(t)))) AS DOUBLE)
                 / greatest(len(toks), 1) * 5, 1.0)
       ) / 3.0, 6) AS quality
FROM d
""",
    headline=True,
    tags=("M4", "text"),
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the regex/tokenize projection is the whole query and the
    # testdata scan is one row group (one task of 32) — r12 measured
    # 0.51 s -> ~0.2 s at sf0.1; identity at production scan widths
    docs = spread(table(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        token_count_ws("text").cast("long").alias("n_tokens"),
        token_count_bpeish("text").cast("long").alias("n_tokens_bpeish"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
        F.round(quality_score("text"), 6).alias("quality"),
    )


def _lang_sql() -> str:
    scores = {
        lang: f"len(list_filter(ltoks, t -> list_contains({markers}, t)))"
        for lang, markers in LANG_MARKERS.items()
    }
    best = f"greatest({', '.join(scores.values())})"
    case = " ".join(
        f"WHEN {scores[lang]} = best THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"""
WITH d AS (
  SELECT doc_id, lang,
         list_transform({TOKS}, t -> lower(t)) AS ltoks
  FROM documents
),
scored AS (SELECT doc_id, lang, {best} AS best, ltoks FROM d)
SELECT lang, CASE WHEN best = 0 THEN 'und' {case} ELSE 'und' END AS lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM scored GROUP BY 1, 2
""".strip()


@query(
    "x_lang_id",
    "Heuristic language ID (marker-stopword argmax) cross-tabbed against "
    "the labeled lang column.",
    _lang_sql(),
    tags=("M4", "text"),
)
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n"))
    )


@query(
    "x_token_corpus_stats",
    "Corpus token statistics per source (the token-counting op at corpus "
    "grain).",
    f"""
WITH d AS (SELECT source, n_chars, len({TOKS}) AS n_toks FROM documents)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS avg_tokens
FROM d GROUP BY 1
""",
    tags=("M4", "text"),
)
def x_token_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "source", "n_chars", token_count_ws("text").alias("n_toks")
    )
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("total_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        (F.sum("n_toks").cast("double") / F.count("*")).alias("avg_tokens"),
    )


@query(
    "x_multimodal_metadata",
    "Multimodal binary-column plumbing: opaque payload → JVM-side "
    "metadata (byte length, content md5, magic-byte prefix). The decode "
    "stage is a stubbed mapInPandas (see operators.multimodal).",
    """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       lower(hex(substr(text, 1, 4))) AS magic_hex
FROM documents
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return attach_binary_metadata(docs, "payload").select(
        "doc_id", "byte_len", "content_md5", "magic_hex"
    )


# --------------------------------------------------------------------------
# model / simulation layer (X3-X5)
# --------------------------------------------------------------------------


@query(
    "x3_drift_fit_forecast",
    "X3: per-group model fit via applyInPandas (RW-with-drift standing in "
    "for SARIMAX; statsmodels absent) + 6-step point forecast. "
    "Parity: fit_rw_drift_params, EDA.ipynb cell 27.",
    f"""
WITH {MONTHLY_CTE},
diffs AS (
  SELECT flag, month,
         revenue - lag(revenue) OVER (PARTITION BY flag ORDER BY month) AS d
  FROM monthly
),
tail AS (
  SELECT flag, d, row_number() OVER (PARTITION BY flag ORDER BY month DESC) AS rn
  FROM diffs WHERE d IS NOT NULL
),
params AS (
  SELECT flag, AVG(d) AS mu, stddev_samp(d) AS sigma
  FROM tail WHERE rn <= 24 GROUP BY 1
),
lastv AS (
  SELECT flag, arg_max(revenue, month) AS last_v FROM monthly GROUP BY 1
)
SELECT p.flag AS career, CAST(s AS BIGINT) AS step,
       ROUND(l.last_v + s * p.mu, 4) AS forecast,
       ROUND(p.mu, 4) AS mu, ROUND(p.sigma, 4) AS sigma
FROM params p JOIN lastv l ON p.flag = l.flag,
     (SELECT unnest(generate_series(1, 6)) AS s)
""",
    tags=("M3", "model"),
)
def x3_drift_fit_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    out = fit_rw_drift_forecast(m, "flag", "month", "revenue", steps=6, tail_window=24)
    return out.select(
        F.col("group").alias("career"),
        "step",
        F.round("forecast", 4).alias("forecast"),
        F.round("mu", 4).alias("mu"),
        F.round("sigma", 4).alias("sigma"),
    )


@query(
    "x3_aic_grid_fit",
    "X3 (full parity path): per-group SARIMAX AIC grid — the "
    "reference's five candidate (p,1,q)x(P,1,Q,12) orders "
    "(fit_best_sarimax, EDA.ipynb cell 27) fit by EXACT Gaussian "
    "maximum likelihood: pure-numpy Kalman filter (Harvey form, "
    "stationary init, concentrated sigma^2), Nelder-Mead from the CSS "
    "start, inside ONE applyInPandas crossing; lowest AIC wins and "
    "its 6-step state-space forecast is emitted.  Rows-only: "
    "iterative optimization is not SQL-expressible; the likelihood "
    "itself is pinned exact against a brute-force MVN evaluation in "
    "tests/test_forecast_ml.py, with golden AIC/param anchors.",
    None,
    tags=("M3", "model"),
)
def x3_aic_grid_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forecast import fit_best_arma_forecast

    m = monthly_lineitem(spark, sf_dir)
    out = fit_best_arma_forecast(m, "flag", "month", "revenue", steps=6)
    return out.select(
        F.col("group").alias("career"),
        "order",
        F.round("aic", 4).alias("aic"),
        "n_obs",
        "step",
        F.round("forecast", 4).alias("forecast"),
    )


# Exact goldens for the planted-series X3 gate below: produced by THIS
# repo's exact-ML estimator, trustworthy because the likelihood it
# maximizes is pinned exact against an independent brute-force MVN
# evaluation in tests/test_forecast_ml.py (test_kalman_matches_
# bruteforce_mvn), with the optimizer wiring golden-pinned there too.
# Two planted integrated seasonal AR(1) level series with different
# dynamics so the AIC grid picks DIFFERENT winning orders — the gate
# checks candidate selection, not just one fit.
_X3_GOLDEN = {
    # group: (winning order, aic, [6-step forecasts])
    "ar_hi": ("(1,1,0)x(1,1,0,12)", 314.610045,
              [911.972854, 913.017259, 917.198489,
               918.900935, 923.337906, 927.24472]),
    "ar_lo": ("(1,1,1)x(0,1,1,12)", 300.628014,
              [480.516106, 481.395153, 482.788858,
               480.893047, 482.585326, 482.33907]),
}


@query(
    "x3_aic_gate",
    "Driver-checkable X3 core (the x4_diagnostics_gate pattern): "
    "fit_best_arma_forecast — the SAME applyInPandas exact-ML AIC-grid "
    "operator x3_aic_grid_fit uses — over two planted integrated "
    "seasonal AR(1) level series (numpy RandomState seeds 7/11, fully "
    "deterministic) whose dynamics make the grid pick DIFFERENT "
    "winning orders.  The oracle pins the winning order strings "
    "exactly and AIC/forecasts to within 1e-2/1e-3 of goldens whose "
    "likelihood tests/test_forecast_ml.py proves exact against an "
    "independent brute-force MVN evaluation — so the Kalman filter, "
    "the Nelder-Mead wiring, AND the candidate selection all carry a "
    "driver hash signal despite the optimizer not being "
    "SQL-expressible.",
    """
SELECT g AS "group", CAST(s AS INT) AS step, ord AS "order",
       TRUE AS aic_ok, TRUE AS fc_ok
FROM (VALUES ('ar_hi', '(1,1,0)x(1,1,0,12)'),
             ('ar_lo', '(1,1,1)x(0,1,1,12)')) v(g, ord),
     (SELECT unnest(generate_series(1, 6)) AS s)
""",
    tags=("M3", "model", "gate"),
)
def x3_aic_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.forecast import fit_best_arma_forecast

    def level_series(n, phi, seed, base):
        rng = np.random.RandomState(seed)
        z = np.zeros(n)
        e = rng.normal(0, 1.0, n)
        for t in range(1, n):
            z[t] = phi * z[t - 1] + e[t]
        dy = np.zeros(n)
        for t in range(n):
            dy[t] = z[t] + (dy[t - 12] if t >= 12 else 0.0)
        return base + np.cumsum(dy)

    rows = []
    for name, phi, seed, base in (
        ("ar_hi", 0.6, 7, 1000.0),
        ("ar_lo", 0.2, 11, 500.0),
    ):
        y = level_series(120, phi, seed, base)
        rows += [(name, int(t), float(v)) for t, v in enumerate(y)]
    sdf = spark.createDataFrame(rows, "grp string, t int, y double")
    fit = fit_best_arma_forecast(sdf, "grp", "t", "y", steps=6)
    gold = spark.createDataFrame(
        [(g, aic, [float(f) for f in fcs]) for g, (_, aic, fcs) in _X3_GOLDEN.items()],
        "group string, g_aic double, g_fc array<double>",
    )
    out = fit.join(F.broadcast(gold), "group")
    return out.select(
        "group",
        F.col("step").cast("int").alias("step"),
        "order",
        (F.abs(F.col("aic") - F.col("g_aic")) <= 1e-2).alias("aic_ok"),
        (
            F.abs(
                F.col("forecast")
                - F.element_at("g_fc", F.col("step").cast("int"))
            )
            <= 1e-3
        ).alias("fc_ok"),
    )


@query(
    "x4_diagnostics",
    "X4: per-group stationarity/seasonality diagnostics via applyInPandas "
    "— ADF + KPSS statistics, Yeo-Johnson λ, periodogram seasonal period, "
    "lead ACF/PACF (numpy implementations; statsmodels/scipy absent). "
    "No SQL oracle: the ADF auxiliary regression is not SQL-expressible; "
    "correctness is asserted by known-process property tests in tests/. "
    "Parity: run_diagnostics_for_all, EDA.ipynb cells 25-26.",
    None,  # rows-only check by design
    tags=("M3", "model"),
)
def x4_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return run_diagnostics(m, "flag", "month", "revenue").orderBy("group")


# Exact goldens for the planted-series X4 gate below: produced by THIS
# repo's from-scratch implementations and cross-checked against the
# published-table anchors (MacKinnon 1994 response surface; KPSS 1992
# Table 1) in tests/test_diagnostics_golden.py — ar1 must hard-reject
# the unit root, the random walk must not, the planted 12-cycle must
# dominate the periodogram.  Any change to lag selection, detrending,
# or the Newey-West kernel moves these and flips a gate boolean.
_X4_GOLDEN = {
    # group: (adf_stat, adf_p, kpss_stat, kpss_p, acf1, yj_lambda)
    "ar1": (-7.514092106045581, 3.945041169358975e-11,
            0.20703780121861332, 0.10, 0.5124380216267279, 1.0),
    "rw": (-2.6016871957715844, 0.09264905954208903,
           4.262428739777127, 0.01, 0.9837231601878814, 1.1),
    "seasonal": (-3.09959244388872, 0.02658336416576898,
                 0.02353458711422884, 0.10, 0.850568219238897, 0.7),
}


@query(
    "x4_diagnostics_gate",
    "Driver-checkable X4 core (VERDICT r5 task 8): run_diagnostics — "
    "the SAME applyInPandas operator x4_diagnostics uses — over three "
    "planted known-process series (stationary AR(1) phi=0.5, random "
    "walk, 12-period seasonal; numpy RandomState(20260814), fully "
    "deterministic).  The oracle pins the decision booleans and "
    "seasonal periods as exact values and every statistic to within "
    "1e-6 of the goldens that tests/test_diagnostics_golden.py anchors "
    "against the published MacKinnon/KPSS tables — so the ADF "
    "auxiliary regression, Newey-West kernel, Yeo-Johnson MLE grid, "
    "and periodogram all carry a driver hash signal despite the "
    "iterative cores not being SQL-expressible.",
    """
SELECT g AS "group", CAST(240 AS BIGINT) AS n_obs, adf_reject, kpss_reject,
       CAST(period AS BIGINT) AS seasonal_period,
       TRUE AS adf_ok, TRUE AS adf_p_ok, TRUE AS kpss_ok, TRUE AS kpss_p_ok,
       TRUE AS acf1_ok, TRUE AS yj_ok
FROM (VALUES ('ar1', TRUE, FALSE, 3),
             ('rw', FALSE, TRUE, 6),
             ('seasonal', TRUE, FALSE, 12)) v(g, adf_reject, kpss_reject, period)
""",
    tags=("M3", "model", "gate"),
)
def x4_diagnostics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    rng = np.random.RandomState(20260814)
    e = rng.randn(240)
    ar = np.zeros(240)
    for t in range(1, 240):
        ar[t] = 0.5 * ar[t - 1] + e[t]
    rw = np.cumsum(rng.randn(240))
    seas = 10 + np.sin(2 * np.pi * np.arange(240) / 12) + 0.1 * rng.randn(240)
    rows = []
    for name, y in (("ar1", ar), ("rw", rw), ("seasonal", seas)):
        rows += [(name, int(t), float(v)) for t, v in enumerate(y)]
    sdf = spark.createDataFrame(rows, "group string, t int, y double")
    d = run_diagnostics(sdf, "group", "t", "y")
    gold = spark.createDataFrame(
        [(g, *v) for g, v in _X4_GOLDEN.items()],
        "group string, g_adf double, g_adf_p double, g_kpss double, "
        "g_kpss_p double, g_acf1 double, g_yj double",
    )
    d = d.join(F.broadcast(gold), "group")
    tol = 1e-6
    return d.select(
        "group",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("adf_reject_unit_root_5pct").alias("adf_reject"),
        F.col("kpss_reject_stationary_5pct").alias("kpss_reject"),
        F.col("seasonal_period").cast("long").alias("seasonal_period"),
        (F.abs(F.col("adf_stat") - F.col("g_adf")) <= tol).alias("adf_ok"),
        (F.abs(F.col("adf_pvalue") - F.col("g_adf_p")) <= tol).alias("adf_p_ok"),
        (F.abs(F.col("kpss_stat") - F.col("g_kpss")) <= tol).alias("kpss_ok"),
        (F.abs(F.col("kpss_pvalue") - F.col("g_kpss_p")) <= tol).alias("kpss_p_ok"),
        (F.abs(F.col("acf1") - F.col("g_acf1")) <= tol).alias("acf1_ok"),
        (F.abs(F.col("yj_lambda") - F.col("g_yj")) <= tol).alias("yj_ok"),
    )


@query(
    "x5_monte_carlo_fan",
    "X5: Monte-Carlo fan forecast — native seeded path simulation "
    "(F14+W8+F10) + exact quantile fan (A6) — hash-gated on the "
    "x_ann_recall_gate pattern (raw quantiles are seeded-randn / "
    "partitioning-dependent, SURVEY.md §4 item 3, so they stay OUT "
    "of the hashed output; the LAWS of a correct fan go in): per "
    "(group, step) the oracle pins (a) quantile-level monotonicity "
    "min<=p05<=p10<=p50<=p90<=p95<=max, (b) mean within [min, max], "
    "and (c) the fan center |p50 - (last + h*mu)| <= 2*sigma*sqrt(h) "
    "— a ~16-estimator-std envelope around the SAME drift/vol params "
    "the hash-green x3_drift_fit_forecast verifies exactly (observed "
    "|z| max 0.41 across sf0.01/sf0.1).  The oracle's cross join also "
    "pins the exact (group x step) row structure.  Raw-fan "
    "distributional properties remain in tests/test_forecast.py.",
    """
SELECT flag AS career, CAST(s AS INT) AS step,
       TRUE AS fan_monotone_ok, TRUE AS mean_in_range_ok, TRUE AS center_ok
FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem),
     (SELECT unnest(generate_series(1, 6)) AS s)
""",
    tags=("M3", "model"),
)
def x5_monte_carlo_fan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forecast import fit_rw_drift_forecast

    # the fan, the drift refit, and the last-value lookup are four
    # subtrees over the SAME tiny monthly aggregate — checkpoint it so
    # the 100 TB lineitem scan happens once, not four times (same
    # pattern as x_dup_ngram_fraction's shared token table)
    m = materialize(monthly_lineitem(spark, sf_dir))
    fan = monte_carlo_forecast(
        m, "flag", "month", "revenue", sims=100, steps=6, seed=7, tail_window=24
    )
    # the same (mu, sigma, last) the simulation itself was seeded from
    # (monte_carlo_forecast recomputes these internally; both sides are
    # deterministic natives, so re-deriving them here adds no Python)
    params = (
        fit_rw_drift_forecast(m, "flag", "month", "revenue", steps=1, tail_window=24)
        .select("group", "mu", "sigma")
        .dropDuplicates(["group"])
    )
    last = (
        m.groupBy("flag")
        .agg(F.max_by("revenue", F.col("month")).alias("last_value"))
        .withColumnRenamed("flag", "group")
    )
    h = F.col("step").cast("double")
    center = F.col("last_value") + h * F.col("mu")
    return (
        fan.join(params, "group")
        .join(last, "group")
        .select(
            F.col("group").alias("career"),
            F.col("step").cast("int").alias("step"),
            (
                (F.col("min_y") <= F.col("p05"))
                & (F.col("p05") <= F.col("p10"))
                & (F.col("p10") <= F.col("p50"))
                & (F.col("p50") <= F.col("p90"))
                & (F.col("p90") <= F.col("p95"))
                & (F.col("p95") <= F.col("max_y"))
            ).alias("fan_monotone_ok"),
            (
                (F.col("min_y") <= F.col("mean_y"))
                & (F.col("mean_y") <= F.col("max_y"))
            ).alias("mean_in_range_ok"),
            (
                F.abs(F.col("p50") - center) <= 2.0 * F.col("sigma") * F.sqrt(h)
            ).alias("center_ok"),
        )
    )


@query(
    "x5_sarimax_exog_fan",
    "X5 (full parity path): SARIMAX-with-exogenous-regressor Monte-Carlo "
    "fan (EDA.ipynb cell 32 end-to-end) — per-group regression-with-"
    "ARMA-errors AIC-grid fit (JOINT exact-ML over beta + ARMA coefs "
    "via the pure-numpy Kalman likelihood, the statsmodels estimator; "
    "fit_arma_exog_ml) in ONE applyInPandas crossing, then a "
    "fully native fan: because the model is linear in the exog, each "
    "path is det_h + beta*x_path, so the seeded exog path grid, clip, "
    "join and exact percentile fan all stay JVM-side.  monthly qty "
    "plays the exog (the reference's gdelt_ai_share analogue).  "
    "Hash-gated on the x_ann_recall_gate pattern (raw quantiles are "
    "seeded-randn / partitioning-dependent and the ML fit is "
    "iterative, SURVEY.md §4 item 3, so values stay OUT of the hash; "
    "the fan LAWS go in): per (group, step) the oracle pins quantile-"
    "level monotonicity min<=p05<=p10<=p50<=p90<=p95<=max and mean in "
    "[min, max], and its cross join pins the exact (group x step) row "
    "structure.  Raw-fan distributional + fan-shape properties remain "
    "in tests/test_forecast.py.",
    """
SELECT flag AS career, CAST(s AS INT) AS step,
       TRUE AS fan_monotone_ok, TRUE AS mean_in_range_ok
FROM (SELECT DISTINCT l_returnflag AS flag FROM lineitem),
     (SELECT unnest(generate_series(1, 6)) AS s)
""",
    tags=("M3", "model"),
)
def x5_sarimax_exog_fan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forecast import sarimax_exog_fan

    m = monthly_lineitem(spark, sf_dir)
    fan = sarimax_exog_fan(
        m, "flag", "month", "revenue", "qty", sims=100, steps=6, seed=7
    )
    return fan.select(
        F.col("group").alias("career"),
        F.col("step").cast("int").alias("step"),
        (
            (F.col("min_y") <= F.col("p05"))
            & (F.col("p05") <= F.col("p10"))
            & (F.col("p10") <= F.col("p50"))
            & (F.col("p50") <= F.col("p90"))
            & (F.col("p90") <= F.col("p95"))
            & (F.col("p95") <= F.col("max_y"))
        ).alias("fan_monotone_ok"),
        (
            (F.col("min_y") <= F.col("mean_y")) & (F.col("mean_y") <= F.col("max_y"))
        ).alias("mean_in_range_ok"),
    )


@query(
    "x_multimodal_decode",
    "REAL media decode under the full-value hash gate: 120 planted "
    "payloads — PNG (8-bit gray and RGB, scanline filters cycling "
    "through all five types) and 16-bit PCM WAV, both written AND "
    "decoded by pure-stdlib codecs (operators/multimodal.py "
    "encode_png/decode_png via zlib, encode_wav_pcm16/decode_wav via "
    "struct) — go through the same Arrow-batched mapInPandas decode "
    "stage as any corpus.  The planted pixel/sample streams are pure "
    "integer formulas of (media_id, position), so the DuckDB oracle "
    "recomputes the DECODED VALUES — width/height geometry, mean "
    "luma over every un-filtered sample byte, sample counts/rate and "
    "mean amplitude — from the formulas alone, independent of the "
    "codec: inflate, CRC, un-filtering (Sub/Up/Average/Paeth), RIFF "
    "chunk-walk and PCM unpack are all load-bearing for the hash.  "
    "Integer sums stay < 2^53 so means are bit-exact cross-engine.  "
    "(JPEG/MP4 remain honestly env-blocked — their codecs need "
    "PIL/libav; arbitrary-byte payloads keep the clearly-marked "
    "deterministic stub, gated structurally in "
    "x_multimodal_frame_pipeline.)",
    """
WITH ids AS (SELECT unnest(generate_series(0, 119)) AS id),
png AS (
  SELECT id, 4 + (id % 13) AS w, 3 + ((3 * id) % 11) AS h,
         CASE WHEN id % 4 = 0 THEN 3 ELSE 1 END AS ch
  FROM ids WHERE id % 2 = 0
),
png_px AS (
  SELECT id, w, h, unnest(generate_series(0, w * h * ch - 1)) AS j FROM png
),
png_stats AS (
  SELECT id, AVG(CAST((id * 31 + 7 * j) % 251 AS DOUBLE)) / 255.0 AS luma
  FROM png_px GROUP BY id
),
wav AS (
  SELECT id, 8000 + 100 * (id % 5) AS sr, 40 + (id % 30) AS ns
  FROM ids WHERE id % 2 = 1
),
wav_px AS (SELECT id, ns, unnest(generate_series(0, ns - 1)) AS j FROM wav),
wav_stats AS (
  SELECT id, AVG(CAST(((id * 37 + 11 * j) % 2001) - 1000 AS DOUBLE)) AS meanv
  FROM wav_px GROUP BY id
)
SELECT CAST(p.id AS BIGINT) AS media_id, 'image' AS media_type,
       CAST(p.w AS INT) AS width, CAST(p.h AS INT) AS height,
       CAST(1 AS INT) AS n_frames, s.luma AS mean_luma,
       CAST(NULL AS INT) AS sample_rate, CAST(NULL AS BIGINT) AS n_samples,
       CAST(NULL AS DOUBLE) AS mean_sample
FROM png p JOIN png_stats s USING (id)
UNION ALL
SELECT CAST(v.id AS BIGINT), 'audio', NULL, NULL, CAST(1 AS INT), NULL,
       CAST(v.sr AS INT), CAST(v.ns AS BIGINT), ws.meanv
FROM wav v JOIN wav_stats ws USING (id)
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import encode_png, encode_wav_pcm16

    rows = []
    for mid in range(120):
        if mid % 2 == 0:
            ch = 3 if mid % 4 == 0 else 1
            w, h = 4 + (mid % 13), 3 + ((3 * mid) % 11)
            samples = bytes((mid * 31 + 7 * j) % 251 for j in range(w * h * ch))
            rows.append(
                (mid, encode_png(samples, w, h, ch), "image", f"planted://png/{mid}")
            )
        else:
            sr, ns = 8000 + 100 * (mid % 5), 40 + (mid % 30)
            samples = [((mid * 37 + 11 * j) % 2001) - 1000 for j in range(ns)]
            rows.append(
                (mid, encode_wav_pcm16(samples, sr), "audio", f"planted://wav/{mid}")
            )
    from ..operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return decode_media(media).select(
        "media_id",
        "media_type",
        "width",
        "height",
        "n_frames",
        "mean_luma",
        "sample_rate",
        "n_samples",
        "mean_sample",
    )


@query(
    "x_multimodal_jpeg",
    "REAL baseline-JPEG decode under the full-value hash gate "
    "(operators/jpeg.py — pure stdlib+numpy Huffman entropy decode, "
    "dequantization, zigzag, 8x8 IDCT, level shift, YCbCr→RGB, 4:2:0 "
    "upsampling, restart markers; encoder twin plants the fixtures): "
    "60 planted 16x24 images whose 8x8 blocks are CONSTANT values "
    "128 + 2k from an integer formula of (id, block).  A constant "
    "block quantizes to a lone DC coefficient, so with Annex-K "
    "q00=16 the decoded block is exactly 128 + 2k — an integer "
    "formula DuckDB recomputes independent of the codec.  Offsets "
    "are kept EVEN so the quantizer's floor(x/16+0.5) sits a full "
    "half-step from its boundary: the float DCT carries ±ulp noise, "
    "and an odd offset would park the true value exactly ON the "
    "boundary where 1 ulp flips the rounded coefficient (measured: "
    "7/60 plants flipped before this constraint).  Four "
    "encoder variants cycle by id so one oracle covers them all: "
    "plain grayscale, grayscale with DRI/RST markers (DC prediction "
    "resets), RGB 4:4:4 and RGB 4:2:0 (gray-valued, so the YCbCr "
    "transform is exact and chroma decodes to constant 128).  AC "
    "coefficient paths, lossy round-trip bounds, and error paths are "
    "pytest-covered (a nonzero-AC hash gate would put cross-engine "
    "cos() ulps under a 0.5-rounding boundary — excluded by design).",
    """
WITH ids AS (SELECT unnest(generate_series(0, 59)) AS id),
blocks AS (
  SELECT id, bi, bj
  FROM ids,
       (SELECT unnest(generate_series(0, 2)) AS bi),
       (SELECT unnest(generate_series(0, 1)) AS bj)
),
px AS (
  SELECT id, 128 + 2 * ((id * 7 + bi * 13 + bj * 29) % 48) AS pix
  FROM blocks
)
SELECT CAST(id AS BIGINT) AS media_id, 'image' AS media_type,
       CAST(16 AS INT) AS width, CAST(24 AS INT) AS height,
       CAST(1 AS INT) AS n_frames, AVG(pix) / 255.0 AS mean_luma
FROM px GROUP BY id
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.jpeg import encode_jpeg_gray, encode_jpeg_rgb
    from ..operators.multimodal import MEDIA_SCHEMA

    w, h = 16, 24
    rows = []
    for mid in range(60):
        img = np.zeros((h, w), dtype=np.uint8)
        for bi in range(3):
            for bj in range(2):
                v = 128 + 2 * ((mid * 7 + bi * 13 + bj * 29) % 48)
                img[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = v
        variant = mid % 4
        if variant == 0:
            payload = encode_jpeg_gray(img.tobytes(), w, h)
        elif variant == 1:
            payload = encode_jpeg_gray(img.tobytes(), w, h, restart_interval=2)
        else:
            rgb = np.repeat(img[:, :, None], 3, axis=2)
            payload = encode_jpeg_rgb(rgb.tobytes(), w, h, subsample=(variant == 3))
        rows.append((mid, payload, "image", f"planted://jpeg/{variant}/{mid}"))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return decode_media(media).select(
        "media_id", "media_type", "width", "height", "n_frames", "mean_luma"
    )


@query(
    "x_multimodal_mjpeg_decode",
    "REAL video SAMPLE decode under the full-value hash gate — the "
    "MJPEG-in-MP4 path (operators/mp4.py parse_mp4_samples walking "
    "stsc/stsz/stco to each sample's byte range + operators/jpeg.py "
    "baseline decode of every frame): 36 planted MP4s whose jpeg "
    "sample entries hold 2-4 constant-block JPEG frames following "
    "the same even-offset DC formula as x_multimodal_jpeg, so the "
    "decoded pixels are exact integers DuckDB recomputes with no "
    "codec.  mean_luma is the exact pixel mean over ALL frames and "
    "is LOAD-BEARING for the hash — the container demux (variable "
    "stsz table, chunk-offset arithmetic) and the per-frame Huffman/"
    "IDCT decode both sit under it.  Three encoder variants cycle "
    "by id (plain grayscale, grayscale with DRI/RST restart "
    "markers, gray-valued RGB 4:4:4) so one oracle covers all "
    "three entropy-decode paths.  H.264 sample decode stays "
    "honestly env-blocked (NULL mean_luma) — this gate narrows the "
    "video-NULL caveat to that codec.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 35)) AS id),
frames AS (
  SELECT id, unnest(generate_series(0, 1 + id % 3)) AS f FROM ids
),
px AS (
  SELECT id, 128 + 2 * ((id * 5 + f * 7 + bi * 13 + bj * 29) % 48) AS pix
  FROM frames,
       (SELECT unnest(generate_series(0, 1)) AS bi),
       (SELECT unnest(generate_series(0, 1)) AS bj)
)
SELECT CAST(id AS BIGINT) AS media_id, 'video' AS media_type,
       CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(2 + id % 3 AS INT) AS n_frames, AVG(pix) / 255.0 AS mean_luma
FROM px GROUP BY id
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_mjpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.jpeg import encode_jpeg_gray, encode_jpeg_rgb
    from ..operators.mp4 import encode_mp4_mjpeg_video
    from ..operators.multimodal import MEDIA_SCHEMA

    w = h = 16
    rows = []
    for mid in range(36):
        frames = []
        for f in range(2 + mid % 3):
            img = np.zeros((h, w), dtype=np.uint8)
            for bi in range(2):
                for bj in range(2):
                    img[bi * 8 : bi * 8 + 8, bj * 8 : bj * 8 + 8] = (
                        128 + 2 * ((mid * 5 + f * 7 + bi * 13 + bj * 29) % 48)
                    )
            variant = mid % 3
            if variant == 0:
                frames.append(encode_jpeg_gray(img.tobytes(), w, h))
            elif variant == 1:
                frames.append(
                    encode_jpeg_gray(img.tobytes(), w, h, restart_interval=1)
                )
            else:
                rgb = np.repeat(img[:, :, None], 3, axis=2)
                frames.append(encode_jpeg_rgb(rgb.tobytes(), w, h))
        rows.append(
            (
                mid,
                encode_mp4_mjpeg_video(frames, w, h),
                "video",
                f"planted://mjpeg/{mid % 3}/{mid}",
            )
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return decode_media(media).select(
        "media_id", "media_type", "width", "height", "n_frames", "mean_luma"
    )


@query(
    "x_video_phash_neardup",
    "Video-level perceptual near-dup under the full-value hash gate "
    "(operators/multimodal.py video_phash_frames → "
    "video_phash_neardup): per-frame DCT pHash over REAL demuxed+"
    "decoded MJPEG MP4 frames (mp4.py parse_mp4_samples + jpeg.py "
    "baseline decode, one Arrow crossing), then frame-0-only Manku "
    "pigeonhole banding for candidates — complete because a true "
    "pair must match on EVERY frame — and one aligned equi-join "
    "verifying max per-frame Hamming <= 3 with equal frame counts. "
    "Planted: 12 base videos (3-5 kron-noise frames), 12 twins with "
    "one 8x8 cell brightened +16 per frame (measured per-frame "
    "Hamming 0-2, 18 frames nonzero — the tolerance is load-"
    "bearing), 4 decoys sharing frame 0 byte-for-byte but diverging "
    "after (candidates by construction, rejected ONLY by the multi-"
    "frame verify; measured later-frame Hamming >= 20), one "
    "truncated copy rejected by the frame-count check, one NULL "
    "payload and one stub-codec MP4 exercising the skip paths.  The "
    "oracle pins the planted pair structure: exactly the 12 "
    "(base, twin) pairs with their formula frame counts.",
    """
SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 1000 AS BIGINT) AS id_b,
       CAST(3 + i % 3 AS INT) AS n_frames
FROM (SELECT unnest(generate_series(0, 11)) AS i)
""",
    tags=("M4", "multimodal"),
)
def x_video_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.jpeg import encode_jpeg_gray
    from ..operators.mp4 import encode_mp4_mjpeg_video, encode_mp4_stub_video
    from ..operators.multimodal import MEDIA_SCHEMA, video_phash_neardup

    def kron_frame(seed: int) -> "np.ndarray":
        rs = np.random.RandomState(seed)
        b8 = rs.randint(0, 256, size=(8, 8)).astype(np.uint8)
        return np.kron(b8, np.ones((8, 8), dtype=np.uint8))

    def enc(img: "np.ndarray") -> bytes:
        return encode_jpeg_gray(img.tobytes(), 64, 64)

    rows = []
    for mid in range(12):
        nf = 3 + mid % 3
        base, twin = [], []
        for f in range(nf):
            img = kron_frame(7000 + mid * 100 + f)
            base.append(enc(img))
            tw = img.astype(np.int16).copy()
            ci, cj = (mid + f) % 8, (3 * mid + 5 * f) % 8
            tw[ci * 8 : (ci + 1) * 8, cj * 8 : (cj + 1) * 8] += 16
            twin.append(enc(np.clip(tw, 0, 255).astype(np.uint8)))
        rows.append(
            (mid, encode_mp4_mjpeg_video(base, 64, 64), "video",
             f"planted://vphash/{mid}")
        )
        rows.append(
            (1000 + mid, encode_mp4_mjpeg_video(twin, 64, 64), "video",
             f"planted://vphash/twin/{mid}")
        )
        if mid < 4:
            decoy = [base[0]] + [
                enc(kron_frame(7000 + (mid + 500) * 100 + f))
                for f in range(1, nf)
            ]
            rows.append(
                (2000 + mid, encode_mp4_mjpeg_video(decoy, 64, 64), "video",
                 f"planted://vphash/decoy/{mid}")
            )
    short = [enc(kron_frame(7000 + f)) for f in range(2)]
    rows.append(
        (3000, encode_mp4_mjpeg_video(short, 64, 64), "video",
         "planted://vphash/short")
    )
    rows.append((3001, None, "video", "planted://vphash/null"))
    rows.append(
        (3002, encode_mp4_stub_video(64, 64, 3), "video",
         "planted://vphash/stub-codec")
    )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return video_phash_neardup(media, max_hamming=3).select(
        "id_a", "id_b", "n_frames"
    )


@query(
    "x_video_clip_containment",
    "Trimmed-CLIP video containment under the full-value hash gate "
    "(operators/multimodal.py video_clip_containment): the cut that "
    "equal-length alignment (x_video_phash_neardup) cannot see — a "
    "shorter clip cut from inside a longer video.  Every frame's "
    "pHash bands vote (pair, offset) candidates (complete: each "
    "aligned frame pair of a true containment shares a band), then "
    "ONE aligned equi-join verifies that the match count at a voted "
    "offset equals the shorter video's frame count with max "
    "per-frame Hamming <= 3 — the offset-consistency rule of the "
    "audio shift matcher, applied to decoded MJPEG frames.  "
    "Planted: 8 long bases (5-7 frames), 8 perturbed 3-frame clips "
    "cut at formula offsets (measured nonzero per-frame Hamming — "
    "tolerance load-bearing), 3 partial decoys sharing exactly one "
    "frame byte-for-byte (full positional overlap exists, so ONLY "
    "the per-frame Hamming verify rejects them), one bag-of-frames "
    "decoy (base frames in reversed order — every voted offset "
    "aligns some non-matching pair), NULL and stub-codec skip rows. "
    "Oracle pins the 8 (base, clip) rows with their formula offsets.",
    """
SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 1000 AS BIGINT) AS id_b,
       CAST(i % 3 AS INT) AS "offset", CAST(3 AS INT) AS n_frames_matched
FROM (SELECT unnest(generate_series(0, 7)) AS i)
""",
    tags=("M4", "multimodal"),
)
def x_video_clip_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.jpeg import encode_jpeg_gray
    from ..operators.mp4 import encode_mp4_mjpeg_video, encode_mp4_stub_video
    from ..operators.multimodal import MEDIA_SCHEMA, video_clip_containment

    def kron_frame(seed: int) -> "np.ndarray":
        rs = np.random.RandomState(seed)
        b8 = rs.randint(0, 256, size=(8, 8)).astype(np.uint8)
        return np.kron(b8, np.ones((8, 8), dtype=np.uint8))

    def enc(img: "np.ndarray") -> bytes:
        return encode_jpeg_gray(img.tobytes(), 64, 64)

    def perturb(img: "np.ndarray", mid: int, f: int) -> "np.ndarray":
        tw = img.astype(np.int16).copy()
        ci, cj = (mid + f) % 8, (3 * mid + 5 * f) % 8
        tw[ci * 8 : (ci + 1) * 8, cj * 8 : (cj + 1) * 8] += 16
        return np.clip(tw, 0, 255).astype(np.uint8)

    rows = []
    base_frames: dict[int, list] = {}
    for mid in range(8):
        nf = 5 + mid % 3
        imgs = [kron_frame(7000 + mid * 100 + f) for f in range(nf)]
        base_frames[mid] = imgs
        rows.append(
            (mid, encode_mp4_mjpeg_video([enc(a) for a in imgs], 64, 64),
             "video", f"planted://clip/base/{mid}")
        )
        s = mid % 3
        clip = [enc(perturb(imgs[f], mid, f)) for f in range(s, s + 3)]
        rows.append(
            (1000 + mid, encode_mp4_mjpeg_video(clip, 64, 64), "video",
             f"planted://clip/cut/{mid}")
        )
    for mid in range(3):
        decoy = [enc(base_frames[mid][1])] + [
            enc(kron_frame(9100 + mid * 10 + f)) for f in (1, 2)
        ]
        rows.append(
            (2000 + mid, encode_mp4_mjpeg_video(decoy, 64, 64), "video",
             f"planted://clip/partial/{mid}")
        )
    scramble = [enc(base_frames[0][f]) for f in (2, 1, 0)]
    rows.append(
        (3000, encode_mp4_mjpeg_video(scramble, 64, 64), "video",
         "planted://clip/scrambled")
    )
    rows.append((3001, None, "video", "planted://clip/null"))
    rows.append(
        (3002, encode_mp4_stub_video(64, 64, 3), "video",
         "planted://clip/stub-codec")
    )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return video_clip_containment(media, max_hamming=3).select(
        "id_a", "id_b", "offset", "n_frames_matched"
    )


@query(
    "x_multimodal_phash",
    "REAL DCT perceptual hash under the driver hash gate "
    "(operators/multimodal.py phash64_png → compute_phash → "
    "hamming_neardup_pairs): 30 planted 64x64 grayscale PNGs "
    "(seeded low-frequency fields, np.kron-upsampled 8x8 noise) each "
    "paired with a one-pixel-perturbed twin.  The full image-dedup "
    "pipeline runs — stdlib PNG decode, exact area-average downscale "
    "to 32x32, 2-D DCT-II (two numpy matmuls), median-threshold to "
    "64 bits, Manku pigeonhole banding, exact Hamming verify ≤ 3 — "
    "and the oracle pins the planted pair structure: every twin must "
    "land within Hamming 3 of its original (measured ≤ 2) and no "
    "cross-image pair may collide (measured min cross Hamming 20), "
    "so the codec, pooling, DCT, thresholding and banding join are "
    "ALL load-bearing for the hash.  Undecodable payloads fall back "
    "to the md5 fingerprint, exercised in tests, not here.",
    """
SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 1000 AS BIGINT) AS id_b
FROM (SELECT unnest(generate_series(0, 29)) AS i)
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        phash_neardup_pairs,
    )

    rows = []
    for mid in range(30):
        rs = np.random.RandomState(mid)
        base = rs.randint(0, 256, size=(8, 8)).astype(np.uint8)
        img = np.kron(base, np.ones((8, 8), dtype=np.uint8))
        rows.append(
            (mid, encode_png(img.tobytes(), 64, 64, 1), "image",
             f"planted://phash/{mid}")
        )
        tw = img.copy()
        tw[mid % 64, (3 * mid) % 64] ^= 0x10
        rows.append(
            (1000 + mid, encode_png(tw.tobytes(), 64, 64, 1), "image",
             f"planted://phash/twin/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    pairs = phash_neardup_pairs(media, max_hamming=3)
    return pairs.select(
        F.col("media_id_1").alias("id_a"), F.col("media_id_2").alias("id_b")
    )


@query(
    "x_multimodal_mp4_metadata",
    "REAL MP4 container-metadata parse under the full-value hash "
    "gate (operators/mp4.py — pure-stdlib ISO BMFF box walk: "
    "ftyp/moov/mvhd/trak/tkhd/mdia/minf/stbl/stts, v0/v1 headers, "
    "16.16 fixed-point geometry): 40 planted spec-shaped MP4s whose "
    "metadata follows integer formulas of id, written by the encoder "
    "twin (stub 'stub' sample entry + filler mdat — the SAMPLE DATA "
    "is honestly env-blocked, H.264 needs libav; the metadata layer "
    "is what a pipeline filters/partitions on before frame decode). "
    "The DuckDB oracle recomputes width/height/n_frames/duration/"
    "timescale from the formulas alone, so the box walk, size "
    "arithmetic, fixed-point shift and stts sample-count sum are all "
    "load-bearing for the hash.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 39)) AS id)
SELECT CAST(id AS BIGINT) AS media_id,
       CAST(16 * (2 + id % 9) AS INT) AS width,
       CAST(16 * (1 + (3 * id) % 7) AS INT) AS height,
       CAST(24 + (id * 11) % 96 AS INT) AS n_frames,
       CAST(25 * (24 + (id * 11) % 96) AS BIGINT) AS duration,
       CAST(600 AS INT) AS timescale
FROM ids
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mp4 import encode_mp4_stub_video, extract_mp4_metadata
    from ..operators.multimodal import MEDIA_SCHEMA

    rows = []
    for mid in range(40):
        w = 16 * (2 + mid % 9)
        h = 16 * (1 + (3 * mid) % 7)
        nf = 24 + (mid * 11) % 96
        rows.append(
            (mid, encode_mp4_stub_video(w, h, nf, 600, 25), "video",
             f"planted://mp4/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return extract_mp4_metadata(media)


@query(
    "x_audio_spectral_fingerprint",
    "REAL audio spectral analysis under the full-value hash gate "
    "(operators/audio.py spectral_frames): 40 planted WAV payloads, "
    "each six 512-sample segments of a pure cosine at bin "
    "k = 16*b + 8 of a 256-point frame (the exact center of band b, "
    "b = (id*5 + 3*seg) % 8), int16-quantized at amplitude 950.  The "
    "pipeline — stdlib RIFF/PCM decode, framing, vectorized "
    "np.fft.rfft power spectrum, DC-excluded 8-band split, per-frame "
    "argmax — must recover EXACTLY the planted band formula, which "
    "the DuckDB oracle recomputes as integer arithmetic independent "
    "of the FFT: dom_band = (id*5 + 3*(frame//2)) % 8 for all 12 "
    "frames of all 40 payloads.  A bin-center integer-cycle tone has "
    "zero spectral leakage, so decode, mono fold, framing, FFT and "
    "band split are ALL load-bearing for the hash (the float "
    "band_energy_frac confidence stays out of it, folded to the "
    "concentrated >= 0.99 law instead).",
    """
WITH ids AS (SELECT unnest(generate_series(0, 39)) AS id),
frames AS (SELECT id, unnest(generate_series(0, 11)) AS f FROM ids)
SELECT CAST(id AS BIGINT) AS media_id, CAST(f AS INT) AS frame_idx,
       CAST((id * 5 + 3 * (f // 2)) % 8 AS INT) AS dom_band,
       TRUE AS concentrated
FROM frames
""",
    tags=("M4", "multimodal"),
)
def x_audio_spectral_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.audio import spectral_frames
    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav_pcm16

    rows = []
    u = np.arange(512)
    for mid in range(40):
        samples: list[int] = []
        for seg in range(6):
            k = 16 * ((mid * 5 + 3 * seg) % 8) + 8
            tone = np.round(950.0 * np.cos(2.0 * np.pi * k * u / 256.0))
            samples.extend(int(x) for x in tone)
        rows.append(
            (mid, encode_wav_pcm16(samples, 8000), "audio",
             f"planted://tone/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return spectral_frames(media).select(
        "media_id",
        "frame_idx",
        "dom_band",
        (F.col("band_energy_frac") >= 0.99).alias("concentrated"),
    )


@query(
    "x_audio_fingerprint_match",
    "Audio near-duplicate pairs by spectral fingerprint "
    "(operators/audio.py audio_fingerprint → audio_neardup_pairs): "
    "24 planted WAV payloads in 8 groups of 3 (g = id % 8) that "
    "share the dominant-band sequence b = (7g + 3*seg) % 8 but "
    "differ BYTE-WISE — each id synthesizes its tones at its own "
    "amplitude 700 + 7*id, so md5/byte-hash matching finds nothing "
    "and only the FFT-derived fingerprint (xxhash64 over the "
    "band sequence, equi-joined then exact-sequence verified) can "
    "pair them.  Group sequences are pairwise distinct by "
    "construction (7g mod 8 is a bijection on g), so the oracle pins "
    "the exact pair set: all (a, b), a < b, a ≡ b (mod 8) — 24 "
    "pairs, gain-invariance and no false positives both load-bearing "
    "for the hash.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 23)) AS id)
SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
       CAST(12 AS INT) AS n_frames
FROM ids a JOIN ids b ON a.id % 8 = b.id % 8 AND a.id < b.id
""",
    tags=("M4", "multimodal"),
)
def x_audio_fingerprint_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.audio import audio_neardup_pairs
    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav_pcm16

    rows = []
    u = np.arange(512)
    for mid in range(24):
        amp = 700.0 + 7.0 * mid
        samples: list[int] = []
        for seg in range(6):
            k = 16 * (((mid % 8) * 7 + 3 * seg) % 8) + 8
            tone = np.round(amp * np.cos(2.0 * np.pi * k * u / 256.0))
            samples.extend(int(x) for x in tone)
        rows.append(
            (mid, encode_wav_pcm16(samples, 8000), "audio",
             f"planted://tone-gain/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return audio_neardup_pairs(media)


def _av_fixture_path(spark: SparkSession) -> str:
    """Build the 16-container MJPEG+PCM fixture ONCE per machine and
    ground it in parquet (tempdir keyed on the fixture version).

    The MP4 encode is driver-side Python; with it inside the timed
    region the same-session sweep readings spanned 2.7–19.0 s
    (VERDICT r11 What's-wrong #3) — the measurement was timing the
    fixture build, not the demux+fingerprint query.  Bump
    ``_AV_FIXTURE_VERSION`` whenever the planted content changes.
    """
    import os
    import shutil
    import tempfile

    version = 1
    dest = os.path.join(
        tempfile.gettempdir(), f"sparkgraft_av_fixture_v{version}"
    )
    if os.path.isfile(os.path.join(dest, "_SUCCESS")):
        return dest
    shutil.rmtree(dest, ignore_errors=True)  # clear a partial build

    import numpy as np

    from ..operators.jpeg import encode_jpeg_gray
    from ..operators.mp4 import encode_mp4_av
    from ..operators.multimodal import MEDIA_SCHEMA

    def frame(seed: int) -> bytes:
        px = [(seed + 7 * x + 13 * y) % 256 for y in range(8) for x in range(16)]
        return encode_jpeg_gray(px, 16, 8)

    u = np.arange(512)
    rows = []
    for g in range(8):
        for mid, fmt in ((g, "sowt"), (g + 100, "twos")):
            amp = 700.0 + 7.0 * mid
            samples: list[int] = []
            for seg in range(6):
                k = 16 * ((7 * g + 3 * seg) % 8) + 8
                tone = np.round(amp * np.cos(2.0 * np.pi * k * u / 256.0))
                samples.extend(int(x) for x in tone)
            rows.append(
                (
                    mid,
                    encode_mp4_av(
                        [frame(1000 * mid + 17)], 16, 8, samples, 8000,
                        audio_fmt=fmt,
                    ),
                    "video",
                    f"planted://av/{mid}",
                )
            )
    tmp = tempfile.mkdtemp(prefix="sparkgraft_av_build_")
    spark.createDataFrame(rows, MEDIA_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    try:
        os.replace(tmp, dest)  # atomic publish; loser of a race cleans up
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.isfile(os.path.join(dest, "_SUCCESS")):
            raise
    return dest



@query(
    "x_video_audio_fingerprint",
    "Cross-container video↔audio dedup (operators/mp4.py "
    "demux_mp4_audio → operators/audio.py audio_neardup_pairs): 16 "
    "planted two-track MJPEG+PCM MP4s — 8 contents g, each in TWO "
    "containers (id g: sowt little-endian PCM; id g+100: twos "
    "big-endian) whose VIDEO frames are deliberately different and "
    "whose audio is the same tone content at per-id amplitudes "
    "(700 + 7*id), so neither byte hashing nor the frame-pHash "
    "evidence can pair them — only demuxing the soun track (stsc/"
    "stsz/stco walk through the audio sample table), re-encoding to "
    "WAV and running the spectral fingerprint finds the 8 (g, g+100) "
    "re-encode pairs.  Band sequence b = (7g + 3*seg) % 8 over 6 "
    "segments → 12 canonical frames; 7g mod 8 bijection keeps group "
    "sequences pairwise distinct so the oracle pins the exact pair "
    "set, endianness-invariance and gain-invariance both "
    "load-bearing.  This is the bridge that makes video corpora "
    "first-class citizens of the audio dedup stack.",
    """
SELECT CAST(g AS BIGINT) AS id_a, CAST(g + 100 AS BIGINT) AS id_b,
       CAST(12 AS INT) AS n_frames
FROM (SELECT unnest(generate_series(0, 7)) AS g)
""",
    tags=("M4", "multimodal"),
)
def x_video_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.audio import audio_neardup_pairs
    from ..operators.mp4 import demux_mp4_audio

    media = spark.read.parquet(_av_fixture_path(spark))
    return audio_neardup_pairs(demux_mp4_audio(media))


@query(
    "x_audio_rate_invariant_match",
    "Sample-rate-invariant audio near-dup (operators/audio.py "
    "canonical_rate resampling inside the Arrow FFT stage): 8 "
    "contents each planted TWICE — synthesized natively at 44.1 kHz "
    "(id g) and at 48 kHz (id g+100), each id at its own amplitude — "
    "as segments of pure cosines at canonical-grid band-center "
    "frequencies f = (16b+8)*8000/256 Hz, b = (7g+3*seg) % 8.  The "
    "rate-native fingerprint provably misses every such pair "
    "(sample-count framing makes window duration and band edges "
    "functions of the file's own rate — pytest-pinned), so the "
    "resample to the 8 kHz canonical rate before framing is THE "
    "load-bearing step — and the resample is ANTI-ALIASED "
    "(windowed-sinc low-pass at the canonical Nyquist, "
    "resample_to_rate): ids 200/201/202 plant the aliasing trap the "
    "naive np.interp path falls into (pytest-pinned): id 201 (48 "
    "kHz) carries in-band band-2 content UNDER a strong 5.25 kHz "
    "above-Nyquist tone that naive decimation folds onto the band-5 "
    "center, so without the low-pass 201 falsely matches the native "
    "band-5 content (id 200) and misses its true in-band twin (id "
    "202, 44.1 kHz).  The oracle pins exactly the 8 (g, g+100) "
    "re-encode pairs plus (201, 202), id 200 unpaired, 32 canonical "
    "frames each, no cross-content false positives (7g mod 8 "
    "bijection keeps group sequences pairwise distinct; constant "
    "band-2/band-5 patterns are distinct from every group's "
    "3-stepping pattern).  This is the dedup a real corpus needs "
    "across re-encodes of the same recording.",
    """
SELECT CAST(g AS BIGINT) AS id_a, CAST(g + 100 AS BIGINT) AS id_b,
       CAST(32 AS INT) AS n_frames
FROM (SELECT unnest(generate_series(0, 7)) AS g)
UNION ALL
SELECT CAST(201 AS BIGINT), CAST(202 AS BIGINT), CAST(32 AS INT)
""",
    tags=("M4", "multimodal"),
)
def x_audio_rate_invariant_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.audio import audio_neardup_pairs
    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav_pcm16

    canonical, frame_len, seg_frames = 8000, 256, 8
    rows = []
    for g in range(8):  # 8 = n_bands: (7g mod 8) bijection needs g < 8,
                        # or groups alias and cross-content pairs appear
        for mid, sr in ((g, 44100), (g + 100, 48000)):
            amp = 650.0 + 9.0 * mid
            dur = seg_frames * frame_len / canonical
            n = int(round(dur * sr))
            t = np.arange(n) / sr
            samples: list[int] = []
            for seg in range(4):
                b = (7 * g + 3 * seg) % 8
                f = (16 * b + 8) * canonical / frame_len
                tone = np.round(amp * np.cos(2.0 * np.pi * f * t))
                samples.extend(int(x) for x in tone)
            rows.append(
                (mid, encode_wav_pcm16(samples, sr), "audio",
                 f"planted://rate/{sr}/{mid}")
            )
    # the aliasing trap: 5.25 kHz = canonical_rate - 2750 folds onto
    # the band-5 center (2750 Hz) under naive decimation to 8 kHz
    dur = 4 * seg_frames * frame_len / canonical
    f_band = lambda b: (16 * b + 8) * canonical / frame_len  # noqa: E731
    for mid, sr, tones in (
        (200, canonical, [(f_band(5), 700.0)]),           # native band-5
        (201, 48000, [(f_band(2), 700.0), (canonical - f_band(5), 3000.0)]),
        (202, 44100, [(f_band(2), 730.0)]),               # true in-band twin
    ):
        t = np.arange(int(round(dur * sr))) / sr
        sig = sum(a * np.cos(2.0 * np.pi * f * t) for f, a in tones)
        rows.append(
            (mid, encode_wav_pcm16([int(x) for x in np.round(sig)], sr),
             "audio", f"planted://alias/{sr}/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return audio_neardup_pairs(media, canonical_rate=canonical)


@query(
    "x_video_frame_sample",
    "REAL MP4 metadata driving the frame-sampling plan: planted "
    "spec-shaped MP4s flow through decode_media (the ISO BMFF box "
    "walk fills n_frames from stts — no longer the stub fake) into "
    "frame_sample_plan's pure-JVM sequence+explode, so the sampled "
    "(media_id, frame_idx) grid is an integer formula of the planted "
    "frame counts that the DuckDB oracle regenerates with stepped "
    "generate_series.  This is the pre-decode workload-sizing pass a "
    "video pipeline runs: which frames to extract, known from "
    "container metadata alone, before any env-blocked H.264 work.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 29)) AS id),
meta AS (SELECT id, 31 + (id * 13) % 200 AS nf FROM ids),
fr AS (
  SELECT id, unnest(generate_series(0, nf - 1, 30)) AS f FROM meta
)
SELECT CAST(id AS BIGINT) AS media_id, CAST(f AS INT) AS frame_idx
FROM fr
""",
    tags=("M4", "multimodal"),
)
def x_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.mp4 import encode_mp4_stub_video
    from ..operators.multimodal import MEDIA_SCHEMA, frame_sample_plan

    rows = []
    for mid in range(30):
        nf = 31 + (mid * 13) % 200
        rows.append(
            (mid, encode_mp4_stub_video(128, 72, nf, 600, 25), "video",
             f"planted://framesample/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return frame_sample_plan(decode_media(media), every_n=30).select(
        "media_id", F.col("frame_idx").cast("int").alias("frame_idx")
    )


@query(
    "x_audio_shift_neardup",
    "SHIFT-TOLERANT audio near-dup (operators/audio.py "
    "audio_shifted_neardup): content starting at a different stream "
    "position (clipped intro, prepended tone) defeats the "
    "whole-sequence fingerprint, so this matcher indexes band g-grams "
    "(JVM window-lead, xxhash64 keys) and requires >= 6 gram hits at "
    "ONE consistent frame offset — LSH banding + verify, never "
    "all-pairs.  Plants: 8 base tone sequences (band formula "
    "(37i + 3s² + s) mod 8, design-checked so no cross pair reaches "
    "6 consistent hits) each with a twin (id+100) carrying a 2-frame "
    "prefix tone; every twin must surface at offset −2 with exactly "
    "9 matching grams, which the DuckDB oracle pins as the full "
    "integer output — decode, FFT, gram construction, offset "
    "grouping and the threshold all load-bearing.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 7)) AS i)
SELECT CAST(i AS BIGINT) AS id_a, CAST(i + 100 AS BIGINT) AS id_b,
       CAST(-2 AS INT) AS offset, CAST(9 AS INT) AS n_matches
FROM ids
""",
    tags=("M4", "multimodal", "dedup"),
)
def x_audio_shift_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.audio import audio_shifted_neardup
    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav_pcm16

    u = np.arange(256)

    def tone(b: int, amp: float) -> list:
        k = 16 * b + 8
        return [int(x) for x in np.round(amp * np.cos(2.0 * np.pi * k * u / 256.0))]

    rows = []
    for i in range(8):
        seq = [(i * 37 + 3 * s * s + s) % 8 for s in range(12)]
        base: list[int] = []
        for b in seq:
            base.extend(tone(b, 900.0))
        shifted = tone((i * 5 + 4) % 8, 700.0) * 2 + base
        rows.append((i, encode_wav_pcm16(base, 8000), "audio",
                     f"planted://shift/base/{i}"))
        rows.append((100 + i, encode_wav_pcm16(shifted, 8000), "audio",
                     f"planted://shift/twin/{i}"))
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return audio_shifted_neardup(media).select(
        "id_a", "id_b", F.col("offset").cast("int").alias("offset"), "n_matches"
    )


@query(
    "x_audio_quality_stats",
    "Audio quality signals for corpus filtering (operators/audio.py "
    "audio_quality_stats — the audio twin of x_text_quality): "
    "clipped-sample and silent-frame counts, the standard rejects "
    "before ASR/audio-model training.  36 planted payloads mix "
    "all-zero segments ((id+s)%3==0) with constant-tone segments "
    "whose first id%5 samples are pinned at the int16 rail (32767), "
    "so every output is an integer formula the DuckDB oracle "
    "recomputes independent of the decoder: decode, mono framing, "
    "clip threshold and silence threshold are all load-bearing for "
    "the value hash.",
    """
WITH ids AS (SELECT unnest(generate_series(0, 35)) AS id),
meta AS (SELECT id, 6 + id % 5 AS nseg FROM ids),
segs AS (SELECT id, nseg, unnest(generate_series(0, nseg - 1)) AS s FROM meta),
agg AS (
  SELECT id, nseg,
         SUM(CASE WHEN (id + s) % 3 = 0 THEN 1 ELSE 0 END) AS silent,
         SUM(CASE WHEN (id + s) % 3 = 0 THEN 0 ELSE id % 5 END) AS clipped
  FROM segs GROUP BY 1, 2
)
SELECT CAST(id AS BIGINT) AS media_id,
       CAST(256 * nseg AS BIGINT) AS n_samples,
       CAST(clipped AS BIGINT) AS n_clipped,
       CAST(nseg AS INT) AS n_frames,
       CAST(silent AS INT) AS silence_frames
FROM agg
""",
    tags=("M4", "multimodal", "quality"),
)
def x_audio_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.audio import audio_quality_stats
    from ..operators.multimodal import MEDIA_SCHEMA, encode_wav_pcm16

    rows = []
    for mid in range(36):
        nseg = 6 + mid % 5
        samples: list[int] = []
        for s in range(nseg):
            if (mid + s) % 3 == 0:
                samples.extend([0] * 256)
            else:
                seg = [1000 + mid] * 256
                for j in range(mid % 5):
                    seg[j] = 32767
                samples.extend(seg)
        rows.append(
            (mid, encode_wav_pcm16(samples, 16000), "audio",
             f"planted://quality/{mid}")
        )
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    return audio_quality_stats(media)


@query(
    "x_audio_chunk_plan",
    "Audio chunking plan (operators/audio.py audio_chunk_plan — the "
    "ASR-pipeline twin of doc_chunking): fixed 30 s windows with 25 s "
    "hop over decode METADATA only (sample_rate, n_samples), pure "
    "integer sequence+posexplode, zero exchange, zero Python — a "
    "pipeline sizes its chunk workload before touching payload "
    "bytes.  Planted metadata derives from documents (16 kHz, "
    "5..124 s by doc_id formula); the oracle regenerates every "
    "(chunk_idx, start_sample, end_sample) row with DuckDB's stepped "
    "generate_series, pinning the hop arithmetic, the final-chunk "
    "clamp, and the no-audio-dropped guarantee (a trailing partial "
    "still emits).",
    """
WITH meta AS (
  SELECT doc_id,
         CAST(16000 AS BIGINT) * (5 + doc_id % 120) AS n
  FROM documents
),
chunks AS (
  SELECT doc_id, n, unnest(generate_series(0, n - 1, 400000)) AS s
  FROM meta
)
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CAST(s / 400000 AS INT) AS chunk_idx,
       CAST(s AS BIGINT) AS start_sample,
       CAST(LEAST(s + 480000, n) AS BIGINT) AS end_sample
FROM chunks
""",
    tags=("M4", "multimodal", "chunking"),
)
def x_audio_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.audio import audio_chunk_plan

    meta = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.lit(16000).alias("sample_rate"),
        (F.lit(16000).cast("long") * (5 + F.col("doc_id") % 120)).alias(
            "n_samples"
        ),
    )
    return audio_chunk_plan(meta, chunk_s=30.0, hop_s=25.0)


@query(
    "x_media_dedup_clusters",
    "End-to-end MULTIMODAL dedup: image pHash near-dup pairs "
    "(decode → DCT pHash → Manku banding → Hamming ≤ 3) and audio "
    "spectral-fingerprint pairs (decode → framed FFT → band-sequence "
    "match) feed ONE connected-components pass over the union edge "
    "set, with MP4 singletons supplied as isolated vertices — the "
    "composition a production media corpus runs, where duplicate "
    "evidence from different modalities must resolve into one "
    "transitive cluster labeling.  Plants: 12 seeded PNGs + "
    "one-pixel twins (ids i / 1000+i), 8 gain-twin WAV pairs (ids "
    "2000+g / 2008+g), 4 MP4 singletons (3000..3003), and 4 "
    "two-track MJPEG+PCM MP4s (3100+g, g < 4) whose DEMUXED soun "
    "track carries WAV group g's tone content at its own amplitude — "
    "cross-MODAL evidence: demux_mp4_audio feeds the same spectral "
    "stage as the native WAVs, so each AV video transitively joins "
    "cluster 2000+g while the track-less stubs stay isolated.  The "
    "DuckDB oracle recomputes the exact cluster structure from the "
    "plant formulas — decode, pHash, FFT, banding, the PCM demux and "
    "the CC contraction are all load-bearing; is_kept pins the "
    "min-id survivor rule.",
    """
WITH img AS (
  SELECT i AS media_id, i AS cluster_id FROM (SELECT unnest(generate_series(0, 11)) AS i)
  UNION ALL
  SELECT i + 1000, i FROM (SELECT unnest(generate_series(0, 11)) AS i)
),
aud AS (
  SELECT 2000 + g AS media_id, 2000 + g AS cluster_id
  FROM (SELECT unnest(generate_series(0, 7)) AS g)
  UNION ALL
  SELECT 2008 + g, 2000 + g FROM (SELECT unnest(generate_series(0, 7)) AS g)
),
vid AS (
  SELECT 3000 + v AS media_id, 3000 + v AS cluster_id
  FROM (SELECT unnest(generate_series(0, 3)) AS v)
),
av AS (
  SELECT 3100 + g AS media_id, 2000 + g AS cluster_id
  FROM (SELECT unnest(generate_series(0, 3)) AS g)
),
uni AS (SELECT * FROM img UNION ALL SELECT * FROM aud
        UNION ALL SELECT * FROM vid UNION ALL SELECT * FROM av)
SELECT CAST(media_id AS BIGINT) AS media_id,
       CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(media_id = cluster_id AS INT) AS is_kept
FROM uni
""",
    tags=("M4", "multimodal", "graph"),
)
def x_media_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..operators.audio import audio_neardup_pairs
    from ..operators.graph import connected_components
    from ..operators.jpeg import encode_jpeg_gray
    from ..operators.mp4 import (
        demux_mp4_audio,
        encode_mp4_av,
        encode_mp4_stub_video,
    )
    from ..operators.multimodal import (
        MEDIA_SCHEMA,
        encode_png,
        encode_wav_pcm16,
        phash_neardup_pairs,
    )

    rows = []
    for mid in range(12):  # images + one-pixel twins (x_multimodal_phash plant)
        rs = np.random.RandomState(mid)
        base = rs.randint(0, 256, size=(8, 8)).astype(np.uint8)
        img = np.kron(base, np.ones((8, 8), dtype=np.uint8))
        rows.append((mid, encode_png(img.tobytes(), 64, 64, 1), "image",
                     f"planted://img/{mid}"))
        tw = img.copy()
        tw[mid % 64, (3 * mid) % 64] ^= 0x10
        rows.append((1000 + mid, encode_png(tw.tobytes(), 64, 64, 1), "image",
                     f"planted://img/twin/{mid}"))
    u = np.arange(512)
    for mid in range(2000, 2016):  # audio gain twins (8 groups x 2)
        amp = 650.0 + 3.0 * (mid - 2000)
        samples: list[int] = []
        for seg in range(6):
            k = 16 * (((mid % 8) * 7 + 3 * seg) % 8) + 8
            tone = np.round(amp * np.cos(2.0 * np.pi * k * u / 256.0))
            samples.extend(int(x) for x in tone)
        rows.append((mid, encode_wav_pcm16(samples, 8000), "audio",
                     f"planted://aud/{mid}"))
    for v in range(4):  # MP4 singletons — isolated vertices
        rows.append((3000 + v, encode_mp4_stub_video(160, 90, 8 + v), "video",
                     f"planted://vid/{v}"))
    for g in range(4):  # AV MP4s: demuxed soun track joins WAV group g
        amp = 790.0 + 11.0 * g
        samples = []
        for seg in range(6):
            k = 16 * ((7 * g + 3 * seg) % 8) + 8
            tone = np.round(amp * np.cos(2.0 * np.pi * k * u / 256.0))
            samples.extend(int(x) for x in tone)
        fr = encode_jpeg_gray(
            [(g + 7 * x + 13 * y) % 256 for y in range(8) for x in range(16)],
            16, 8,
        )
        rows.append((3100 + g, encode_mp4_av([fr], 16, 8, samples, 8000),
                     "video", f"planted://av/{g}"))

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    img_pairs = phash_neardup_pairs(
        media.where(F.col("media_type") == "image"), max_hamming=3
    ).select(F.col("media_id_1").alias("src"), F.col("media_id_2").alias("dst"))
    # ONE audio evidence pass over native WAVs ∪ demuxed soun tracks —
    # videos without a PCM track (the stubs) demux to nothing and
    # remain isolated vertices
    all_audio = (
        media.where(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .unionByName(
            demux_mp4_audio(media.where(F.col("media_type") == "video"))
            .select("media_id", "payload")
        )
    )
    aud_pairs = audio_neardup_pairs(all_audio, mode="star").select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    nodes = media.select(F.col("media_id").alias("node"))
    comp = connected_components(
        img_pairs.unionByName(aud_pairs), nodes=nodes
    )
    return comp.select(
        F.col("node").alias("media_id"),
        F.col("component").alias("cluster_id"),
        (F.col("node") == F.col("component")).cast("int").alias("is_kept"),
    )


@query(
    "x_multimodal_feature_extract",
    "Multimodal feature-extract stage: payload → fixed-dim embedding "
    "via Arrow-batched mapInPandas (stub encoder — byte histogram; "
    "schema/batch shape real, output feeds similarity search "
    "unchanged).  Hash-gated via structural laws: the embedding must "
    "be exactly FEATURE_DIM wide, every component in [0,1], and "
    "L1-normalized (sum == 1 for any non-empty payload; the corpus "
    "has none empty) — checked JVM-side with size + aggregate over "
    "the array and pinned TRUE per row, so a batch misalignment or "
    "normalization regression fails the value hash.",
    """
SELECT CAST(doc_id AS BIGINT) AS media_id, 'image' AS media_type,
       CAST(8 AS INT) AS dim, TRUE AS l1_ok, TRUE AS range_ok
FROM documents
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("image").alias("media_type"),
    )
    feats = extract_features(docs)
    l1 = F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x)
    return feats.select(
        "media_id",
        "media_type",
        F.size("embedding").alias("dim"),
        (F.abs(l1 - 1.0) <= 1e-9).alias("l1_ok"),
        F.forall(
            "embedding", lambda x: (x >= 0.0) & (x <= 1.0)
        ).alias("range_ok"),
    )


# shared split/mix parameters — the oracle SQL is generated from the
# SAME floats (repr) so both engines compare against identical doubles
_SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_MIX_RATES = {"src0": 0.3, "src1": 0.5}
_CAP_PER_LANG = 30


def _hash_frac_sql(key: str, seed: str) -> str:
    return (
        f"CAST('0x' || substr(md5('{seed}' || CAST({key} AS VARCHAR)), 1, 15) AS BIGINT)"
        " / 1152921504606846976.0"
    )


def _split_case_sql() -> str:
    acc, whens = 0.0, []
    labels = list(_SPLIT_WEIGHTS.items())
    for name, w in labels[:-1]:
        acc += w
        whens.append(f"WHEN f < {acc!r} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{labels[-1][0]}' END"


def _mix_rate_sql() -> str:
    whens = " ".join(
        f"WHEN source = '{s}' THEN {r!r}" for s, r in _MIX_RATES.items()
    )
    return f"CASE {whens} ELSE 1.0 END"


@query(
    "x_top_terms_corpus",
    "Corpus heavy-hitters: top-50 terms by document frequency — the "
    "canonical explode→count→top-k shape.  Map-side combine collapses "
    "the shuffle to one row per distinct term per partition, and the "
    "final top-k is a TakeOrdered (no global sort of the term table); "
    "ties break lexicographically so the result set is deterministic.",
    f"""
WITH t AS (
  SELECT unnest(list_distinct({TOKS})) AS term FROM documents
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM t GROUP BY term
ORDER BY doc_freq DESC, term
LIMIT 50
""",
    tags=("M4", "text"),
)
def x_top_terms_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.array_distinct(tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "term")
        .limit(50)
    )


@query(
    "x_tfidf_top_terms_per_doc",
    "TF-IDF featurization: top-3 terms per document by tf·idf "
    "(ln(N/df) idf, raw-count tf).  Two map-side-combinable counts "
    "(term-in-doc, docs-per-term) + one broadcast-sized join on term "
    "+ a per-doc window top-k; ties break (term asc) so the kept set "
    "is deterministic.  The standard featurization pass a text "
    "pipeline runs after cleaning.",
    f"""
WITH tok AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
df AS (
  SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY 1
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT doc_id, term, tfidf FROM scored
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) <= 3
""",
    tags=("M4", "text", "features"),
)
def x_tfidf_top_terms_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()  # one cheap metadata-scale action; a literal in the plan
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= 3)
        .drop("__rk")
    )


_FUNNEL_SW = (
    f"CAST(len(list_filter(toks, t -> list_contains({LANG_MARKERS['en']}, lower(t)))) AS DOUBLE)"
    " / greatest(len(toks), 1)"
)


@query(
    "x_pack_sequences",
    "Sequence packing (operators/packing.py): contiguous assignment of "
    "docs to 512-token training bins per source — bin = floor("
    "exclusive token cumsum / capacity), the standard distributed "
    "approximation of first-fit (boundary docs overflow into the "
    "earlier bin).  One source-keyed window cumsum; deterministic "
    "given (source, doc_id).",
    f"""
WITH d AS (
  SELECT doc_id, source, CAST(len({TOKS}) AS BIGINT) AS n_tokens FROM documents
),
c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (
    PARTITION BY source ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS excl
  FROM d
)
SELECT doc_id, source, n_tokens,
       CAST(excl // 512 AS BIGINT) AS bin_id,
       CAST(excl % 512 AS BIGINT) AS bin_offset
FROM c
""",
    tags=("M4", "packing"),
)
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", token_count_ws("text").cast("long").alias("n_tokens")
    )
    return pack_sequences(docs, "n_tokens", capacity=512)


@query(
    "x_e2e_training_corpus",
    "END-TO-END training-corpus build, composed entirely from the "
    "suite's operators with ONE oracle over the whole pipeline: "
    "quality gate (lang==en, >=20 tokens, <=300 chars) → exact-dedup "
    "survivors (min-id per fingerprint) → pairwise near-dup "
    "suppression (banded Jaccard >= 0.5 drops the greater id; the "
    "transitive version is x_dedup_clusters_cc) → eval holdout "
    "removal + 8-gram decontamination → sequence packing (512-token "
    "bins) → per-source corpus stats (docs, tokens, bins).",
    f"""
WITH tok AS (
  SELECT doc_id, source, lang, n_chars, {TOKS} AS toks FROM documents
),
filt AS (
  SELECT * FROM tok WHERE lang = 'en' AND len(toks) >= 20 AND n_chars <= 300
),
fp AS (
  SELECT *, {_H60("array_to_string(toks, ' ')")} AS fingerprint FROM filt
),
keepfp AS (SELECT fingerprint, MIN(doc_id) AS keep FROM fp GROUP BY 1),
ex AS (
  SELECT f.* FROM fp f JOIN keepfp k
    ON f.fingerprint = k.fingerprint AND f.doc_id = k.keep
),
jd AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
    THEN list_transform(generate_series(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+1], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS tok
  FROM ex
),
neardrop AS (
  SELECT DISTINCT b.doc_id FROM jd a JOIN jd b
    ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
          / CAST(len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        >= 0.5
),
nd AS (
  SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM neardrop)
),
evng AS (
  SELECT DISTINCT {_H60('ng')} AS h FROM (
    SELECT unnest(list_distinct(CASE WHEN len(toks) >= 8
      THEN list_transform(generate_series(1, len(toks) - 7),
                          i -> array_to_string(toks[i:i+7], ' '))
      ELSE [] END)) AS ng
    FROM tok WHERE doc_id % 10 = 0
  )
),
trng AS (
  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 8
    THEN list_transform(generate_series(1, len(toks) - 7),
                        i -> array_to_string(toks[i:i+7], ' '))
    ELSE [] END)) AS ng
  FROM nd WHERE doc_id % 10 != 0
),
contam AS (
  SELECT DISTINCT t.doc_id FROM trng t JOIN evng e ON {_H60('t.ng')} = e.h
),
final AS (
  SELECT doc_id, source, CAST(len(toks) AS BIGINT) AS n_tokens
  FROM nd
  WHERE doc_id % 10 != 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
),
packed AS (
  SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (
      PARTITION BY source ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS bin_id
  FROM final
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT bin_id) AS BIGINT) AS n_bins
FROM packed GROUP BY 1
""",
    tags=("M4", "pipeline"),
)
def x_e2e_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_sequences

    docs = table(spark, sf_dir, "documents")
    filt = docs.filter(
        (F.col("lang") == "en")
        & (token_count_ws("text") >= 20)
        & (F.col("n_chars") <= 300)
    )
    groups = exact_dedup_groups(filt)
    from ..functions.textfn import doc_fingerprint

    ex = (
        filt.withColumn("fingerprint", doc_fingerprint("text"))
        .join(
            F.broadcast(groups.select("fingerprint", "keep_doc_id")), "fingerprint"
        )
        .filter(F.col("doc_id") == F.col("keep_doc_id"))
        .drop("fingerprint", "keep_doc_id")
    )
    neardrop = ngram_jaccard_pairs(ex, threshold=0.5).select(
        F.col("doc_id_2").alias("doc_id")
    ).dropDuplicates()
    nd = ex.join(neardrop, "doc_id", "left_anti")
    train = nd.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    contam = ngram_decontaminate(train, ev, k=8).select("doc_id")
    final = train.join(contam, "doc_id", "left_anti").select(
        "doc_id", "source", token_count_ws("text").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(final, "n_tokens", capacity=512)
    return packed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("bin_id").alias("n_bins"),
    )


@query(
    "x_quality_filter_funnel",
    "One-scan quality filter funnel (operators/quality.py "
    "filter_funnel): per-stage kept/dropped report for a 4-stage "
    "cleaning chain (lang==en, >=20 tokens, <=300 chars, stopword "
    "ratio >= 0.02) via conditional aggregation — the naive "
    "count-per-stage re-scans the corpus S times; this is one scan, "
    "one 1-row shuffle, reshape by posexplode.  The C4/Gopher-paper "
    "pipeline-table shape.",
    f"""
WITH d AS (SELECT lang, n_chars, {TOKS} AS toks FROM documents),
m AS (
  SELECT COALESCE(lang = 'en', false) AS c1,
         COALESCE(len(toks) >= 20, false) AS c2,
         COALESCE(n_chars <= 300, false) AS c3,
         COALESCE({_FUNNEL_SW} >= 0.02, false) AS c4
  FROM d
),
a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS in0,
         CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN c1 AND c2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(SUM(CASE WHEN c1 AND c2 AND c3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
         CAST(SUM(CASE WHEN c1 AND c2 AND c3 AND c4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
  FROM m
)
SELECT stage_idx, stage, n_in, n_kept, n_in - n_kept AS n_dropped
FROM (
  SELECT CAST(1 AS BIGINT) AS stage_idx, 'lang_en' AS stage, in0 AS n_in, k1 AS n_kept FROM a
  UNION ALL SELECT 2, 'min_tokens', k1, k2 FROM a
  UNION ALL SELECT 3, 'len_cap', k2, k3 FROM a
  UNION ALL SELECT 4, 'stopword_floor', k3, k4 FROM a
)
""",
    tags=("M4", "quality"),
)
def x_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import filter_funnel

    docs = table(spark, sf_dir, "documents")
    return filter_funnel(
        docs,
        [
            ("lang_en", F.col("lang") == "en"),
            ("min_tokens", F.size(tokens("text")) >= 20),
            ("len_cap", F.col("n_chars") <= 300),
            ("stopword_floor", stopword_ratio("text") >= 0.02),
        ],
    )


@query(
    "x_decontaminate_ngram_overlap",
    "Train/eval decontamination (operators/decontam.py): flag training "
    "docs sharing any 8-word shingle with the eval holdout (doc_id %% "
    "10 == 0 here; any eval table in production).  Eval (doc, "
    "shingle-hash) pairs are broadcast — the 100 TB train side streams "
    "through a broadcast-hash join, no big-side shuffle.  Docs shorter "
    "than 8 tokens contribute no shingles (strict — no whole-text "
    "fallback).",
    f"""
WITH toks_t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(toks) >= 8
           THEN list_transform(generate_series(1, len(toks) - 7),
                               i -> array_to_string(toks[i:i+7], ' '))
           ELSE [] END)) AS ng
  FROM toks_t
),
hp AS (SELECT doc_id, {_H60('ng')} AS h FROM sh),
ev AS (SELECT doc_id AS eval_id, h FROM hp WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, h FROM hp WHERE doc_id % 10 != 0)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.h) AS BIGINT) AS n_shared_ngrams,
       CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
""",
    tags=("M4", "decontam"),
)
def x_decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the train-side 8-gram shingle map dominates; one-row-group
    # testdata scan otherwise pins it to a single task
    docs = spread(table(spark, sf_dir, "documents"))
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    return ngram_decontaminate(tr, ev, k=8)


@query(
    "x_decontam_bloom_prefilter",
    "Bloom-PRUNED decontamination with EXACT output "
    "(operators/decontam.py bloom_decontaminate): the scale path for "
    "eval sets too big to broadcast raw — eval 8-gram hashes fold "
    "into a 2^20-bit Bloom filter held as a 16K-row bit-word "
    "DataFrame (one group-by bit_or, never collected), the train "
    "side probes it with 4 MAP-SIDE broadcast joins on the word "
    "index (Kirsch-Mitzenmacher double hashing, pure signed-64 "
    "arithmetic under ANSI), and only the pruned pass-through "
    "stream reaches the exact verify join.  No false negatives by "
    "construction; false positives die in the verify — so the "
    "oracle is the SAME exact SQL as x_decontaminate_ngram_overlap, "
    "and a 256-bit FP-stressed twin of this plan is equality-tested "
    "in pytest.  No train-side shuffle exists before the verify "
    "join's already-pruned input.",
    f"""
WITH toks_t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(CASE WHEN len(toks) >= 8
           THEN list_transform(generate_series(1, len(toks) - 7),
                               i -> array_to_string(toks[i:i+7], ' '))
           ELSE [] END)) AS ng
  FROM toks_t
),
hp AS (SELECT doc_id, {_H60('ng')} AS h FROM sh),
ev AS (SELECT doc_id AS eval_id, h FROM hp WHERE doc_id % 10 = 0),
tr AS (SELECT doc_id, h FROM hp WHERE doc_id % 10 != 0)
SELECT tr.doc_id,
       CAST(COUNT(DISTINCT tr.h) AS BIGINT) AS n_shared_ngrams,
       CAST(COUNT(DISTINCT ev.eval_id) AS BIGINT) AS n_eval_docs
FROM tr JOIN ev ON tr.h = ev.h
GROUP BY tr.doc_id
""",
    tags=("M4", "decontam"),
)
def x_decontam_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontam import bloom_decontaminate

    docs = spread(table(spark, sf_dir, "documents"))
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    tr = docs.filter(F.col("doc_id") % 10 != 0)
    return bloom_decontaminate(tr, ev, k=8)


@query(
    "x_dedup_clusters_cc",
    "Duplicate-CLUSTER resolution: exact-fingerprint star edges + "
    "prefix-filtered exact bigram-shingle Jaccard pairs (round-2: "
    "token-level edges made 99% of all pairs edges on this "
    "small-vocab corpus — one degenerate giant cluster) "
    "→ distributed connected components "
    "(min-label propagation with pointer jumping, O(log d) rounds, "
    "operators/graph.py) → one deterministic survivor (min doc_id) per "
    "cluster.  Near-duplication is transitive; a pairwise keep-rule "
    "under-deletes.  Oracle = recursive-CTE min-reachable-id closure "
    "over the identical edge set.  Round-5: the registry entry "
    "clusters a deterministic ~1/4 hash-sampled shard "
    "(x_dedup_ngram_jaccard precedent, same shard predicate in the "
    "oracle): the threshold-0.2 exact evidence join is candidate-"
    "proportional by design and at 778 s over the sf1 corpus it "
    "dominated full-suite sweeps; clustering a shard IS the audit "
    "posture, and duplicate_clusters itself stays whole-corpus for "
    "production callers.",
    f"""
WITH RECURSIVE
dsamp AS (
  SELECT * FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0
),
fpt AS (
  SELECT doc_id, {_H60(f"array_to_string({TOKS}, ' ')")} AS fingerprint
  FROM dsamp
),
fpg AS (SELECT fingerprint, MIN(doc_id) AS keep FROM fpt GROUP BY 1),
star AS (
  SELECT f.doc_id AS src, g.keep AS dst
  FROM fpt f JOIN fpg g USING (fingerprint)
  WHERE f.doc_id != g.keep
),
jt AS (SELECT doc_id, {TOKS} AS toks FROM dsamp),
jd AS (
  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
    THEN list_transform(generate_series(1, len(toks) - 1),
                        i -> array_to_string(toks[i:i+1], ' '))
    ELSE [array_to_string(toks, ' ')] END) AS tok
  FROM jt
),
jac AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM jd a JOIN jd b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
          / CAST(len(a.tok) + len(b.tok) - len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        >= 0.2
),
edges AS (SELECT * FROM star UNION ALL SELECT * FROM jac),
sym AS (
  SELECT src AS a, dst AS b FROM edges WHERE src != dst
  UNION
  SELECT dst, src FROM edges WHERE src != dst
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM dsamp
  UNION
  SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node
  WHERE r.comp < s.b
)
SELECT node AS doc_id, MIN(comp) AS cluster_id,
       CAST(CASE WHEN MIN(comp) = node THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM reach GROUP BY node
""",
    tags=("M4", "dedup", "graph"),
)
def x_dedup_clusters_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(portable_hash64(F.col("doc_id").cast("string")) % 4 == 0)
    return duplicate_clusters(shard)


@query(
    "x_dedup_clusters_lsh",
    "The LSH-banded dedup path run END-TO-END — candidates → exact "
    "verify → connected components → survivor — the way "
    "x_dedup_clusters_cc runs the exact prefix-filter path "
    "(duplicate_clusters pair_method='lsh', operators/graph.py).  "
    "Same shard, same star edges from exact fingerprints, same CC "
    "contraction and min-doc_id survivor rule; the near-dup evidence "
    "is minhash_jaccard_pairs at t=0.3 (threshold-INDEPENDENT "
    "banding cost — the sub-threshold production posture; measured "
    "2.1x over the prefix path pairwise at t=0.3/sf1 in r10) instead "
    "of the threshold-shaped AllPairs prefix join.  Verified pairs "
    "are exact trigram-set Jaccards, so the cluster graph can only "
    "be MISSING near-threshold edges vs the audit path (recall "
    "quantified by x_lsh_recall_gate), never carry a false one — "
    "and every hash is md5-portable, so the oracle mirrors the "
    "BANDING itself inside the same recursive-CTE closure the exact "
    "gate uses: the driver hash pins candidates, verify, AND the "
    "transitive clustering.",
    f"""
WITH RECURSIVE
dsamp AS (
  SELECT * FROM documents
  WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 4 = 0
),
{sig_cte("dsamp")},
banded AS (
{BANDED_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
),
sets AS (SELECT doc_id, list_distinct(shingles) AS shd FROM sh),
jac AS (
  SELECT c.doc_id_1 AS src, c.doc_id_2 AS dst
  FROM cand c
  JOIN sets x ON c.doc_id_1 = x.doc_id
  JOIN sets y ON c.doc_id_2 = y.doc_id
  WHERE CAST(len(list_intersect(x.shd, y.shd)) AS DOUBLE)
          / CAST(len(x.shd) + len(y.shd) - len(list_intersect(x.shd, y.shd)) AS DOUBLE)
        >= 0.3
),
fpt AS (
  SELECT doc_id, {_H60("array_to_string(toks, ' ')")} AS fingerprint
  FROM toks_t
),
fpg AS (SELECT fingerprint, MIN(doc_id) AS keep FROM fpt GROUP BY 1),
star AS (
  SELECT f.doc_id AS src, g.keep AS dst
  FROM fpt f JOIN fpg g USING (fingerprint)
  WHERE f.doc_id != g.keep
),
edges AS (SELECT * FROM star UNION ALL SELECT * FROM jac),
sym AS (
  SELECT src AS a, dst AS b FROM edges WHERE src != dst
  UNION
  SELECT dst, src FROM edges WHERE src != dst
),
reach(node, comp) AS (
  SELECT doc_id, doc_id FROM dsamp
  UNION
  SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node
  WHERE r.comp < s.b
)
SELECT node AS doc_id, MIN(comp) AS cluster_id,
       CAST(CASE WHEN MIN(comp) = node THEN 1 ELSE 0 END AS BIGINT) AS is_kept
FROM reach GROUP BY node
""",
    tags=("M4", "dedup", "graph", "scale"),
)
def x_dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    shard = docs.filter(portable_hash64(F.col("doc_id").cast("string")) % 4 == 0)
    return duplicate_clusters(shard, jaccard_threshold=0.3, pair_method="lsh")


@query(
    "x_fuzzy_name_match",
    "Banded edit-distance fuzzy matching (operators/dedup.py "
    "edit_distance_pair_counts): candidates via a p_type-band "
    "equi-join (the LSH-style blocking strategy; never an all-pairs "
    "cross join), verified with levenshtein <= 2, summarized per "
    "(band, distance).  Round-5: the count query collapses to "
    "DISTINCT names first and recovers pair counts arithmetically "
    "(c1*c2 cross-name, C(c,2) same-name) — on duplicate-heavy "
    "entity columns the id-level band join is quadratic in the "
    "duplicate factor (the sf1 sweep measured 87 s for 384 distinct "
    "names carried by 200k rows; the collapsed form is ~1 s with "
    "identical counts).  edit_distance_pairs remains the id-level "
    "operator for consumers that need the actual pairs.",
    """
SELECT a.p_type, CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM part a JOIN part b
  ON a.p_type = b.p_type AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) <= 2
GROUP BY 1, 2
""",
    tags=("M4", "dedup", "fuzzy"),
)
def x_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import edit_distance_pair_counts

    part = table(spark, sf_dir, "part")
    return edit_distance_pair_counts(
        part, "p_name", ["p_type"], "p_partkey", max_dist=2
    ).select("p_type", F.col("dist").cast("int").alias("dist"), "n_pairs")


@query(
    "x_curation_hash_split",
    "Deterministic train/val/test split (operators/curation.py): "
    "hash-bucket assignment from the portable content hash — "
    "reproducible across runs/engines/partitionings, stable under "
    "corpus growth (no rand()/sample()).  Pure projection, no shuffle "
    "before the reporting agg.",
    f"""
WITH d AS (SELECT *, {_hash_frac_sql('doc_id', 'split')} AS f FROM documents),
s AS (SELECT source, {_split_case_sql()} AS split, n_chars FROM d)
SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY 1, 2
""",
    tags=("M4", "curation"),
)
def x_curation_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id", _SPLIT_WEIGHTS)
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


_QUALITY_SQL = f"""(
  (CASE WHEN length(text) BETWEEN 50 AND 20000 THEN 1.0 ELSE 0.3 END)
  + (1.0 - least(CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                 / greatest(length(text), 1) * 4, 1.0))
  + least(CAST(len(list_filter({TOKS}, t -> list_contains({LANG_MARKERS['en']}, lower(t)))) AS DOUBLE)
          / greatest(len({TOKS}), 1) * 5, 1.0)
) / 3.0"""


@query(
    "x_curation_weighted_sample",
    "Per-row weighted sampling (operators/curation.py weighted_sample): "
    "keep probability = the doc's quality score, decided by the "
    "portable content hash — biases the kept corpus toward high-value "
    "docs while staying exactly reproducible across engines/"
    "partitionings (oracle verifies the EXACT kept set).  Pure filter, "
    "no shuffle.",
    f"""
SELECT doc_id, source
FROM documents
WHERE {_hash_frac_sql('doc_id', 'wsample')}
      < least(greatest({_QUALITY_SQL}, 0.0), 1.0)
""",
    tags=("M4", "curation"),
)
def x_curation_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import weighted_sample

    docs = table(spark, sf_dir, "documents")
    return weighted_sample(docs, quality_score("text")).select("doc_id", "source")


@query(
    "x_curation_stratified_mix",
    "Corpus mixing + stratified cap (operators/curation.py): "
    "down-sample sources to target rates (hash-threshold filter, no "
    "shuffle), then keep a deterministic hash-ordered cap per language "
    "(one shuffle).  min/max kept doc_id are part of the oracle so the "
    "EXACT kept set is verified, not just counts.",
    f"""
WITH m AS (
  SELECT * FROM documents
  WHERE {_hash_frac_sql('doc_id', 'mix')} < {_mix_rate_sql()}
),
r AS (
  SELECT lang, source, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY CAST('0x' || substr(md5('cap' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT),
                    doc_id
         ) AS rk
  FROM m
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM r WHERE rk <= {_CAP_PER_LANG}
GROUP BY 1
""",
    tags=("M4", "curation"),
)
def x_curation_stratified_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    mixed = source_mix(docs, "source", _MIX_RATES)
    capped = stratified_cap(mixed, ["lang"], _CAP_PER_LANG)
    return capped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


@query(
    "x_asof_attribution_join",
    "As-of join (operators/asof.py): attribute every click to the "
    "user's latest view at-or-before it.  Spark has no native as-of; "
    "the naive inequality join plans as BroadcastNestedLoop and dies "
    "at scale — this union+window formulation is ONE shuffle on the "
    "key, no range explosion.  Oracle is DuckDB's native ASOF LEFT "
    "JOIN.",
    """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view')
SELECT c.event_id, c.user_id, c.ts,
       v.ts AS ts_asof, v.event_id AS event_id_asof, v.value AS value_asof
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND v.ts <= c.ts
""",
    tags=("J", "asof"),
)
def x_asof_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id", "value")
    return asof_join(clicks, views, on=["user_id"], attach=("event_id", "value"))


@query(
    "x_range_join_purchase_window",
    "Bounded range join (operators/range_join.py): purchases within 1h "
    "after each error event, per user — binned equi-join (left exploded "
    "≤2×, right not at all), never BroadcastNestedLoop.  Oracle is the "
    "plain inequality LEFT JOIN DuckDB can afford at sf0.01.",
    """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events WHERE event_type = 'purchase')
SELECT e.event_id, e.user_id, e.ts,
       CAST(COUNT(p.p_ts) AS BIGINT) AS n_purchases_1h,
       ROUND(COALESCE(SUM(p.p_value), 0.0), 6) AS purchase_value_1h
FROM e LEFT JOIN p
  ON e.user_id = p.user_id AND p.p_ts >= e.ts AND p.p_ts <= e.ts + INTERVAL 1 HOUR
GROUP BY 1, 2, 3
""",
    tags=("J", "range"),
)
def x_range_join_purchase_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    pairs = windowed_range_join(errors, purchases, ["user_id"], "ts", "p_ts", 3600.0)
    agg = pairs.groupBy("event_id").agg(
        F.count("p_ts").alias("n_purchases_1h"),
        F.round(F.sum("p_value"), 6).alias("purchase_value_1h"),
    )
    return errors.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("n_purchases_1h", F.lit(0)).cast("long").alias("n_purchases_1h"),
        F.coalesce("purchase_value_1h", F.lit(0.0)).alias("purchase_value_1h"),
    )


@query(
    "x_bpe_token_stats",
    "Trained BPE tokenizer (functions/bpe.py): distributed word-count "
    "pass → driver-side merge learning on the O(vocab) frequency table "
    "(Sennrich et al. 2016) → distributed Arrow-batched encode with "
    "per-batch word memoization.  Merges are fully deterministic "
    "(count desc, pair lexicographic tie-break) but the encode is a "
    "Python stage no SQL oracle can replay, so the query is hash-gated "
    "on the x_ann_recall_gate pattern: per doc the oracle recomputes "
    "the whitespace word count exactly and pins (a) roundtrip_ok — "
    "the sample word's BPE tokens concatenate back to word+'</w>' "
    "(lossless segmentation), (b) bounds_ok — words <= bpe_tokens <= "
    "non-ws chars + words (merges only ever shrink the char+sentinel "
    "segmentation, never below one token per word), (c) n_merges_ok — "
    "the learner produced the full requested 100 merges.  Raw "
    "per-doc BPE counts stay out of the hash; algorithmic checks "
    "(merge order, encode against hand-worked examples) remain in "
    "tests/test_bpe.py.",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens_ws,
       TRUE AS roundtrip_ok, TRUE AS bounds_ok, TRUE AS n_merges_ok
FROM documents
""",
    tags=("M4", "text", "tokenizer"),
)
def x_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.bpe import END, bpe_token_stats, corpus_word_counts, learn_bpe_merges

    docs = table(spark, sf_dir, "documents")
    merges = learn_bpe_merges(corpus_word_counts(docs), num_merges=100)
    stats = bpe_token_stats(docs, merges)
    joined = stats.join(docs.select("doc_id", "text"), "doc_id")
    first_word = F.element_at(F.split(F.trim("text"), r"\s+"), 1)
    return joined.select(
        "doc_id",
        F.col("n_tokens_ws").cast("int").alias("n_tokens_ws"),
        F.when(
            F.col("n_tokens_ws") > 0,
            F.concat_ws("", "sample_tokens") == F.concat(first_word, F.lit(END)),
        )
        .otherwise(F.size("sample_tokens") == 0)
        .alias("roundtrip_ok"),
        (
            (F.col("n_tokens_bpe") >= F.col("n_tokens_ws"))
            & (
                F.col("n_tokens_bpe")
                <= F.length(F.regexp_replace("text", r"\s", "")) + F.col("n_tokens_ws")
            )
        ).alias("bounds_ok"),
        F.lit(len(merges) == 100).alias("n_merges_ok"),
    )


@query(
    "x_sketch_approx_stats",
    "Sketch aggregates (operators/sketch.py): per-group HyperLogLog++ "
    "distinct counts + Greenwald-Khanna approximate percentiles "
    "(p50/p90/p99) — the 100 TB substitutes for exact COUNT(DISTINCT) "
    "/ percentile, O(groups) state through an ordinary partial/final "
    "agg.  Sketch estimates are implementation-defined (no DuckDB "
    "twin), so the query is hash-gated on the x_sketch_accuracy_gate "
    "pattern but through the operators/sketch.py API and across the "
    "full quantile triple: the oracle mirrors the exact distinct "
    "count and row count and pins booleans asserting HLL within 2% "
    "of exact and each GK quantile within 1% of the exact percentile "
    "(observed: HLL <= 0.86%, GK <= 0.026% at sf0.01/sf0.1 — every "
    "envelope has >= 2x margin).  Raw estimates stay out of the "
    "hash; bounded-error sweeps remain in tests/test_sketch.py.",
    """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
       CAST(COUNT(l_orderkey) AS BIGINT) AS n_rows,
       TRUE AS hll_ok, TRUE AS gk50_ok, TRUE AS gk90_ok, TRUE AS gk99_ok
FROM lineitem GROUP BY 1
""",
    tags=("scale", "sketch"),
)
def x_sketch_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: exact-percentile + HLL agg buffers build in the
    # partial-agg stage, which runs at the SCAN's width — few tasks on
    # this single-row-group testdata (identity at production widths)
    li = spread(table(spark, sf_dir, "lineitem"))
    d = approx_distinct_by(li, ["l_returnflag"], "l_orderkey")
    q = approx_quantiles_by(li, ["l_returnflag"], "l_extendedprice", (0.5, 0.9, 0.99))
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct"),
        F.percentile(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99))
        ).alias("_ex"),
    )
    out = d.join(q, "l_returnflag").join(exact, "l_returnflag")
    gk_oks = [
        (
            F.abs(F.col(f"p{p:02d}") - F.col("_ex")[i])
            <= 0.01 * F.abs(F.col("_ex")[i])
        ).alias(f"gk{p:02d}_ok")
        for i, p in enumerate((50, 90, 99))
    ]
    return out.select(
        "l_returnflag",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.col("n_rows").cast("long").alias("n_rows"),
        (
            F.abs(F.col("approx_distinct").cast("double") - F.col("exact_distinct"))
            <= 0.02 * F.col("exact_distinct")
        ).alias("hll_ok"),
        *gk_oks,
    )


@query(
    "x_sketch_accuracy_gate",
    "Driver-checkable sketch accuracy: per group, the EXACT distinct "
    "count and median plus in-query booleans asserting that the three "
    "sketch estimators (HyperLogLog++ approx_count_distinct, "
    "Datasketches HLL hll_sketch_agg/estimate, Greenwald-Khanna "
    "percentile_approx) land within their documented error envelopes "
    "(2% / 2% / 1% here, generous vs the configured rsd=0.01 and "
    "accuracy=10000).  The oracle mirrors the exact values and pins "
    "the booleans TRUE — a sketch drifting out of envelope flips a "
    "boolean and fails the value-hash gate, which turns sketch "
    "accuracy from a pytest-only claim into a driver-verified row.  "
    "Round-6 scale fix: COUNT(DISTINCT) mixed with the buffer-heavy "
    "aggregates in ONE agg triggers Catalyst's distinct-rewrite "
    "(Expand doubles every row and the percentile/HLL buffers fall "
    "off the hash-agg fast path) — 234 s at sf1.  Splitting the "
    "distinct count into its own aggregation and joining on the "
    "3-row group key keeps every aggregate on the partial-agg fast "
    "path: 10 s at sf1, whole corpus, semantics identical.",
    """
SELECT l_returnflag,
       CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct,
       CAST(ROUND(CAST(median(l_extendedprice) AS DOUBLE) * 1000, 0) AS BIGINT) AS exact_p50_milli,
       TRUE AS hllpp_ok, TRUE AS ds_hll_ok, TRUE AS gk_p50_ok
FROM lineitem GROUP BY 1
""",
    tags=("scale", "sketch"),
)
def x_sketch_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: five heavy agg buffers (exact percentile buffers every
    # value; two HLLs; GK) build in the partial-agg stage, which runs
    # at the SCAN's width — few tasks on this single-row-group
    # testdata.  Round-robin first: 57 s -> 16 s at sf0.1 (identity at
    # production scan widths).
    li = spread(table(spark, sf_dir, "lineitem"))
    # COUNT(DISTINCT) stays in its OWN aggregation: combined with the
    # buffer aggregates it triggers the distinct-rewrite Expand (2x
    # rows, sort-based agg) — measured 23x slower at sf1.  The join is
    # on the 3-row group key, broadcast for free.
    dist = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct")
    )
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("_exact_p50"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("_hllpp"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("l_orderkey"), F.lit(14))
        ).alias("_ds_hll"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "_gk_p50"
        ),
    )
    agg = dist.join(agg, "l_returnflag")

    return agg.select(
        "l_returnflag",
        "exact_distinct",
        # milli-units, not ROUND(x, 2): the exact median of 2-decimal
        # money interpolates onto .005 boundaries, where DuckDB's
        # multiply-then-round and Spark's decimal-string HALF_UP round
        # DIFFERENT ways (52724.245 → .25 vs .24).  ×1000 makes the
        # true value an integer, so the round is never near a boundary.
        F.round(F.col("_exact_p50") * 1000, 0).cast("long").alias("exact_p50_milli"),
        (
            F.abs(F.col("_hllpp").cast("double") - F.col("exact_distinct").cast("double"))
            <= 0.02 * F.col("exact_distinct").cast("double")
        ).alias("hllpp_ok"),
        (
            F.abs(F.col("_ds_hll").cast("double") - F.col("exact_distinct").cast("double"))
            <= 0.02 * F.col("exact_distinct").cast("double")
        ).alias("ds_hll_ok"),
        (
            F.abs(F.col("_gk_p50") - F.col("_exact_p50"))
            <= 0.01 * F.abs(F.col("_exact_p50"))
        ).alias("gk_p50_ok"),
    )


def _pii_sql() -> str:
    em, ph, ip = (PII_PATTERNS[k] for k in ("email", "phone", "ipv4"))
    red = (
        "regexp_replace(regexp_replace(regexp_replace(aug, '" + em + "', '<EMAIL>', 'g'), '"
        + ph + "', '<PHONE>', 'g'), '" + ip + "', '<IPV4>', 'g')"
    )
    return (
        "WITH d AS (\n"
        "  SELECT doc_id,\n"
        "         text || ' contact user' || doc_id || '@example.com '\n"
        "              || printf('555-010-%04d', doc_id % 10000) || ' '\n"
        "              || '10.0.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256) AS aug\n"
        "  FROM documents\n"
        ")\n"
        "SELECT doc_id,\n"
        f"       CAST(len(regexp_extract_all(aug, '{em}')) AS INT) AS n_email,\n"
        f"       CAST(len(regexp_extract_all(aug, '{ph}')) AS INT) AS n_phone,\n"
        f"       CAST(len(regexp_extract_all(aug, '{ip}')) AS INT) AS n_ipv4,\n"
        f"       {_H60(red)} AS redacted_fp\n"
        "FROM d"
    )


@query(
    "x_text_pii_redact",
    "PII redaction pass (functions/textfn.py redact_pii): emails / "
    "phones / IPv4s → <TYPE> placeholders, plus per-type match counts. "
    "The synthetic corpus carries no PII, so the query injects "
    "deterministic doc_id-derived PII first; the oracle hash-checks the "
    "REDACTED text fingerprint, proving byte-identical redaction "
    "across engines. Pure regexp chain, whole-stage codegen.",
    _pii_sql(),
    tags=("M4", "text", "quality"),
)
def x_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com "),
            F.format_string("555-010-%04d", F.col("doc_id") % 10000),
            F.lit(" 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("doc_id") * 7) % 256).cast("string"),
        ).alias("aug"),
    )
    counts = pii_counts(F.col("aug"))
    return aug.select(
        "doc_id",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ipv4"),
        portable_hash64(redact_pii(F.col("aug"))).alias("redacted_fp"),
    )


@query(
    "x_quality_repetition_signals",
    "Gopher-style repetition filters (operators/quality.py): per-doc "
    "top-n-gram fraction and duplicate-n-gram fraction for n in (2,3), "
    "long format.  One explode + two map-side-combinable groupBys; the "
    "shuffle carries one row per distinct gram per doc.",
    f"""
WITH d AS (SELECT doc_id, {TOKS} AS t FROM documents),
g AS (
  SELECT doc_id, 2 AS n,
         unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS gram
  FROM d WHERE len(t) >= 2
  UNION ALL
  SELECT doc_id, 3 AS n,
         unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2] FOR i IN range(1, len(t) - 1)]) AS gram
  FROM d WHERE len(t) >= 3
),
c AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2, 3)
SELECT doc_id, CAST(n AS INT) AS n,
       ROUND(CAST(MAX(cnt) AS DOUBLE) / SUM(cnt), 6) AS top_gram_frac,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS dup_gram_frac,
       CAST(SUM(cnt) AS BIGINT) AS n_grams
FROM c GROUP BY 1, 2
""",
    tags=("M4", "text", "quality"),
)
def x_quality_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return repetition_signals(table(spark, sf_dir, "documents"))


@query(
    "x_multimodal_frame_pipeline",
    "End-to-end multimodal pipeline: decode (stubbed codec, real "
    "Arrow-batched plumbing) → resize geometry (JVM) → frame-sample "
    "plan (sequence+explode, JVM) → per-media frame counts.  The only "
    "Python stage is the decode stub; everything downstream of it is "
    "whole-plan Spark.  Hash-gated via structural laws: resize must "
    "bound the longest side at 256, images must sample 0 frames, and "
    "the stride-10 sampling arithmetic must self-agree "
    "(last_frame_idx == (n_sampled-1)*10 when sampled, -1 when not; "
    "never more than ceil(300/10) samples) — pinned TRUE per row "
    "alongside the SQL-recomputed media-type mix, so a join/explode "
    "regression anywhere in the chain fails the value hash.",
    """
SELECT CAST(doc_id AS BIGINT) AS media_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'video' ELSE 'audio' END AS media_type,
       TRUE AS size_ok, TRUE AS image_ok, TRUE AS stride_ok
FROM documents
""",
    tags=("M4", "multimodal"),
)
def x_multimodal_frame_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import frame_sample_plan, resize_plan

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        # deterministic media-type mix so the video path (n_frames>1)
        # is exercised
        F.element_at(
            F.array(F.lit("image"), F.lit("video"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
    )
    decoded = decode_media(docs)
    resized = resize_plan(decoded)
    frames = frame_sample_plan(decoded, every_n=10)
    per_media = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_sampled_frames"),
        F.max("frame_idx").alias("last_frame_idx"),
    )
    n_s = F.coalesce(F.col("n_sampled_frames"), F.lit(0))
    last = F.coalesce(F.col("last_frame_idx"), F.lit(-1))
    return (
        resized.join(per_media, "media_id", "left")
        .select(
            "media_id",
            "media_type",
            (
                (F.greatest("width", "height") <= 256)
                & (F.least("width", "height") >= 1)
            ).alias("size_ok"),
            ((F.col("media_type") != "image") | (n_s == 0)).alias("image_ok"),
            (
                F.when(n_s == 0, last == -1).otherwise(last == (n_s - 1) * 10)
                & (n_s <= 30)
            ).alias("stride_ok"),
        )
    )


@query(
    "x_skew_salted_group_sum",
    "Skew-resistant two-stage aggregation (operators/skew.py): map-side "
    "salt into 16 shards → partial agg on (key, salt) → final agg on "
    "key. Hot keys spread over 16 reducers; second shuffle moves only "
    "16 rows/key. Oracle is the PLAIN group-sum — identical semantics "
    "is the point (partials kept decimal so re-aggregation stays exact).",
    f"""
SELECT l_returnflag, {DSUM('l_quantity')} AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
""",
    tags=("M4", "scale"),
)
def x_skew_salted_group_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    out = salted_group_agg(
        li,
        ["l_returnflag"],
        {
            "sum_qty": F.sum(F.col("l_quantity").cast("decimal(18,6)")),
            "n": F.count(F.lit(1)),
        },
        n_salts=16,
    )
    return out.select(
        "l_returnflag",
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("n").cast("long").alias("n"),
    )


# --------------------------------------------------------------------------
# streaming batch mirror (S: the monthly/tumbling rollup)
# --------------------------------------------------------------------------


@query(
    "s09_sessionize_batch",
    "Gap-based sessionization (streaming/sessionize.sessionize_batch): "
    "lag → gap flag → "
    "running-sum session id → aggregate; one shuffle on the key, all in "
    "whole-stage codegen. Gap math in whole epoch seconds on both "
    "engines (Spark timestamp→long truncates; oracle floors epoch()). "
    "Sums decimal-exact.",
    f"""
WITH flagged AS (
  SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 21600
              THEN 1 ELSE 0 END AS brk
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sids AS (
  SELECT key, ts, value,
         SUM(brk) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT key, MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {DSUM('value')} AS total_value
FROM sids GROUP BY key, sid
""",
    tags=("M2", "streaming"),
)
def s09_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.sessionize import sessionize_batch

    ev = table(spark, sf_dir, "events")
    return sessionize_batch(ev, "user_id", "ts", "value", gap_seconds=21600)


@query(
    "sql_flagship_via_spark_sql",
    "The flagship pipeline through the spark.sql() entrypoint (temp "
    "views + one SQL string) instead of the DataFrame builder — same "
    "logical plan once Catalyst is done with both, proving the SQL API "
    "is a first-class way into this engine.  Oracle: the flagship's "
    "own DuckDB SQL re-aliased.",
    """
WITH filt AS (
  SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
         p.p_brand, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE regexp_matches(l.l_returnflag, '^[AR]$')
    AND (coalesce(p.p_type, '') IN ('PROMO', 'ECONOMY', 'STANDARD')
         OR starts_with(coalesce(p.p_type, ''), 'PROMO')
         OR starts_with(coalesce(p.p_type, ''), 'ECONOMY')
         OR starts_with(coalesce(p.p_type, ''), 'STANDARD'))
), per_brand AS (
  SELECT month, p_brand,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS w_dec,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS p
  FROM filt GROUP BY 1, 2
)
SELECT month,
       CAST(SUM(w_dec) AS DOUBLE) AS total_qty,
       ROUND(SUM(p * CAST(w_dec AS DOUBLE)) / SUM(CAST(w_dec AS DOUBLE)), 4)
         AS avg_price_weighted
FROM per_brand GROUP BY month
""",
    tags=("M1", "sql-api"),
)
def sql_flagship_via_spark_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(
        """
WITH filt AS (
  SELECT CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
         p.p_brand, l.l_quantity, l.l_extendedprice
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_returnflag RLIKE '^[AR]$'
    AND (coalesce(p.p_type, '') IN ('PROMO', 'ECONOMY', 'STANDARD')
         OR startswith(coalesce(p.p_type, ''), 'PROMO')
         OR startswith(coalesce(p.p_type, ''), 'ECONOMY')
         OR startswith(coalesce(p.p_type, ''), 'STANDARD'))
), per_brand AS (
  SELECT month, p_brand,
         SUM(CAST(l_quantity AS DECIMAL(18,6))) AS w_dec,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_extendedprice) AS p
  FROM filt GROUP BY 1, 2
)
SELECT month,
       CAST(SUM(w_dec) AS DOUBLE) AS total_qty,
       ROUND(SUM(p * CAST(w_dec AS DOUBLE)) / SUM(CAST(w_dec AS DOUBLE)), 4)
         AS avg_price_weighted
FROM per_brand GROUP BY month
"""
    )


@query(
    "s10_session_window_native",
    "Native session_window sessionization — the built-in alternative to "
    "the lag→cumsum formulation (s09) and the stateful streaming "
    "operator; one shuffle, sessions merged by Spark's own gap logic "
    "(closes at delta >= gap).  Oracle replays that exact semantic in "
    "integer microseconds (epoch_us), where s09's uses > on floored "
    "seconds — deltas sit >=0.5s from the 6h boundary at every SF, so "
    "both formulations agree on this data.",
    f"""
WITH flagged AS (
  SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts)
                   >= CAST(21600000000 AS BIGINT)
              THEN 1 ELSE 0 END AS brk
  FROM events
), sids AS (
  SELECT key, ts, value,
         SUM(brk) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT key, MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events, {DSUM('value')} AS total_value
FROM sids GROUP BY key, sid
""",
    tags=("M2", "streaming"),
)
def s10_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.session_window("ts", "6 hours").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def _corr_oracle_sql(cols: list[str]) -> str:
    from itertools import combinations

    dec = "DECIMAL(18,6)"
    sums = [f"CAST(COUNT(*) AS DOUBLE) AS n"]
    for c in cols:
        sums.append(f"CAST(SUM(CAST({c} AS {dec})) AS DOUBLE) AS s_{c}")
    # product operands widened to DECIMAL(28,6): DuckDB multiplies
    # DECIMAL(18) in int64 and overflows; 28 forces int128, still exact
    wide = "DECIMAL(28,6)"
    for a, b in list(combinations(cols, 2)) + [(c, c) for c in cols]:
        sums.append(
            f"CAST(SUM(CAST(CAST({a} AS {wide}) * CAST({b} AS {wide}) AS DECIMAL(38,12))) AS DOUBLE) AS p_{a}_{b}"
        )
    sel = []
    for a, b in combinations(cols, 2):
        sel.append(
            f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
            f"ROUND((n * p_{a}_{b} - s_{a} * s_{b}) / "
            f"NULLIF(sqrt((n * p_{a}_{a} - s_{a} * s_{a}) * (n * p_{b}_{b} - s_{b} * s_{b})), 0), 6) AS corr FROM agg"
        )
    return "WITH agg AS (\n  SELECT " + ",\n         ".join(sums) + "\n  FROM lineitem\n)\n" + "\nUNION ALL ".join(sel)


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@query(
    "x_corr_matrix_one_scan",
    "Pairwise Pearson correlation matrix over four lineitem measures "
    "in ONE scan (operators/corrmatrix.py): every correlation derives "
    "from map-side-combinable sums {n, Σx, Σx², Σxy}, so k columns "
    "cost one scan + a 1-row shuffle for k(k-1)/2 correlations (the "
    "per-pair corr() loop scans k²/2 times).  Decimal-exact sums make "
    "the derived value bit-identical in the oracle.",
    _corr_oracle_sql(_CORR_COLS),
    tags=("M3", "stats"),
)
def x_corr_matrix_one_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.corrmatrix import corr_matrix

    return corr_matrix(table(spark, sf_dir, "lineitem"), _CORR_COLS)


@query(
    "s15_scd2_history",
    "SCD type-2 dimension history (operators/scd.py): change events → "
    "versioned [valid_from, valid_to) intervals per user with no-op "
    "updates collapsed (lag compare) and intervals closed by lead — "
    "one key-partitioned window, one shuffle regardless of attribute "
    "count.  Pairs with the as-of join for fact-time dimension lookup.",
    """
WITH o AS (
  SELECT user_id, ts, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS prev
  FROM events
),
v AS (
  SELECT user_id, ts, event_type FROM o
  WHERE prev IS NULL OR event_type != prev
),
h AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_type) AS valid_to,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_type) AS BIGINT) AS version
  FROM v
)
SELECT user_id, event_type, valid_from, valid_to, version,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
FROM h
""",
    tags=("M2", "warehouse"),
)
def s15_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_history

    return scd2_history(
        table(spark, sf_dir, "events"),
        key_cols=["user_id"],
        ts_col="ts",
        attr_cols=["event_type"],
    )


@query(
    "s14_rolling_wau",
    "Exact rolling 7-day distinct actives (operators/sketch.py "
    "rolling_distinct_exact): rolling COUNT(DISTINCT) can't compose "
    "from daily counts, so each distinct (user, day) pair is exploded "
    "to the 7 report days it serves, then distinct-counted per day "
    "(report days restricted to observed days).",
    """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
),
spine AS (SELECT DISTINCT day FROM pairs),
contrib AS (
  SELECT user_id, day + CAST(off AS INTEGER) AS wday
  FROM pairs CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off)
)
SELECT c.wday AS day, CAST(COUNT(DISTINCT c.user_id) AS BIGINT) AS active_users
FROM contrib c JOIN spine s ON s.day = c.wday
GROUP BY 1
""",
    tags=("M2", "events", "sketch"),
)
def s14_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import rolling_distinct_exact

    return rolling_distinct_exact(table(spark, sf_dir, "events"))


@query(
    "s13_retention_cohorts",
    "Weekly cohort retention triangle (operators/retention.py): users "
    "cohorted by first-active week; n_active per (cohort, week "
    "offset); cohort_size rides along as a window-max over the "
    "offset-0 row.  One user-keyed exchange — distinct (user, week) "
    "reduction, window-min cohort attach (same partitioning, no "
    "join), then a small re-aggregation.",
    """
WITH act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events),
coh AS (
  SELECT user_id, wk, MIN(wk) OVER (PARTITION BY user_id) AS cw FROM act
),
agg AS (
  SELECT cw AS cohort_period,
         CAST(date_diff('day', cw, wk) / 7 AS BIGINT) AS period_offset,
         CAST(COUNT(*) AS BIGINT) AS n_active
  FROM coh GROUP BY 1, 2
)
SELECT CAST(cohort_period AS TIMESTAMP) AS cohort_period, period_offset, n_active,
       CAST(MAX(CASE WHEN period_offset = 0 THEN n_active END)
            OVER (PARTITION BY cohort_period) AS BIGINT) AS cohort_size
FROM agg
""",
    tags=("M2", "events"),
)
def s13_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retention import retention_cohorts

    return retention_cohorts(table(spark, sf_dir, "events"))


@query(
    "s12_event_funnel",
    "Ordered event funnel (operators/funnel.py): users completing "
    "view, then click strictly after their first view (within 1 day), "
    "then purchase after that click (within 1 day).  Cascaded "
    "conditional window-mins over ONE "
    "partitionBy(user) exchange — the textbook SQL formulation "
    "(mirrored in the oracle) joins events once per step.",
    """
WITH u AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY 1
),
s2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2
  FROM events e JOIN u USING (user_id)
  WHERE e.event_type = 'click' AND u.t1 IS NOT NULL
    AND e.ts > u.t1 AND e.ts <= u.t1 + INTERVAL 1 DAY
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.ts > s2.t2 AND e.ts <= s2.t2 + INTERVAL 1 DAY
  GROUP BY e.user_id
),
c AS (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS total,
         (SELECT CAST(COUNT(t1) AS BIGINT) FROM u) AS n1,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM s3) AS n3
)
SELECT CAST(1 AS BIGINT) AS stage_idx, 'view' AS stage, n1 AS n_users, total AS n_entered FROM c
UNION ALL SELECT 2, 'click', n2, n1 FROM c
UNION ALL SELECT 3, 'purchase', n3, n2 FROM c
""",
    tags=("M2", "events"),
)
def s12_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.funnel import funnel_conversion

    ev = table(spark, sf_dir, "events")
    return funnel_conversion(
        ev,
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        within_seconds=86400,
    )


@query(
    "s11_rollup_cascade",
    "Hypertable-style rollup cascade (operators/rollup_cascade.py): "
    "hour from raw, day from hour, week from day — the raw table is "
    "scanned ONCE for the whole grain hierarchy (continuous-aggregate "
    "pattern); totals stay decimal through the cascade so re-summing "
    "is exact.  Long output (grain, bucket, event_type, n, total).",
    """
WITH h AS (
  SELECT date_trunc('hour', ts) AS bucket, event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         SUM(CAST(value AS DECIMAL(18,6))) AS dtotal
  FROM events GROUP BY 1, 2
),
d AS (
  SELECT date_trunc('day', bucket) AS bucket, event_type,
         CAST(SUM(n) AS BIGINT) AS n, SUM(dtotal) AS dtotal
  FROM h GROUP BY 1, 2
),
w AS (
  SELECT date_trunc('week', bucket) AS bucket, event_type,
         CAST(SUM(n) AS BIGINT) AS n, SUM(dtotal) AS dtotal
  FROM d GROUP BY 1, 2
)
SELECT 'hour' AS grain, bucket, event_type, n, CAST(dtotal AS DOUBLE) AS total FROM h
UNION ALL
SELECT 'day', bucket, event_type, n, CAST(dtotal AS DOUBLE) FROM d
UNION ALL
SELECT 'week', bucket, event_type, n, CAST(dtotal AS DOUBLE) FROM w
""",
    tags=("M2", "timeseries"),
)
def s11_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup_cascade import rollup_cascade

    return rollup_cascade(table(spark, sf_dir, "events"))


@query(
    "s08_tumbling_window_rollup",
    "LIVE Structured Streaming execution #2 under the driver hash "
    "gate (streaming/rollup.py; SURVEY.md §2.8 extension): the events "
    "parquet replays as a stream (availableNow trigger), the "
    "watermarked tumbling 1-day window aggregation runs on the REAL "
    "streaming engine into a complete-mode memory sink, and the final "
    "snapshot is compared against the plain batch aggregate as "
    "oracle.  The count is order-free and the sum is decimal-exact "
    "(associative), so the result is bit-identical however the "
    "micro-batch planner splits the files — the convergence law the "
    "gate pins.  Same drain timeout guard as s30.",
    f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, {DSUM('value')} AS total
FROM events GROUP BY 1, 2
""",
    tags=("M2", "streaming"),
)
def s08_tumbling_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import memory_sink_rows
    from ..streaming.rollup import tumbling_rollup_agg

    # events.ts has shipped as TIMESTAMP(NANOS) and as NTZ-micros
    # across testdata regenerations; stream_table reads both
    stream = stream_table(spark, sf_dir, "events")
    # NTZ timestamps window on the wall clock (matches the oracle's
    # date_trunc under any session tz) but reject withWatermark —
    # complete mode needs no watermark, so skip it there
    wm = "2 days" if dict(stream.dtypes).get("ts") == "timestamp" else None
    agg = tumbling_rollup_agg(stream, "ts", "event_type", "1 day", wm)
    # complete-mode memory sink holds the full final snapshot —
    # O(#days x #event_types) rows, a driver-literal pull
    rows = memory_sink_rows(agg, "s08", "complete")
    return spark.createDataFrame(
        rows, "day date, event_type string, n bigint, total double"
    )


@query(
    "s31_streaming_session_windows",
    "LIVE Structured Streaming execution #3 under the driver hash "
    "gate: native session_window sessionization on the REAL "
    "streaming engine (the streaming twin of the s10 batch mirror). "
    "The events parquet replays as a stream (availableNow trigger), "
    "Spark's session-window STATE STORE merges 6-hour-gap sessions "
    "across micro-batch boundaries, and the complete-mode memory "
    "sink holds the final merged snapshot.  The count is order-free "
    "and the sum decimal-exact, so the snapshot is bit-identical "
    "however the micro-batch planner splits the files — session "
    "MERGING across batches is the semantics under test, which the "
    "tumbling-window gate (s08) never exercises.  Oracle = the same "
    "integer-microsecond gap replay s10 uses.  Complete mode is the "
    "gate's snapshot device: production would run update mode with a "
    "watermark into a real sink; the driver pull is O(#sessions), "
    "same class as the batch result itself.  Timeout guard as s30.",
    f"""
WITH flagged AS (
  SELECT CAST(user_id AS VARCHAR) AS key, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts)
                   >= CAST(21600000000 AS BIGINT)
              THEN 1 ELSE 0 END AS brk
  FROM events
), sids AS (
  SELECT key, ts, value,
         SUM(brk) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT key, MIN(ts) AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events, {DSUM('value')} AS total_value
FROM sids GROUP BY key, sid
""",
    tags=("M2", "streaming"),
)
def s31_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import memory_sink_rows

    stream = stream_table(spark, sf_dir, "events")
    agg = (
        stream.groupBy(
            F.col("user_id").cast("string").alias("key"),
            F.session_window("ts", "6 hours").alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
        .select(
            "key",
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    rows = memory_sink_rows(agg, "s31", "complete")
    # schema follows the stream's ts flavor (NTZ-micros today, tz'd
    # timestamp under the nanos layout) — reuse the agg's own schema
    return spark.createDataFrame(rows, agg.schema)


@query(
    "s32_streaming_dedup_ingest",
    "LIVE Structured Streaming execution #4: dedup-at-ingest on the "
    "REAL streaming engine.  The documents parquet replays as a "
    "stream UNIONED WITH ITSELF (every row arrives twice, the "
    "duplicate possibly in a different micro-batch), and streaming "
    "dropDuplicates' STATE STORE must drop the second copy wherever "
    "the planner lands it — the at-least-once-delivery dedup every "
    "ingest pipeline runs.  Output = the distinct row set, order-free "
    "and split-invariant by construction; the sink projects "
    "md5(text) AFTER the full-row state-store dedup so the text "
    "content stays load-bearing for the value hash (a one-byte "
    "divergence in any copy fails it) while the driver pull stays "
    "O(rows), not O(corpus bytes).  availableNow + append-mode "
    "memory sink; same drain timeout guard as s30/s31.",
    """
SELECT DISTINCT doc_id, md5(text) AS text_md5, lang, source,
       CAST(n_chars AS BIGINT) AS n_chars
FROM documents
""",
    tags=("M2", "streaming", "dedup"),
)
def s32_streaming_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import memory_sink_rows

    schema = table(spark, sf_dir, "documents").schema
    doubled = stream_table(spark, sf_dir, "documents", schema).unionByName(
        stream_table(spark, sf_dir, "documents", schema)
    )
    # project AFTER dropDuplicates: the state store keys on the FULL
    # row (text included), the sink holds only the md5 digest
    deduped = doubled.dropDuplicates().select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "lang",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
    )
    return spark.createDataFrame(
        memory_sink_rows(deduped, "s32"),
        "doc_id long, text_md5 string, lang string, source string, "
        "n_chars long"
    )


@query(
    "s33_streaming_cusum_drift",
    "LIVE Structured Streaming execution #5: online CUSUM drift "
    "detection on the REAL streaming engine (streaming/drift.py "
    "cusum_stream — applyInPandasWithState, per-key state exactly "
    "(S+, S-)).  The events parquet replays availableNow with a "
    "synthetic unique event-time (timestamp_micros(event_id) — "
    "split-invariant total order, no ts-tie ambiguity), values are "
    "scaled to integer CENTS JVM-side so every accumulator update "
    "is exact float arithmetic (< 2^53) and the path-dependent "
    "recursion S+_t = max(0, S+_{t-1} + d_t) matches its closed "
    "form S+_t = C_t - min_j C_j bit-for-bit — which is what the "
    "DuckDB oracle computes with two window functions.  "
    "emit='final' keeps the memory sink at O(#keys) rows whatever "
    "the stream length (the final state still depends on the ENTIRE "
    "path), fixing the O(rows)-through-the-driver nit the s32 gate "
    "carries.  mu0 = 50.00 per key (the baseline-known-upfront "
    "online contract), h = 1000.00; same drain timeout "
    "guard as s30-s32.",
    """
WITH src AS (
  SELECT event_type AS key, event_id,
         COALESCE(ROUND(value * 100), 0) - 5000 AS d
  FROM events WHERE event_type IS NOT NULL
),
c AS (
  SELECT key, event_id,
         SUM(d) OVER (PARTITION BY key ORDER BY event_id) AS ct
  FROM src
),
m AS (
  SELECT key, event_id, ct,
         LEAST(0, MIN(ct) OVER (PARTITION BY key ORDER BY event_id)) AS mn,
         GREATEST(0, MAX(ct) OVER (PARTITION BY key ORDER BY event_id)) AS mx
  FROM c
),
fin AS (
  SELECT key, MAX({'eid': event_id, 'sp': ct - mn, 'sm': ct - mx}) AS w
  FROM m GROUP BY key
)
SELECT key, CAST(w.eid AS BIGINT) AS last_event_id,
       CAST(w.sp AS BIGINT) AS s_plus_cents,
       CAST(w.sm AS BIGINT) AS s_minus_cents,
       CAST(CASE WHEN w.sp > 100000 OR w.sm < -100000
            THEN 1 ELSE 0 END AS INT) AS alarm
FROM fin
""",
    tags=("M2", "streaming", "stateful"),
)
def s33_streaming_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.drift import cusum_stream
    from ..streaming.replay import memory_sink_rows

    # two-pass baseline (the batch twin's contract): mu0 is fixed
    # BEFORE monitoring starts — one O(#keys) driver literal
    keys = [
        r[0]
        for r in table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
        .collect()
    ]
    # no maxFilesPerTrigger: the file source reads every available
    # file in ONE micro-batch, so cross-batch arrival order can't
    # differ from the in-batch event-time sort.  The synthetic
    # event-id clock below sidesteps the ts nanos seam
    stream = stream_table(spark, sf_dir, "events")
    feed = stream.where(F.col("event_type").isNotNull()).select(
        "event_type",
        F.timestamp_micros(F.col("event_id")).alias("ts"),
        F.round(F.col("value") * 100).alias("cents"),
    )
    out = cusum_stream(
        feed,
        {k: 5000.0 for k in keys},
        h=100000.0,
        key_col="event_type",
        ts_col="ts",
        value_col="cents",
        emit="final",
    ).select(
        # unix_micros inverts the synthetic clock exactly (TimestampType
        # is an instant; no session-zone term)
        "key", F.unix_micros("ts").alias("eid"), "s_plus", "s_minus", "alarm"
    )
    # one row per key per micro-batch; the converged state is the row
    # with MAX event-time per key (a later batch's final row always
    # carries a later synthetic clock), selected explicitly — memory-
    # sink collect order across batches is not a guaranteed contract.
    # O(#keys x #batches) driver pull.
    last: dict = {}
    for r in memory_sink_rows(out, "s33"):
        cur = last.get(r["key"])
        if cur is None or r["eid"] > cur["eid"]:
            last[r["key"]] = r
    return spark.createDataFrame(
        [
            (r["key"], int(r["eid"]), int(r["s_plus"]), int(r["s_minus"]),
             int(r["alarm"]))
            for r in last.values()
        ],
        "key string, last_event_id bigint, s_plus_cents bigint, "
        "s_minus_cents bigint, alarm int",
    )


@query(
    "s34_streaming_interval_join",
    "LIVE Structured Streaming execution #6 — the TWO-stream operator "
    "class (streaming/dedup.py stream_stream_interval_join, until now "
    "pytest-only): every earlier live gate is a one-stream "
    "aggregation; this one replays the events parquet as two "
    "INDEPENDENT streams (clicks, purchases) and correlates them "
    "through the engine's symmetric state-store hash join — each "
    "purchase within 30 minutes AFTER a click by the same user (the "
    "attribution staple, expressed as the operator's lookback with "
    "the roles swapped).  Both sides carry watermarks and the join "
    "condition carries the mandatory event-time range, so each "
    "side's rows buffer in keyed state until eviction; the replay "
    "watermark (90 days > the 30-day span) guarantees no eviction, "
    "making the drained append-mode sink EXACTLY the batch interval "
    "join the DuckDB oracle computes.  In production the delay is "
    "the correctness/latency knob and state is O(rows in the "
    "horizon) per side.  availableNow + drain timeout guard "
    "(s30-s33 pattern); driver pull is the O(pairs) join result "
    "itself.",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, ROUND(p.value, 6) AS p_value
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
    tags=("M2", "streaming", "joins"),
)
def s34_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup import stream_stream_interval_join
    from ..streaming.replay import memory_sink_rows

    def stream(et: str, cols):
        s = stream_table(spark, sf_dir, "events")
        return s.where(F.col("event_type") == et).select(*cols)

    # NTZ -> instant cast: watermarks demand TimestampType, and the
    # join is purely RELATIVE time (no ts column reaches the output),
    # so the session-zone shift applies equally to both sides and
    # cancels — zone-safe under any driver timezone.
    clicks = stream(
        "click",
        [
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("ts"),
        ],
    )
    purchases = stream(
        "purchase",
        [
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").cast("timestamp").alias("p_ts"),
            F.col("value").alias("p_value"),
        ],
    )
    # "purchases within 30 min AFTER each click" = the operator's
    # lookback with roles swapped: clicks within 30 min BEFORE each
    # purchase produce the identical pair set.
    joined = stream_stream_interval_join(
        purchases,
        clicks,
        on=[("p_user", "user_id")],
        left_ts="p_ts",
        right_ts="ts",
        lookback_seconds=1800.0,
        watermark="90 days",
    ).select(
        "click_id",
        "purchase_id",
        "user_id",
        F.round("p_value", 6).alias("p_value"),
    )
    # no-eviction proof (the 90-day delay out-spans the replay): the
    # symmetric join state must hold EXACTLY every click and purchase
    # row — measured 399,470 at sf1 (SCALE.md) — so a state-explosion
    # OR an unexpected eviction (which would drop pairs) fails loudly
    expected_state = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isin("click", "purchase"))
        .count()
    )

    def check(q) -> None:
        state_rows = _final_state_rows(q)
        if state_rows != expected_state:
            raise AssertionError(
                f"s34 final join state must hold every click+purchase row "
                f"({expected_state}), got {state_rows}"
            )

    return spark.createDataFrame(
        memory_sink_rows(joined, "s34", check=check),
        "click_id long, purchase_id long, user_id long, p_value double",
    )


@query(
    "s35_streaming_static_enrich",
    "LIVE Structured Streaming execution #7 — the STREAM-STATIC "
    "class (streaming/enrich.py, until now drain-tested only): the "
    "events parquet replays as a stream, a static blocklist drops "
    "contaminated users at INGEST (decontaminate_stream — stateless "
    "LEFT ANTI, blocklist re-resolves per micro-batch), the "
    "surviving rows broadcast-join the customer dimension "
    "(enrich_stream — stateless, watermark-free, shuffle-free on "
    "the stream side), and a per-segment rollup drains complete-"
    "mode.  Values aggregate as integer cents via the portable "
    "floor(x*100+0.5) so the sum is order-exact; the sink is "
    "O(#segments).  The oracle is the identical anti-join + join + "
    "group-by in plain SQL.",
    """
SELECT c.c_mktsegment AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(FLOOR(e.value * 100 + 0.5)) AS BIGINT) AS total_cents
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
WHERE e.user_id % 50 != 0
GROUP BY 1
""",
    tags=("M2", "streaming", "joins"),
)
def s35_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.enrich import decontaminate_stream, enrich_stream
    from ..streaming.replay import memory_sink_rows

    customer = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    blocklist = customer.filter(F.col("user_id") % 50 == 0).select("user_id")
    stream = stream_table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents")
    )
    clean = decontaminate_stream(stream, blocklist, on=["user_id"])
    enriched = enrich_stream(clean, customer, on=["user_id"], how="inner")
    rollup = enriched.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("total_cents"),
    )
    return spark.createDataFrame(
        memory_sink_rows(rollup, "s35", "complete"),
        "segment string, n_events long, total_cents long",
    )


def _final_state_rows(q) -> int | None:
    """Total state-store rows reported by the LAST progress entry that
    carries a stateOperators block — the post-drain snapshot a gate
    can assert a bound on (state-explosion / eviction regressions then
    FAIL the gate instead of silently shifting a metric).  Returns
    None when no stateful progress was reported (defensive: the gate
    should treat that as its own failure, not skip the check)."""
    from ..streaming.replay import state_operators

    for ops in reversed(state_operators(q)):
        if ops:
            return sum(int(op.get("numRowsTotal", 0)) for op in ops)
    return None


def _dropped_by_watermark(q) -> int:
    """Input rows the state operators dropped as late, over all of
    ``q``'s progress reports (numRowsDroppedByWatermark)."""
    from ..streaming.replay import state_operators

    return sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for ops in state_operators(q)
        for op in ops
    )


def _click_purchase_join(stream: DataFrame, how: str) -> DataFrame:
    """The s36/s38/s39 interval join over one click+purchase replay
    stream: each click against the purchases by the same user within
    30 minutes AFTER it, 1-hour watermarks on both sides, projected
    to (click_id, purchase_id, user_id, p_value)."""
    from ..streaming.dedup import stream_stream_interval_join

    clicks = stream.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = stream.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = stream_stream_interval_join(
        clicks,
        purchases,
        on=[("user_id", "p_user")],
        left_ts="ts",
        right_ts="p_ts",
        lookback_seconds=1800.0,
        watermark="1 hour",
        how=how,
        direction="lookforward",
    )
    # NO sentinel filter inside the streaming query: a post-join
    # predicate on left columns (click_id >= 0) pushes down
    # through the watermark node into the parquet scan, PRUNES
    # the sentinel row group (event_id = -1 stats), and the
    # click-side watermark then never advances — the exact
    # failure the sentinels exist to prevent.  The coalesce is a
    # no-op under left_outer (the left side is always present)
    # and supplies the purchase-side user id for full_outer's
    # unmatched-right rows.
    return joined.select(
        "click_id",
        "purchase_id",
        F.coalesce("user_id", "p_user").alias("user_id"),
        F.round("p_value", 6).alias("p_value"),
    )


def _outer_interval_join_gate(
    spark: SparkSession, sf_dir: str, shard_residue: int, how: str,
    gate: str,
) -> DataFrame:
    """Shared harness for the s36/s38 outer stream-stream interval
    join gates: identical replay ladder, join shape, and assertions —
    the gates differ only in join type and the (disjoint) 1/4 user
    shard, so the semantics under test stay the only variable."""
    import datetime
    import tempfile

    from ..streaming.replay import memory_sink_rows, write_ordered_replay

    # NTZ -> instant cast (s34 precedent): watermarks demand
    # TimestampType and only RELATIVE time matters — the join window,
    # the eviction horizon, and the sentinel offset all shift equally
    # with the session zone, and no ts column reaches the output
    base = (
        table(spark, sf_dir, "events")
        # 1/4 user shard: eviction/null-padding semantics are volume-
        # independent (s37 precedent) and s34 already runs the FULL
        # click+purchase volume through the same symmetric join state
        # — these gates pay for watermark-ladder state rounds
        .where(
            F.col("event_type").isin("click", "purchase")
            & (F.col("user_id") % 4 == shard_residue)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    max_ts = base.agg(F.max("ts")).first()[0]  # driver-literal scalar
    # sentinel ts must satisfy S - delay > T + window so the watermark
    # after the FIRST sentinel batch already proves every real click's
    # window closed; the second sentinel batch then runs the eviction
    window_s, delay_s = 1800.0, 3600.0
    s_ts = max_ts + datetime.timedelta(seconds=window_s + delay_s + 7200.0)
    sentinel = spark.createDataFrame(
        [(-1, -1, "click", s_ts, 0.0), (-1, -1, "purchase", s_ts, 0.0)],
        base.schema,
    )

    def check(q) -> None:
        # eviction proof: after the sentinel batches only the 4
        # sentinel rows may remain buffered — anything more means the
        # watermark ladder broke and unmatched rows never emitted
        state_rows = _final_state_rows(q)
        if state_rows is None or state_rows > 4:
            raise AssertionError(
                f"{gate} final join state must be the <= 4 sentinel "
                f"rows, got {state_rows}"
            )

    with tempfile.TemporaryDirectory(
        prefix=f"{gate}_replay_", ignore_cleanup_errors=True
    ) as replay:
        write_ordered_replay(
            base, "ts", replay, n_files=3, sentinel_df=sentinel, n_sentinels=2
        )
        # the written frame's own schema: reading it back from the
        # replay dir would cost a schema-inference job
        stream = (
            spark.readStream.schema(base.schema)
            # the watermark only advances BETWEEN batches, so the
            # ladder is: batch 1 = [all 3 data files + sentinel 1]
            # (the watermark at its END jumps past every real
            # click's window — sentinel rows joining alongside
            # data is harmless, the driver filter drops them),
            # batch 2 = [sentinel 2] — a REAL batch that performs
            # the eviction, so the null-padding does NOT depend on
            # the trailing no-data micro-batch
            # (spark.sql.streaming.noDataMicroBatches.enabled):
            # with mFPT=3 both sentinels landed in one final batch
            # and only the no-data batch evicted (r10 advisor).
            # Two state-store rounds instead of three is also the
            # cheapest correct ladder — each join-state round
            # costs ~10 s at sf1 regardless of volume
            .option("maxFilesPerTrigger", "4")
            .parquet(replay)
        )
        out = memory_sink_rows(_click_purchase_join(stream, how), gate, check=check)
    # driver-side defense-in-depth: sentinel rows that reached the
    # sink (far-future sentinel clicks matching sentinel purchases)
    # are dropped here (post-collect; cannot perturb the
    # watermark); real null-padded rows keep their NULL side
    rows = [
        r
        for r in out
        if (r["click_id"] is None or r["click_id"] >= 0)
        and (r["purchase_id"] is None or r["purchase_id"] >= 0)
    ]
    return spark.createDataFrame(
        rows,
        "click_id long, purchase_id long, user_id long, p_value double",
    )


@query(
    "s36_streaming_outer_interval_join",
    "LIVE Structured Streaming execution #8 — the OUTER half of the "
    "stream-stream operator class (the attribution staple: every "
    "click emits exactly once, null-padded when no purchase lands "
    "within 30 minutes after it).  Unlike s34's unbounded-watermark "
    "inner join, the null-padded rows exist ONLY through watermark-"
    "driven state eviction — a buffered click emits as unmatched "
    "once the watermark proves no purchase can still arrive — so the "
    "gate replays the events as EVENT-TIME-ORDERED files (streaming/"
    "replay.py): range-partitioned parquet whose mtime order equals "
    "event-time order makes eviction deterministic (no late drops "
    "under the bounded 1-hour delay), and two far-future sentinel "
    "files flush the watermark past all real data — sentinel batch k "
    "advances the watermark at its end, batch k+1 performs the "
    "eviction — so every unmatched click has null-padded out by end-"
    "of-stream and the drained append sink EXACTLY equals the batch "
    "left join the DuckDB oracle computes.  A post-drain assertion "
    "pins the final state-store row count to the sentinel rows alone "
    "(<= 4): if eviction breaks, the gate fails loudly.",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, ROUND(p.value, 6) AS p_value
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND c.user_id % 4 = 0
""",
    tags=("M2", "streaming", "joins"),
)
def s36_streaming_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _outer_interval_join_gate(spark, sf_dir, 0, "left_outer", "s36")


@query(
    "s38_streaming_full_outer_interval_join",
    "LIVE Structured Streaming execution #10 — the FULL-OUTER half "
    "of the stream-stream operator class: every click AND every "
    "purchase emits exactly once, null-padded on whichever side has "
    "no match within the 30-minute look-forward window.  s36 proved "
    "LEFT-side eviction emission; this gate makes BOTH-side eviction "
    "an external hash signal (the pytest twin is tests/"
    "test_streaming.py test_interval_join_full_outer_null_pads_both_"
    "sides).  Same deterministic harness: event-time-ordered replay "
    "(streaming/replay.py), two far-future sentinel files sized so "
    "the LAST sentinel forms its own micro-batch (maxFilesPerTrigger "
    "= n_files + n_sentinels - 1 — eviction runs in a REAL batch, "
    "no no-data-batch dependency), and a post-drain assertion that "
    "the final state is the <= 4 sentinel rows alone.  The drained "
    "append sink exactly equals the batch FULL OUTER interval join "
    "the DuckDB oracle computes — unmatched purchases surface with "
    "NULL click_id, which only right-side state eviction can "
    "produce.",
    """
WITH c AS (
  SELECT event_id, user_id, ts FROM events
  WHERE event_type = 'click' AND user_id % 4 = 1
),
p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase' AND user_id % 4 = 1
)
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       COALESCE(c.user_id, p.user_id) AS user_id,
       ROUND(p.value, 6) AS p_value
FROM c FULL JOIN p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
""",
    tags=("M2", "streaming", "joins"),
)
def s38_streaming_full_outer_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _outer_interval_join_gate(spark, sf_dir, 1, "full_outer", "s38")


@query(
    "s37_streaming_checkpoint_resume",
    "LIVE Structured Streaming execution #9 — EXACTLY-ONCE RESUME "
    "FROM CHECKPOINT, the recovery guarantee every other live gate "
    "takes on faith: a dedup-at-ingest stream (streaming/dedup.py "
    "dedup_stream — dropDuplicatesWithinWatermark keyed on the "
    "content fingerprint) runs over HALF the ordered replay files, "
    "STOPS, and a brand-new query restarts from the same checkpoint "
    "over the full directory.  The planted duplicates (doc_id + 2^31 "
    "twins of every shard doc, same text, strictly later synthetic "
    "event time, range-partitioned into the post-restart files) "
    "straddle the restart, so they are dropped ONLY if the dedup "
    "state store is actually recovered from the checkpoint — a fresh "
    "state would pass every one of them into the sink and fail the "
    "hash.  The sink is the idempotent-by-epoch foreachBatch parquet "
    "writer (streaming/dedup.py foreach_batch_idempotent_parquet); "
    "the gate also asserts phase-2 batch ids strictly EXTEND "
    "phase-1's (offsets recovered, nothing reprocessed, nothing "
    "rewritten).  Oracle = the original shard rows: first-occurrence "
    "dedup over the ordered replay keeps exactly the originals.",
    """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 = 0
""",
    tags=("M2", "streaming", "stateful"),
)
def s37_streaming_checkpoint_resume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..functions.textfn import portable_hash64
    from ..streaming.dedup import dedup_stream
    from ..streaming.replay import restart_drain, write_ordered_replay

    shard = (
        table(spark, sf_dir, "documents")
        # 1/16 shard: the restart mechanics are size-independent and
        # the full-corpus dedup path is already gated by s32/s19-s23 —
        # this gate pays for state ROUNDS, so keep the state small
        .filter(portable_hash64(F.col("doc_id").cast("string")) % 16 == 0)
        .select(
            "doc_id",
            "text",
            F.col("n_chars").cast("long").alias("n_chars"),
            # synthetic unique event time (s33 precedent): total order,
            # no tie ambiguity, zone-free
            F.timestamp_micros(F.col("doc_id")).alias("ts"),
        )
    )
    # content twins with strictly later event times: range partitioning
    # on ts puts every twin AFTER every original, so the twins land in
    # the post-restart files and their originals' state must survive
    # the restart for the dedup to drop them
    off = 2**31
    dups = shard.select(
        (F.col("doc_id") + off).alias("doc_id"),
        "text",
        "n_chars",
        F.timestamp_micros(F.col("doc_id") + off).alias("ts"),
    )
    replay = shard.unionByName(dups)

    def write(path: str):
        files = write_ordered_replay(replay, "ts", path, n_files=4)
        return files[:2], files

    kept = restart_drain(
        spark,
        "s37",
        replay.schema,
        # two files per batch: each phase drains in ONE micro-batch —
        # the restart (and its state recovery) is what this gate
        # tests, not the batch count
        2,
        "append",
        write,
        # 3650-day delay out-spans the replay: dedup state never
        # expires, so every twin must hit its original's state row
        lambda stream: dedup_stream(
            stream, text_col="text", ts_col="ts", watermark="3650 days"
        ).select("doc_id", "n_chars"),
    )[0]
    return kept.select("doc_id", "n_chars")


_KNUTH_SQL = 2654435761  # sources/pyds.py _KNUTH, mirrored in SQL

_S39_K = 5  # planted click/purchase pairs straddling the restart
_S39_PLANTED_SQL = ",\n         ".join(
    f"({2**40 + j}, {2**40 + 1000 + j}, {8 * (10**6 + j)}, "
    f"CAST({10.25 + j!r} AS DOUBLE))"
    for j in range(_S39_K)
)


@query(
    "s39_streaming_join_resume",
    "LIVE Structured Streaming execution #11 — CHECKPOINT RESUME FOR "
    "SYMMETRIC JOIN STATE, closing the recovery story s37 opened for "
    "the dedup store: the s36-style left-outer interval join runs "
    "over the FIRST HALF of an event-time-ordered replay, STOPS, and "
    "a brand-new query restarts from the same checkpoint over the "
    "full directory.  Five planted pairs straddle the restart — the "
    "click lands in a pre-restart file (event time just before the "
    "split point), its purchase in a post-restart file (just after, "
    "inside the 30-minute window), on synthetic user ids no real "
    "event carries — so the pairs emit as MATCHED rows only if the "
    "click-side buffered join state is actually recovered from the "
    "checkpoint; a fresh state would null-pad the clicks and orphan "
    "the purchases, failing the hash.  Phase-2 batch ids are "
    "asserted to strictly EXTEND phase-1's (offsets recovered, "
    "nothing reprocessed), all five planted matches are asserted "
    "present, and the post-drain state is pinned to the <= 4 "
    "sentinel rows (the s36 eviction ladder, maxFilesPerTrigger "
    "sized so the last sentinel evicts in a real batch).  Oracle = "
    "the batch left interval join over the 1/8 user shard UNION ALL "
    "the five planted matched pairs (constants by construction: "
    "event times never reach the output).",
    f"""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id, ROUND(p.value, 6) AS p_value
FROM events c
LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
WHERE c.event_type = 'click' AND c.user_id % 8 = 0
UNION ALL
SELECT * FROM (
  VALUES {_S39_PLANTED_SQL}
) t(click_id, purchase_id, user_id, p_value)
""",
    tags=("M2", "streaming", "joins", "stateful"),
)
def s39_streaming_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    from ..streaming.replay import (
        restamp_replay_sequence,
        restart_drain,
        write_ordered_replay,
    )

    base = (
        table(spark, sf_dir, "events")
        # 1/8 shard: the restart mechanics are volume-independent
        # (s37 precedent) and every join-state batch costs ~10 s at
        # sf1 regardless of rows — this gate pays for three of them
        .where(
            F.col("event_type").isin("click", "purchase")
            & (F.col("user_id") % 8 == 0)
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            "value",
        )
    )
    bounds = base.agg(F.min("ts"), F.max("ts")).first()
    min_ts, max_ts = bounds[0], bounds[1]
    mid = min_ts + (max_ts - min_ts) / 2  # the restart split point
    window_s, delay_s = 1800.0, 3600.0
    s_ts = max_ts + datetime.timedelta(seconds=window_s + delay_s + 7200.0)
    # planted pairs: click 300 s before the split, purchase 300 s
    # after it — inside the window, on user ids no real event carries
    # (reals are dense small ints; these are 8*(1e6+j)), so each pair
    # matches ONLY through state recovered across the restart.  The
    # output columns are constants; only the ts places them in files.
    clicks_planted = spark.createDataFrame(
        [
            (
                2**40 + j,
                8 * (10**6 + j),
                "click",
                mid - datetime.timedelta(seconds=300),
                0.0,
            )
            for j in range(_S39_K)
        ],
        base.schema,
    )
    purch_planted = spark.createDataFrame(
        [
            (
                2**40 + 1000 + j,
                8 * (10**6 + j),
                "purchase",
                mid + datetime.timedelta(seconds=300),
                10.25 + j,
            )
            for j in range(_S39_K)
        ],
        base.schema,
    )
    sentinel = spark.createDataFrame(
        [(-1, -1, "click", s_ts, 0.0), (-1, -1, "purchase", s_ts, 0.0)],
        base.schema,
    )
    phase_a = base.where(F.col("ts") <= F.lit(mid)).unionByName(clicks_planted)

    def write(path: str):
        files_a = write_ordered_replay(phase_a, "ts", f"{path}/a", n_files=2)
        files_b = write_ordered_replay(
            base.where(F.col("ts") > F.lit(mid)).unionByName(purch_planted),
            "ts",
            f"{path}/b",
            n_files=2,
            sentinel_df=sentinel,
            n_sentinels=2,
        )
        # one strictly-increasing past-mtime sequence ACROSS both
        # replay dirs (each write stamped only its own files)
        return files_a, restamp_replay_sequence(files_a + files_b)

    frame, _, _, _, q2 = restart_drain(
        spark,
        "s39",
        phase_a.schema,
        # phase 1's 2 files drain in one batch; phase 2's 4 new files
        # split [B0, B1, sentinel 1] + [sentinel 2] — the last sentinel
        # evicts in a real batch (s36/s38 ladder sizing)
        3,
        "append",
        write,
        lambda stream: _click_purchase_join(stream, "left_outer"),
    )
    state_rows = _final_state_rows(q2)
    if state_rows is None or state_rows > 4:
        raise AssertionError(
            f"s39 final join state must be the <= 4 sentinel rows, "
            f"got {state_rows}"
        )
    kept = frame.where(F.col("click_id") >= 0).select(  # drop sentinel-x-sentinel
        "click_id", "purchase_id", "user_id", "p_value"
    )
    # the load-bearing recovery evidence, asserted loudly: every
    # planted click matched its post-restart purchase
    matched = {
        r["click_id"]
        for r in kept.where(
            (F.col("click_id") >= 2**40) & F.col("purchase_id").isNotNull()
        ).collect()
    }
    if matched != {2**40 + j for j in range(_S39_K)}:
        raise AssertionError(
            f"planted pairs must match across the restart (join "
            f"state recovered), got {sorted(matched)}"
        )
    return kept


@query(
    "s40_streaming_agg_resume",
    "LIVE Structured Streaming execution #12 — CHECKPOINT RESUME FOR "
    "ARBITRARY STATEFUL AGGREGATION (applyInPandasWithState / "
    "GroupState), completing the recovery matrix: s37 proved the "
    "dedup store resumes, s39 the symmetric join state, this gate "
    "the user-defined per-key state every custom operator stands on. "
    " The per-source running (count, sum-of-chars) accumulator "
    "(streaming/running.py, the s30 engine) runs over HALF the "
    "ordered replay, STOPS, and a brand-new query restarts from the "
    "same checkpoint over the full directory.  Each phase's update-"
    "mode rows land in idempotent epoch=N parquet; the final row per "
    "key (max epoch, struct-max) equals the batch aggregate over the "
    "WHOLE shard ONLY if the phase-2 batch folded its rows into the "
    "RECOVERED (cnt, total) state — a fresh state would restart every "
    "key at zero and fail the hash.  Phase-2 batch ids are asserted "
    "to strictly extend phase-1's, and every key's final count is "
    "asserted strictly greater than its phase-1 count (the increment "
    "demonstrably BUILT ON recovered state rather than matching by "
    "accident).  Oracle = the plain batch aggregate (n_chars is "
    "integral, so the running float sum is order-exact).",
    """
SELECT source AS key, CAST(COUNT(n_chars) AS BIGINT) AS cnt,
       CAST(SUM(n_chars) AS DOUBLE) AS total
FROM documents
WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 16 = 1
GROUP BY 1
""",
    tags=("M2", "streaming", "stateful"),
)
def s40_streaming_agg_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfn import portable_hash64
    from ..streaming.replay import restart_drain, write_ordered_replay
    from ..streaming.running import running_totals_stream

    shard = (
        table(spark, sf_dir, "documents")
        # 1/16 shard, residue 1 (s37 uses residue 0): restart
        # mechanics are volume-independent; this pays for state ROUNDS
        .filter(portable_hash64(F.col("doc_id").cast("string")) % 16 == 1)
        .select(
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            # synthetic unique event time (s33 precedent)
            F.timestamp_micros(F.col("doc_id")).alias("ts"),
        )
    )

    def write(path: str):
        files = write_ordered_replay(shard, "ts", path, n_files=4)
        return files[:2], files

    frame, first, second, _, _ = restart_drain(
        spark,
        "s40",
        shard.schema,
        # two files per batch: each phase drains in ONE micro-batch —
        # the restart is what this gate tests
        2,
        "update",
        write,
        lambda stream: running_totals_stream(stream, "source", "n_chars"),
    )
    # update-mode rows: the converged total per key is the row
    # from its HIGHEST epoch (struct-max; epoch is unique per key
    # per batch)
    allrows = materialize(
        frame.groupBy("key")
        .agg(F.max(F.struct("epoch", "cnt", "total")).alias("m"))
        .select(
            "key",
            F.col("m.cnt").alias("cnt"),
            F.col("m.total").alias("total"),
        )
    )
    # recovery evidence beyond the hash: every key RE-EMITTED in a
    # phase-2 epoch must carry a count strictly above its phase-1
    # row — the phase-2 batch FOLDED INTO recovered state.  Keys
    # absent from the second half legitimately keep their phase-1
    # row, so the check is scoped to actually-re-emitted keys, and
    # at least one straddling key must exist for the evidence to
    # be non-vacuous.  (O(#sources x #epochs) driver pull.)
    by_epoch: dict = {}
    for r in frame.select("epoch", "key", "cnt").collect():
        by_epoch.setdefault(r["epoch"], {})[r["key"]] = r["cnt"]
    # the LAST NON-EMPTY phase-1 epoch: a trailing no-data
    # micro-batch would write an empty epoch dir, and reading
    # only max(first) would then vacuously empty the baseline
    p1 = next(
        (by_epoch[e] for e in sorted(first, reverse=True) if by_epoch.get(e)),
        {},
    )
    p2_keys = {k for e in second - first for k in by_epoch.get(e, {})}
    final = {r["key"]: r["cnt"] for r in allrows.collect()}
    straddling = p2_keys & set(p1)
    bad = {k for k in straddling if final[k] <= p1[k]}
    if not p1 or not straddling or bad:
        raise AssertionError(
            f"s40 phase-2 keys must strictly extend phase-1 state "
            f"(recovered, then incremented); phase1={p1} "
            f"final={final} straddling={sorted(straddling)} "
            f"violations={sorted(bad)}"
        )
    return allrows


def _hourly_rollup(stream: DataFrame) -> DataFrame:
    """The s41/s44 append-mode rollup: 1-hour watermark, hour x
    event_type count and cents sum, hour buckets as epoch seconds."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("cents"),
        )
        .select(
            F.col("window.start").cast("long").alias("hour_epoch"),
            "event_type",
            "n",
            "cents",
        )
    )


@query(
    "s41_streaming_late_data_drop",
    "LIVE Structured Streaming execution #13 — the LATE-DATA DROP "
    "contract made an external hash signal: every watermark gate so "
    "far proves what the engine KEEPS; this one proves what it "
    "correctly REFUSES, on the operator class where the refusal is "
    "GUARANTEED (stateful windowed aggregation — stream-stream joins "
    "only drop late rows after the matching state is gone, so a "
    "probe there is racy by design).  A planted purchase carries an "
    "event time near the stream START but replays in a file AFTER "
    "all real data; when its batch runs, the watermark already sits "
    "1 hour behind max event time — far past the planted row\'s "
    "window — so the aggregation drops it on input "
    "(numRowsDroppedByWatermark >= 1, ASSERTED) and the append-mode "
    "sink, flushed by the sentinel ladder, equals the batch "
    "per-hour rollup over the REAL shard alone: had the engine "
    "admitted the late row, a new one-row window would appear and "
    "the hash would fail.  Ladder nuance the gate encodes: the "
    "input-side late filter uses the watermark COMMITTED ONE BATCH "
    "EARLIER, so the late file replays two batches after its data "
    "([d1,d2] -> [d3, sentinel 1] -> [LATE, sentinel 2]); one batch "
    "after, Spark still admits it — the documented one-sided "
    "guarantee, measured on a minimal repro.  Hour buckets ship as "
    "epoch seconds (UTC session, the engine-wide convention).",
    f"""
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(FLOOR(value * 100 + 0.5)) AS BIGINT) AS cents
FROM events
WHERE user_id % 8 = 2
GROUP BY 1, 2
""",
    tags=("M2", "streaming", "stateful"),
)
def s41_streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime
    import os
    import tempfile

    from ..streaming.replay import (
        memory_sink_rows,
        restamp_replay_sequence,
        write_ordered_replay,
    )

    base = (
        table(spark, sf_dir, "events")
        # 1/8 shard (residue 2): the drop semantics are volume-
        # independent; the 3 ladder batches dominate the cost
        .where(F.col("user_id") % 8 == 2)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
    )
    bounds = base.agg(F.min("ts"), F.max("ts")).first()
    min_ts, max_ts = bounds[0], bounds[1]
    delay_s = 3600.0
    s_ts = max_ts + datetime.timedelta(seconds=delay_s + 7200.0)
    # the planted LATE row: event time near the stream start, arrival
    # after everything — by then the watermark (max_ts - 1 h) is far
    # past its window, so the aggregation MUST refuse it.  A planted
    # user id no real event carries makes any leak visible even
    # before the hash: its window row would be new, not shifted.
    p_late = spark.createDataFrame(
        [(2**41 + 1, 16000002, "purchase",
          min_ts + datetime.timedelta(seconds=660), 125)],
        base.schema,
    )
    sentinel = spark.createDataFrame(
        [(-1, -1, "click", s_ts, 0), (-1, -1, "purchase", s_ts, 0)],
        base.schema,
    )

    def check(q) -> None:
        # the refusal must be VISIBLE, not inferred: the state
        # operator reports the late input row it dropped
        dropped = _dropped_by_watermark(q)
        if dropped < 1:
            raise AssertionError(
                "s41 expected the planted late purchase to be dropped "
                f"by the watermark (numRowsDroppedByWatermark), got "
                f"{dropped}"
            )
        # append mode + the sentinel ladder flushed every real
        # window; only the sentinels' far-future window may remain
        # buffered (2 rows: one per event_type... both sentinels
        # share one window+type pair per row kind)
        state_rows = _final_state_rows(q)
        if state_rows is None or state_rows > 2:
            raise AssertionError(
                f"s41 final agg state must be the sentinel window rows "
                f"(<= 2), got {state_rows}"
            )

    with tempfile.TemporaryDirectory(
        prefix="s41_late_", ignore_cleanup_errors=True
    ) as work:
        files_data = write_ordered_replay(
            base, "ts", f"{work}/data", n_files=3
        )
        files_late = write_ordered_replay(
            p_late, "ts", f"{work}/late", n_files=1,
            sentinel_df=sentinel, n_sentinels=2,
        )
        # replay order: [d1, d2, d3, s1, LATE, s2] — the late file's
        # EVENT times precede everything, its ARRIVAL follows the
        # first sentinel.  The extra spacing batch matters: the
        # input-side late filter uses the watermark COMMITTED AT THE
        # PREVIOUS BATCH'S END (one batch behind the eviction
        # watermark — measured on a minimal repro), so a late row
        # landing only one batch after its data is still admitted;
        # two batches after, with the sentinel having pushed the
        # committed watermark past everything, the drop is guaranteed
        late_f, s1_f, s2_f = files_late
        ordered = restamp_replay_sequence(
            files_data + [s1_f, late_f, s2_f]
        )
        # one source dir; a rename keeps the stamped mtimes
        src_dir = f"{work}/src"
        os.makedirs(src_dir)
        for f in ordered:
            os.replace(f, os.path.join(src_dir, os.path.basename(f)))
        stream = (
            spark.readStream.schema(base.schema)
            # mFPT=2 ladder: [d1, d2] -> [d3, s1] (committed watermark
            # jumps past every real window at this batch's end; d3's
            # events all exceed batch 0's max, range partitioning
            # guarantees it, so none of its REAL rows are late) ->
            # [LATE, s2] (the drop happens here, against the
            # sentinel-advanced committed watermark, and the final
            # real windows finalize in the same REAL batch)
            .option("maxFilesPerTrigger", "2")
            .parquet(src_dir)
        )
        rows = memory_sink_rows(_hourly_rollup(stream), "s41", check=check)
    return spark.createDataFrame(
        rows, "hour_epoch long, event_type string, n long, cents long"
    )


@query(
    "s42_streaming_python_source",
    "LIVE Structured Streaming execution #14 — the PROGRAMMABLE "
    "SOURCE surface on the streaming engine (Python Data Source API, "
    "SimpleDataSourceStreamReader): sources/pyds.py synthetic_events "
    "generates a bounded, deterministic event stream from pure "
    "64-bit integer arithmetic (event_id, event_id % n_users, "
    "(event_id * 2654435761) % 10000) with dict offsets and an "
    "exactly-once readBetweenOffsets replay path; the complete-mode "
    "per-bucket rollup converges to the closed form the DuckDB "
    "oracle computes from generate_series — the first gate whose "
    "INPUT never touches a file: rows exist only as the connector's "
    "offset arithmetic, proving the engine's source surface is "
    "programmable end-to-end (batch twin equality is pytest-pinned).",
    f"""
WITH g AS (SELECT i AS event_id FROM generate_series(0, 49999) t(i)),
e AS (
  SELECT event_id, event_id % 97 AS user_id,
         (event_id * {_KNUTH_SQL}) % 10000 AS cents
  FROM g
)
SELECT user_id % 10 AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(cents) AS BIGINT) AS total_cents
FROM e GROUP BY 1
""",
    tags=("M2", "streaming", "sources"),
)
def s42_streaming_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time
    import uuid

    from ..sources.pyds import register_synthetic_events

    register_synthetic_events(spark)
    n_events = 50_000
    stream = (
        spark.readStream.format("synthetic_events")
        .option("n_events", n_events)
        .option("n_users", 97)
        .option("rows_per_batch", 12_500)
        .load()
    )
    agg = stream.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("total_cents"),
    )
    sink = f"s42_pyds_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .start()
        )
        try:
            # the source is bounded but availableNow is file-source
            # machinery — poll the complete-mode snapshot until every
            # generated row is aggregated, then stop
            deadline = time.time() + 240
            while time.time() < deadline:
                # a dead stream (e.g. a Python data-source error) would
                # otherwise spin the full deadline against a stale
                # snapshot and mask the real failure (ADVICE r11)
                exc = q.exception()
                if exc is not None:
                    raise exc
                row = spark.sql(f"SELECT SUM(n) AS s FROM {sink}").first()
                if row and row["s"] == n_events:
                    break
                time.sleep(2)
            else:
                raise TimeoutError(
                    f"s42 python-source stream did not converge to "
                    f"{n_events} rows within 240 s"
                )
        finally:
            q.stop()
        rows = spark.sql(
            f"SELECT bucket, n, total_cents FROM {sink}"
        ).collect()
    finally:
        spark.catalog.dropTempView(sink)
    return spark.createDataFrame(
        rows, "bucket long, n long, total_cents long"
    )


@query(
    "s43_streaming_session_resume",
    "LIVE Structured Streaming execution #15 — CHECKPOINT RESUME FOR "
    "SESSION WINDOWS, the fourth and last stateful operator class "
    "without a restart proof (s37 = dedup store, s39 = symmetric join "
    "buffers, s40 = arbitrary GroupState).  Native session_window "
    "(6-hour gap) over a 1/8 events shard (residue 5) runs one "
    "micro-batch over the FIRST-HALF event-time replay, STOPS, and a "
    "brand-new query restarts from the same checkpoint over the full "
    "directory.  A planted user (2147000043) has exactly two events "
    "600 s apart STRADDLING the restart point (mid-300 s in phase 1, "
    "mid+300 s in phase 2): they merge into ONE 2-event session only "
    "through RECOVERED session-window state — a fresh store would "
    "emit a 1-event session and fail both the explicit assertion and "
    "the hash.  Phase-2 epochs are asserted to strictly extend "
    "phase-1's.  The same ladder carries the late-data contract onto "
    "the session-window path (VERDICT r11 stretch): a second planted "
    "user's event times near the stream start but replays AFTER the "
    "first sentinel pair, so the input-side filter (running on the "
    "sentinel-advanced committed watermark) MUST refuse it — "
    "numRowsDroppedByWatermark >= 1 asserted; admission would add a "
    "session row and fail the hash.  Append mode + a 3-sentinel "
    "ladder (mFPT=2 keeps eviction in a REAL batch) flushes every "
    "real session; only the sentinels' far-future session may stay "
    "in state (asserted).  Oracle = the batch sessionize twin (s31's "
    "lag/flag/running-sum CTE, raw-microsecond gap) over the shard "
    "UNION ALL the planted session, whose times the oracle derives "
    "from the same integer-micros midpoint arithmetic the gate uses.",
    """
WITH shard AS (
  SELECT CAST(user_id AS VARCHAR) AS key, ts,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id % 8 = 5
), b AS (
  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) AS mx FROM shard
), flagged AS (
  SELECT key, ts, cents,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY key ORDER BY ts)
                   >= CAST(21600000000 AS BIGINT)
              THEN 1 ELSE 0 END AS brk
  FROM shard
), sids AS (
  SELECT key, ts, cents,
         SUM(brk) OVER (PARTITION BY key ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT key, CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,
       CAST(MAX(epoch_us(ts)) + 21600000000 AS BIGINT) AS end_us,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS cents
FROM sids GROUP BY key, sid
UNION ALL
SELECT '2147000043',
       CAST(mn + (mx - mn) // 2 - 300000000 AS BIGINT),
       CAST(mn + (mx - mn) // 2 + 300000000 + 21600000000 AS BIGINT),
       CAST(2 AS BIGINT), CAST(250 AS BIGINT)
FROM b
""",
    tags=("M2", "streaming", "stateful"),
)
def s43_streaming_session_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import (
        restamp_replay_sequence,
        restart_drain,
        write_ordered_replay,
    )

    gap_us = 21_600_000_000  # 6 h, the s31 contract
    base = (
        table(spark, sf_dir, "events")
        # 1/8 shard, residue 5 (s41 uses 2): restart mechanics are
        # volume-independent; the 4 ladder batches dominate the cost
        .where(F.col("user_id") % 8 == 5)
        .select(
            F.col("user_id").cast("string").alias("key"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
    )
    bounds = base.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mn_us, mx_us = int(bounds[0]), int(bounds[1])
    # integer-micros midpoint — the SAME arithmetic the oracle's CTE
    # runs, so the planted constants agree bit-for-bit cross-engine
    mid_us = mn_us + (mx_us - mn_us) // 2
    plant = spark.createDataFrame(
        [
            ("2147000043", mid_us - 300_000_000, 125),
            ("2147000043", mid_us + 300_000_000, 125),
        ],
        "key string, us long, cents long",
    ).select("key", F.timestamp_micros("us").alias("ts"), "cents")
    phase_a = base.where(F.unix_micros("ts") < mid_us).unionByName(
        plant.where(F.unix_micros("ts") < mid_us)
    )
    phase_b = base.where(F.unix_micros("ts") >= mid_us).unionByName(
        plant.where(F.unix_micros("ts") >= mid_us)
    )
    # far-future sentinels: past every real session end + gap + delay,
    # so the committed watermark they advance flushes ALL real
    # sessions while their own session stays un-emittable in state
    s_us = mx_us + 3600_000_000 + gap_us + 7_200_000_000
    sentinel = spark.createDataFrame(
        [("-1", s_us, 0)], "key string, us long, cents long"
    ).select("key", F.timestamp_micros("us").alias("ts"), "cents")
    # the late plant: event time near the stream START, arrival after
    # the first sentinel pair — by then the committed watermark is
    # far-future and the session operator MUST refuse the row
    p_late = spark.createDataFrame(
        [("2147000044", mn_us + 660_000_000, 125)],
        "key string, us long, cents long",
    ).select("key", F.timestamp_micros("us").alias("ts"), "cents")

    def write(path: str):
        files_a = write_ordered_replay(phase_a, "ts", f"{path}/a", n_files=2)
        files_b = write_ordered_replay(
            phase_b, "ts", f"{path}/b", n_files=2,
            sentinel_df=sentinel, n_sentinels=3,
        )
        late_f = write_ordered_replay(
            p_late, "ts", f"{path}/late", n_files=1
        )[0]
        d3, d4, s1, s2, s3 = files_b
        # one combined mtime order (s39 recipe): phase-2 batches under
        # mFPT=2 are [d3,d4] -> [s1,s2] (committed watermark jumps
        # far-future at this batch's end) -> [LATE,s3] (the refusal,
        # against the sentinel-advanced watermark, and every real
        # session finalizes in the same REAL batch)
        ordered = restamp_replay_sequence(
            files_a + [d3, d4, s1, s2, late_f, s3]
        )
        return ordered[:2], ordered

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy("key", F.session_window("ts", "6 hours").alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("cents"),
            )
            .select(
                "key",
                F.unix_micros("w.start").alias("start_us"),
                F.unix_micros("w.end").alias("end_us"),
                "n_events",
                "cents",
            )
        )

    frame, _, _, _, q2 = restart_drain(
        spark, "s43", phase_a.schema, 2, "append", write, sessions
    )
    # the refusal must be VISIBLE, not inferred (s41 precedent)
    dropped = _dropped_by_watermark(q2)
    if dropped < 1:
        raise AssertionError(
            "s43 expected the planted late event to be dropped by "
            f"the watermark (numRowsDroppedByWatermark), got "
            f"{dropped}"
        )
    # only the sentinels' far-future session may remain buffered
    state_rows = _final_state_rows(q2)
    if state_rows is None or state_rows > 1:
        raise AssertionError(
            f"s43 final session state must be the lone sentinel "
            f"session (<= 1), got {state_rows}"
        )
    allrows = frame.select("key", "start_us", "end_us", "n_events", "cents")
    # recovery evidence beyond the hash: the straddling planted
    # session merged into ONE 2-event row spanning the restart —
    # a fresh phase-2 store would hold (n_events=1, the phase-1
    # event lost) and fail here before the hash does
    planted = [
        (r["start_us"], r["end_us"], r["n_events"], r["cents"])
        for r in allrows.where(F.col("key") == "2147000043").collect()
    ]
    expect = [
        (
            mid_us - 300_000_000,
            mid_us + 300_000_000 + gap_us,
            2,
            250,
        )
    ]
    if planted != expect:
        raise AssertionError(
            f"s43 straddling session must merge across the restart "
            f"through recovered state: expected {expect}, got "
            f"{planted}"
        )
    return allrows


@query(
    "s44_streaming_rocksdb_state",
    "LIVE Structured Streaming execution #16 — the DISK-BACKED STATE "
    "BACKEND the 100 TB deployment actually runs: the same hour x "
    "event_type rollup + checkpoint-restart recipe, executed under "
    "RocksDBStateStoreProvider (state spills to local disk instead "
    "of living on the executor heap — the production choice once "
    "keyed state outgrows memory; the default HDFSBackedStateStore "
    "keeps every version heap-resident).  One micro-batch over the "
    "first-half event-time replay of a 1/8 events shard (residue 6), "
    "STOP, then a new query resumes from the same checkpoint — "
    "RocksDB's snapshot+changelog recovery machinery, not the "
    "in-memory map, must reconstruct the window state.  A planted "
    "pair (event_type='planted', both inside the SAME hour window "
    "derived from the shard's integer-micros midpoint, one event "
    "each side of the mid-hour restart split) merges to one n=2 row "
    "only through recovered state — asserted row-exact before the "
    "hash.  Provider execution is PROVEN, not configured: both "
    "phases' progress must report rocksdb custom metrics "
    "(rocksdbCommit*/rocksdbGet*), so a silent fallback to the "
    "default provider fails the gate.  Phase-2 epochs strictly "
    "extend phase-1's; a 3-sentinel mFPT=2 ladder keeps final "
    "eviction in a REAL batch and leaves at most the lone sentinel "
    "window in state (asserted).  Oracle = the batch rollup over the "
    "shard UNION ALL the two planted input rows, hour buckets as "
    "pure integer floor-to-hour arithmetic.",
    """
WITH shard AS (
  SELECT epoch_us(ts) AS us, event_type,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE user_id % 8 = 6
), b AS (
  SELECT MIN(us) AS mn, MAX(us) AS mx FROM shard
), h AS (
  SELECT (mn + (mx - mn) // 2) // 3600000000 * 3600000000 AS h_us FROM b
), ev AS (
  SELECT us, event_type, cents FROM shard
  UNION ALL SELECT h_us + 900000000, 'planted', 125 FROM h
  UNION ALL SELECT h_us + 2700000000, 'planted', 125 FROM h
)
SELECT CAST(us // 3600000000 * 3600 AS BIGINT) AS hour_epoch, event_type,
       CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS cents
FROM ev GROUP BY 1, 2
""",
    tags=("M2", "streaming", "stateful"),
)
def s44_streaming_rocksdb_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import (
        restamp_replay_sequence,
        restart_drain,
        state_operators,
        write_ordered_replay,
    )

    base = (
        table(spark, sf_dir, "events")
        # 1/8 shard, residue 6: the backend swap is volume-independent;
        # the 4 ladder batches (x state-partition commits) dominate
        .where(F.col("user_id") % 8 == 6)
        .select(
            "event_type",
            F.col("ts").cast("timestamp").alias("ts"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).alias("cents"),
        )
    )
    bounds = base.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mn_us, mx_us = int(bounds[0]), int(bounds[1])
    # the hour containing the midpoint, in the SAME integer-micros
    # arithmetic the oracle's CTE runs; the restart split sits at the
    # mid-hour mark so the planted pair (h+900 s, h+2700 s) is always
    # one event per phase INSIDE one window — no boundary case
    h_us = (mn_us + (mx_us - mn_us) // 2) // 3_600_000_000 * 3_600_000_000
    split_us = h_us + 1_800_000_000
    plant = spark.createDataFrame(
        [
            ("planted", h_us + 900_000_000, 125),
            ("planted", h_us + 2_700_000_000, 125),
        ],
        "event_type string, us long, cents long",
    ).select("event_type", F.timestamp_micros("us").alias("ts"), "cents")
    phase_a = base.where(F.unix_micros("ts") < split_us).unionByName(
        plant.where(F.unix_micros("ts") < split_us)
    )
    phase_b = base.where(F.unix_micros("ts") >= split_us).unionByName(
        plant.where(F.unix_micros("ts") >= split_us)
    )
    s_us = mx_us + 3600_000_000 + 7_200_000_000
    sentinel = spark.createDataFrame(
        [("sentinel", s_us, 0)], "event_type string, us long, cents long"
    ).select("event_type", F.timestamp_micros("us").alias("ts"), "cents")
    conf_keys = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        # state partition count is frozen at the FIRST checkpoint and
        # equals one RocksDB instance per partition per operator — the
        # real sizing decision this gate documents: pick it for target
        # state volume, not the session's shuffle default
        "spark.sql.shuffle.partitions": "8",
    }

    def write(path: str):
        files_a = write_ordered_replay(phase_a, "ts", f"{path}/a", n_files=2)
        files_b = write_ordered_replay(
            phase_b, "ts", f"{path}/b", n_files=2,
            sentinel_df=sentinel, n_sentinels=3,
        )
        # mFPT=2 phase-2 ladder: [b1,b2] -> [s1,s2] (committed
        # watermark jumps far-future) -> [s3] (every real window
        # finalizes in a REAL batch; the sentinel window stays open)
        ordered = restamp_replay_sequence(files_a + files_b)
        return ordered[:2], ordered

    prior = {k: spark.conf.get(k, None) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        frame, _, _, q1, q2 = restart_drain(
            spark, "s44", phase_a.schema, 2, "append", write, _hourly_rollup
        )
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    for q in (q1, q2):
        rocks = sum(
            1
            for ops in state_operators(q)
            for op in ops
            for k in (op.get("customMetrics") or {})
            if k.lower().startswith("rocksdb")
        )
        if rocks < 1:
            raise AssertionError(
                "s44 must EXECUTE on RocksDBStateStoreProvider: no "
                "rocksdb custom metrics in the streaming progress — "
                "the engine silently fell back to the default store"
            )
    state_rows = _final_state_rows(q2)
    if state_rows is None or state_rows > 1:
        raise AssertionError(
            f"s44 final window state must be the lone sentinel "
            f"window (<= 1), got {state_rows}"
        )
    allrows = frame.select("hour_epoch", "event_type", "n", "cents")
    # recovery evidence beyond the hash: the planted pair straddles
    # the restart inside ONE window — a fresh phase-2 RocksDB store
    # would lose the phase-1 event and emit n=1
    planted = [
        (r["hour_epoch"], r["n"], r["cents"])
        for r in allrows.where(F.col("event_type") == "planted").collect()
    ]
    if planted != [(h_us // 1_000_000, 2, 250)]:
        raise AssertionError(
            f"s44 planted window must merge across the restart "
            f"through recovered RocksDB state: expected "
            f"[({h_us // 1_000_000}, 2, 250)], got {planted}"
        )
    return allrows


@query(
    "s30_streaming_running_totals",
    "LIVE Structured Streaming execution under the driver hash gate "
    "(streaming/running.py running_totals_stream, GroupState engine): "
    "the documents parquet replays as a stream (availableNow), the "
    "stateful per-source running (count, sum-of-chars) accumulates "
    "through applyInPandasWithState into a memory sink, and the FINAL "
    "state per key — what any ordered replay converges to — is "
    "emitted.  The oracle is the plain batch aggregate: n_chars is "
    "integral, so the running float sum is order-exact (< 2^53) and "
    "the convergence law holds on any micro-batch split.  Every other "
    "streaming entry is a batch mirror; this one actually runs the "
    "streaming engine.",
    """
SELECT source AS key, CAST(COUNT(n_chars) AS BIGINT) AS cnt,
       CAST(SUM(n_chars) AS DOUBLE) AS total
FROM documents GROUP BY 1
""",
    tags=("M2", "streaming", "stateful"),
)
def s30_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.replay import memory_sink_rows
    from ..streaming.running import running_totals_stream

    stream = stream_table(spark, sf_dir, "documents")
    out = running_totals_stream(stream, "source", "n_chars")
    # memory sink appends in micro-batch order; the LAST row per key is
    # the converged state.  Rows are O(#sources) — a driver-literal pull.
    last: dict = {}
    for r in memory_sink_rows(out, "s30", "update"):
        last[r["key"]] = (r["cnt"], r["total"])
    return spark.createDataFrame(
        [(k, c, t) for k, (c, t) in last.items()],
        "key string, cnt bigint, total double",
    )


@query(
    "s16_cdc_apply",
    "CDC change-log apply (operators/cdc.py): row-level upserts + "
    "tombstones collapse to the final snapshot via max(struct(order, "
    "payload)) — an ordinary combinable aggregate, so map-side partial "
    "aggregation + ONE key shuffle and no window sort (the row_number "
    "formulation sorts every partition; struct-max keeps one candidate "
    "per key per task).  Here events replays as a change log on "
    "user_id with 'error' as the delete op.",
    """
WITH ch AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         event_type, value
  FROM events
),
latest AS (
  SELECT user_id,
         MAX({'ts': ts, 't0': event_id, 'op': op,
              'attrs': {'event_type': event_type, 'value': value}}) AS w
  FROM ch GROUP BY user_id
)
SELECT user_id, w.attrs.event_type AS last_event_type,
       w.attrs.value AS last_value
FROM latest WHERE w.op != 'D'
""",
    tags=("M2", "warehouse"),
)
def s16_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import cdc_apply

    ch = table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )
    return cdc_apply(
        ch,
        key_cols=["user_id"],
        ts_col="ts",
        op_col="op",
        attr_cols=["last_event_type", "last_value"],
        tiebreak_cols=["event_id"],
    )


@query(
    "s17_interval_merge",
    "Gaps-and-islands interval merge (operators/intervals.py): each "
    "event opens a 30-minute validity window; overlapping/touching "
    "windows per user collapse to maximal activity spans.  Running "
    "max-of-previous-ends flags island starts, a prefix sum labels "
    "them, one aggregate emits spans — a single exchange on user_id "
    "(both windows + the groupBy reuse it), no self-join, no O(n²) "
    "overlap blowup.",
    """
WITH iv AS (
  SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e FROM events
),
m AS (
  SELECT user_id, s, e,
         MAX(e) OVER (PARTITION BY user_id ORDER BY s, e
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
),
lab AS (
  SELECT user_id, s, e,
         SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM m
)
SELECT user_id, MIN(s) AS span_start, MAX(e) AS span_end,
       CAST(COUNT(*) AS BIGINT) AS n_merged
FROM lab GROUP BY user_id, island
""",
    tags=("M2", "timeseries"),
)
def s17_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.intervals import merge_intervals

    iv = table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
    )
    return merge_intervals(iv, ["user_id"], "s", "e")


@query(
    "w16_time_range_rolling",
    "Time-based rolling aggregate (W2 extension): 7-day trailing sum/"
    "count per user via a RANGE frame over event time — row-count "
    "frames (W2-W5) are wrong when events are irregularly spaced; the "
    "RANGE frame bounds by time difference.  Spark side orders by "
    "unix_micros with rangeBetween(-7d in µs, 0) ≡ DuckDB RANGE "
    "BETWEEN INTERVAL 7 DAYS PRECEDING.  Decimal-cast before the "
    "frame sum keeps values bit-identical cross-engine.",
    """
SELECT user_id, event_id, ts,
  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS DOUBLE) AS r7_sum,
  CAST(COUNT(*) OVER (
    PARTITION BY user_id ORDER BY ts
    RANGE BETWEEN INTERVAL 7 DAYS PRECEDING AND CURRENT ROW) AS BIGINT) AS r7_n
FROM events
""",
    tags=("M2", "timeseries"),
)
def w16_time_range_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias("r7_sum"),
        F.count(F.lit(1)).over(w).alias("r7_n"),
    )


@query(
    "x_histogram_equi_width",
    "Equi-width histogram of order totals: 20 fixed $25k buckets with "
    "per-bucket count + decimal-exact revenue.  The bucket id is pure "
    "arithmetic (floor(x/w) clamped) — identical IEEE ops on both "
    "engines — and the aggregation is a plain map-side-combinable "
    "groupBy, so a 100 TB histogram costs one scan + a 20-row "
    "shuffle.  (Spark's width_bucket agrees on bucket interiors; the "
    "arithmetic form pins the exact-boundary and overflow semantics "
    "cross-engine — asserted in tests/test_cdc_intervals.py.)",
    """
SELECT CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) AS BIGINT) AS bucket,
       CAST(LEAST(FLOOR(o_totalprice / 25000.0), 19) * 25000.0 AS DOUBLE) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       """
    + DSUM("o_totalprice")
    + """ AS total_price
FROM orders GROUP BY 1, 2
""",
    tags=("M3", "stats"),
)
def x_histogram_equi_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / F.lit(25000.0)), F.lit(19)).cast(
        "long"
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
        .select(
            "bucket",
            (F.col("bucket") * F.lit(25000.0)).alias("bucket_lo"),
            "n_orders",
            "total_price",
        )
    )


@query(
    "x_dedup_chunks",
    "Sub-document exact dedup at 8-word-chunk granularity (operators/"
    "dedup.py chunk_dedup, C4/RefinedWeb-style boilerplate removal): "
    "chunking is a pure projection (non-overlapping slices, O(n)); "
    "globally-first occurrence per chunk text = whole-partition window "
    "min of struct(doc_id, pos) — ONE hash shuffle on the chunk, no "
    "sort, no self-join; reassembly is one doc-keyed groupBy with "
    "order restored by array_sort.  Fully-duplicate docs vanish.  The "
    "oracle replays the exact surviving text.",
    f"""
WITH toks_t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
ch AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ') AS chunk
  FROM toks_t, UNNEST(generate_series(1, CAST(ceil(len(toks) / 8.0) AS BIGINT))) AS t(i)
  WHERE len(toks) > 0
),
f AS (SELECT chunk, MIN({{'d': doc_id, 'p': pos}}) AS w FROM ch GROUP BY chunk)
SELECT c.doc_id,
       string_agg(c.chunk, ' ' ORDER BY c.pos) AS text_dedup,
       CAST(COUNT(*) AS BIGINT) AS n_chunks_kept
FROM ch c JOIN f ON c.chunk = f.chunk AND c.doc_id = f.w.d AND c.pos = f.w.p
GROUP BY c.doc_id
""",
    tags=("M4", "dedup"),
)
def x_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import chunk_dedup

    return chunk_dedup(table(spark, sf_dir, "documents"))


@query(
    "x_curation_temperature_mix",
    "Temperature-based source rebalancing (operators/curation.py "
    "temperature_mix; XLM-R/mT5-style sampling mass ∝ chars^0.5): "
    "per-source keep-rates derive from exact integer char masses, "
    "IEEE-correctly-rounded sqrt, and a decimal normalizing sum "
    "(associative — engine sum order can't drift), then rows keep via "
    "the portable hash, so the oracle replays the EXACT kept set.  "
    "Cost: one 20-row aggregate + broadcast join; the corpus never "
    "shuffles.",
    f"""
WITH g AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS c FROM documents GROUP BY source
),
p AS (SELECT source, c, CAST(sqrt(CAST(c AS DOUBLE)) AS DECIMAL(28,12)) AS p FROM g),
t AS (SELECT CAST(SUM(p) AS DECIMAL(38,12)) AS tot_p, CAST(SUM(c) AS BIGINT) AS tot_c FROM p),
q AS (
  SELECT source,
         LEAST(1.0, ((0.5 * CAST(tot_c AS DOUBLE)) * (CAST(p AS DOUBLE) / CAST(tot_p AS DOUBLE)))
                    / CAST(c AS DOUBLE)) AS qr
  FROM p CROSS JOIN t
)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN q ON d.source = q.source
WHERE {_hash_frac_sql('d.doc_id', 'tmix')} < q.qr
""",
    tags=("M4", "curation"),
)
def x_curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import temperature_mix

    docs = table(spark, sf_dir, "documents")
    return temperature_mix(
        docs, "source", alpha=0.5, budget_frac=0.5, weight_col="n_chars"
    ).select("doc_id", "source", "n_chars")


@query(
    "x_sim_search_pq",
    "Product-quantization ANN (operators/similarity.py, Jegou et al. "
    "TPAMI'11): per-subspace k-means codebooks compress each vector "
    "to m code ids (16-32x smaller); corpus-wide search reads ONLY "
    "codes via an asymmetric-distance lookup (pure map + TakeOrdered, "
    "no shuffle/join/UDF), then a 50-deep exact rerank through a "
    "broadcast semi-join lifts recall@10 (measured 0.5-0.8 rerank vs "
    "0.1-0.6 ADC-only with these small m=8/k=16 codebooks).  The "
    "100 TB memory-bound tier: codes fit where raw vectors cannot.  "
    "Training means are FP-order-dependent, so raw neighbor lists "
    "stay OUT of the hash; the query is gated on the "
    "x_ann_recall_gate pattern: for 3 fixed probe vectors it emits "
    "recall@10 >= 0.2 vs the exact brute-force baseline (generous vs "
    "the 0.5 observed floor; chance is k/n < 0.02) plus the "
    "STRUCTURAL law rerank_recall >= adc_recall — guaranteed because "
    "the ADC top-10 is a subset of the 50-deep shortlist and the "
    "rerank scores candidates with exact cosine, so every true "
    "neighbor the ADC pass finds survives the rerank.  Raw recall "
    "sweeps remain in tests/test_pq.py.",
    """
SELECT CAST(qid AS BIGINT) AS qid, CAST(k AS INT) AS k,
       rerank_recall_ok, rerank_ge_adc_ok
FROM (VALUES (0, 10, TRUE, TRUE), (1, 10, TRUE, TRUE),
             (2, 10, TRUE, TRUE)) v(qid, k, rerank_recall_ok, rerank_ge_adc_ok)
""",
    tags=("M4", "similarity"),
)
def x_sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        brute_force_topk,
        encode_pq,
        pq_adc_topk,
        pq_search_rerank,
        query_vectors_of,
        train_pq,
    )

    qids = (0, 1, 2)
    out = []
    with barrier_scope():
        # spread before materializing: the single-row-group scan would
        # otherwise serialize every downstream map on one task
        emb = materialize(spread(table(spark, sf_dir, "embeddings")))
        cb = train_pq(emb, m=8, k=16, iters=2)
        codes = materialize(encode_pq(emb, cb).select("vec_id", "pq_code"))
        qs = query_vectors_of(emb, qids)

        # ONE job per comparison family (_union_topk_sets): the
        # per-qid loop of separate collects paid job overhead 9x for
        # 90 rows total
        def _sets(mk):
            return _union_topk_sets(
                [mk(qs[qid]).withColumn("__t0", F.lit(qid)) for qid in qids],
                n_tags=1,
            )

        exact = _sets(lambda q: brute_force_topk(emb, q, k=10))
        adc = _sets(lambda q: pq_adc_topk(codes, cb, q, k=10))
        rerank = _sets(
            lambda q: pq_search_rerank(emb, codes, cb, q, k=10, shortlist=50)
        )
        for qid in qids:
            r_adc = len(exact[qid] & adc[qid]) / 10.0
            r_rr = len(exact[qid] & rerank[qid]) / 10.0
            out.append((qid, 10, r_rr >= 0.2, r_rr >= r_adc))
    return spark.createDataFrame(
        out, "qid bigint, k int, rerank_recall_ok boolean, rerank_ge_adc_ok boolean"
    )


def _union_topk_sets(legs: "list[DataFrame]", n_tags: int) -> dict:
    """Union per-query top-k legs (each tagged with literal columns
    ``__t0[, __t1]``) and collect in ONE job, returning
    {tag: set(vec_id)} — the gate queries' batching primitive: every
    leg is an O(k)-row top-k, so the union collects ~100 rows total
    instead of paying one job's scheduling+codegen overhead per leg."""
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    cols = [f"__t{i}" for i in range(n_tags)] + ["vec_id"]
    got: dict = {}
    for r in u.select(*cols).collect():
        key = r[0] if n_tags == 1 else tuple(r[i] for i in range(n_tags))
        got.setdefault(key, set()).add(r["vec_id"])
    return got


@query(
    "x_sim_ivfpq_incremental",
    "Incremental IVF-PQ index maintenance (operators/similarity.py "
    "ivfpq_encode): a 1/4 hash shard plays the daily embedding delta "
    "— encoded against the FROZEN codebooks trained on the other 3/4 "
    "and unioned onto the existing codes, exactly how a 100 TB ANN "
    "index grows (append new files under the partitionBy(cell) "
    "layout; never retrain / re-encode / rewrite existing "
    "partitions).  The oracle recomputes the shard row-counts from "
    "the portable hash and pins two laws TRUE: (a) incremental codes "
    "are byte-identical to re-encoding those rows through the full "
    "frozen-codebook pass — guaranteed because assignment and PQ "
    "argmin are row-local maps over frozen literals, so this law "
    "failing means the encode stopped being row-local; (b) a delta "
    "vector is immediately searchable through the merged index "
    "(top-1 self-recovery probing all cells).",
    """
WITH s AS (
  SELECT CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT) % 4
         AS shard
  FROM embeddings
)
SELECT CAST(SUM(CASE WHEN shard != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN shard = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_delta,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       TRUE AS codes_identical, TRUE AS delta_searchable
FROM s
""",
    tags=("M4", "similarity", "scale"),
)
def x_sim_ivfpq_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        ivfpq_build,
        ivfpq_encode,
        ivfpq_topk,
        query_vectors_of,
    )

    with barrier_scope():
        emb = materialize(spread(table(spark, sf_dir, "embeddings")))
        shard = portable_hash64(F.col("vec_id").cast("string")) % 4
        base, delta = emb.filter(shard != 0), emb.filter(shard == 0)
        codes_base, cb, cents = ivfpq_build(base, k_cells=10, m=8, k_codes=16, iters=2)
        merged = materialize(
            codes_base.unionByName(ivfpq_encode(delta, cb, cents))
        )
        full = ivfpq_encode(emb, cb, cents)
        # law (a): merged == full re-encode, row for row (one collect of
        # 3 O(1) scalars — the gate-query driver-literal pattern)
        stats = (
            merged.alias("a")
            .join(full.alias("b"), "vec_id")
            .agg(
                F.count(F.lit(1)).alias("n_total"),
                F.sum(
                    (
                        (F.col("a.cell") == F.col("b.cell"))
                        & (F.col("a.pq_code") == F.col("b.pq_code"))
                    ).cast("long")
                ).alias("n_same"),
            )
            .first()
        )
        # shard counts from the materialized emb (cheap filters), never a
        # second assign+encode pass over the base shard
        n_total = emb.count()
        n_delta = delta.count()
        n_base = n_total - n_delta
        identical = bool(stats["n_total"] == n_total and stats["n_same"] == n_total)
        # law (b): the lowest-id delta vector self-recovers through the
        # merged index when every cell is probed
        probe_id = delta.agg(F.min("vec_id")).first()[0]
        qv = query_vectors_of(emb, (probe_id,))[probe_id]
        top = ivfpq_topk(
            emb, merged, cb, cents, qv, k=1, n_probe=10, shortlist=50
        ).first()
        searchable = bool(top is not None and top["vec_id"] == probe_id)
    return spark.createDataFrame(
        [(n_base, n_delta, n_total, identical, searchable)],
        "n_base bigint, n_delta bigint, n_total bigint, "
        "codes_identical boolean, delta_searchable boolean",
    )


@query(
    "x_sim_search_ivfpq",
    "IVF-PQ ANN (operators/similarity.py ivfpq_build/ivfpq_topk — the "
    "FAISS IVFx,PQy layout, Jegou et al. TPAMI'11 §V): coarse k-means "
    "cells PRUNE (search touches n_probe/k_cells of the codes table — "
    "partition pruning when codes are written partitioned by cell), "
    "per-subspace PQ codebooks over the cell RESIDUALS x-centroid "
    "COMPRESS (residuals have far less variance than raw vectors, so "
    "the same m x k budget quantizes finer: measured recall@10 floor "
    "0.6 vs flat PQ's 0.5 at sf0.1), exact cosine rerank of the ADC "
    "shortlist through one broadcast semi-join.  The 100 TB "
    "memory-AND-compute-bound tier.  Training is FP-order-dependent, "
    "so raw neighbor lists stay OUT of the hash (x_ann_recall_gate "
    "pattern): for 3 fixed probes x n_probe in {1,2} the oracle pins "
    "recall@10 >= 0.3 vs exact brute force (observed floor 0.6; "
    "chance < 0.02).  No probe-monotonicity law is claimed: a larger "
    "probed candidate set can displace shortlist members, unlike "
    "x_ann_recall_gate's raw-IVF superset law.",
    """
SELECT CAST(qid AS BIGINT) AS qid, CAST(n_probe AS INT) AS n_probe,
       CAST(k AS INT) AS k, recall_ok
FROM (VALUES (0, 1, 10, TRUE), (0, 2, 10, TRUE),
             (1, 1, 10, TRUE), (1, 2, 10, TRUE),
             (2, 1, 10, TRUE), (2, 2, 10, TRUE)) v(qid, n_probe, k, recall_ok)
""",
    tags=("M4", "similarity", "scale"),
)
def x_sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        brute_force_topk,
        ivfpq_build,
        ivfpq_topk,
        query_vectors_of,
    )

    qids = (0, 1, 2)
    out = []
    with barrier_scope():
        # spread before materializing: the single-row-group scan would
        # otherwise serialize every downstream map on one task
        emb = materialize(spread(table(spark, sf_dir, "embeddings")))
        codes, cb, cents = ivfpq_build(emb, k_cells=10, m=8, k_codes=16, iters=2)
        codes = materialize(codes)
        qs = query_vectors_of(emb, qids)
        # batch the 3 exact baselines into ONE job and the 6
        # qid x n_probe searches into ONE job (_union_topk_sets)
        exact = _union_topk_sets(
            [
                brute_force_topk(emb, qs[qid], k=10).withColumn("__t0", F.lit(qid))
                for qid in qids
            ],
            n_tags=1,
        )
        got = _union_topk_sets(
            [
                ivfpq_topk(
                    emb, codes, cb, cents, qs[qid],
                    k=10, n_probe=n_probe, shortlist=50,
                )
                .withColumn("__t0", F.lit(qid))
                .withColumn("__t1", F.lit(n_probe))
                for qid in qids
                for n_probe in (1, 2)
            ],
            n_tags=2,
        )

        for qid in qids:
            for n_probe in (1, 2):
                hits = exact[qid] & got.get((qid, n_probe), set())
                out.append((qid, n_probe, 10, len(hits) / 10.0 >= 0.3))
    return spark.createDataFrame(
        out, "qid bigint, n_probe int, k int, recall_ok boolean"
    )


_PR_ITER = """
SELECT n.node,
       {base} + (85 * COALESCE(s.s, 0)) // 100 AS rank_fp
FROM pr_nodes n LEFT JOIN (
  SELECT e.dst AS node, SUM(r.rank_fp // d.outdeg) AS s
  FROM pr_e e JOIN {prev} r ON e.src = r.node JOIN pr_deg d ON e.src = d.node
  GROUP BY e.dst
) s ON n.node = s.node
"""


def _pagerank_oracle_sql(iters: int = 3) -> str:
    edges = "SELECT l_suppkey AS src, l_partkey + 1000000 AS dst FROM lineitem"
    pre = f"""
WITH pr_e AS ({edges}),
pr_nodes AS (SELECT src AS node FROM pr_e UNION SELECT dst FROM pr_e),
pr_deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM pr_e GROUP BY src),
pr_n AS (SELECT COUNT(*) AS n FROM pr_nodes),
pr_0 AS (SELECT node, 1000000000000000 // n AS rank_fp FROM pr_nodes, pr_n)
"""
    base = "(1000000000000000 * 15) // 100 // (SELECT n FROM pr_n)"
    its = ",\n".join(
        f"pr_{i + 1} AS ({_PR_ITER.format(base=base, prev=f'pr_{i}')})"
        for i in range(iters)
    )
    return (
        pre
        + ", "
        + its
        + f"""
SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp,
       CAST(rank_fp AS DOUBLE) / 1e15 AS rank
FROM pr_{iters}
"""
    )


@query(
    "x_graph_pagerank",
    "Fixed-iteration PageRank (operators/graph.py pagerank, Page et "
    "al. 1999) over the supplier→part purchase graph (duplicate edge "
    "rows = weights).  Computed in 1e-15 FIXED-POINT INTEGER "
    "arithmetic: float contribution sums are aggregation-order "
    "dependent, integers are associative + div-truncation identical "
    "everywhere — so ranks are bit-identical on any cluster size and "
    "the oracle replays all 3 unrolled iterations exactly.  Per "
    "iteration: one dst-keyed shuffle; rank⨝edges co-partitions on "
    "src.  The curation use: domain-authority quality signals.",
    _pagerank_oracle_sql(3),
    tags=("M4", "graph"),
)
def x_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    edges = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(1000000)).alias("dst"),
    )
    return pagerank(edges, iters=3, damping=0.85)


@query(
    "w17_ewma_smooth",
    "EWMA trend smoothing per series (functions/rolling.py ewma; "
    "pandas ewm(adjust=True) semantics, decay 0.5/step truncated at "
    "40 lags where terms fall below 1e-12 of the newest): the "
    "recursion can't be a window aggregate and the rescaled-cumsum "
    "trick overflows, so the dominant terms unroll as an explicit lag "
    "chain over ONE window sort — O(40) per row, no extra shuffle.  "
    "Numerator/denominator fold left-to-right with identical float "
    "literals on both engines → bit-identical, no rounding needed.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month, qty,
       {ewma_sql('qty', '(PARTITION BY flag ORDER BY month)')} AS qty_ewma
FROM monthly
""",
    tags=("M2", "timeseries"),
)
def w17_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..functions.rolling import ewma

    m = monthly_lineitem(spark, sf_dir)
    w = Window.partitionBy("flag").orderBy("month")
    return m.select(
        "flag", "month", "qty", ewma("qty", w).alias("qty_ewma")
    )


@query(
    "u06_unpivot_melt",
    "Wide→long unpivot (pd.melt analogue, §2.6 family): native "
    "DataFrame.unpivot (Spark's UNPIVOT plan node — a zero-shuffle "
    "row-local expansion, NOT a union of N scans: one pass emits all "
    "metric rows).  Oracle = the UNION ALL formulation, value-equal "
    "by construction.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month, 'revenue' AS metric, revenue AS value FROM monthly
UNION ALL
SELECT flag, month, 'qty' AS metric, qty AS value FROM monthly
""",
    tags=("M1", "setops"),
)
def u06_unpivot_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir)
    return m.unpivot(
        ids=["flag", "month"],
        values=["revenue", "qty"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "w18_rank_family",
    "Ranking-function family over one window (rank / dense_rank / "
    "percent_rank / cume_dist per customer by order date): all four "
    "share a single sort — Catalyst plans ONE Window node, one "
    "exchange.  row_number is deliberately absent: it is "
    "nondeterministic among order-date ties; the peer-group-based "
    "functions are tie-stable and engine-identical (their divisions "
    "are single IEEE ops on identical integers).",
    """
SELECT o_orderkey, o_custkey, o_orderdate,
       CAST(rank() OVER w AS BIGINT) AS rk,
       CAST(dense_rank() OVER w AS BIGINT) AS drk,
       percent_rank() OVER w AS prk,
       cume_dist() OVER w AS cd
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate)
""",
    tags=("M2", "window"),
)
def w18_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.percent_rank().over(w).alias("prk"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "s18_incremental_rollup",
    "Incremental aggregate maintenance (operators/incremental.py): "
    "history (shipdate < 1997) reduces to a mergeable state table "
    "(count / EXACT decimal sum / min / max per group); the 1997+ "
    "increment's state merges in WITHOUT rescanning history — the "
    "daily-rollup pattern where history is PB and the increment is "
    "GB.  Decimal sums are associative, so the merged result is "
    "bit-identical to the full recompute: the oracle IS the full "
    "recompute.  Cost: map-side-combinable groupBys + an O(groups) "
    "state merge, independent of history size.",
    f"""
SELECT l_returnflag AS flag, {MONTH_OF('l_shipdate')} AS month,
       CAST(COUNT(l_quantity) AS BIGINT) AS n_l_quantity,
       {DSUM('l_quantity')} AS sum_l_quantity,
       {DSUM('l_quantity')} / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_l_quantity,
       MIN(l_quantity) AS min_l_quantity,
       MAX(l_quantity) AS max_l_quantity
FROM lineitem
GROUP BY 1, 2
""",
    tags=("M2", "warehouse"),
)
def s18_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import finalize, merge_states, partial_aggregate

    li = table(spark, sf_dir, "lineitem").withColumn(
        "month", F.trunc(F.col("l_shipdate").cast("date"), "month")
    ).withColumnRenamed("l_returnflag", "flag")
    keys, measures = ["flag", "month"], ["l_quantity"]
    history = li.filter(F.col("l_shipdate") < "1997-01-01")
    increment = li.filter(F.col("l_shipdate") >= "1997-01-01")
    merged = merge_states(
        partial_aggregate(history, keys, measures),
        partial_aggregate(increment, keys, measures),
        keys,
        measures,
    )
    return finalize(merged, keys, measures)


@query(
    "x_incremental_histogram",
    "Incremental QUANTILE maintenance (operators/incremental.py "
    "histogram_state / merge_histogram_states / "
    "quantiles_from_histogram): count/sum/min/max merge trivially "
    "(s18), but percentiles need a DISTRIBUTION state — a fixed-edge "
    "equi-width histogram merges EXACTLY (bin-wise count sums, any "
    "merge order), so history never rescans when the daily increment "
    "lands and state stays O(groups x bins) whatever the history "
    "size.  Here orders split ~9:1 by portable key hash into "
    "history/increment, each reduces to 64-bin state over "
    "o_totalprice in [0, 512000), the two states merge, and p50/p95 "
    "read off the merged cumulative counts with in-bin linear "
    "interpolation (the unique bin whose cumulative span contains "
    "q*total).  The oracle recomputes the identical integer bin "
    "arithmetic and interpolation from the FULL table — merged == "
    "recompute is the property under the hash.  Rounding is the "
    "portable FLOOR(x*1e6+0.5)/1e6, never ROUND(double).",
    """
WITH b AS (
  SELECT o_orderpriority AS priority,
         LEAST(GREATEST(CAST(FLOOR(o_totalprice / 8000.0) AS INT), 0), 63)
           AS bin_idx
  FROM orders WHERE o_totalprice IS NOT NULL
),
h AS (SELECT priority, bin_idx, COUNT(*) AS n FROM b GROUP BY 1, 2),
c AS (SELECT priority, bin_idx, n,
             SUM(n) OVER (PARTITION BY priority ORDER BY bin_idx) AS cum,
             SUM(n) OVER (PARTITION BY priority) AS total
      FROM h)
SELECT priority,
       CAST(MAX(total) AS BIGINT) AS n_total,
       FLOOR(MAX(CASE WHEN cum - n < 0.5 * total AND cum >= 0.5 * total
             THEN 8000.0 * (bin_idx + (0.5 * total - (cum - n)) / n) END)
             * 1e6 + 0.5) / 1e6 AS q50,
       FLOOR(MAX(CASE WHEN cum - n < 0.95 * total AND cum >= 0.95 * total
             THEN 8000.0 * (bin_idx + (0.95 * total - (cum - n)) / n) END)
             * 1e6 + 0.5) / 1e6 AS q95
FROM c GROUP BY priority
""",
    tags=("M2", "warehouse"),
)
def x_incremental_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.incremental import (
        histogram_state,
        merge_histogram_states,
        quantiles_from_histogram,
    )

    orders = table(spark, sf_dir, "orders").withColumnRenamed(
        "o_orderpriority", "priority"
    )
    split = F.col("o_orderkey") % 10
    history = orders.filter(split != 0)
    increment = orders.filter(split == 0)
    keys = ["priority"]
    lo, hi, n_bins = 0.0, 512000.0, 64
    merged = merge_histogram_states(
        histogram_state(history, keys, "o_totalprice", lo, hi, n_bins),
        histogram_state(increment, keys, "o_totalprice", lo, hi, n_bins),
        keys,
    )
    return quantiles_from_histogram(merged, keys, lo, hi, n_bins, [0.5, 0.95])


@query(
    "x_incremental_quantile_sketch",
    "DOMAIN-FREE incremental quantiles (operators/incremental.py "
    "quantile_sketch_state / merge_quantile_sketch_states / "
    "quantiles_from_sketch): the histogram state (x_incremental_"
    "histogram) needs [lo, hi) fixed at creation — this rank sketch "
    "does not: k=128 equal-weight anchors (exact percentiles at "
    "(i+0.5)/k, Spark's sort-based percentile, zero UDF) per state, "
    "weighted exact-percentile recompression per merge.  Orders "
    "split into 3 daily shards (o_orderkey % 3), each reduces to "
    "sketch state, the states merge in a chain, and the gate asserts "
    "the PROVABLE worst-case rank bound: every compression moves an "
    "estimate by <= 1/(2k) of the group's weight, so after 1 shard "
    "compression + 2 merges + the half-slab estimate step any "
    "q-estimate's exact rank is within 4/(2k) = 2/k of q*n "
    "(within_bounds pinned TRUE per (priority, q), plus the sketch's "
    "own n_total pinned to the exact group count).  The bound holds "
    "for ANY merge order/partitioning, which is what makes the hash "
    "stable and the operator honest at 100 TB where merge trees are "
    "scheduler-shaped.",
    """
SELECT o.o_orderpriority AS priority, q.q AS q,
       CAST(COUNT(o.o_totalprice) AS BIGINT) AS n_total,
       TRUE AS within_bounds
FROM orders o CROSS JOIN (SELECT unnest([25, 50, 90]) AS q) q
GROUP BY 1, 2
""",
    tags=("M2", "warehouse"),
)
def x_incremental_quantile_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.incremental import (
        merge_quantile_sketch_states,
        quantile_sketch_state,
        quantiles_from_sketch,
    )

    k = 128
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_totalprice",
        "o_orderkey",
    )
    keys = ["priority"]
    shards = [
        quantile_sketch_state(
            orders.where(F.col("o_orderkey") % 3 == d), keys, "o_totalprice", k
        )
        for d in range(3)
    ]
    state = merge_quantile_sketch_states(
        merge_quantile_sketch_states(shards[0], shards[1], keys, k),
        shards[2],
        keys,
        k,
    )
    est = quantiles_from_sketch(state, keys, [0.25, 0.5, 0.9]).select(
        "priority",
        "n_total",
        F.expr("stack(3, 25, q25, 50, q50, 90, q90) AS (q, est)"),
    )
    # rank-verify each estimate against the RAW table: the 15-row
    # estimate side broadcasts, one shuffle by group
    joined = orders.join(F.broadcast(est), "priority")
    return (
        joined.groupBy("priority", "q")
        .agg(
            F.count("o_totalprice").alias("cnt"),
            F.count(
                F.when(F.col("o_totalprice") <= F.col("est"), F.lit(1))
            ).alias("rnk"),
            F.min("n_total").alias("sketch_n"),
        )
        .select(
            "priority",
            "q",
            F.col("sketch_n").cast("long").alias("n_total"),
            (
                (F.col("sketch_n") == F.col("cnt"))
                & (
                    F.abs(
                        F.col("rnk")
                        - F.col("q") / F.lit(100.0) * F.col("cnt")
                    )
                    <= F.col("cnt") * F.lit(2.0 / k) + F.lit(1.0)
                )
            ).alias("within_bounds"),
        )
    )


@query(
    "x_incremental_distinct_sketch",
    "Mergeable DISTINCT-COUNT maintenance (operators/incremental.py "
    "distinct_sketch_state / merge_distinct_sketch_states / "
    "distinct_from_sketch): KMV / bottom-k (Bar-Yossef et al. 2002) — "
    "the k=256 smallest distinct md5-portable 60-bit hashes per "
    "group.  Unlike the quantile sketch's generation-bounded error, "
    "the KMV merge is EXACT (k smallest of a union is a function of "
    "the union), so the state from 3 daily shards merged in a chain "
    "is bit-identical to a single pass — which lets the DuckDB "
    "oracle reproduce the ESTIMATE itself (same hashes, same "
    "(k-1)*2^60/(h_k+1) estimator, one IEEE double division, "
    "portable floor-rounding), not merely a bound.  within_bounds "
    "additionally pins honesty against the exact COUNT(DISTINCT) at "
    "5 sigma (~32% for k=256; actual planted error is far smaller "
    "and fully deterministic).  This answers 'how many distinct "
    "users did this group EVER see' with O(groups x k) state and "
    "O(groups x k) daily merges — no history rescan, the metric "
    "count/sum/min/max state cannot provide.",
    """
WITH h AS (
  SELECT DISTINCT o_orderpriority AS priority,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM orders WHERE o_custkey IS NOT NULL
),
r AS (
  SELECT priority, h,
         row_number() OVER (PARTITION BY priority ORDER BY h) AS rn
  FROM h
),
kmv AS (
  SELECT priority, CAST(COUNT(*) AS INT) AS n_state, MAX(h) AS hk
  FROM r WHERE rn <= 256 GROUP BY 1
),
ex AS (
  SELECT o_orderpriority AS priority,
         COUNT(DISTINCT o_custkey) AS nd
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
),
est AS (
  SELECT kmv.priority, kmv.n_state,
         FLOOR((CASE WHEN kmv.n_state < 256 THEN CAST(kmv.n_state AS DOUBLE)
                ELSE 255.0 * 1152921504606846976 / (CAST(kmv.hk AS DOUBLE) + 1.0)
                END) * 1e6 + 0.5) / 1e6 AS est_distinct,
         CAST(ex.nd AS BIGINT) AS exact_distinct
  FROM kmv JOIN ex ON kmv.priority = ex.priority
)
SELECT priority, n_state, est_distinct, exact_distinct,
       ABS(est_distinct - exact_distinct) <= 0.32 * exact_distinct
         AS within_bounds
FROM est
""",
    tags=("M2", "warehouse"),
)
def x_incremental_distinct_sketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.incremental import (
        distinct_from_sketch,
        distinct_sketch_state,
        merge_distinct_sketch_states,
    )

    k = 256
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_custkey",
        "o_orderkey",
    )
    keys = ["priority"]
    shards = [
        distinct_sketch_state(
            orders.where(F.col("o_orderkey") % 3 == d), keys, "o_custkey", k
        )
        for d in range(3)
    ]
    state = merge_distinct_sketch_states(
        merge_distinct_sketch_states(shards[0], shards[1], keys, k),
        shards[2],
        keys,
        k,
    )
    est = distinct_from_sketch(state, keys, k)
    exact = (
        orders.where(F.col("o_custkey").isNotNull())
        .groupBy("priority")
        .agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    )
    return est.join(exact, "priority").select(
        "priority",
        "n_state",
        "est_distinct",
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        (
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            <= F.lit(0.32) * F.col("exact_distinct")
        ).alias("within_bounds"),
    )


# 3x the KMV relative standard error 1/sqrt(k-2) at k=64 — the
# accuracy bound x_kmv_accuracy_gate asserts.  One shared literal so
# the Spark plan and the DuckDB oracle compare against the identical
# double.
_KMV_K = 64
_KMV_RSE_BOUND = 3.0 / math.sqrt(float(_KMV_K - 2))


@query(
    "x_kmv_accuracy_gate",
    "KMV estimator ACCURACY audit across merge groupings (the "
    "x_lsh_recall_gate pattern applied to the distinct sketch): the "
    "events user_id cardinality per event_type is estimated from "
    "k=64 bottom-k states built under TWO different shardings "
    "(event_id % 3 and % 4 — the same user lands in several shards, "
    "so the merge must dedupe across shard states) and chain-merged; "
    "because the KMV merge is EXACT, both groupings' estimates are "
    "bit-identical to the single-pass sketch, which is what the "
    "oracle computes once and replicates per grouping label — the "
    "hash therefore pins merge-grouping invariance, not just the "
    "values.  Every row asserts |est - exact| / exact <= 3/sqrt(k-2) "
    "(~0.381 at k=64) IN THE PLAN (assert_true): if the estimator "
    "drifts outside three relative standard errors on real data the "
    "gate throws rather than shifting a metric.  k is sized BELOW "
    "the sf0.01 cardinality (150 users) so the estimator branch — "
    "not the exact small-group branch — is what every scale factor "
    "exercises.",
    f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
  FROM h
),
kmv AS (
  SELECT event_type, CAST(COUNT(*) AS INT) AS n_state, MAX(h) AS hk
  FROM r WHERE rn <= {_KMV_K} GROUP BY 1
),
ex AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS nd
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
),
est AS (
  SELECT kmv.event_type, kmv.n_state,
         FLOOR((CASE WHEN kmv.n_state < {_KMV_K}
                THEN CAST(kmv.n_state AS DOUBLE)
                ELSE {float(_KMV_K - 1)!r} * 1152921504606846976
                     / (CAST(kmv.hk AS DOUBLE) + 1.0)
                END) * 1e6 + 0.5) / 1e6 AS est_distinct,
         CAST(ex.nd AS BIGINT) AS exact_distinct
  FROM kmv JOIN ex USING (event_type)
),
b AS (
  SELECT event_type, n_state, est_distinct, exact_distinct,
         FLOOR(ABS(est_distinct - exact_distinct) / exact_distinct * 1e9
               + 0.5) / 1e9 AS rel_err
  FROM est
)
SELECT event_type, g.grouping, n_state, est_distinct, exact_distinct,
       rel_err, rel_err <= {_KMV_RSE_BOUND!r} AS within_rse
FROM b CROSS JOIN (VALUES ('shards3'), ('shards4')) g(grouping)
""",
    tags=("M2", "warehouse", "scale"),
)
def x_kmv_accuracy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..operators.incremental import (
        distinct_from_sketch,
        distinct_sketch_state,
        merge_distinct_sketch_states,
    )

    k = _KMV_K
    ev = table(spark, sf_dir, "events").select(
        "event_type", "user_id", "event_id"
    )
    keys = ["event_type"]

    def grouping(m: int) -> DataFrame:
        shards = [
            distinct_sketch_state(
                ev.where(F.col("event_id") % m == i), keys, "user_id", k
            )
            for i in range(m)
        ]
        state = reduce(
            lambda a, b: merge_distinct_sketch_states(a, b, keys, k), shards
        )
        return distinct_from_sketch(state, keys, k).withColumn(
            "grouping", F.lit(f"shards{m}")
        )

    exact = (
        ev.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    est = grouping(3).unionByName(grouping(4))
    rel = F.abs(
        F.col("est_distinct") - F.col("exact_distinct").cast("double")
    ) / F.col("exact_distinct").cast("double")
    return (
        est.join(F.broadcast(exact), "event_type")
        .withColumn(
            "rel_err", F.floor(rel * F.lit(1e9) + F.lit(0.5)) / F.lit(1e9)
        )
        # loud in-plan accuracy assertion: 3 relative standard errors
        .where(
            F.assert_true(
                F.col("rel_err") <= F.lit(_KMV_RSE_BOUND),
                F.concat(
                    F.lit("KMV estimate outside 3*RSE for "),
                    F.col("event_type"),
                    F.lit(": rel_err="),
                    F.col("rel_err").cast("string"),
                ),
            ).isNull()
        )
        .select(
            "event_type",
            "grouping",
            "n_state",
            "est_distinct",
            "exact_distinct",
            "rel_err",
            (F.col("rel_err") <= F.lit(_KMV_RSE_BOUND)).alias("within_rse"),
        )
    )


@query(
    "w19_outlier_zscore",
    "Per-series z-score outlier flags over the monthly grain: mean "
    "and sample-variance derive from EXACT decimal Σx/Σx² window "
    "sums (one partition-wide frame, no sort) — the two-pass 'mean "
    "then deviations' formulation needs a second shuffle; the "
    "sum-of-squares identity needs none.  z rounds to 9 decimals "
    "(several orders above worst-case cross-engine FP error, "
    "plans/base.py contract); |z|>2 flags anomalous months.",
    f"""
WITH {MONTHLY_CTE},
s AS (
  SELECT flag, month, qty,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         CAST(SUM(CAST(qty AS DECIMAL(18,6))) OVER w AS DOUBLE) AS sx,
         CAST(SUM(CAST(qty AS DECIMAL(28,6)) * CAST(qty AS DECIMAL(28,6))) OVER w AS DOUBLE) AS sxx
  FROM monthly
  WINDOW w AS (PARTITION BY flag)
)
SELECT flag, month, qty,
       ROUND((qty - sx / n) / NULLIF(sqrt((sxx - sx * sx / n) / (n - 1)), 0), 9) AS z,
       CAST(CASE WHEN abs((qty - sx / n) / NULLIF(sqrt((sxx - sx * sx / n) / (n - 1)), 0)) > 2
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM s WHERE n > 1
""",
    tags=("M3", "stats"),
)
def w19_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir)
    w = Window.partitionBy("flag")
    qd = F.col("qty").cast("decimal(18,6)")
    s = m.select(
        "flag",
        "month",
        "qty",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(qd).over(w).cast("double").alias("sx"),
        F.sum(qd * qd).over(w).cast("double").alias("sxx"),
    ).filter(F.col("n") > 1)
    # try_divide: a constant (zero-variance) group yields NULL z /
    # is_outlier=0 instead of DIVIDE_BY_ZERO under ANSI (oracle: NULLIF)
    z = F.try_divide(
        F.col("qty") - F.col("sx") / F.col("n"),
        F.sqrt(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
        ),
    )
    return s.select(
        "flag",
        "month",
        "qty",
        F.round(z, 9).alias("z"),
        F.when(F.abs(z) > 2, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("is_outlier"),
    )


def _profile_col_sql(c: str, kind: str) -> str:
    if kind == "num":
        mn, mx = f"CAST(MIN({c}) AS DOUBLE)", f"CAST(MAX({c}) AS DOUBLE)"
        smn = smx = "CAST(NULL AS VARCHAR)"
    elif kind == "ts":
        mn = f"CAST(epoch_us(MIN({c})) AS DOUBLE)"
        mx = f"CAST(epoch_us(MAX({c})) AS DOUBLE)"
        smn = smx = "CAST(NULL AS VARCHAR)"
    else:
        mn = mx = "CAST(NULL AS DOUBLE)"
        smn, smx = f"MIN({c})", f"MAX({c})"
    return (
        f"SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n, "
        f"CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null, "
        f"{mn} AS min_num, {mx} AS max_num, {smn} AS min_str, {smx} AS max_str "
        f"FROM orders"
    )


_PROFILE_KINDS = [
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


@query(
    "x_profile_dataset",
    "One-scan dataset profiler (operators/profile.py): per-column "
    "n / null-count / typed bounds (numeric→double, string→string, "
    "timestamp→epoch-micros — engine-portable, no number formatting) "
    "from a SINGLE map-side-combinable agg + a 1-row explode, so "
    "profiling cost is one scan + a 1-row shuffle regardless of "
    "column count (the oracle's per-column UNION ALL formulation "
    "scans k times — exactly what this operator avoids at 100 TB).  "
    "HLL++ approx_distinct rides the same scan; estimator-specific, "
    "so the oracled projection drops it and tests bound its error.",
    "\nUNION ALL\n".join(_profile_col_sql(c, k) for c, k in _PROFILE_KINDS),
    tags=("M3", "profiling"),
)
def x_profile_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profile import profile_dataset

    return profile_dataset(table(spark, sf_dir, "orders")).select(
        F.col("column").alias("col_name"),
        "n",
        "n_null",
        "min_num",
        "max_num",
        "min_str",
        "max_str",
    )


def _check_sql(name: str, vexpr: str) -> str:
    return (
        f"SELECT '{name}' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_rows, "
        f"CAST({vexpr} AS BIGINT) AS n_violations, "
        f"CAST(CASE WHEN {vexpr} = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed "
        "FROM orders"
    )


@query(
    "x_expectations_report",
    "Declarative data-quality gate (operators/expectations.py): "
    "not-null / range / set-membership checks compile into ONE "
    "conditional-agg scan regardless of check count; uniqueness is a "
    "partial-agg COUNT DISTINCT shuffle; referential integrity is a "
    "broadcast LEFT join + conditional agg (LEFT not ANTI so the "
    "total and orphan counts share the scan, and no 1-row cartesian "
    "appears).  Report: (check_name, n_rows, n_violations, passed) "
    "with BIGINT 0/1 — the publish/quarantine decision for an "
    "ingestion batch at 100 TB.",
    "\nUNION ALL\n".join(
        [
            _check_sql("not_null:o_custkey", "COUNT(*) - COUNT(o_custkey)"),
            _check_sql(
                "range:o_totalprice",
                "COUNT(*) FILTER (WHERE o_totalprice < 0 OR o_totalprice > 400000)",
            ),
            _check_sql(
                "in_set:o_orderstatus",
                "COUNT(*) FILTER (WHERE NOT o_orderstatus IN ('O', 'F'))",
            ),
            _check_sql("unique:o_orderkey", "COUNT(*) - COUNT(DISTINCT o_orderkey)"),
            _check_sql(
                "fk:o_custkey",
                "(SELECT COUNT(*) FROM orders o WHERE NOT EXISTS "
                "(SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))",
            ),
        ]
    ),
    tags=("M3", "quality"),
)
def x_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.expectations import expectations_report

    return expectations_report(
        table(spark, sf_dir, "orders"),
        not_null=("o_custkey",),
        ranges={"o_totalprice": (0, 400000)},
        in_set={"o_orderstatus": ("O", "F")},
        unique=(("o_orderkey",),),
        references=(("o_custkey", table(spark, sf_dir, "customer"), "c_custkey"),),
    )


@query(
    "s19_snapshot_diff",
    "Snapshot diff (operators/cdc.py snapshot_diff — the inverse of "
    "s16_cdc_apply): old/new table states derived deterministically "
    "from orders by key residue (%7==0 missing from old → inserts, "
    "%7==1 dropped from new → deletes, %7==2 price-bumped → updates); "
    "ONE full-outer shuffle join on the key, null-safe <=> compare, "
    "unchanged keys filtered before projection so output scales with "
    "churn, not table size.  This is the Delta-CDF / changelog-"
    "derivation primitive.",
    """
WITH old AS (
  SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 != 0
), new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 2 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS o_totalprice
  FROM orders WHERE o_orderkey % 7 != 1
), diff AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         CASE WHEN o.o_orderkey IS NULL THEN 'insert'
              WHEN n.o_orderkey IS NULL THEN 'delete'
              WHEN o.o_totalprice IS DISTINCT FROM n.o_totalprice THEN 'update'
         END AS change_type,
         o.o_totalprice AS old_o_totalprice,
         n.o_totalprice AS new_o_totalprice
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT * FROM diff WHERE change_type IS NOT NULL
""",
    tags=("M2", "cdc"),
)
def s19_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.cdc import snapshot_diff

    orders = table(spark, sf_dir, "orders")
    res = F.col("o_orderkey") % 7
    old = orders.filter(res != 0).select("o_orderkey", "o_totalprice")
    new = orders.filter(res != 1).select(
        "o_orderkey",
        F.when(res == 2, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    return snapshot_diff(old, new, ["o_orderkey"], ["o_totalprice"])


@query(
    "s20_event_transitions",
    "First-order Markov transition matrix over per-user event "
    "sequences: lag(event_type) over (user, ts, event_id) — the "
    "tiebreak key makes the order total, so the answer is exact, not "
    "order-dependent — then count per (prev, next) and normalize "
    "within prev via SUM-over-window.  Three shuffles by necessity "
    "(user partition, pair agg, prev partition) but the last two move "
    "only the 25-row transition matrix.  Division double-vs-double "
    "with exact integer operands → bit-identical across engines.",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER (PARTITION BY prev_type) AS DOUBLE), 9) AS p
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""",
    tags=("M2", "sequence"),
)
def s20_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    tr = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return tr.select(
        "prev_type",
        "next_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wp).cast("double"), 9
        ).alias("p"),
    )


@query(
    "x_key_skew_profile",
    "Shuffle-key skew diagnostic (operators/skew.py "
    "key_skew_profile): per-key counts in one partial-agg shuffle, "
    "top-5 heavy hitters via TakeOrderedAndProject (per-partition "
    "heaps, no global sort), global (n_keys, n_rows, max_cnt, "
    "skew_factor = max/mean) attached as exact driver-collected "
    "literals (a 1-row join would plan as a nested-loop cartesian).  "
    "Run this BEFORE choosing a join/partition key at 100 TB; "
    "skew_factor ≫ 1 → salt or AQE-skew-split (x_skew_salted_"
    "group_sum is the remedy this diagnoses for).",
    """
WITH per_key AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM orders GROUP BY o_custkey
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM per_key
)
SELECT o_custkey, cnt,
       ROUND(CAST(cnt AS DOUBLE) / CAST(n_rows AS DOUBLE), 9) AS share,
       n_keys, n_rows, max_cnt,
       ROUND(CAST(max_cnt AS DOUBLE) * CAST(n_keys AS DOUBLE)
             / CAST(n_rows AS DOUBLE), 9) AS skew_factor
FROM per_key, tot
ORDER BY cnt DESC, o_custkey
LIMIT 5
""",
    tags=("M3", "scale"),
)
def x_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import key_skew_profile

    return key_skew_profile(table(spark, sf_dir, "orders"), ["o_custkey"], top_k=5)


@query(
    "w20_mad_outliers",
    "Robust (median/MAD) outlier flags per series — the w19 z-score's "
    "breakdown-resistant sibling: exact interpolated percentile(0.5) "
    "over the flag partition (Spark percentile ≡ DuckDB "
    "quantile_cont), then the median absolute deviation over the SAME "
    "partition — two Window nodes, one exchange (Spark reuses the "
    "hash partitioning; the second window only re-sorts).  "
    "mad=0 → robust_z pinned to SQL NULL on both engines "
    "(SURVEY §7 zero-denominator contract); |0.6745·dev/mad| > 3.5 "
    "flags.",
    f"""
WITH {MONTHLY_CTE},
m AS (
  SELECT flag, month, qty,
         quantile_cont(qty, 0.5) OVER (PARTITION BY flag) AS med
  FROM monthly
), d AS (
  SELECT flag, month, qty, med,
         quantile_cont(abs(qty - med), 0.5) OVER (PARTITION BY flag) AS mad
  FROM m
)
SELECT flag, month, qty, ROUND(med, 9) AS med, ROUND(mad, 9) AS mad,
       ROUND(CASE WHEN mad = 0 THEN NULL
                  ELSE CAST(0.6745 AS DOUBLE) * (qty - med) / mad END, 9) AS robust_z,
       CAST(CASE WHEN mad != 0
                  AND abs(CAST(0.6745 AS DOUBLE) * (qty - med) / mad) > 3.5
                 THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
FROM d
""",
    tags=("M3", "stats"),
)
def w20_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir)
    w = Window.partitionBy("flag")
    step1 = m.select(
        "flag",
        "month",
        "qty",
        F.percentile("qty", F.lit(0.5)).over(w).alias("med"),
    )
    dev = F.abs(F.col("qty") - F.col("med"))
    step2 = step1.withColumn("mad", F.percentile(dev, F.lit(0.5)).over(w))
    z = F.when(
        F.col("mad") != 0,
        F.lit(0.6745) * (F.col("qty") - F.col("med")) / F.col("mad"),
    )
    return step2.select(
        "flag",
        "month",
        "qty",
        F.round("med", 9).alias("med"),
        F.round("mad", 9).alias("mad"),
        F.round(z, 9).alias("robust_z"),
        F.when((F.col("mad") != 0) & (F.abs(z) > 3.5), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_outlier"),
    )


_OLS_X = "CAST(xi AS DECIMAL(10,0))"
_OLS_Y = "CAST(qty AS DECIMAL(18,6))"
_OLS_ND = "CAST(n AS DOUBLE)"
_OLS_NUM = f"({_OLS_ND} * sxy - sx * sy)"
_OLS_DEN = f"({_OLS_ND} * sxx - sx * sx)"
_OLS_SSY = f"({_OLS_ND} * syy - sy * sy)"


@query(
    "w22_ols_trend",
    "Per-series OLS trend fit (operators/trend.py): slope/intercept/R² "
    "per flag from {n, Σx, Σx², Σy, Σy², Σxy} — all map-side-"
    "combinable, so a million series cost ONE partial-agg shuffle (no "
    "per-group iterative fit).  Sums are decimal-exact (x as "
    "DECIMAL(10,0) keeps x·y inside DECIMAL(38) without Spark's "
    "precision-loss fallback), formulas run in IEEE double on those "
    "exact sums → bit-identical oracle.  Zero x/y variance → NULLs "
    "per the zero-denominator contract.",
    f"""
WITH {MONTHLY_CTE},
pts AS (
  SELECT flag, CAST(year(month) * 12 + month(month) AS BIGINT) AS xi, qty
  FROM monthly
), agg AS (
  SELECT flag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({_OLS_X}) AS DOUBLE) AS sx,
         CAST(SUM({_OLS_X} * {_OLS_X}) AS DOUBLE) AS sxx,
         CAST(SUM({_OLS_Y}) AS DOUBLE) AS sy,
         CAST(SUM(CAST(CAST(qty AS DECIMAL(28,6)) * CAST(qty AS DECIMAL(28,6))
                        AS DECIMAL(38,12))) AS DOUBLE) AS syy,
         CAST(SUM({_OLS_X} * {_OLS_Y}) AS DOUBLE) AS sxy
  FROM pts GROUP BY flag
)
SELECT flag, n,
       ROUND(CASE WHEN {_OLS_DEN} != 0
                  THEN {_OLS_NUM} / {_OLS_DEN} END, 9) AS slope,
       ROUND(CASE WHEN {_OLS_DEN} != 0
                  THEN (sy - ({_OLS_NUM} / {_OLS_DEN}) * sx) / {_OLS_ND} END, 9) AS intercept,
       ROUND(CASE WHEN {_OLS_DEN} != 0 AND {_OLS_SSY} != 0
                  THEN {_OLS_NUM} * {_OLS_NUM} / ({_OLS_DEN} * {_OLS_SSY}) END, 9) AS r2
FROM agg
""",
    tags=("M3", "stats"),
)
def w22_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.trend import ols_trend

    m = monthly_lineitem(spark, sf_dir)
    x = (F.year("month") * 12 + F.month("month")).cast("bigint")
    return ols_trend(m, ["flag"], x, F.col("qty"))


@query(
    "w21_sliding_window_rollup",
    "Sliding-window rollup (6h window / 3h slide) via native "
    "F.window — the overlapping-window generalization of "
    "s08_tumbling_window_rollup and the batch mirror of a "
    "writeStream sliding agg.  Spark expands each event into "
    "window/slide = 2 window assignments map-side then partial-aggs; "
    "the oracle mirrors that expansion explicitly "
    "(generate_series(0,1) over floor-aligned epoch-micros starts — "
    "integer arithmetic, so window identity is exact cross-engine).  "
    "Sums decimal-exact; distinct users exact.",
    f"""
WITH expanded AS (
  SELECT make_timestamp(((epoch_us(ts) // 10800000000) - i) * 10800000000)
           AS window_start,
         user_id, value
  FROM events, generate_series(0, 1) AS t(i)
)
SELECT window_start,
       window_start + INTERVAL 6 HOUR AS window_end,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {DSUM('value')} AS total_value,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM expanded GROUP BY window_start
""",
    tags=("M2", "streaming"),
)
def w21_sliding_window_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "total_value",
            "n_users",
        )
    )


from ..functions.zorder import zorder_value_sql as _zv_sql

_ZORDER_ORACLE = f"""
WITH dims AS (
  SELECT o_custkey AS xk,
         epoch_us(o_orderdate) // 86400000000 AS yk
  FROM orders
)
SELECT {_zv_sql(['xk', 'yk'], bits=16)} >> 16 AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(xk) AS min_cust, MAX(xk) AS max_cust,
       MIN(yk) AS min_day, MAX(yk) AS max_day
FROM dims GROUP BY 1
"""


@query(
    "x_zorder_locality",
    "Z-order (Morton) multi-dimensional clustering key "
    "(functions/zorder.py): interleave customer-key and order-day "
    "bits into one BIGINT — pure shiftleft/and/or, whole-stage "
    "codegen, no UDF — and report per curve-segment (z >> 16) the "
    "row count and BOTH dimensions' min/max: every segment covers a "
    "small rectangle, which is exactly why range-clustering files on "
    "z makes parquet footer pruning work on EITHER "
    "column's predicate at 100 TB (Delta OPTIMIZE ZORDER BY).  "
    "Bit arithmetic is mirrored term-for-term in the oracle.",
    _ZORDER_ORACLE,
    tags=("M3", "scale"),
)
def x_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.zorder import zorder_value

    o = table(spark, sf_dir, "orders")
    dims = o.select(
        F.col("o_custkey").alias("xk"),
        F.expr(
            "unix_micros(cast(o_orderdate as timestamp)) div 86400000000"
        ).alias("yk"),
    )
    z = zorder_value([F.col("xk"), F.col("yk")], bits=16)
    return (
        dims.withColumn("bucket", F.shiftright(z, 16))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("xk").alias("min_cust"),
            F.max("xk").alias("max_cust"),
            F.min("yk").alias("min_day"),
            F.max("yk").alias("max_day"),
        )
    )


_TRI_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u,
                  greatest(a.l_partkey, b.l_partkey) AS v
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY node
),
ork AS (
  SELECT least(du.d * 1000000000 + e0.u, dv.d * 1000000000 + e0.v) AS a,
         greatest(du.d * 1000000000 + e0.u, dv.d * 1000000000 + e0.v) AS b
  FROM e0 JOIN deg du ON e0.u = du.node JOIN deg dv ON e0.v = dv.node
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM ork e1
  JOIN ork e2 ON e1.a = e2.a AND e1.b < e2.b
  JOIN ork e3 ON e3.a = e1.b AND e3.b = e2.b
),
corners AS (SELECT a AS k FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
SELECT CAST(k % 1000000000 AS BIGINT) AS node,
       CAST(COUNT(*) AS BIGINT) AS triangles
FROM corners GROUP BY 1
"""


@query(
    "x_graph_triangles",
    "Per-node triangle counts (operators/graph.py triangle_counts) "
    "over the parts-co-purchased-in-one-order graph: degree-ordered "
    "orientation (Schank-Wagner node-iterator) caps every out-degree "
    "at O(sqrt(m)) so the wedge self-join is O(m^1.5) instead of "
    "celebrity-degree², then wedges close against the oriented edge "
    "set.  The (degree, id) total order packs into one BIGINT "
    "(deg*1e9 + id) so the whole pipeline is integer equi-joins — "
    "exact on any engine/partitioning; the oracle replays it "
    "term-for-term.  Curation use: triangle density as a graph "
    "quality/community signal (clustering coefficient numerator).",
    _TRI_ORACLE,
    tags=("M4", "graph"),
)
def x_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_counts

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
    )
    return triangle_counts(edges)


_JPREFIX_ORACLE = f"""
WITH toks_t AS (SELECT doc_id, {TOKS} AS toks FROM documents),
sh AS (SELECT doc_id, {SHINGLES} AS shingles FROM toks_t),
tok AS (SELECT doc_id, unnest(list_distinct(shingles)) AS token FROM sh),
cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_id_1, doc_id_2, ca.n AS n_1, cb.n AS n_2, n_common,
       ROUND(CAST(n_common AS DOUBLE)
             / CAST(ca.n + cb.n - n_common AS DOUBLE), 9) AS jaccard
FROM inter
JOIN cnt ca ON doc_id_1 = ca.doc_id
JOIN cnt cb ON doc_id_2 = cb.doc_id
WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.3
"""


@query(
    "x_dedup_jaccard_prefix",
    "EXACT all-pairs shingle-Jaccard join >= 0.3 via prefix filtering "
    "(operators/dedup.py jaccard_join_prefix; AllPairs/PPJoin).  "
    "Unlike the length-banded heuristic (x_dedup_ngram_jaccard), this "
    "is complete — docs ordered rarest-token-first expose only a "
    "(1-t)-fraction prefix as join keys, and any pair with Jaccard "
    ">= t provably shares a prefix token — while the candidate join "
    "fans out on RARE-token frequencies, never stopwords².  "
    "Candidates pass a size-ratio gate then an exact intersection "
    "verify proportional to candidate count.  The oracle is the "
    "brute-force token join: hash-equality IS the completeness proof "
    "at sf0.01.",
    _JPREFIX_ORACLE,
    tags=("M4", "dedup"),
)
def x_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_join_prefix

    return jaccard_join_prefix(table(spark, sf_dir, "documents"))


@query(
    "x_ann_recall_gate",
    "Driver-checkable ANN accuracy (the similarity-search analogue of "
    "x_sketch_accuracy_gate): train the spherical-k-means IVF "
    "quantizer (operators/similarity.py train_ivf_cells, 10 cells), "
    "then for 3 fixed probe vectors measure recall@10 of IVF search "
    "vs the exact brute-force baseline at n_probe 1 and 2, and emit "
    "in-query booleans asserting recall within generous envelopes "
    "(>= 0.5 probing 1/10 cells, >= 0.6 probing 2 — observed "
    "0.7-1.0, so every floor has >= 0.1 margin against k-means "
    "FP-order jitter) plus the structural monotonicity law "
    "recall@2 >= recall@1 (probed cells are a superset).  The oracle "
    "pins the booleans TRUE, so quantizer quality drifting out of "
    "envelope fails the value-hash gate instead of living only in "
    "pytest.  "
    "Raw recalls are FP-order-dependent (k-means training) and stay "
    "OUT of the hashed output.  Top-k collects are O(k) rows each "
    "(documented driver-side scalars).",
    """
SELECT CAST(qid AS BIGINT) AS qid, CAST(n_probe AS INT) AS n_probe,
       CAST(k AS INT) AS k, recall_ok, monotone_ok
FROM (VALUES (0, 1, 10, TRUE, TRUE), (0, 2, 10, TRUE, TRUE),
             (1, 1, 10, TRUE, TRUE), (1, 2, 10, TRUE, TRUE),
             (2, 1, 10, TRUE, TRUE), (2, 2, 10, TRUE, TRUE)) v(qid, n_probe, k, recall_ok, monotone_ok)
""",
    tags=("scale", "similarity"),
)
def x_ann_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        brute_force_topk,
        centroids_by_cell,
        ivf_topk,
        query_vectors_of,
        train_ivf_cells,
    )

    emb = table(spark, sf_dir, "embeddings")
    envelopes = {1: 0.5, 2: 0.6}
    out = []
    with barrier_scope():
        assigned, _ = train_ivf_cells(emb, k=10, iters=3)
        assigned = materialize(assigned)
        # driver-job fusion (r13, guide §5: 13 sequential jobs → 11,
        # and the expensive one runs once): the 3 query vectors fetch
        # in ONE IN-filter job instead of 3 head() jobs, and the
        # per-cell centroid aggregation — identical across all 6
        # ivf_topk calls — materializes ONCE (10 rows, localCheckpoint
        # inside the timed build) instead of re-aggregating the
        # exploded corpus per call (was ~4 s of this gate's 6 s wall
        # at sf0.1).  Values, and therefore recalls, are unchanged.
        qs = query_vectors_of(emb, (0, 1, 2))
        cents = materialize(centroids_by_cell(assigned, cell_col="cell"))
        for qid in (0, 1, 2):
            q = qs[qid]
            exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
            recalls = {}
            for n_probe, floor in envelopes.items():
                got = {
                    r["vec_id"]
                    for r in ivf_topk(
                        assigned, q, k=10, cell_col="cell", n_probe=n_probe,
                        cents=cents,
                    ).collect()
                }
                recalls[n_probe] = len(exact & got) / 10.0
            monotone = recalls[2] >= recalls[1]
            for n_probe, floor in envelopes.items():
                out.append((qid, n_probe, 10, recalls[n_probe] >= floor, monotone))
    return spark.createDataFrame(
        out, "qid bigint, n_probe int, k int, recall_ok boolean, monotone_ok boolean"
    )


_LSH_RECALL_ORACLE = f"""
WITH {SIG_CTE},
banded AS ({BANDED_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM banded a JOIN banded b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
tok AS (SELECT doc_id, unnest(list_distinct(shingles)) AS token FROM sh),
cnt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT doc_id_1, doc_id_2,
         CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) AS j,
         CASE WHEN c.doc_id_1 IS NULL THEN 0 ELSE 1 END AS is_cand
  FROM inter
  JOIN cnt ca ON doc_id_1 = ca.doc_id
  JOIN cnt cb ON doc_id_2 = cb.doc_id
  LEFT JOIN cand c USING (doc_id_1, doc_id_2)
  WHERE CAST(n_common AS DOUBLE) / CAST(ca.n + cb.n - n_common AS DOUBLE) >= 0.3
),
n_cand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand)
SELECT CAST(t.threshold AS DOUBLE) AS threshold,
       CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
       CAST(SUM(is_cand) AS BIGINT) AS n_hit,
       (SELECT n_candidates FROM n_cand) AS n_candidates,
       ROUND(CAST(SUM(is_cand) AS DOUBLE) / NULLIF(COUNT(*), 0), 9) AS recall
FROM (VALUES (0.3), (0.5), (0.8)) t(threshold)
JOIN exact e ON e.j >= t.threshold
GROUP BY 1
ORDER BY 1
"""


@query(
    "x_lsh_recall_gate",
    "Driver-checkable MinHash-LSH recall/precision audit (the dedup "
    "analogue of x_ann_recall_gate, but FULLY deterministic — every "
    "hash is md5-portable, so the oracle recomputes the identical "
    "recall rather than pinning booleans): ground truth is the EXACT "
    "AllPairs prefix-filter Jaccard join at >= 0.3 "
    "(jaccard_join_prefix — complete by construction, no banding "
    "recall loss), candidates are the production 8-band x 2-row LSH "
    "self-join; output per threshold (0.3 / 0.5 / 0.8) is true-pair "
    "count, hit count, global candidate count, and recall.  This is "
    "the audit a 100 TB dedup run ships alongside its LSH pass: the "
    "exact join is feasible on a sampled shard (here the whole "
    "sf0.01 corpus), recall quantifies what the banding chemistry "
    "(1-(1-J^2)^8) delivers on REAL data, and n_candidates vs "
    "n_true_pairs exposes the precision cost.  Everything after the "
    "two pair joins is O(pairs)-sized; the threshold fan-out is a "
    "single conditional aggregation unpivoted with stack(), so no "
    "join ever touches the pair tables again.",
    _LSH_RECALL_ORACLE,
    tags=("scale", "dedup"),
)
def x_lsh_recall_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_join_prefix

    docs = table(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    exact = jaccard_join_prefix(docs, threshold=0.3).select(
        "doc_id_1", "doc_id_2", "jaccard"
    )
    flagged = exact.join(
        cand.withColumn("is_cand", F.lit(1)), ["doc_id_1", "doc_id_2"], "left"
    ).select("jaccard", F.coalesce("is_cand", F.lit(0)).alias("is_cand"))
    # single-pass conditional aggregation over (true pairs UNION candidate
    # markers), unpivoted with stack() — the threshold fan-out never joins
    # against the pair tables (a 3-row theta-join compiles to
    # BroadcastNestedLoopJoin, which the plan audit rightly flags)
    u = flagged.select("jaccard", "is_cand", F.lit(0).alias("kind")).unionByName(
        cand.select(
            F.lit(None).cast("double").alias("jaccard"),
            F.lit(0).alias("is_cand"),
            F.lit(1).alias("kind"),
        )
    )
    thresholds = (0.3, 0.5, 0.8)
    aggs = [F.sum("kind").cast("long").alias("n_candidates")]
    for i, t in enumerate(thresholds):
        true_at = (F.col("kind") == 0) & (F.col("jaccard") >= F.lit(t))
        aggs.append(F.count(F.when(true_at, 1)).cast("long").alias(f"t{i}_true"))
        aggs.append(
            F.coalesce(F.sum(F.when(true_at, F.col("is_cand"))), F.lit(0))
            .cast("long")
            .alias(f"t{i}_hit")
        )
    one = u.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t} AS DOUBLE), t{i}_true, t{i}_hit" for i, t in enumerate(thresholds)
    )
    return (
        one.selectExpr(
            f"stack({len(thresholds)}, {stack_args})"
            " AS (threshold, n_true_pairs, n_hit)",
            "n_candidates",
        )
        .where(F.col("n_true_pairs") > 0)  # oracle's inner join drops empty thresholds
        .select(
            "threshold",
            "n_true_pairs",
            "n_hit",
            "n_candidates",
            F.round(
                F.try_divide(F.col("n_hit").cast("double"), F.col("n_true_pairs")), 9
            ).alias("recall"),
        )
        .orderBy("threshold")
    )


def _hw_sum_expr(lo: int, hi: int) -> str:
    # explicit left-associated add chain — guarantees the same IEEE
    # summation order as numpy's sequential mean over <128 elements
    return "(" + " + ".join(f"ylist[{i}]" for i in range(lo, hi + 1)) + ")"


# The Holt-Winters recursion IS SQL-expressible: a recursive CTE
# advances all 27 (alpha,beta,gamma) candidates of every series one
# time-step per iteration, carrying (level, trend, seasonal list, sse)
# as row state.  Every float op mirrors operators/forecast.py
# _hw_fit_sse in the exact order Python executes it (left-assoc adds,
# (1 - alpha) computed, never a 0.8 literal), so the recursion is
# bit-identical and the strict-< argmin (ORDER BY sse, grid order =
# the engine's first-wins loop order) picks the same candidate.
# Double literals use e-notation (0.2e0): plain 0.2 is DECIMAL in
# DuckDB and would poison the arithmetic.  Assumes n_obs >= 24 (true
# for all testdata SFs); the engine's short-series RW fallback is not
# mirrored.
_HW_SQL = f"""
WITH RECURSIVE {MONTHLY_CTE},
series AS (
  SELECT flag, list(revenue ORDER BY month) AS ylist, COUNT(*) AS n
  FROM monthly GROUP BY 1
),
grid AS (SELECT * FROM (VALUES (0.2e0),(0.5e0),(0.8e0)) ga(al)
         CROSS JOIN (VALUES (0.2e0),(0.5e0),(0.8e0)) gb(be)
         CROSS JOIN (VALUES (0.2e0),(0.5e0),(0.8e0)) gg(gm)),
init AS (
  SELECT flag, al, be, gm, ylist, n,
         12 AS t,
         m1 + tr0 * 5.5e0 AS level,
         tr0 AS trend,
         list_transform(generate_series(0, 11),
                        i -> ylist[i+1] - (m1 + (i - 5.5e0) * tr0)) AS seas,
         0e0 AS sse
  FROM (
    SELECT *, (({_hw_sum_expr(13, 24)} / 12) - m1) / 12 AS tr0
    FROM (SELECT s.*, g.*, {_hw_sum_expr(1, 12)} / 12 AS m1
          FROM series s CROSS JOIN grid g) q1
  ) q2
),
hw AS (
  SELECT * FROM init
  UNION ALL
  SELECT flag, al, be, gm, ylist, n, t + 1,
         new_level,
         be * (new_level - level) + (1 - be) * trend,
         seas[1:idx-1] || [gm * (yt - new_level) + (1 - gm) * seas[idx]] || seas[idx+1:],
         sse + err * err
  FROM (
    SELECT *, al * (yt - seas[idx]) + (1 - al) * (level + trend) AS new_level,
           yt - (level + trend + seas[idx]) AS err
    FROM (
      SELECT *, (t % 12) + 1 AS idx, ylist[t + 1] AS yt
      FROM hw WHERE t < n
    ) i1
  ) i2
),
fin AS (SELECT * FROM hw WHERE t = n),
best AS (
  SELECT * FROM fin
  QUALIFY ROW_NUMBER() OVER (PARTITION BY flag ORDER BY sse, al, be, gm) = 1
)
SELECT flag AS career, al AS alpha, be AS beta, gm AS gamma,
       (sse * 100 + 0.5e0 - ((sse * 100 + 0.5e0) % 1e0)) / 100 AS sse,
       CAST(n AS BIGINT) AS n_obs,
       CAST(h AS BIGINT) AS step,
       ROUND(level + h * trend + seas[((n + h - 1) % 12) + 1], 4) AS forecast
FROM best CROSS JOIN (SELECT unnest(generate_series(1, 6)) AS h) steps
""".strip()


@query(
    "x3_holt_winters",
    "Per-series additive Holt-Winters (triple exponential smoothing) "
    "fit + 6-step forecast — the standard non-ARIMA forecasting "
    "baseline alongside the X3 SARIMAX-lite grid, selected from a "
    "27-point (alpha,beta,gamma) grid by one-step in-sample SSE "
    "inside the same applyInPandas boundary (one Python crossing; "
    "O(n·27) local work per series, scales with series count).  "
    "Oracle: the recursion unrolls as a recursive CTE carrying "
    "(level, trend, seasonal-list, sse) row state, every IEEE op in "
    "the engine's execution order — bit-identical, so even the "
    "argmin grid selection matches.  Exact-model recovery, "
    "SSE-optimality, and the short-series RW fallback are also "
    "property-tested in tests/test_forecast.py.",
    _HW_SQL,
    tags=("M3", "model"),
)
def x3_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.forecast import holt_winters_forecast

    m = monthly_lineitem(spark, sf_dir)
    out = holt_winters_forecast(m, "flag", "month", "revenue", season=12, steps=6)
    # sse is ~1e13-1e16: 2dp sits at the 16th significant digit, where
    # Spark ROUND (binary-expansion) and DuckDB ROUND (shortest-repr)
    # disagree by 1 ulp.  The fmod-floor formula is three IEEE ops,
    # bit-identical cross-engine at ANY magnitude (and, unlike
    # FLOOR(x*100)/100, never overflows Spark's long FLOOR).
    v = F.col("sse") * F.lit(100.0) + F.lit(0.5)
    sse2 = (v - v % F.lit(1.0)) / F.lit(100.0)
    return out.select(
        F.col("group").alias("career"),
        "alpha",
        "beta",
        "gamma",
        sse2.alias("sse"),
        "n_obs",
        "step",
        F.round("forecast", 4).alias("forecast"),
    )
