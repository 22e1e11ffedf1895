"""Round-continuation query suite (beyond suite_core/suite_ext):
time-series completion (interpolation, CUSUM, seasonal adjust, ACF),
search/LLM prep (inverted index, chunking, bigram LM, rarity scoring,
SemDeDup, per-class embedding stats), relational benchmarks (TPC-H
Q1/Q3/Q5 shapes, equi-depth histogram, mode, top-k per group,
share-of-total), ML prep (min-max scaling, winsorization), and event
analytics / data quality (id gaps, rapid duplicates, new-vs-returning,
hour profile, co-occurrence, JSON extraction).

Same cross-engine determinism contract as ``plans.base``: decimal-cast
sums, integer/exact statistics wherever possible, and IEEE-identical
double formulas on identical inputs for the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textfn import tokens
from ..materialize import materialize
from ..operators.chunking import chunk_documents
from ..operators.grid import force_complete_month_grid, interpolate_linear
from ..operators.index import inverted_index
from ..operators.similarity import semantic_dedup, train_ivf_cells
from ..operators.skew import spread
from .base import (
    BANDED_SQL,
    DSUM,
    MONTH_OF,
    MONTHLY_CTE,
    SIG_CTE,
    TOKS,
    dsum,
    month_of,
    monthly_lineitem,
    query,
    table,
)

def _round2(c):
    """Portable 2dp rounding: FLOOR(x*100+0.5)/100 — rounds halves
    toward +infinity (NOT ROUND-compatible half-up/away-from-zero:
    -0.005 maps to 0.0 here, not -0.01 — relevant for negative values
    such as seasonal components).

    ROUND(double, 2) diverges cross-engine on knife-edges (Spark
    rounds the exact binary expansion, DuckDB the shortest decimal
    repr); three IEEE ops on bit-identical inputs are bit-identical
    out in both engines — both evaluate this formula identically, so
    parity is unaffected by the half behavior.
    """
    return F.floor(c * F.lit(100.0) + F.lit(0.5)) / F.lit(100.0)



@query(
    "w23_interpolate_linear",
    "Per-series linear interpolation of grid gaps (pandas "
    "interpolate(method='index') analogue; companion to W12): monthly "
    "revenue per returnflag with every 3rd month removed, re-gridded, "
    "then NULLs filled by time-weighted blending of the nearest "
    "non-null neighbors.  Both anchors come from two frame scans over "
    "ONE partitioned sort (last/first non-null (x,y) struct with "
    "IGNORE NULLS) — no self-join, no second shuffle.  The month "
    "index, weight, and blend are identical IEEE double ops on "
    "decimal-exact inputs in both engines.",
    f"""
WITH m AS (
  SELECT l_returnflag AS flag, CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         {DSUM('l_extendedprice')} AS revenue
  FROM lineitem GROUP BY 1, 2
), gapped AS (
  SELECT * FROM m WHERE month(month) % 3 <> 0
), bounds AS (
  SELECT flag, MIN(month) AS mn, MAX(month) AS mx FROM gapped GROUP BY 1
), spine AS (
  SELECT flag, CAST(unnest(generate_series(mn, mx, INTERVAL 1 MONTH)) AS DATE) AS month
  FROM bounds
), grid AS (
  SELECT s.flag, s.month,
         CAST(year(s.month) * 12 + month(s.month) AS DOUBLE) AS mi,
         g.revenue
  FROM spine s LEFT JOIN gapped g ON g.flag = s.flag AND g.month = s.month
), anchored AS (
  SELECT flag, month, mi, revenue,
    last_value(CASE WHEN revenue IS NOT NULL THEN mi END IGNORE NULLS) OVER (
      PARTITION BY flag ORDER BY mi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS px,
    last_value(CASE WHEN revenue IS NOT NULL THEN revenue END IGNORE NULLS) OVER (
      PARTITION BY flag ORDER BY mi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS py,
    first_value(CASE WHEN revenue IS NOT NULL THEN mi END IGNORE NULLS) OVER (
      PARTITION BY flag ORDER BY mi ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nx,
    first_value(CASE WHEN revenue IS NOT NULL THEN revenue END IGNORE NULLS) OVER (
      PARTITION BY flag ORDER BY mi ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS ny
  FROM grid
)
SELECT flag, month,
  CASE WHEN revenue IS NOT NULL THEN revenue
       WHEN px IS NOT NULL AND nx IS NOT NULL
       THEN py + (ny - py) * ((mi - px) / (nx - px))
  END AS revenue
FROM anchored
""",
    tags=("M2", "timeseries"),
)
def w23_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    gapped = m.filter(F.month("month") % 3 != 0)
    grid = force_complete_month_grid(gapped, ["flag"], "month").withColumn(
        "mi", (F.year("month") * 12 + F.month("month")).cast("double")
    )
    return interpolate_linear(grid, ["flag"], "mi", "revenue").select(
        "flag", "month", "revenue"
    )


@query(
    "x_inverted_index",
    "Search-engine inverted index over the corpus: term → document "
    "frequency, total term frequency, and a capped ascending posting "
    "list.  (term, doc) term frequencies pre-aggregate map-side so the "
    "per-term exchange moves one row per DISTINCT (term, doc) — not "
    "one per occurrence; posting lists assemble after the term-keyed "
    "shuffle (no global sort) and cap at 20 entries so celebrity terms "
    "can't blow up the materialized index.  String-joined postings "
    "keep the value portable across engines.",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), td AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS df_count,
       CAST(SUM(tf) AS BIGINT) AS tf_total,
       array_to_string((list(doc_id ORDER BY doc_id))[1:20], ',') AS postings
FROM td GROUP BY term HAVING COUNT(*) >= 5
""",
    tags=("llm", "text"),
)
def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return inverted_index(docs, tokens("text"), "doc_id", min_df=5, postings_cap=20)


@query(
    "x_histogram_equi_depth",
    "Equi-depth (decile) histogram of order totals: exact NTILE(10) "
    "semantics over a UNIQUE total order (price, orderkey — ties on "
    "price alone would make bucket membership nondeterministic), then "
    "per-bucket count/bounds/decimal-exact revenue.  NO global-window "
    "NTILE: the global rank comes from the a12 two-pass range-"
    "partitioned prefix count (per-partition row_number + "
    "O(#partitions) offsets), and the decile is recovered from the "
    "rank with NTILE's exact integer remainder rule — fully parallel "
    "where a bare NTILE window serializes the whole fact through one "
    "task.  The 100 TB approximate path is the sketch operator "
    "(approx_quantiles_by); this pins the exact semantics it "
    "approximates.",
    f"""
WITH d AS (
  SELECT NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile,
         o_totalprice
  FROM orders
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
       CAST(MAX(o_totalprice) AS DOUBLE) AS hi,
       {DSUM('o_totalprice')} AS revenue
FROM d GROUP BY decile
""",
    tags=("M1", "agg"),
)
def x_histogram_equi_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_row_number

    ords = table(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    # N is a scalar driver literal (a09/a12 precedent) feeding NTILE's
    # integer remainder rule below; counted on the bare scan (parquet
    # metadata fast path) — counting the ranked frame would execute
    # the whole window + broadcast join just for the scalar
    n = ords.count()
    ranked = global_row_number(
        ords, [F.col("o_totalprice"), F.col("o_orderkey")], out="rank"
    )
    # NTILE(10) from the global rank: the first (n % 10) buckets get
    # ceil(n/10) rows, the rest floor(n/10) — SQL-standard semantics,
    # bit-for-bit what the oracle's NTILE emits over the same unique
    # order.  CASE short-circuits, so size=0 (n<10) never divides.
    size, rem = n // 10, n % 10
    big = rem * (size + 1)
    decile = (
        F.when(F.col("rank") <= big, F.ceil(F.col("rank") / F.lit(size + 1)))
        .otherwise(F.lit(rem) + F.ceil((F.col("rank") - big) / F.lit(size)))
        .cast("int")
    )
    return ranked.groupBy(decile.alias("decile")).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
        dsum("o_totalprice").alias("revenue"),
    )


@query(
    "x_text_rarity_score",
    "Corpus-frequency rarity scoring per document (OCR-garbage / "
    "gibberish detector): global token counts joined back to "
    "occurrences, then per-doc token count, rarest-token corpus count, "
    "and mean corpus frequency.  All statistics are integer-exact "
    "until one final IEEE divide, so the oracle is bit-identical — no "
    "log() whose last-ulp rounding differs between libm and the JVM.  "
    "The vocabulary side of the join is tiny (O(distinct terms)) → "
    "broadcast; the occurrence table never shuffles twice.",
    f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), vocab AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(MIN(v.cnt) AS BIGINT) AS rarest_cnt,
       CAST(SUM(v.cnt) AS DOUBLE) / COUNT(*) AS mean_corpus_freq
FROM toks t JOIN vocab v USING (term)
GROUP BY t.doc_id
""",
    tags=("llm", "text"),
)
def x_text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        toks.join(F.broadcast(vocab), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.min("cnt").cast("long").alias("rarest_cnt"),
            (F.sum("cnt").cast("double") / F.count(F.lit(1))).alias(
                "mean_corpus_freq"
            ),
        )
    )


@query(
    "x_events_json_extract",
    "Semi-structured field extraction (S-family extension): pull a "
    "typed value out of the events JSON props column "
    "(get_json_object ≡ json_extract_string) and aggregate per event "
    "type.  The extraction is row-local JVM work feeding a map-side-"
    "combinable aggregate — the shuffle moves one row per event type.  "
    "Counts/sums stay integer-exact; the mean is one final IEEE "
    "divide.",
    """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
FROM events GROUP BY event_type
""",
    tags=("M1", "sources"),
)
def x_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(k).cast("long").alias("sum_k"),
            F.max(k).cast("long").alias("max_k"),
            (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


@query(
    "x_embed_semdedup",
    "SemDeDup semantic deduplication: coarse k-means cells bound the "
    "pair space, a vector is dropped when an earlier (lower-id) "
    "cell-mate exceeds the cosine threshold.  The codebook is "
    "FP-order-dependent (SURVEY.md §4 item 3), so kept IDs stay OUT "
    "of the hash; the query is gated on the x_ann_recall_gate "
    "pattern with survivor-rule LAWS that hold for ANY assignment: "
    "(a) threshold_monotone_ok — the kept set at threshold 0.5 is a "
    "subset of the kept set at 0.6 under the SAME centroids (raising "
    "the bar can only keep more), (b) min_ids_kept_ok — the lowest "
    "vec_id in every cell survives (it has no earlier cell-mate), "
    "(c) counts_ok — kept counts are sandwiched 1 <= n(0.5) <= "
    "n(0.6) <= n_total, with the exact corpus count mirrored by the "
    "oracle.  The driver's synthetic embeddings are near-uniform "
    "(max pairwise cosine ~0.51), so threshold 0.5 exercises the "
    "drop path (observed: 1 drop at sf0.01, 6 at sf0.1).  Planted-"
    "near-duplicate brute-force parity stays in tests/test_new_ops.py.",
    """
SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
       TRUE AS threshold_monotone_ok, TRUE AS min_ids_kept_ok, TRUE AS counts_ok
FROM embeddings
""",
    tags=("llm", "similarity"),
)
def x_embed_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import assign_cells

    emb = table(spark, sf_dir, "embeddings")
    _, cents = train_ivf_cells(emb, k=8, iters=2)
    # scalar counts are O(1) driver pulls (x_ann_recall_gate pattern);
    # each kept set is computed ONCE and checkpointed — the cell pair
    # join is the expensive part and three invariants consume each set
    n_total = emb.count()
    # the BLAS Gram pass is hash-safe here: kept IDs stay OUT of the
    # hash, and every gated LAW is summation-order-independent — both
    # thresholds see identical per-pair cosines, so cos>0.6 ⇒ cos>0.5
    # gives subset monotonicity.  Measured at sf1 against the HOF-join
    # pair pass: 16.8 s → 3.1 s per call, identical kept count.
    kept_lo = materialize(
        semantic_dedup(emb, cents, threshold=0.5).select("vec_id")
    )
    kept_hi = materialize(
        semantic_dedup(emb, cents, threshold=0.6).select("vec_id")
    )
    n_lo = kept_lo.count()
    n_hi = kept_hi.count()
    subset_viol = kept_lo.join(kept_hi, "vec_id", "left_anti").count()
    min_viol = (
        assign_cells(emb, cents)
        .groupBy("cell")
        .agg(F.min("vec_id").alias("vec_id"))
        .select("vec_id")
        .join(kept_lo, "vec_id", "left_anti")
        .count()
    )
    row = (
        n_total,
        subset_viol == 0,
        min_viol == 0,
        1 <= n_lo <= n_hi <= n_total,
    )
    return spark.createDataFrame(
        [row],
        "n_vectors bigint, threshold_monotone_ok boolean, "
        "min_ids_kept_ok boolean, counts_ok boolean",
    )


@query(
    "x_doc_chunking",
    "Overlapping token-window chunking (RAG context prep / T5-style "
    "span windowing): 64-token chunks at stride 48 — every token "
    "covered, tails shorter, no padding.  Tokenize + window starts + "
    "slices are all row-local array ops feeding ONE posexplode; the "
    "operator adds zero exchanges, so it composes with downstream "
    "dedup/packing for free at 100 TB.",
    f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(generate_series(0, len(toks) - 1, 48)) AS start
  FROM toks WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(start / 48 AS BIGINT) AS chunk_id,
       CAST(start AS BIGINT) AS start_token,
       CAST(least(64, n - start) AS BIGINT) AS n_tokens,
       array_to_string(toks[start + 1 : start + 64], ' ') AS chunk_text
FROM s
""",
    headline=True,
    tags=("llm", "text"),
)
def x_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread(), measured (r12 order-alternated A/B at sf0.1):
    # 0.544 s bare vs 0.697 s spread — the tokenize+slice map is cheap
    # enough that the round-robin exchange costs more than the
    # parallelism buys on this zero-exchange plan
    docs = table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", chunk_tokens=64, stride=48)


@query(
    "x_bigram_lm",
    "Bigram language-model table (MLE conditional probabilities): "
    "adjacent-token pairs via row-local array zip (no self-join on "
    "position), pair counts map-side-combine into one (w1,w2) "
    "exchange, and the denominator — bigrams starting with w1 — is a "
    "window sum over the ALREADY-aggregated table (the second "
    "exchange moves one row per distinct pair, not per occurrence).  "
    "Counts are integer-exact; the probability is one final IEEE "
    "divide.  min-count 3 bounds the emitted vocabulary.",
    f"""
WITH toks AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), bg AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS t(i)
  WHERE len(toks) >= 2
), cnt AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n_bigram FROM bg GROUP BY 1, 2
)
SELECT w1, w2, n_bigram,
       CAST(SUM(n_bigram) OVER (PARTITION BY w1) AS BIGINT) AS n_w1,
       CAST(n_bigram AS DOUBLE) / CAST(SUM(n_bigram) OVER (PARTITION BY w1) AS DOUBLE) AS p_cond
FROM cnt
QUALIFY n_bigram >= 3
""",
    tags=("llm", "text"),
)
def x_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # Project the token array ONCE before the pair generator (r12):
    # with tokens(text) inlined, every element_at/size reference in the
    # transform lambda re-ran the split+filter tokenizer — measured
    # 7.0 s -> 0.8 s at sf0.1, rows identical.  CollapseProject keeps
    # the multiply-referenced non-cheap projection separate.
    t = F.col("__toks")
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.struct(
            F.element_at(t, i).alias("w1"),
            F.element_at(t, i + 1).alias("w2"),
        ),
    )
    bg = (
        table(spark, sf_dir, "documents")
        .select(tokens(F.col("text")).alias("__toks"))
        .filter(F.size(t) >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    cnt = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n_bigram"))
    w = Window.partitionBy("w1")
    return (
        cnt.withColumn("n_w1", F.sum("n_bigram").over(w).cast("long"))
        .withColumn(
            "p_cond", F.col("n_bigram").cast("double") / F.col("n_w1").cast("double")
        )
        .filter(F.col("n_bigram") >= 3)
    )


@query(
    "q05_star_join_revenue",
    "TPC-H Q5-shape star join (the multi-join scale benchmark the "
    "2-dim bridge J1/J2 builds toward): lineitem ⨝ orders (date-"
    "filtered) ⨝ customer ⨝ nation ⨝ region('ASIA'), revenue per "
    "nation.  Dimension chain broadcasts end-to-end — region/nation/"
    "customer are each orders of magnitude under the fact table, so "
    "the ONLY repartition-scale exchanges are the orders⨝lineitem "
    "join and the final tiny aggregate; the date filter pushes to the "
    "orders scan and prunes before the big join.  Revenue rounds the "
    "per-row double product to DECIMAL(18,6) before the exact sum "
    "(plans/base.py contract).",
    """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n.n_name
""",
    headline=True,
    tags=("M1", "join"),
)
def q05_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    dim = broadcast(
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(dim, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("n_name")
        .agg(dsum(net).alias("revenue"), F.count(F.lit(1)).cast("long").alias("n_items"))
    )


@query(
    "w24_cusum_drift",
    "CUSUM drift statistic per series (change-point detection prep, "
    "Page 1954 — the classic mean-shift detector): per-flag monthly "
    "revenue, per-series mean from decimal-exact sums, then a running "
    "sum of deviations.  The per-series mean joins back as a window "
    "aggregate over the SAME partition key the running sum uses — one "
    "exchange serves both; deviations accumulate in decimal so the "
    "cross-engine hash is exact (running double sums would drift).",
    f"""
WITH {MONTHLY_CTE},
stats AS (
  SELECT flag, month, revenue,
         CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY flag) AS DOUBLE)
           / COUNT(*) OVER (PARTITION BY flag) AS mu
  FROM monthly
)
SELECT flag, month, revenue,
       CAST(SUM(CAST(revenue - mu AS DECIMAL(18,6))) OVER (
         PARTITION BY flag ORDER BY month
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cusum
FROM stats
""",
    tags=("M2", "timeseries"),
)
def w24_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    wp = Window.partitionBy("flag")
    wo = wp.orderBy("month").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mu = (
        F.sum(F.col("revenue").cast("decimal(18,6)")).over(wp).cast("double")
        / F.count(F.lit(1)).over(wp)
    )
    dev = (F.col("revenue") - mu).cast("decimal(18,6)")
    return m.select(
        "flag",
        "month",
        "revenue",
        F.sum(dev).over(wo).cast("double").alias("cusum"),
    )


@query(
    "a10_group_mode",
    "Per-group mode (most frequent value) with deterministic ties: "
    "count per (group, value), then argmax via lexicographic struct "
    "max — ties resolve to the LARGER value on both engines, no "
    "nondeterministic first-row pick.  Two map-side-combinable "
    "aggregations; the second shuffle moves one row per distinct "
    "(group, value).",
    """
WITH c AS (
  SELECT l_returnflag AS flag, l_linestatus AS status, CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY 1, 2
)
SELECT flag, status AS mode_status, CAST(n AS BIGINT) AS mode_n
FROM (
  SELECT flag, status, n,
         row_number() OVER (PARTITION BY flag ORDER BY n DESC, status DESC) AS rk
  FROM c
)
WHERE rk = 1
""",
    tags=("M1", "agg"),
)
def a10_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_returnflag").alias("flag"), F.col("l_linestatus").alias("status"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    best = F.max(F.struct(F.col("n"), F.col("status")))
    return c.groupBy("flag").agg(
        best["status"].alias("mode_status"),
        best["n"].cast("long").alias("mode_n"),
    )


@query(
    "w25_topk_per_group",
    "Top-k per group (the grouped-LIMIT every catalog query needs): "
    "5 longest documents per source via row_number over a UNIQUE "
    "order (n_chars DESC, doc_id — ties on length alone would be "
    "nondeterministic).  One exchange on the group key; Spark's "
    "WindowGroupLimit pushes the rank filter below the sort so "
    "per-partition state is O(k), never the full group.",
    """
SELECT source, doc_id, n_chars, CAST(rk AS BIGINT) AS rk
FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
WHERE rk <= 5
""",
    tags=("M1", "window"),
)
def w25_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    return (
        table(spark, sf_dir, "documents")
        .select("source", "doc_id", "n_chars", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= 5)
        .withColumn("rk", F.col("rk").cast("long"))
    )


@query(
    "w26_seasonal_adjust",
    "Seasonal adjustment by calendar-month means (the notebook's "
    "seasonal-difference W6 sibling, closer to CES's own X-13 intent): "
    "per (series, month-of-year) mean from decimal-exact sums, "
    "deviation = value − seasonal mean.  The seasonal mean is a "
    "window aggregate over (flag, month(month)) — no join back, one "
    "exchange; the deviation is one IEEE subtract of cross-engine-"
    "identical doubles.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month, revenue,
       CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY flag, month(month)) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY flag, month(month)) AS seasonal_mean,
       revenue - CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY flag, month(month)) AS DOUBLE)
         / COUNT(*) OVER (PARTITION BY flag, month(month)) AS adjusted
FROM monthly
""",
    tags=("M2", "timeseries"),
)
def w26_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    wp = Window.partitionBy("flag", F.month("month"))
    smean = (
        F.sum(F.col("revenue").cast("decimal(18,6)")).over(wp).cast("double")
        / F.count(F.lit(1)).over(wp)
    )
    return m.select(
        "flag",
        "month",
        "revenue",
        smean.alias("seasonal_mean"),
        (F.col("revenue") - smean).alias("adjusted"),
    )


@query(
    "s21_id_gap_detection",
    "Sequence-gap detection over event ids (data-quality / loss "
    "audit): lag over the UNIQUE id order finds every hole; one gap "
    "row per missing range with its width.  Runs on the PURCHASE "
    "subsequence (which ids made it to billing?) — the full id "
    "sequence in this dataset is gapless, which would make the check "
    "vacuous.  NO global-window lag: "
    "ids are range-partitioned, the lag runs per partition in "
    "parallel, and each partition's FIRST row takes the previous "
    "non-empty partition's max id from an O(#partitions) boundary "
    "table (range partitions are index-monotone in the sort key, so "
    "lag over the per-pid max table IS the cross-boundary "
    "predecessor) — the a12 two-pass discipline applied to lag "
    "instead of a running sum.",
    """
SELECT gap_start, gap_end, CAST(gap_end - gap_start + 1 AS BIGINT) AS n_missing
FROM (
  SELECT lag(event_id) OVER (ORDER BY event_id) + 1 AS gap_start,
         event_id - 1 AS gap_end
  FROM events
  WHERE event_type = 'purchase'
)
WHERE gap_start IS NOT NULL AND gap_end >= gap_start
""",
    tags=("M1", "quality"),
)
def s21_id_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_lag

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id")
    )
    g = global_lag(ev, [F.col("event_id")], "event_id", out="prev").select(
        (F.col("prev") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
    )
    return g.filter(
        F.col("gap_start").isNotNull() & (F.col("gap_end") >= F.col("gap_start"))
    ).select(
        "gap_start",
        "gap_end",
        (F.col("gap_end") - F.col("gap_start") + 1).cast("long").alias("n_missing"),
    )


@query(
    "s22_rapid_duplicate_events",
    "Near-duplicate event flagging (double-click / retry artifacts): "
    "an event is a rapid duplicate when the SAME user+type fired "
    "within 60s before it.  One (user,type)-keyed window; the gap "
    "compares integer microseconds (NTZ-safe epoch), so the flag is "
    "exact on both engines.  The aggregate reports per-type totals — "
    "the shuffle after the window moves one row per type.",
    """
WITH flagged AS (
  SELECT event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id) <= 60000000
              THEN 1 ELSE 0 END AS is_dup
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(is_dup) AS BIGINT) AS n_rapid_dups
FROM flagged GROUP BY event_type
""",
    tags=("M1", "quality"),
)
def s22_rapid_duplicate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    is_dup = F.when(us - F.lag(us).over(w) <= 60_000_000, F.lit(1)).otherwise(F.lit(0))
    return (
        table(spark, sf_dir, "events")
        .select("event_type", is_dup.alias("is_dup"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("is_dup").cast("long").alias("n_rapid_dups"),
        )
    )


@query(
    "s23_new_vs_returning",
    "Daily new-vs-returning user split (growth accounting): per-user "
    "first-seen day via a window min, then per-day counts of users "
    "seen for the first time vs again.  Distinct (user, day) activity "
    "pre-aggregates before the user-keyed window, and the window and "
    "the distinct SHARE the user-hash exchange (subset clustering — "
    "same trick as the retention triangle), so the whole query is one "
    "user exchange + one tiny day exchange.",
    """
WITH activity AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), tagged AS (
  SELECT day, CASE WHEN day = MIN(day) OVER (PARTITION BY user_id) THEN 1 ELSE 0 END AS is_new
  FROM activity
)
SELECT day,
       CAST(SUM(is_new) AS BIGINT) AS new_users,
       CAST(SUM(1 - is_new) AS BIGINT) AS returning_users
FROM tagged GROUP BY day
""",
    tags=("M1", "analytics"),
)
def s23_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    activity = (
        table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        # repartition on the window key BEFORE distinct: the distinct's
        # partial agg still combines map-side, and the user-hash
        # exchange is shared with the first-seen window (no second
        # repartition between them)
        .repartition("user_id")
        .distinct()
    )
    is_new = F.when(
        F.col("day") == F.min("day").over(Window.partitionBy("user_id")), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        activity.select("day", is_new.alias("is_new"))
        .groupBy("day")
        .agg(
            F.sum("is_new").cast("long").alias("new_users"),
            F.sum(F.lit(1) - F.col("is_new")).cast("long").alias("returning_users"),
        )
    )


@query(
    "w27_acf_lags",
    "Autocorrelation function per series at lags 1..6 (the notebook's "
    "ACF/PACF diagnostic X4, here as pure SQL instead of statsmodels): "
    "corr(x_t, x_{t-k}) from lag columns — one partitioned sort feeds "
    "all six lags, no self-joins.  corr is the W4 precedent: rounded "
    "to 6dp, orders above the cross-engine FP error of the two-pass "
    "formula.  Output long-form (flag, lag_k, acf).",
    f"""
WITH {MONTHLY_CTE},
lagged AS (
  SELECT flag, revenue,
         lag(revenue, 1) OVER w AS l1, lag(revenue, 2) OVER w AS l2,
         lag(revenue, 3) OVER w AS l3, lag(revenue, 4) OVER w AS l4,
         lag(revenue, 5) OVER w AS l5, lag(revenue, 6) OVER w AS l6
  FROM monthly
  WINDOW w AS (PARTITION BY flag ORDER BY month)
)
SELECT flag, lag_k, ROUND(acf, 6) AS acf
FROM (
  SELECT flag, 1 AS lag_k, corr(revenue, l1) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 2, corr(revenue, l2) FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 3, corr(revenue, l3) FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 4, corr(revenue, l4) FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 5, corr(revenue, l5) FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 6, corr(revenue, l6) FROM lagged GROUP BY flag
)
""",
    tags=("M2", "timeseries"),
)
def w27_acf_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    w = Window.partitionBy("flag").orderBy("month")
    lagged = m.select(
        "flag",
        "revenue",
        *[F.lag("revenue", k).over(w).alias(f"l{k}") for k in range(1, 7)],
    )
    # ONE aggregate computes all six ACFs, exploded to long form —
    # the former per-lag groupBy + unionByName re-derived the monthly
    # aggregate and its window sort SIX times (12 exchanges in the
    # r12 plan audit; one scan+agg+window after).  Each corr sees the
    # same inputs under the same aggregate, so values are identical;
    # the oracle keeps its UNION ALL spelling.
    acf_structs = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("lag_k"),
                F.round(F.corr("revenue", f"l{k}"), 6).alias("acf"),
            )
            for k in range(1, 7)
        ]
    )
    return (
        lagged.groupBy("flag")
        .agg(acf_structs.alias("__a"))
        .select("flag", F.explode("__a").alias("__x"))
        .select("flag", F.col("__x.lag_k").alias("lag_k"), F.col("__x.acf").alias("acf"))
    )


@query(
    "w28_minmax_scale",
    "Per-group min-max feature scaling (ML prep: normalize each "
    "series into [0,1]): group min/max as window aggregates over the "
    "partition — no join-back — then one IEEE (x-min)/(max-min) on "
    "identical doubles.  Constant series (max=min) scale to NULL "
    "rather than dividing by zero, pinned on both engines.",
    f"""
WITH {MONTHLY_CTE}
SELECT flag, month, revenue,
       CASE WHEN MAX(revenue) OVER w <> MIN(revenue) OVER w
            THEN (revenue - MIN(revenue) OVER w)
                 / (MAX(revenue) OVER w - MIN(revenue) OVER w)
       END AS scaled
FROM monthly
WINDOW w AS (PARTITION BY flag)
""",
    tags=("M2", "ml-prep"),
)
def w28_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    w = Window.partitionBy("flag")
    mn, mx = F.min("revenue").over(w), F.max("revenue").over(w)
    return m.select(
        "flag",
        "month",
        "revenue",
        F.when(mx != mn, (F.col("revenue") - mn) / (mx - mn)).alias("scaled"),
    )


@query(
    "w29_winsorize",
    "Per-group winsorization at p05/p95 (outlier clipping before "
    "model fits — the robust sibling of the notebook's rolling-median "
    "repair W5): exact interpolated percentiles as window aggregates "
    "over the partition (the w20 MAD precedent), then clip via "
    "greatest/least.  Percentile interpolation rounds to 6dp before "
    "the clip so the boundary decision is identical cross-engine.",
    """
WITH t AS (
  SELECT o_orderpriority AS priority, o_orderkey, o_totalprice,
         ROUND(quantile_cont(o_totalprice, 0.05) OVER (PARTITION BY o_orderpriority), 6) AS p05,
         ROUND(quantile_cont(o_totalprice, 0.95) OVER (PARTITION BY o_orderpriority), 6) AS p95
  FROM orders
)
SELECT priority, o_orderkey, o_totalprice,
       GREATEST(p05, LEAST(p95, o_totalprice)) AS winsorized,
       CAST(o_totalprice < p05 OR o_totalprice > p95 AS INT) AS clipped
FROM t
""",
    tags=("M2", "ml-prep"),
)
def w29_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderpriority")
    p05 = F.round(F.percentile("o_totalprice", F.lit(0.05)).over(w), 6)
    p95 = F.round(F.percentile("o_totalprice", F.lit(0.95)).over(w), 6)
    t = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        "o_orderkey",
        "o_totalprice",
        p05.alias("p05"),
        p95.alias("p95"),
    )
    return t.select(
        "priority",
        "o_orderkey",
        "o_totalprice",
        F.greatest("p05", F.least("p95", F.col("o_totalprice"))).alias("winsorized"),
        (
            (F.col("o_totalprice") < F.col("p05"))
            | (F.col("o_totalprice") > F.col("p95"))
        )
        .cast("int")
        .alias("clipped"),
    )


@query(
    "q01_pricing_summary",
    "TPC-H Q1 pricing summary (the canonical scan-heavy aggregate): "
    "one lineitem scan, date-filtered at the parquet reader, eight "
    "aggregates per (returnflag, linestatus) — all map-side-"
    "combinable, so the shuffle moves a handful of rows no matter the "
    "input size.  Sums are decimal-exact (plans/base.py contract); "
    "averages divide the exact sums by the exact counts in one IEEE "
    "op each.",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    headline=True,
    tags=("M1", "agg"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: 8 decimal aggregates on a single-row-group scan serialize
    # the partial agg on one core; round-robin first (identity at
    # production scan widths) measured 0.97 s -> 0.59 s at sf0.1
    li = spread(
        table(spark, sf_dir, "lineitem").filter(
            F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
        )
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_base_price"),
        dsum(disc_price).alias("sum_disc_price"),
        dsum(charge).alias("sum_charge"),
        (dsum("l_quantity") / n).alias("avg_qty"),
        (dsum("l_extendedprice") / n).alias("avg_price"),
        (dsum("l_discount") / n).alias("avg_disc"),
        n.cast("long").alias("count_order"),
    )


@query(
    "q03_shipping_priority",
    "TPC-H Q3 shipping priority (filter-join-aggregate-topN): orders "
    "date-filtered both sides of the join, revenue per (orderkey, "
    "orderdate, priority), top 10 by revenue with a UNIQUE "
    "tie-breaker (orderkey) so the limit is deterministic.  Both "
    "filters push to their parquet scans; the topN runs as "
    "TakeOrderedAndProject — per-partition heaps then one 10-row "
    "merge, never a global sort of the aggregate.",
    """
SELECT l.l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderdate < TIMESTAMP '1997-01-01'
  AND l.l_shipdate  > TIMESTAMP '1997-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 10
""",
    tags=("M1", "join"),
)
def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    )
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    net = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(net).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "a09_share_of_total",
    "Percent-contribution analysis (share of corpus-wide total per "
    "group): the grand total is ONE scalar, so it is aggregated "
    "first and inlined as a driver literal (the temperature_mix "
    "precedent) — a literal-key equi-join constant-folds to `true` "
    "and degenerates to the BroadcastNestedLoopJoin the plan audit "
    "red-flags, and an empty-partition window single-partitions the "
    "data.  Both numerator and denominator are decimal-exact; the "
    "share is one IEEE divide.",
    """
WITH per_nation AS (
  SELECT n.n_name,
         CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS acctbal
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
), tot AS (
  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total FROM customer
)
SELECT n_name, acctbal, acctbal / total AS share
FROM per_nation, tot
""",
    tags=("M1", "analytics"),
)
def a09_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    # the grand total is ONE scalar: fetch it driver-side and inline it
    # as a literal (the temperature_mix precedent).  A literal-key
    # equi-join constant-folds to `true` and degenerates to a
    # BroadcastNestedLoopJoin — the audit red flag this avoids.
    total = float(c.agg(dsum("c_acctbal").alias("t")).collect()[0]["t"])
    return (
        c.join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(dsum("c_acctbal").alias("acctbal"))
        .select(
            "n_name",
            "acctbal",
            (F.col("acctbal") / F.lit(total)).alias("share"),
        )
    )


@query(
    "s24_peak_hour_profile",
    "Hour-of-day × event-type activity profile (the ops-dashboard "
    "heatmap): hour extraction is row-local, the aggregate map-side-"
    "combines into a ≤24×types-row shuffle, and the per-type hourly "
    "share divides two exact counts.  At 100 TB this is one scan — "
    "the profile table never grows with the data.",
    """
WITH h AS (
  SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, hour_of_day, n,
       CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY event_type) AS DOUBLE) AS hour_share
FROM h
""",
    tags=("M1", "analytics"),
)
def s24_peak_hour_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    h = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").cast("int").alias("hour_of_day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.partitionBy("event_type")
    return h.select(
        "event_type",
        "hour_of_day",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w).cast("double")).alias(
            "hour_share"
        ),
    )


@query(
    "x_embed_class_stats",
    "Per-class embedding statistics in ONE scan (clustering-quality / "
    "label-noise signal): posexplode to (label, pos, v), decimal-"
    "exact Σv and Σv² per (label, pos), then per label the centroid "
    "norm ‖c‖² = Σ_pos (Σv/n)² and mean squared norm E‖x‖² = "
    "Σ_pos Σv²/n.  Dispersion (mean squared distance to the "
    "centroid) falls out as E‖x‖² − ‖c‖² because c IS the mean — no "
    "second pass over the vectors, no join back.  Every division/"
    "square is one IEEE op on exact sums → bit-identical oracle.",
    """
WITH pos AS (
  SELECT label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
), per_pos AS (
  SELECT label, pos,
         CAST(SUM(CAST(v AS DECIMAL(28,12))) AS DOUBLE) AS sv,
         CAST(SUM(CAST(v * v AS DECIMAL(28,12))) AS DOUBLE) AS sv2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM pos GROUP BY 1, 2
)
SELECT label,
       CAST(MAX(n) AS BIGINT) AS n_vecs,
       SUM((sv / n) * (sv / n)) AS centroid_sq_norm,
       SUM(sv2 / n) AS mean_sq_norm,
       SUM(sv2 / n) - SUM((sv / n) * (sv / n)) AS dispersion
FROM per_pos GROUP BY label
""",
    tags=("llm", "similarity"),
)
def x_embed_class_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = F.col("v").cast("double")
    per_pos = (
        table(spark, sf_dir, "embeddings")
        .select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(v.cast("decimal(28,12)")).cast("double").alias("sv"),
            F.sum((v * v).cast("decimal(28,12)")).cast("double").alias("sv2"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    c2 = F.sum((F.col("sv") / F.col("n")) * (F.col("sv") / F.col("n")))
    m2 = F.sum(F.col("sv2") / F.col("n"))
    return per_pos.groupBy("label").agg(
        F.max("n").cast("long").alias("n_vecs"),
        c2.alias("centroid_sq_norm"),
        m2.alias("mean_sq_norm"),
        (m2 - c2).alias("dispersion"),
    )


@query(
    "s25_event_cooccurrence",
    "Event-type co-occurrence matrix (market-basket shape): which "
    "event types the SAME user performs.  Distinct (user, type) "
    "pre-aggregates first — the self-join fans out over ≤|types| "
    "rows per user, never the raw event count; the ordered pair "
    "predicate (t1 < t2) emits each unordered pair once.  Both the "
    "distinct and the join key on user_id, sharing one exchange.",
    """
WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
SELECT a.event_type AS type_1, b.event_type AS type_2,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
""",
    tags=("M1", "analytics"),
)
def s25_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        table(spark, sf_dir, "events")
        .select("user_id", "event_type")
        .repartition("user_id")
        .distinct()
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_1"),
            F.col("b.event_type").alias("type_2"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@query(
    "s26_data_freshness",
    "Per-partition data-freshness lag (the pipeline-health monitor "
    "every ingest needs): latest event per type vs the corpus-wide "
    "high-water mark, lag in exact integer microseconds (NTZ-safe "
    "epoch).  One scan, map-side-combinable maxes, output bounded by "
    "the partition count; the global high-water mark is a window max "
    "over the ALREADY-aggregated per-type table (types-row state, "
    "not a second scan).",
    """
WITH per_type AS (
  SELECT event_type, MAX(ts) AS latest_ts, CAST(MAX(epoch_us(ts)) AS BIGINT) AS latest_us
  FROM events GROUP BY 1
)
SELECT event_type, latest_ts,
       CAST(MAX(latest_us) OVER () - latest_us AS BIGINT) AS lag_us
FROM per_type
""",
    tags=("M1", "quality"),
)
def s26_data_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_type = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("ts").alias("latest_ts"), F.max(us).alias("latest_us"))
    )
    w = Window.partitionBy()
    return per_type.select(
        "event_type",
        "latest_ts",
        (F.max("latest_us").over(w) - F.col("latest_us"))
        .cast("long")
        .alias("lag_us"),
    )


def _minhash_est_sql() -> str:
    matches = " + ".join(
        f"(CASE WHEN s1.s{i} = s2.s{i} THEN 1 ELSE 0 END)" for i in range(16)
    )
    return f"""
WITH {SIG_CTE},
banded AS (
{BANDED_SQL}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
  FROM banded a
  JOIN banded b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
              AND a.doc_id < b.doc_id
)
SELECT p.doc_id_1, p.doc_id_2,
       CAST({matches} AS BIGINT) AS n_match,
       CAST({matches} AS DOUBLE) / 16.0 AS jaccard_est
FROM pairs p
JOIN sig s1 ON s1.doc_id = p.doc_id_1
JOIN sig s2 ON s2.doc_id = p.doc_id_2
"""


@query(
    "x_dedup_minhash_estimate",
    "MinHash Jaccard ESTIMATION for LSH candidates — the verification "
    "step between candidate generation (banding) and expensive exact "
    "verification: estimated Jaccard = fraction of agreeing signature "
    "components (the unbiased MinHash estimator, Broder 1997).  The "
    "estimate reads 16 ints per side — at 100 TB this verifies "
    "candidates WITHOUT re-reading document text; only pairs passing "
    "the estimate proceed to exact token comparison.  Signatures "
    "attach via two joins keyed on doc id (signature table is "
    "doc-count-sized, broadcastable); agreement count is integer-"
    "exact, the estimate one IEEE divide.",
    _minhash_est_sql(),
    tags=("M4", "dedup"),
)
def x_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    from ..operators.dedup import lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(sigs)
    s1 = sigs.select(
        F.col("doc_id").alias("doc_id_1"),
        *[F.col(f"s{i}").alias(f"a{i}") for i in range(16)],
    )
    s2 = sigs.select(
        F.col("doc_id").alias("doc_id_2"),
        *[F.col(f"s{i}").alias(f"b{i}") for i in range(16)],
    )
    n_match = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(16)
    )
    return (
        pairs.join(broadcast(s1), "doc_id_1")
        .join(broadcast(s2), "doc_id_2")
        .select(
            "doc_id_1",
            "doc_id_2",
            n_match.cast("long").alias("n_match"),
            (n_match.cast("double") / F.lit(16.0)).alias("jaccard_est"),
        )
    )


@query(
    "w30_seasonal_anomaly",
    "Seasonal anomaly flags (W26 ∘ W20 composition — library operators "
    "composing into a detector): deviation from the calendar-month "
    "seasonal mean, normalized by the per-series MAD of deviations; "
    "|dev| > 3·MAD flags the anomaly.  Seasonal mean and MAD are both "
    "window aggregates (no join-backs); MAD interpolation rounds to "
    "6dp before the boundary compare (w20 precedent) so the flag "
    "decision is identical cross-engine; MAD=0 series yield NULL "
    "flags, not divide-by-zero.",
    f"""
WITH {MONTHLY_CTE},
dev AS (
  SELECT flag, month, revenue,
         revenue - CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (PARTITION BY flag, month(month)) AS DOUBLE)
                   / COUNT(*) OVER (PARTITION BY flag, month(month)) AS deviation
  FROM monthly
), scored AS (
  SELECT flag, month, revenue, deviation,
         ROUND(quantile_cont(abs(deviation - med), 0.5) OVER (PARTITION BY flag), 6) AS mad
  FROM (
    SELECT *, quantile_cont(deviation, 0.5) OVER (PARTITION BY flag) AS med
    FROM dev
  )
)
SELECT flag, month, revenue, deviation,
       CASE WHEN mad > 0 THEN CAST(abs(deviation) > 3 * mad AS INT) END AS is_anomaly
FROM scored
""",
    tags=("M2", "timeseries"),
)
def w30_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir).select("flag", "month", "revenue")
    ws = Window.partitionBy("flag", F.month("month"))
    wf = Window.partitionBy("flag")
    smean = (
        F.sum(F.col("revenue").cast("decimal(18,6)")).over(ws).cast("double")
        / F.count(F.lit(1)).over(ws)
    )
    dev = m.select(
        "flag", "month", "revenue", (F.col("revenue") - smean).alias("deviation")
    )
    med = F.percentile("deviation", F.lit(0.5)).over(wf)
    scored = dev.withColumn(
        "mad",
        F.round(
            F.percentile(F.abs(F.col("deviation") - med), F.lit(0.5)).over(wf), 6
        ),
    )
    return scored.select(
        "flag",
        "month",
        "revenue",
        "deviation",
        F.when(
            F.col("mad") > 0,
            (F.abs("deviation") > 3 * F.col("mad")).cast("int"),
        ).alias("is_anomaly"),
    )


@query(
    "s27_cusum_alarm",
    "Floored one-sided CUSUM with alarm flags (Page 1954 — the "
    "PROPER online change detector; w24 ships the raw unfloored "
    "statistic): per event-type series, S+ = C - min(0, running "
    "min C) and S- = C - max(0, running max C) via the closed form "
    "that turns the max(0, S+d) recursion into two window extrema "
    "over ONE partitioned sort — a single exchange, no recursion, "
    "fully codegen.  Deviations center on the per-type mean (exact "
    "decimal sum / count, one IEEE divide) and accumulate in "
    "DECIMAL(18,6), so both engines agree bitwise; streaming twin "
    "in streaming/drift.py carries (S+, S-) as O(1) state.",
    """
WITH base AS (
  SELECT event_type, event_id, ts,
         CAST(value - (CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (PARTITION BY event_type) AS DOUBLE)
                       / COUNT(*) OVER (PARTITION BY event_type)) AS DECIMAL(18,6)) AS d
  FROM events
), c AS (
  SELECT event_type, event_id, ts,
         SUM(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
  FROM base
), s AS (
  SELECT event_type, event_id,
         c - least(CAST(0 AS DECIMAL(18,6)),
                   MIN(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_plus,
         c - greatest(CAST(0 AS DECIMAL(18,6)),
                      MAX(c) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS s_minus
  FROM c
)
SELECT event_type, event_id,
       CAST(s_plus AS DOUBLE) AS s_plus,
       CAST(s_minus AS DOUBLE) AS s_minus,
       CAST(CAST(s_plus AS DOUBLE) > 50.0 OR CAST(s_minus AS DOUBLE) < -50.0 AS INT) AS alarm
FROM s
""",
    tags=("M1", "analytics", "streaming-twin"),
)
def s27_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..streaming.drift import cusum_batch

    ev = table(spark, sf_dir, "events")
    wt = Window.partitionBy("event_type")
    mean = (
        F.sum(F.col("value").cast("decimal(18,6)")).over(wt).cast("double")
        / F.count(F.lit(1)).over(wt)
    )
    base = ev.select(
        "event_type",
        "event_id",
        "ts",
        (F.col("value") - mean).cast("decimal(18,6)").alias("d"),
    )
    out = cusum_batch(
        base, "event_type", ["ts", "event_id"], F.col("d"), h=50.0, decimal_exact=True
    )
    return out.select(
        "event_type",
        "event_id",
        F.col("s_plus").cast("double").alias("s_plus"),
        F.col("s_minus").cast("double").alias("s_minus"),
        (
            (F.col("s_plus").cast("double") > 50.0)
            | (F.col("s_minus").cast("double") < -50.0)
        ).cast("int").alias("alarm"),
    )


@query(
    "w31_theil_sen_trend",
    "Theil-Sen robust trend per series (the median-of-pairwise-slopes "
    "estimator — up to 29% outlier breakdown vs OLS's zero; "
    "complements w22_ols_trend): all month-pair slopes via an "
    "equi-self-join on the series key with a month inequality — the "
    "pair count is (months choose 2) per series, BOUNDED by the "
    "calendar (~84 months → ~3.5k pairs) regardless of fact-table "
    "size, because the join runs on the PRE-AGGREGATED monthly table "
    "(the 100 TB rows collapse before any quadratic work).  Slope "
    "median is an exact interpolated percentile over IEEE-identical "
    "doubles; intercept = median(y − slope_med·x).",
    f"""
WITH {MONTHLY_CTE},
idx AS (
  SELECT flag, month, revenue,
         CAST(datediff('month', DATE '1995-01-01', month) AS DOUBLE) AS x
  FROM monthly
),
slopes AS (
  SELECT a.flag, (b.revenue - a.revenue) / (b.x - a.x) AS slope
  FROM idx a JOIN idx b ON a.flag = b.flag AND a.x < b.x
),
med AS (
  SELECT flag, ROUND(quantile_cont(slope, 0.5), 6) AS slope_med,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes GROUP BY 1
)
SELECT i.flag, m.slope_med, m.n_pairs,
       ROUND(quantile_cont(i.revenue - m.slope_med * i.x, 0.5), 6) AS intercept_med
FROM idx i JOIN med m ON i.flag = m.flag
GROUP BY 1, 2, 3
""",
    tags=("M2", "window"),
)
def w31_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    m = monthly_lineitem(spark, sf_dir)
    idx = m.select(
        "flag",
        "revenue",
        F.months_between(F.col("month"), F.lit("1995-01-01").cast("date"))
        .cast("double")
        .alias("x"),
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(
        b, (F.col("a.flag") == F.col("b.flag")) & (F.col("a.x") < F.col("b.x"))
    ).select(
        F.col("a.flag").alias("flag"),
        ((F.col("b.revenue") - F.col("a.revenue")) / (F.col("b.x") - F.col("a.x"))).alias("slope"),
    )
    med = slopes.groupBy("flag").agg(
        F.round(F.percentile("slope", F.lit(0.5)), 6).alias("slope_med"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    return (
        idx.join(broadcast(med), "flag")
        .groupBy("flag", "slope_med", "n_pairs")
        .agg(
            F.round(
                F.percentile(F.col("revenue") - F.col("slope_med") * F.col("x"), F.lit(0.5)),
                6,
            ).alias("intercept_med")
        )
    )


@query(
    "s28_conversion_latency",
    "First-touch→first-conversion latency distribution (the funnel "
    "companion answering HOW FAST, where s12 answers HOW MANY): per "
    "user, the gap between first 'view' and the first purchase AT OR "
    "AFTER it (a purchase predating the first view must not "
    "disqualify the user).  First-view collapses map-side to a row "
    "per user; purchases join it keyed on user and min-aggregate "
    "after the at-or-after filter; latencies are "
    "exact integer microseconds (the NTZ seam contract: unix_micros "
    "after cast, never a numeric cast), percentiles exact "
    "interpolated.",
    """
WITH fv AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS first_view_us
  FROM events GROUP BY 1
),
conv AS (
  SELECT e.user_id,
         (MIN(epoch_us(e.ts)) - f.first_view_us) / 1000000.0 AS latency_s
  FROM events e
  JOIN fv f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
    AND f.first_view_us IS NOT NULL
    AND epoch_us(e.ts) >= f.first_view_us
  GROUP BY 1, f.first_view_us
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(quantile_cont(latency_s, 0.5), 6) AS p50_latency_s,
       ROUND(quantile_cont(latency_s, 0.9), 6) AS p90_latency_s,
       ROUND(MIN(latency_s), 6) AS min_latency_s,
       ROUND(MAX(latency_s), 6) AS max_latency_s
FROM conv
""",
    tags=("M1", "analytics"),
)
def s28_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    # first LATER purchase: the conversion must follow the first view —
    # a user's first-ever purchase may predate it (re-purchaser) and
    # must not disqualify them, so the purchase min is taken over
    # events at-or-after first_view, not over all purchases
    fv = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("first_view_us")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("buy_us"))
        .join(fv, "user_id")
        .filter(
            F.col("first_view_us").isNotNull()
            & (F.col("buy_us") >= F.col("first_view_us"))
        )
        .groupBy("user_id", "first_view_us")
        .agg(F.min("buy_us").alias("first_buy_us"))
        .select(
            ((F.col("first_buy_us") - F.col("first_view_us")) / F.lit(1_000_000.0)).alias("latency_s")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).cast("long").alias("n_converted"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 6).alias("p50_latency_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 6).alias("p90_latency_s"),
        F.round(F.min("latency_s"), 6).alias("min_latency_s"),
        F.round(F.max("latency_s"), 6).alias("max_latency_s"),
    )


def _kcore_round_sql(i: int) -> str:
    # AS MATERIALIZED is load-bearing: each round references the
    # previous one 3x, and DuckDB's default CTE inlining would blow
    # the plan up 3^depth (observed as "Too many open files" from
    # 3^24 parquet scans).  Materialization keeps it linear in depth.
    prev = f"kr{i - 1}" if i else "ksym"
    return (
        f"kr{i} AS MATERIALIZED (\n"
        f"  SELECT e.a, e.b FROM {prev} e\n"
        f"  JOIN (SELECT a FROM {prev} GROUP BY a HAVING COUNT(*) >= 4) ka ON e.a = ka.a\n"
        f"  JOIN (SELECT a FROM {prev} GROUP BY a HAVING COUNT(*) >= 4) kb ON e.b = kb.a\n"
        f")"
    )


# The peel converges in 1 round at sf0.001/sf0.01 (the co-purchase
# graph is dense: every part's degree >= 4 already); 24 unrolled
# rounds is a 24x margin, and post-convergence rounds are identity
# (each is a no-op filter), so the unroll depth only bounds cost,
# never correctness at these SFs.
_KCORE_PEEL_DEPTH = 24

_KCORE_SQL = (
    """
WITH kpairs AS (
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
kdedup AS MATERIALIZED (SELECT DISTINCT src, dst FROM kpairs),
ksym AS MATERIALIZED (SELECT src AS a, dst AS b FROM kdedup UNION SELECT dst, src FROM kdedup),
"""
    + ",\n".join(_kcore_round_sql(i) for i in range(_KCORE_PEEL_DEPTH))
    + f"\nSELECT DISTINCT a AS node FROM kr{_KCORE_PEEL_DEPTH - 1} ORDER BY node"
)


@query(
    "x_graph_kcore",
    "k-core of the co-purchase graph (parts sharing an order; the "
    "graph-curation prune dropping low-connectivity tails before "
    "expensive per-node work).  Iterative peel with parquet-backed "
    "rounds (operators/graph.py k_core — the connected_components "
    "state discipline): per round one degree aggregate + two LEFT "
    "SEMI endpoint filters, edge set only shrinks, convergence "
    "observed inside the state write.  Oracle: the same peel unrolled "
    "to a fixed depth in plain SQL — extra rounds past the fixpoint "
    "are identity filters, so a generous unroll (24x the measured "
    "convergence depth) is exact.  Exactness is also pytest-verified "
    "against the textbook peel on planted graphs.",
    _KCORE_SQL,
    tags=("M4", "graph"),
)
def x_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import k_core

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    edges = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
    return k_core(edges, k=4).orderBy("node")


@query(
    "w32_seasonal_strength",
    "Seasonal-strength diagnostic per series (Hyndman's F_s = "
    "max(0, 1 - var(remainder)/var(detrended)) — the model-selection "
    "signal behind the reference's seasonality checks, computed as "
    "STL-lite): trend = the standard 2x12 centered MA for period-12 "
    "data (13 terms, HALF weights on the endpoint months so every "
    "calendar month carries equal weight — a flat 13-term mean "
    "double-counts one month), detrended = y - trend, seasonal = "
    "per-calendar-month mean of detrended, remainder = detrended - "
    "seasonal.  One partitioned sort serves the MA and both endpoint "
    "lags; only the O(1) strength ratio is emitted.",
    f"""
WITH {MONTHLY_CTE},
t AS (
  SELECT flag, month, revenue,
         CASE WHEN COUNT(*) OVER w = 13
              THEN (SUM(revenue) OVER w
                    - 0.5 * lag(revenue, 6) OVER o
                    - 0.5 * lead(revenue, 6) OVER o) / 12.0 END AS trend
  FROM monthly
  WINDOW w AS (PARTITION BY flag ORDER BY month
               ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING),
         o AS (PARTITION BY flag ORDER BY month)
),
d AS (
  SELECT flag, month, revenue - trend AS detrended,
         EXTRACT(month FROM month) AS moy
  FROM t WHERE trend IS NOT NULL
),
s AS (
  SELECT flag, month, detrended,
         detrended - AVG(detrended) OVER (PARTITION BY flag, moy) AS remainder
  FROM d
)
SELECT flag,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(greatest(0.0, 1.0 - var_samp(remainder) / var_samp(detrended)), 6) AS seasonal_strength
FROM s
GROUP BY 1
""",
    tags=("M2", "window"),
)
def w32_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir)
    o = Window.partitionBy("flag").orderBy("month")
    w = o.rowsBetween(-6, 6)
    trend = (
        F.sum("revenue").over(w)
        - 0.5 * F.lag("revenue", 6).over(o)
        - 0.5 * F.lead("revenue", 6).over(o)
    ) / 12.0
    t = m.select(
        "flag",
        "month",
        "revenue",
        F.when(F.count(F.lit(1)).over(w) == 13, trend).alias("trend"),
    ).filter(F.col("trend").isNotNull())
    d = t.select(
        "flag",
        "month",
        (F.col("revenue") - F.col("trend")).alias("detrended"),
        F.month("month").alias("moy"),
    )
    sw = Window.partitionBy("flag", "moy")
    s = d.select(
        "flag",
        "detrended",
        (F.col("detrended") - F.avg("detrended").over(sw)).alias("remainder"),
    )
    vd = F.var_samp("detrended")
    vr = F.var_samp("remainder")
    # raw variances are ~1e12-magnitude, order-dependent doubles — no
    # fixed decimal rounding is scale-safe, so only the O(1) ratio is
    # emitted (relative error ~1e-15 → round 6 is 9 orders of margin)
    return s.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.round(F.greatest(F.lit(0.0), F.lit(1.0) - vr / vd), 6).alias("seasonal_strength"),
    )


@query(
    "a11_basket_lift",
    "Market-basket affinity (lift) over co-purchased part pairs — the "
    "recommender-adjacent classic on the triangle-count edge build: "
    "lift(a,b) = P(a,b) / (P(a)·P(b)) over order baskets.  Distinct "
    "(order, part) pre-agg bounds the self-join fan-out at basket "
    "size (never raw line count).  The per-part support joins carry "
    "NO broadcast hint: supports are |parts|-cardinality, which OOMs "
    "executors at TPC-H sf100k if force-broadcast — AQE picks "
    "broadcast when the side is actually small and shuffle-hash "
    "otherwise (VERDICT r3).  All probabilities divide exact integer "
    "counts by the exact order count; top-20 by lift with a pair "
    "tie-break runs as TakeOrderedAndProject.  Support floor 5 kills "
    "noise pairs.",
    """
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM baskets),
supp AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part FROM baskets GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS part_1, b.l_partkey AS part_2,
         CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM baskets a JOIN baskets b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 5
)
SELECT p.part_1, p.part_2, p.n_pair, s1.n_part AS n_1, s2.n_part AS n_2,
       ROUND((CAST(p.n_pair AS DOUBLE) / o.n)
             / ((CAST(s1.n_part AS DOUBLE) / o.n) * (CAST(s2.n_part AS DOUBLE) / o.n)), 6) AS lift
FROM pairs p
JOIN supp s1 ON p.part_1 = s1.l_partkey
JOIN supp s2 ON p.part_2 = s2.l_partkey
CROSS JOIN n_orders o
ORDER BY lift DESC, p.part_1, p.part_2
LIMIT 20
""",
    tags=("M1", "analytics"),
)
def a11_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    baskets = (
        table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    )
    n_orders = int(baskets.select(F.countDistinct("l_orderkey")).collect()[0][0])
    supp = baskets.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_part")
    )
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_1"), F.col("b.l_partkey").alias("part_2")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .filter(F.col("n_pair") >= 5)
    )
    s1 = supp.select(F.col("l_partkey").alias("part_1"), F.col("n_part").alias("n_1"))
    s2 = supp.select(F.col("l_partkey").alias("part_2"), F.col("n_part").alias("n_2"))
    n = float(n_orders)
    lift = F.round(
        (F.col("n_pair").cast("double") / n)
        / ((F.col("n_1").cast("double") / n) * (F.col("n_2").cast("double") / n)),
        6,
    )
    return (
        pairs.join(s1, "part_1")
        .join(s2, "part_2")
        .select("part_1", "part_2", "n_pair", "n_1", "n_2", lift.alias("lift"))
        .orderBy(F.desc("lift"), "part_1", "part_2")
        .limit(20)
    )


@query(
    "a12_abc_pareto",
    "ABC/Pareto classification of parts by revenue (the inventory-"
    "analytics classic: A = first 70% of cumulative revenue share, "
    "B = to 90%, C = tail): per-part decimal-exact revenue, then the "
    "running total via a TWO-PASS range-partitioned prefix sum — "
    "repartitionByRange on (rev desc, key), per-partition running "
    "sums (window keyed on the partition id, fully parallel), plus "
    "an O(#partitions) offset table joined back — instead of one "
    "unpartitioned window, which serializes the whole per-part table "
    "through a single task at billion-part scale (VERDICT r3).  The "
    "unique (rev, key) tie-break makes the running sum deterministic "
    "regardless of where range boundaries land.  Output is one row "
    "per class (count + exact revenue), so the result is O(3) at any "
    "scale.",
    f"""
WITH per_part AS (
  SELECT l_partkey, {DSUM('l_extendedprice')} AS rev
  FROM lineitem GROUP BY 1
),
tot AS (SELECT CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS t FROM per_part),
ranked AS (
  SELECT l_partkey, rev,
         SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / o.t AS cum_share
  FROM per_part CROSS JOIN tot o
)
SELECT CASE WHEN cum_share <= 0.7 THEN 'A'
            WHEN cum_share <= 0.9 THEN 'B'
            ELSE 'C' END AS abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       ROUND(SUM(rev), 2) AS class_revenue
FROM ranked
GROUP BY 1
""",
    tags=("M1", "analytics"),
)
def a12_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.prefix import global_running_sum

    per_part = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(dsum("l_extendedprice").alias("rev"))
    )
    # two-pass distributed prefix sum (operators/prefix.py): correct
    # for ANY range-boundary choice because the (rev desc, key) sort
    # key is unique
    run = global_running_sum(
        per_part, [F.desc("rev"), F.col("l_partkey")], "rev", out="cum"
    )
    # ONE scalar total — driver literal (a09 precedent); decimal-exact
    # sum so both engines divide by the identical double.  Reads the
    # helper's already-materialized checkpoint, not the fact scan.
    total = float(
        run.agg(F.sum(F.col("rev").cast("decimal(18,6)")).cast("double")).collect()[0][0]
    )
    ranked = run.withColumn("cum_share", F.col("cum") / F.lit(total))
    cls = (
        F.when(F.col("cum_share") <= 0.7, "A")
        .when(F.col("cum_share") <= 0.9, "B")
        .otherwise("C")
    )
    return ranked.groupBy(cls.alias("abc_class")).agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(F.sum("rev"), 2).alias("class_revenue"),
    )


@query(
    "u07_grouping_sets",
    "Explicit GROUPING SETS with grouping_id (completing the "
    "grouping-family literally alongside u04 ROLLUP / u05 CUBE): "
    "revenue by (flag, status), by flag alone, and grand total in "
    "ONE pass — Spark expands the sets into a single Expand + "
    "aggregate, so the fact table is scanned once, not three times; "
    "grouping_id() disambiguates the NULL-as-subtotal rows exactly "
    "as both engines define it.",
    f"""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
       {DSUM('l_extendedprice')} AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("M1", "agg"),
)
def u07_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("u07_lineitem")
    return li.sparkSession.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_rows
        FROM u07_lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@query(
    "s29_event_trigrams",
    "Top event-path trigrams (the length-3 extension of s20's "
    "first-order transitions — the path-analysis query behind "
    "'what do users do next?'): per-user total-order event sequence "
    "via two lags over ONE partitioned sort, trigram counts map-side-"
    "combine into a ≤|types|³-row table, top-15 by count with a "
    "lexicographic tie-break runs as TakeOrderedAndProject.  The "
    "(ts, event_id) order key is unique, so the sequences — and "
    "therefore the counts — are deterministic on both engines.",
    """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type, 1) OVER w AS prev1,
         lag(event_type, 2) OVER w AS prev2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT prev2 AS step_1, prev1 AS step_2, event_type AS step_3,
       CAST(COUNT(*) AS BIGINT) AS n
FROM seq
WHERE prev1 IS NOT NULL AND prev2 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, step_1, step_2, step_3
LIMIT 15
""",
    tags=("M1", "analytics"),
)
def s29_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    ).filter(F.col("prev1").isNotNull() & F.col("prev2").isNotNull())
    return (
        seq.groupBy(
            F.col("prev2").alias("step_1"),
            F.col("prev1").alias("step_2"),
            F.col("event_type").alias("step_3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "step_1", "step_2", "step_3")
        .limit(15)
    )


@query(
    "w33_detected_period",
    "Seasonal-period detection via ACF argmax over lags 2..13 (the "
    "DECISION step on top of w27's diagnostic, mirroring the "
    "notebook's periodogram-based period estimate X4): per series, "
    "the lag with the highest autocorrelation wins, ranked on the "
    "ROUNDED acf with a smallest-lag tie-break so the cross-engine "
    "argmax is deterministic.  One partitioned sort feeds all 12 "
    "lag columns; each acf is a two-pass-free corr over the "
    "pre-aggregated monthly table.",
    f"""
WITH {MONTHLY_CTE},
lagged AS (
  SELECT flag, revenue,
         lag(revenue, 2) OVER w AS l2,
         lag(revenue, 3) OVER w AS l3,
         lag(revenue, 4) OVER w AS l4,
         lag(revenue, 5) OVER w AS l5,
         lag(revenue, 6) OVER w AS l6,
         lag(revenue, 7) OVER w AS l7,
         lag(revenue, 8) OVER w AS l8,
         lag(revenue, 9) OVER w AS l9,
         lag(revenue, 10) OVER w AS l10,
         lag(revenue, 11) OVER w AS l11,
         lag(revenue, 12) OVER w AS l12,
         lag(revenue, 13) OVER w AS l13
  FROM monthly
  WINDOW w AS (PARTITION BY flag ORDER BY month)
),
acfs AS (
  SELECT flag, lag_k, ROUND(acf, 6) AS acf
  FROM (
  SELECT flag, 2 AS lag_k, corr(revenue, l2) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 3 AS lag_k, corr(revenue, l3) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 4 AS lag_k, corr(revenue, l4) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 5 AS lag_k, corr(revenue, l5) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 6 AS lag_k, corr(revenue, l6) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 7 AS lag_k, corr(revenue, l7) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 8 AS lag_k, corr(revenue, l8) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 9 AS lag_k, corr(revenue, l9) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 10 AS lag_k, corr(revenue, l10) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 11 AS lag_k, corr(revenue, l11) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 12 AS lag_k, corr(revenue, l12) AS acf FROM lagged GROUP BY flag
  UNION ALL SELECT flag, 13 AS lag_k, corr(revenue, l13) AS acf FROM lagged GROUP BY flag
  )
)
SELECT flag, CAST(lag_k AS INT) AS detected_period, acf AS peak_acf
FROM acfs
QUALIFY row_number() OVER (PARTITION BY flag ORDER BY acf DESC, lag_k) = 1
""",
    tags=("M2", "timeseries"),
)
def w33_detected_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir)
    w = Window.partitionBy("flag").orderBy("month")
    lagged = m.select(
        "flag",
        "revenue",
        *[F.lag("revenue", k).over(w).alias(f"l{k}") for k in range(2, 14)],
    )
    # ONE aggregate for all 12 ACFs, exploded to long form — the
    # former per-lag groupBy + unionByName re-derived the monthly
    # aggregate and its window sort TWELVE times (24 exchanges in the
    # r12 plan audit; one scan+agg+window after).  Identical corr
    # values; the oracle keeps its UNION ALL spelling.
    acf_structs = F.array(
        *[
            F.struct(
                F.lit(k).alias("lag_k"),
                F.round(F.corr("revenue", f"l{k}"), 6).alias("acf"),
            )
            for k in range(2, 14)
        ]
    )
    acfs = (
        lagged.groupBy("flag")
        .agg(acf_structs.alias("__a"))
        .select("flag", F.explode("__a").alias("__x"))
        .select("flag", F.col("__x.lag_k").alias("lag_k"), F.col("__x.acf").alias("acf"))
    )
    rw = Window.partitionBy("flag").orderBy(F.desc("acf"), "lag_k")
    return (
        acfs.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select(
            "flag",
            F.col("lag_k").cast("int").alias("detected_period"),
            F.col("acf").alias("peak_acf"),
        )
    )


@query(
    "w34_max_drawdown",
    "Maximum drawdown per series (the risk/robustness classic: "
    "largest peak-to-trough fall of the monthly revenue index): "
    "drawdown_t = revenue_t / running-max(revenue) - 1, minimized "
    "per series — ONE partitioned sort feeds the running max and the "
    "final aggregate is map-side tiny.  The ratio divides two "
    "IEEE-identical decimal-exact revenues; the min is order-free.",
    f"""
WITH {MONTHLY_CTE},
dd AS (
  SELECT flag, month, revenue,
         revenue / MAX(revenue) OVER (PARTITION BY flag ORDER BY month
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
           AS drawdown
  FROM monthly
)
SELECT flag,
       ROUND(MIN(drawdown), 6) AS max_drawdown,
       CAST(COUNT(*) AS BIGINT) AS n_months
FROM dd GROUP BY 1
""",
    tags=("M2", "window"),
)
def w34_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    m = monthly_lineitem(spark, sf_dir)
    w = (
        Window.partitionBy("flag")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = m.withColumn(
        "drawdown", F.col("revenue") / F.max("revenue").over(w) - 1
    )
    return dd.groupBy("flag").agg(
        F.round(F.min("drawdown"), 6).alias("max_drawdown"),
        F.count(F.lit(1)).cast("long").alias("n_months"),
    )


@query(
    "w35_backtest_drift",
    "Rolling-origin backtest of the RW-with-drift forecaster (the "
    "standard forecast-evaluation protocol; the model mirrors the "
    "reference's fit_rw_drift_params, EDA.ipynb cell 27): 6 folds per "
    "series, each training on months <= origin and forecasting a "
    "3-step horizon as y0 + step*drift, where drift is the trailing "
    "24-month mean first difference.  Per (series, origin): MAE and "
    "RMSE over the horizon.  Cross-engine determinism: diffs are "
    "decimal-cast before the window SUM (decimal addition is "
    "associative, so Spark's sliding-frame accumulation and DuckDB's "
    "segment tree agree exactly); drift is ONE IEEE divide on "
    "identical inputs; the 3-row error aggregates are rounded above "
    "worst-case partial-order drift.  One partitioned sort per "
    "series, horizon actuals via an equi-self-join on (flag, idx) — "
    "scales in the number of series.",
    f"""
WITH {MONTHLY_CTE},
s AS (
  SELECT flag, month, revenue,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY month) AS idx,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM monthly
),
d AS (
  SELECT *, CAST(revenue - LAG(revenue) OVER (PARTITION BY flag ORDER BY idx) AS DECIMAL(18,6)) AS dff
  FROM s
),
dr AS (
  SELECT *,
         CAST(SUM(dff) OVER w24 AS DOUBLE) / NULLIF(COUNT(dff) OVER w24, 0) AS drift
  FROM d
  WINDOW w24 AS (PARTITION BY flag ORDER BY idx ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
origins AS (
  SELECT flag, month AS origin_month, idx, revenue AS y0, drift
  FROM dr
  WHERE idx BETWEEN n - 8 AND n - 3 AND drift IS NOT NULL
),
f AS (
  SELECT o.flag, o.origin_month,
         o.y0 + t.step * o.drift AS forecast,
         a.revenue AS actual
  FROM origins o
  CROSS JOIN (SELECT UNNEST([1, 2, 3]) AS step) t
  JOIN s a ON a.flag = o.flag AND a.idx = o.idx + t.step
)
SELECT flag, origin_month,
       CAST(COUNT(*) AS BIGINT) AS n_steps,
       ROUND(AVG(ABS(forecast - actual)), 6) AS mae,
       ROUND(SQRT(AVG((forecast - actual) * (forecast - actual))), 6) AS rmse
FROM f GROUP BY 1, 2
ORDER BY 1, 2
""",
    tags=("M3", "window", "forecast"),
)
def w35_backtest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    mon = monthly_lineitem(spark, sf_dir)
    w_m = Window.partitionBy("flag").orderBy("month")
    s = mon.withColumn("idx", F.row_number().over(w_m)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("flag"))
    )
    d = s.withColumn(
        "dff", (F.col("revenue") - F.lag("revenue").over(w_m)).cast("decimal(18,6)")
    )
    w24 = Window.partitionBy("flag").orderBy("idx").rowsBetween(-23, 0)
    dr = d.withColumn(
        "drift",
        F.try_divide(
            F.sum("dff").over(w24).cast("double"), F.count("dff").over(w24)
        ),
    )
    origins = dr.filter(
        (F.col("idx") >= F.col("n") - 8)
        & (F.col("idx") <= F.col("n") - 3)
        & F.col("drift").isNotNull()
    ).select(
        "flag",
        F.col("month").alias("origin_month"),
        "idx",
        F.col("revenue").alias("y0"),
        "drift",
    )
    steps = origins.select(
        "*", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("step")
    )
    actual = s.select(
        F.col("flag").alias("a_flag"),
        F.col("idx").alias("a_idx"),
        F.col("revenue").alias("actual"),
    )
    f = steps.join(
        actual,
        (F.col("flag") == F.col("a_flag"))
        & (F.col("a_idx") == F.col("idx") + F.col("step")),
    ).withColumn("forecast", F.col("y0") + F.col("step") * F.col("drift"))
    err = F.col("forecast") - F.col("actual")
    return (
        f.groupBy("flag", "origin_month")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            F.round(F.avg(F.abs(err)), 6).alias("mae"),
            F.round(F.sqrt(F.avg(err * err)), 6).alias("rmse"),
        )
        .orderBy("flag", "origin_month")
    )


@query(
    "w36_stl_decompose",
    "STL-lite classical decomposition of the monthly revenue series "
    "per flag: trend = centered 2x12 moving average (the standard "
    "even-period weighting: half weight on the +-6 endpoints), "
    "seasonal = per-calendar-month mean of the detrended series "
    "centered to sum to zero, remainder = y - trend - seasonal.  "
    "Engine extension beyond the reference's diff-based seasonality "
    "(EDA.ipynb cell 25 seasonal_difference): gives the notebook's "
    "decomposition plots a distributed, window-only implementation — "
    "TWO ordered windows and one tiny (flag, month-of-year) "
    "aggregate, no applyInPandas.  The trend numerator (2*SUM_11 + "
    "lag6 + lead6) stays DECIMAL end-to-end — exact, "
    "accumulation-order-free in both engines — with ONE double cast "
    "and ONE IEEE divide by 24.0, so the .005 rounding knife-edge "
    "that an ULP of double window-sum drift used to hit "
    "(12928793.925) cannot recur.  Seasonal means are decimal-sum / "
    "count for the same reason.",
    f"""
WITH md AS (
  SELECT l_returnflag AS flag,
         {MONTH_OF('l_shipdate')} AS month,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(24,6)) AS rev_dec
  FROM lineitem
  GROUP BY 1, 2
),
t AS (
  SELECT flag, month, CAST(rev_dec AS DOUBLE) AS y,
         CASE WHEN COUNT(*) OVER w11 = 11
                   AND LAG(rev_dec, 6) OVER wo IS NOT NULL
                   AND LEAD(rev_dec, 6) OVER wo IS NOT NULL
              THEN CAST(SUM(rev_dec) OVER w11 + SUM(rev_dec) OVER w11
                        + LAG(rev_dec, 6) OVER wo
                        + LEAD(rev_dec, 6) OVER wo AS DOUBLE) / 24.0
         END AS trend
  FROM md
  WINDOW wo AS (PARTITION BY flag ORDER BY month),
         w11 AS (PARTITION BY flag ORDER BY month ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
),
s AS (
  SELECT flag, month(month) AS moy,
         CAST(SUM(CAST(y - trend AS DECIMAL(30,8))) AS DOUBLE)
           / COUNT(y - trend) AS s_raw
  FROM t GROUP BY 1, 2
),
sc AS (
  SELECT flag, moy,
         s_raw - CAST(SUM(CAST(s_raw AS DECIMAL(30,8))) OVER (PARTITION BY flag) AS DOUBLE)
                   / COUNT(s_raw) OVER (PARTITION BY flag) AS seasonal
  FROM s
)
SELECT t.flag, t.month,
       -- revenue stays UN-rounded: it is a decimal-exact sum cast to
       -- double (bit-identical cross-engine); rounding it would
       -- CREATE knife-edge .005 hazards (44390.425 at sf0.01)
       t.y AS revenue,
       -- portable 2dp rounding: ROUND(double) itself diverges on
       -- knife-edges (Spark rounds the exact binary expansion,
       -- DuckDB the shortest decimal repr — 12928793.924999999 →
       -- .92 vs .93); FLOOR(x*100+0.5)/100 is three IEEE ops on
       -- bit-identical inputs, hence bit-identical out
       FLOOR(t.trend * 100.0 + 0.5) / 100.0 AS trend,
       FLOOR(sc.seasonal * 100.0 + 0.5) / 100.0 AS seasonal,
       FLOOR((t.y - FLOOR(t.trend * 100.0 + 0.5) / 100.0
                  - FLOOR(sc.seasonal * 100.0 + 0.5) / 100.0) * 100.0 + 0.5)
         / 100.0 AS remainder
FROM t JOIN sc ON t.flag = sc.flag AND month(t.month) = sc.moy
""",
    tags=("M2", "window"),
)
def w36_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    m = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        month_of("l_shipdate").alias("month"),
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
        .cast("decimal(24,6)")
        .alias("rev_dec")
    )
    wo = Window.partitionBy("flag").orderBy("month")
    w11 = wo.rowsBetween(-5, 5)
    rd = F.col("rev_dec")
    l6, d6 = F.lag(rd, 6).over(wo), F.lead(rd, 6).over(wo)
    s11 = F.sum(rd).over(w11)
    # decimal-exact numerator (2*sum11 + lag6 + lead6), one double
    # cast, one IEEE divide — bit-identical in Spark and DuckDB
    trend = F.when(
        (F.count(rd).over(w11) == 11) & l6.isNotNull() & d6.isNotNull(),
        (s11 + s11 + l6 + d6).cast("double") / 24.0,
    )
    t = m.select(
        "flag", "month", rd.cast("double").alias("y"), trend.alias("trend")
    )
    dt = (F.col("y") - F.col("trend")).cast("decimal(30,8)")
    s = t.groupBy(
        F.col("flag").alias("s_flag"), F.month("month").alias("moy")
    ).agg(
        (
            F.sum(dt).cast("double")
            / F.count(F.col("y") - F.col("trend"))
        ).alias("s_raw")
    )
    wf = Window.partitionBy("s_flag")
    sc = s.select(
        "s_flag",
        "moy",
        (
            F.col("s_raw")
            - F.sum(F.col("s_raw").cast("decimal(30,8)")).over(wf).cast("double")
            / F.count("s_raw").over(wf)
        ).alias("seasonal"),
    )
    return (
        t.join(
            sc,
            (F.col("flag") == F.col("s_flag")) & (F.month("month") == F.col("moy")),
        )
        .select(
            "flag",
            "month",
            F.col("y").alias("revenue"),
            _round2(F.col("trend")).alias("trend"),
            _round2(F.col("seasonal")).alias("seasonal"),
            _round2(
                F.col("y") - _round2(F.col("trend")) - _round2(F.col("seasonal"))
            ).alias("remainder"),
        )
    )


@query(
    "w37_changepoint_detect",
    "Mean-shift changepoint detection per event_type "
    "(streaming/drift.py changepoint_mean_shift — the classic CUSUM "
    "changepoint estimator, equivalently binary segmentation at "
    "depth 1, the recursion step PELT builds on): cp = argmax_t "
    "|n*C_t - t*C_n| over the event series ordered by event_id.  "
    "Pure windows — ONE partitioned sort serves row_number + cumsum, "
    "the full-frame count/total ride the same exchange, and the "
    "argmax is a struct-max (no second sort, no applyInPandas).  "
    "Values scale to integer cents so every quantity — running sums, "
    "the scaled statistic, the tie-break — is exact 64-bit integer "
    "arithmetic, identical cross-engine in any accumulation order; "
    "side sums are emitted instead of means to keep the hash exact.  "
    "Extends the w24/s27 CUSUM family (drift SCORING) with the "
    "location question a monitoring pipeline asks next: WHERE did "
    "the level shift happen.",
    """
WITH src AS (
  SELECT event_type AS key, event_id,
         CAST(COALESCE(ROUND(value * 100), 0) AS BIGINT) AS cents
  FROM events WHERE event_type IS NOT NULL
),
scored AS (
  SELECT key,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY event_id) AS t,
         SUM(cents) OVER (PARTITION BY key ORDER BY event_id) AS ct,
         COUNT(*) OVER (PARTITION BY key) AS n,
         SUM(cents) OVER (PARTITION BY key) AS total
  FROM src
),
best AS (
  SELECT key, n, total,
         MAX({'stat': ABS(n * ct - t * total), 'negt': -t, 'ct': ct}) AS w
  FROM scored WHERE t < n GROUP BY key, n, total
)
SELECT key, CAST(-w.negt AS INT) AS cp_pos, CAST(n AS BIGINT) AS n_rows,
       CAST(w.stat AS BIGINT) AS stat, CAST(w.ct AS BIGINT) AS pre_sum,
       CAST(total - w.ct AS BIGINT) AS post_sum
FROM best
""",
    tags=("M2", "window"),
)
def w37_changepoint_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.drift import changepoint_mean_shift

    ev = (
        table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull())
        .select(
            "event_type",
            "event_id",
            F.coalesce(F.round(F.col("value") * 100), F.lit(0.0))
            .cast("long")
            .alias("cents"),
        )
    )
    return changepoint_mean_shift(ev, "event_type", ["event_id"], "cents")
