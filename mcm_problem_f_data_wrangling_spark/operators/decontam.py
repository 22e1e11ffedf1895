"""Train/eval decontamination by k-gram overlap.

A training corpus must not contain the evaluation benchmarks it will
be scored on; the standard check (GPT-3 appendix C, PaLM §8, Llama 2
A.6) flags any training document sharing at least one k-word shingle
with any eval document.  Not in the reference (pure CES pipeline) —
an engine extension on the BASELINE.json training-data north star.

Scale shape: the eval side is tiny (benchmarks: 1e3-1e6 docs) against
a 100 TB train side, so the eval (doc, shingle-hash) pairs are
broadcast and the train side streams through a broadcast-hash join —
no shuffle of the big side at all.  Shingles are hashed to 64-bit
before the join so the broadcast payload and the join keys are fixed
8-byte values, not strings.

Strictness: documents shorter than k tokens contribute NO shingles
(the MinHash ``word_shingles`` whole-text fallback would turn every
short eval doc into a pseudo-shingle and flag spurious matches).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import portable_hash64, strict_word_shingles


def _shingle_pairs(df: DataFrame, k: int) -> DataFrame:
    """(doc_id, h) pairs: distinct ``text`` k-gram hashes per document."""
    return df.select(
        F.col("doc_id"),
        F.explode(F.array_distinct(strict_word_shingles("text", k))).alias("ng"),
    ).select(F.col("doc_id"), portable_hash64("ng").alias("h"))


def ngram_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Flag training docs overlapping the eval set on any k-word shingle
    of ``text`` (both sides keyed by ``doc_id``).

    Output (contaminated docs only):
    (doc_id, n_shared_ngrams, n_eval_docs) — how many distinct
    shingles leak and how many eval documents are implicated; both
    drive the usual remediation choice (drop doc vs. excise span).
    """
    ev = F.broadcast(
        _shingle_pairs(eval_df, k).withColumnRenamed("doc_id", "eval_id")
    )
    tr = _shingle_pairs(train, k)
    return (
        tr.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


BLOOM_HASHES = 4  # double-hashed probe positions per shingle


def _bloom_positions(h, j: int, m_bits: int):
    """j-th double-hashed Bloom position (Kirsch-Mitzenmacher):
    ``pos_j = (h + j * h2) mod m`` with ``h2 = 1 + (h >> 30)`` — the
    step comes from the HIGH 30 bits so it shares no bits with the
    base position ``h mod m`` (for any power-of-two m <= 2^30; a
    low-bits step makes pos_j a function of the low bits alone, which
    correlates the k probes and inflates the false-positive rate ~5x
    at 0.6 load, measured).  All signed-64 arithmetic: h < 2^60 and
    j*h2 < 2^32, no ANSI overflow."""
    h2 = F.shiftright(h, 30) + F.lit(1)
    return F.pmod(h + F.lit(j) * h2, F.lit(m_bits))


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    k: int = 8,
    m_bits: int = 1 << 20,
) -> DataFrame:
    """:func:`ngram_decontaminate` for eval sets too big to broadcast
    raw — EXACT output, Bloom-pruned plan.

    ``ngram_decontaminate`` broadcasts every eval (doc, shingle-hash)
    pair; at 1e8+ eval shingles that broadcast is GBs.  Here the eval
    shingles are folded into an ``m_bits``-bit Bloom filter stored as
    a DataFrame of ``m_bits/64`` bit-words (built with one group-by
    ``bit_or`` over the eval side — never collected to the driver),
    and the 100 TB train side probes it with ``BLOOM_HASHES`` MAP-SIDE
    broadcast joins on the word index (the broadcast is the 8 KB-per-
    MB-of-filter word table, independent of eval row count).  Rows
    passing all probes — true hits plus the filter's false-positive
    trickle — flow into the exact hash-join verify, so the result is
    IDENTICAL to the broadcast path: Bloom filters have no false
    negatives, and false positives die in the verify join.  No
    train-side shuffle exists before the verify join, whose left input
    is already pruned to ~(hits + fp_rate * corpus_shingles).

    Output schema matches :func:`ngram_decontaminate`:
    ``(doc_id, n_shared_ngrams, n_eval_docs)``, contaminated docs only.
    """
    if m_bits < 64:
        raise ValueError(f"need m_bits >= 64, got {m_bits}")
    ev = _shingle_pairs(eval_df, k).withColumnRenamed("doc_id", "eval_id")
    # Bloom build: eval positions -> (word_idx, or of bits).  The only
    # eval-side shuffle is this m_bits/64-key group-by.
    ev_pos = ev.select(
        F.explode(
            F.array(*[_bloom_positions(F.col("h"), j, m_bits) for j in range(BLOOM_HASHES)])
        ).alias("pos")
    )
    words = ev_pos.groupBy(
        F.shiftright("pos", 6).alias("word_idx")
    ).agg(
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos AS INT) & 63)")).alias(
            "word"
        )
    )
    # Probe: BLOOM_HASHES map-side broadcast joins; no big-side shuffle.
    probed = _shingle_pairs(train, k)
    for j in range(BLOOM_HASHES):
        pos = _bloom_positions(F.col("h"), j, m_bits)
        probed = (
            probed.withColumn(f"_wi{j}", F.shiftright(pos, 6))
            .withColumn(f"_bit{j}", pos.bitwiseAND(F.lit(63)).cast("int"))
            .join(
                F.broadcast(
                    words.select(
                        F.col("word_idx").alias(f"_wi{j}"),
                        F.col("word").alias(f"_w{j}"),
                    )
                ),
                f"_wi{j}",
                "left",
            )
            .where(
                F.col(f"_w{j}").isNotNull()
                & (
                    F.expr(f"shiftright(_w{j}, _bit{j})").bitwiseAND(F.lit(1))
                    == F.lit(1)
                )
            )
        )
    passed = probed.select("doc_id", "h")
    # Exact verify on the pruned stream: the eval side is NOT
    # broadcast (the premise is it's too big) — a plain shuffle hash
    # join of two pruned/small inputs.
    return (
        passed.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_ngrams"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )
