"""Trained byte-pair-encoding tokenizer (engine extension — richer
than ``textfn.token_count_bpeish``'s fixed regex).

Split of labor mirrors production tokenizer training:

- **Word counting is distributed** — the only pass that touches the
  full corpus (explode + map-side-combinable groupBy; at 100 TB this
  is the same shape as the repetition-signal shuffle).
- **Merge learning runs on the driver over the word-frequency table**
  (Sennrich et al. 2016): state is O(vocab), not O(corpus) — a few
  thousand (word, count) rows — so driver-side is the right place,
  not a scale compromise.
- **Encoding is distributed** again: a Pandas-UDF batch path with the
  (small) merge list shipped in the closure and per-batch word
  memoization — Zipf's law makes the cache hit rate ≈ the duplicate
  word rate, so the per-row merge loop runs once per *distinct* word
  per batch.

Ties in merge learning break deterministically (count desc, then pair
lexicographic) so the same corpus always yields the same vocab.
"""

from __future__ import annotations

from collections import Counter
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegerType, LongType, StringType, StructField, StructType

from .textfn import tokens

END = "</w>"  # end-of-word sentinel: merges never cross word boundaries


def corpus_word_counts(df: DataFrame, max_words: int = 50000) -> list[tuple[str, int]]:
    """Distributed word-frequency table, truncated to the ``max_words``
    most frequent (deterministic tie-break on the word)."""
    wc = (
        df.select(F.explode(tokens("text")).alias("w"))
        .groupBy("w")
        .count()
        .orderBy(F.desc("count"), "w")
        .limit(max_words)
        .collect()
    )
    return [(r["w"], r["count"]) for r in wc]


def learn_bpe_merges(
    word_counts: list[tuple[str, int]], num_merges: int = 200
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a word-frequency table.

    Each word starts as characters + ``</w>``; repeatedly merge the
    highest-count adjacent symbol pair.  O(num_merges * vocab) driver
    work on a table that is already tiny.
    """
    vocab: dict[tuple[str, ...], int] = {
        tuple(w) + (END,): c for w, c in word_counts
    }
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for sym, c in vocab.items():
            for i in range(len(sym) - 1):
                pairs[(sym[i], sym[i + 1])] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for sym, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(sym):
                if i < len(sym) - 1 and (sym[i], sym[i + 1]) == best:
                    out.append(merged)
                    i += 2
                else:
                    out.append(sym[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    sym = list(word) + [END]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i in range(len(sym) - 1):
            r = ranks.get((sym[i], sym[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


BPE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_tokens_bpe", IntegerType()),
        StructField("n_tokens_ws", IntegerType()),
        StructField("sample_tokens", ArrayType(StringType())),
    ]
)


def bpe_token_stats(df: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Distributed BPE encode: per-doc token counts + the first word's
    encoding (as an auditable sample).  Arrow-batched ``mapInPandas``;
    word-level memoization per batch."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, list[str]] = {}

        def enc(w: str) -> list[str]:
            got = cache.get(w)
            if got is None:
                got = cache[w] = _encode_word(w, ranks)
            return got

        for pdf in batches:
            out = []
            # zip over the column arrays, not iterrows — row-boxing
            # overhead is pure waste next to the memoized encode
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = str(text or "").split()
                n_bpe = sum(len(enc(w)) for w in words)
                out.append((doc_id, n_bpe, len(words), enc(words[0]) if words else []))
            yield pd.DataFrame(
                out,
                columns=["doc_id", "n_tokens_bpe", "n_tokens_ws", "sample_tokens"],
            )

    return df.select("doc_id", "text").mapInPandas(encode, BPE_SCHEMA)
