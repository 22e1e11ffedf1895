"""Repetition-based quality signals (engine extension, BASELINE.json
north star: LLM-training-data pipeline ops over ``documents``).

Gopher/RefinedWeb-style repetition filters: a document whose most
frequent word n-gram covers a large fraction of the text, or whose
n-grams are mostly duplicates, is boilerplate/spam and gets dropped
before training.  The reference repo has no analogue (it is a
numeric time-series pipeline); signals follow Rae et al. 2021
(Gopher), table A1.

Scale shape: one ``explode`` of the word n-grams followed by two
partial-aggregatable ``groupBy``s — the (doc_id, n, gram) count is
map-side combinable, so the shuffle carries one row per *distinct*
gram per doc, not one per token.  No Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.textfn import tokens
from ..materialize import materialize


def word_ngrams_strict(toks: Column, n: int) -> Column:
    """Word n-grams of an ``array<string>`` token column; rows with
    fewer than ``n`` tokens yield an EMPTY array (unlike
    ``textfn.word_shingles``, which falls back to the whole text —
    right for dedup keys, wrong for repetition statistics).

    Built as ``zip_with`` over n shifted slices — O(tokens) per row.
    (The obvious ``transform(sequence(...), i -> slice(toks, i, n))``
    re-slices per index: O(tokens·n) with an array allocation per
    gram — measured 5× slower at 200k docs in tools/scale_smoke.py.)
    """
    m = F.greatest(F.size(toks) - n + 1, F.lit(0))  # gram count; 0 if short
    out = F.slice(toks, 1, m)
    for i in range(1, n):
        out = F.zip_with(
            out, F.slice(toks, i + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return out


def repetition_signals(
    df: DataFrame,
) -> DataFrame:
    """Per-document n-gram repetition signals of ``text``, long format.

    Returns one row per (doc_id, n), n = 2 and 3, with:

    - ``top_gram_frac``  — count of the modal n-gram / total n-grams
      (Gopher "top n-gram character fraction", token-count flavor);
    - ``dup_gram_frac``  — 1 - distinct/total n-grams (Gopher
      "duplicate n-gram fraction");
    - ``n_grams``        — total n-grams (denominator, for auditing).

    Documents with fewer than ``n`` tokens emit no row for that ``n``.
    """
    base = df.select("doc_id", tokens("text").alias("__toks"))
    parts = [
        base.filter(F.size("__toks") >= n).select(
            "doc_id",
            F.lit(n).alias("n"),
            F.explode(word_ngrams_strict(F.col("__toks"), n)).alias("gram"),
        )
        for n in (2, 3)
    ]
    exploded = parts[0]
    for p in parts[1:]:
        exploded = exploded.unionByName(p)
    counts = exploded.groupBy("doc_id", "n", "gram").count()
    return counts.groupBy("doc_id", "n").agg(
        F.round(F.max("count") / F.sum("count"), 6).alias("top_gram_frac"),
        F.round(F.lit(1.0) - F.count(F.lit(1)) / F.sum("count"), 6).alias(
            "dup_gram_frac"
        ),
        F.sum("count").cast("long").alias("n_grams"),
    )


def filter_funnel(df: DataFrame, stages: list[tuple[str, Column]]) -> DataFrame:
    """Per-stage survivor report for a chain of cleaning filters, in
    ONE scan.

    The naive report (``df.filter(s1).count()``, then
    ``df.filter(s1 & s2).count()``, …) re-reads the corpus once per
    stage — at 100 TB that is S full scans.  Here each stage's
    cumulative pass flag is a conditional-sum column in a single
    aggregation, so the whole funnel costs one scan and one 1-row
    shuffle; the row-per-stage reshape happens on the aggregated
    (S-column, 1-row) result via posexplode, i.e. for free.

    Output: (stage_idx, stage, n_in, n_kept, n_dropped) — ``n_in`` of
    stage i is ``n_kept`` of stage i-1 (corpus size for stage 1), the
    C4/Gopher-paper "data pipeline table" shape.
    """
    cum = F.lit(True)
    sums = [F.count(F.lit(1)).alias("__in0")]
    for i, (name, cond) in enumerate(stages):
        # NULL predicate (e.g. a ratio over an empty doc) means "drop",
        # matching SQL WHERE semantics
        cum = cum & F.coalesce(cond, F.lit(False))
        sums.append(F.sum(cum.cast("bigint")).alias(f"__kept{i}"))
    agg = df.agg(*sums)
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).cast("bigint").alias("stage_idx"),
                F.lit(name).alias("stage"),
                F.col("__in0" if i == 0 else f"__kept{i-1}").alias("n_in"),
                F.col(f"__kept{i}").alias("n_kept"),
            )
            for i, (name, _) in enumerate(stages)
        ]
    )
    return (
        agg.select(F.explode(rows).alias("r"))
        .select("r.*")
        .withColumn("n_dropped", F.col("n_in") - F.col("n_kept"))
    )


def doc_segments(toks: Column, seg_tokens: int = 3) -> Column:
    """Non-overlapping ``seg_tokens``-token segments of a token array,
    in document order (the "line" unit for corpus-level boilerplate
    removal — this corpus has no newlines, so the segment stands in
    for CCNet's physical line).

    Segment i = tokens[i*k .. i*k+k); the tail segment may be short.
    Row-local (one ``transform`` over a driver-computed index range).
    """
    n_seg = F.floor((F.size(toks) + seg_tokens - 1) / F.lit(seg_tokens)).cast("int")
    return F.when(F.size(toks) <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(F.slice(toks, i * seg_tokens + 1, seg_tokens), " "),
        )
    )


def boilerplate_removal(
    df: DataFrame,
    seg_tokens: int = 3,
    max_df: int = 4,
    max_boiler_set: int = 10_000,
) -> DataFrame:
    """CCNet-style corpus-level boilerplate ("line") removal.

    A segment (pseudo-line, :func:`doc_segments`) that occurs in more
    than ``max_df`` DISTINCT documents is boilerplate (headers,
    footers, cookie banners in a web corpus); every occurrence is
    removed and each document's text is rebuilt from its surviving
    segments in order.  CCNet §3.1 does this with physical lines; the
    unit here is the k-token segment because the synthetic corpus is
    newline-free.

    Output: (doc_id, n_segments, n_boiler, cleaned_text,
    removed_frac).

    Scale shape (100 TB): ONE shuffle — the (segment → distinct-doc
    count) aggregation, map-side combinable on the segment key.  The
    boilerplate set itself is tiny by construction (only segments
    with df > max_df survive; natural-language corpora have a short
    heavy tail of repeated lines), so it is collected O(|boiler|) to
    the driver and the removal pass is a row-local array filter on a
    broadcast literal — no fact-to-fact join, no re-grouping shuffle
    to reassemble documents.  ``max_boiler_set`` guards the collect:
    past the literal-array break-even (~10k), plan size and the
    per-segment O(|boiler|) membership scan make broadcasting the
    wrong tool.

    One O(1) count of the boilerplate table picks the removal path:
    the broadcast path above when the set fits ``max_boiler_set``,
    else the unbounded-set anti-join path — posexplode segments, LEFT
    ANTI join against the boilerplate table (one shuffle keyed on the
    segment), re-aggregate per doc in position order (one doc-keyed
    shuffle): two more full-corpus shuffles, but no driver collect and
    no set-size ceiling.  Both paths produce IDENTICAL rows (the r5
    sf1 sweep found the renamed-vocabulary tier pushing the set to
    10x the cap).
    """
    from .skew import spread

    # spread: tokenization + segmentation is the dominant per-row cost
    # and runs at scan width — a single-row-group testdata scan
    # serializes it on one task (measured 8.6 s -> 1.0 s at sf0.1;
    # identity at production scan widths)
    df = spread(df)
    toks = df.select(F.col("doc_id"), tokens("text").alias("__toks"))
    segged = toks.select("doc_id", doc_segments(F.col("__toks"), seg_tokens).alias("__segs"))
    # Materialize the segmented corpus ONCE (r12): it has two full
    # consumers — the df-count aggregate AND the removal pass — plus
    # the explode's Generate otherwise re-derives tokenize+segment
    # in-line (measured: explode over the lazy projection 2.4 s vs
    # 0.12 s over the materialized one at sf0.1; whole operator
    # ~7 s -> ~2 s).  The caller's barrier_scope frees it.
    segged = materialize(segged)
    seg_df = (
        segged.select(F.col("doc_id"), F.explode("__segs").alias("seg"))
        .groupBy("seg")
        .agg(F.count_distinct(F.col("doc_id")).alias("df"))
        .filter(F.col("df") > max_df)
    )
    # Materialize the boilerplate table ONCE before the decision count
    # — without this the count() action re-runs the full
    # explode+groupBy that the chosen removal path then recomputes,
    # doubling the dominant shuffle at 100 TB.  The table is small by
    # construction (df > max_df survivors only), so the executor-local
    # blocks are cheap; both paths below read the checkpointed result,
    # so exactly one segment aggregation runs per call (asserted in
    # tests/test_quality.py).
    seg_df = materialize(seg_df)
    if seg_df.count() > max_boiler_set:
        pos = segged.select(
            F.col("doc_id"), F.posexplode("__segs").alias("__pos", "seg")
        )
        kept_rows = pos.join(seg_df.select("seg"), "seg", "left_anti")
        rebuilt = kept_rows.groupBy("doc_id").agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("__cleaned"),
            F.count(F.lit(1)).alias("__n_kept"),
        )
        n_seg = F.size("__segs").cast("bigint")
        n_kept = F.coalesce(F.col("__n_kept"), F.lit(0)).cast("bigint")
        return (
            segged.join(rebuilt, "doc_id", "left")
            .select(
                F.col("doc_id"),
                n_seg.alias("n_segments"),
                (n_seg - n_kept).alias("n_boiler"),
                # a fully-boilerplate doc has no kept rows → empty text,
                # matching the broadcast path's array_join([]) == ''
                F.coalesce(F.col("__cleaned"), F.lit("")).alias("cleaned_text"),
                F.round(
                    F.try_divide((n_seg - n_kept).cast("double"), n_seg.cast("double")),
                    9,
                ).alias("removed_frac"),
            )
        )

    boiler = [r["seg"] for r in seg_df.select("seg").collect()]
    # The boilerplate set crosses to the JVM as ONE py4j call via
    # lit_strings (r13 — generalizes the r12 newline-join+split hack,
    # which needed a separator-collision guard): pyspark's lit() on a
    # list issues one py4j round trip PER ELEMENT (cProfile: 6 563
    # calls, 5-13 s of driver wall at |boiler|=6554 — it was the
    # dominant cost of the whole operator); one escaped array('…')
    # expression string parses straight to the same array literal for
    # ANY string content (bit-exactness pinned in tests).  (isin(*)
    # was also A/B'd in r12: its InSet hash halves the per-segment
    # scan but pays the same per-element py4j build — net loss.)
    from ..functions.vectors import lit_strings

    boiler_lit = lit_strings(boiler)
    kept = F.filter(F.col("__segs"), lambda s: ~F.array_contains(boiler_lit, s))
    # Materialize the filtered array ONCE in its own projection: the
    # output referenced ``kept`` four times (two sizes, the join, the
    # fraction), and each reference re-ran the O(|segs|) membership
    # filter — CollapseProject does not merge projections that would
    # duplicate non-cheap expressions, so this stays a separate,
    # single evaluation (r12: full operator 7.0 s -> see bench; the
    # removal pass stopped dominating).
    with_kept = segged.select(F.col("doc_id"), F.col("__segs"), kept.alias("__kept"))
    return with_kept.select(
        F.col("doc_id"),
        F.size("__segs").cast("bigint").alias("n_segments"),
        (F.size("__segs") - F.size("__kept")).cast("bigint").alias("n_boiler"),
        F.array_join("__kept", " ").alias("cleaned_text"),
        F.round(
            F.try_divide(
                (F.size("__segs") - F.size("__kept")).cast("double"),
                F.size("__segs"),
            ),
            9,
        ).alias("removed_frac"),
    )
