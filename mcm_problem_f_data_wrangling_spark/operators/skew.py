"""Skew-resistant aggregation/join helpers (100 TB scale path).

The reference never meets skew (single-process pandas), but the
SURVEY.md §6 north star does: a handful of hot keys (one giant
industry, one dominant language) can pin a full shuffle partition on
one executor.  The remedy here is expressed declaratively so Catalyst
still optimizes around it:

- **Salted two-stage aggregation**: map-side salt the group key into
  ``n_salts`` shards, partially aggregate on (key, salt), then finish
  on key.  The first shuffle spreads a hot key over ``n_salts``
  reducers; the second shuffle moves only ``n_salts`` rows per key.
  Works for any algebraic aggregate (sum/count/min/max — anything
  with a partial form).

AQE's ``skewJoin`` (enabled in session.py) covers sort-merge join skew
at runtime; these helpers cover aggregation skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_group_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-stage skew-resistant aggregation.

    ``aggs`` maps output column name → *partial* aggregate expression
    (must be algebraic: re-aggregating partials with SUM must equal the
    direct aggregate — sums and counts qualify; averages must be
    decomposed by the caller into sum+count).
    """
    salt = (F.rand(seed=7) * n_salts).cast("int").alias("_salt")
    partial = df.groupBy(*keys, salt).agg(
        *[expr.alias(f"_p_{name}") for name, expr in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(f"_p_{name}").alias(name) for name in aggs]
    )


def key_skew_profile(df: DataFrame, key_cols: list[str], top_k: int = 5) -> DataFrame:
    """Shuffle-key skew report: top-``top_k`` heavy hitters plus global
    distribution stats — the diagnostic you run BEFORE picking a
    partition/join key at 100 TB (a skew_factor ≫ 1 means the hottest
    key pins one reducer and you want salting/AQE-skew-split).

    Output per heavy hitter: the key, its row count, its share of all
    rows, and the table-wide (n_keys, n_rows, max_cnt, skew_factor =
    max_cnt / mean_cnt).

    Scale shape: per-key counts are ONE partial-agg shuffle; the
    top-k is ``orderBy(...).limit(k)`` which Spark executes as
    TakeOrderedAndProject (per-partition heaps + driver merge, no
    global sort shuffle); the three global stats are a second one-row
    aggregate over the per-key counts, collected to the driver and
    attached as literals — a 1-row broadcast join would plan as a
    nested-loop cartesian, which is the one join shape we ban.
    """
    per_key = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    # Two passes over per_key (stats now, top-k when the caller runs the
    # plan); a production caller persists per_key first — not done here
    # so the returned plan holds no cache reference across reruns.
    n_keys, n_rows, max_cnt = per_key.agg(
        F.count(F.lit(1)), F.sum("cnt"), F.max("cnt")
    ).first()
    skew = float(max_cnt) * float(n_keys) / float(n_rows)
    topk = per_key.orderBy(
        F.col("cnt").desc(), *[F.col(c) for c in key_cols]
    ).limit(top_k)
    return topk.select(
        *key_cols,
        "cnt",
        F.round(F.col("cnt").cast("double") / F.lit(float(n_rows)), 9).alias("share"),
        F.lit(n_keys).cast("long").alias("n_keys"),
        F.lit(n_rows).cast("long").alias("n_rows"),
        F.lit(max_cnt).cast("long").alias("max_cnt"),
        F.round(F.lit(skew), 9).alias("skew_factor"),
    )


def spread(
    df: DataFrame,
    min_rows: int = 0,
    width: float = 0.5,
    by: "list[str] | None" = None,
) -> DataFrame:
    """Small-scan parallelization guard for CPU-heavy row-local stages.

    A single-row-group parquet file (the driver testdata's layout)
    scans as ONE task regardless of cores, so an expensive per-row
    pipeline sitting on the scan (16 seeded MinHash passes, 8-gram
    shingling, levenshtein banding) serializes on a single core of 32.
    When the scan is narrower than half the session's core budget,
    redistribute rows round-robin BEFORE the heavy map; at production
    scan widths (many files / row groups) this is an identity — it
    never adds an exchange to a plan that is already parallel.  Half
    the core budget keeps per-task row counts high enough that
    task-launch overhead doesn't eat the win on bench-sized inputs
    (measured: 16 parts beat 32 and 64 on the 5 000-doc sf0.1 corpus).

    Only wired into operators whose dominant cost is the per-row
    transform; for cheap maps the exchange costs more than it saves —
    measured before each use.

    ``width`` scales the target against the core budget.  The 0.5
    default keeps per-task row counts high enough that task-launch
    overhead doesn't eat the win on row-LINEAR maps (16 parts beat 32
    and 64 on the 5 000-doc sf0.1 corpus).  Stages whose work per input
    row is superlinear — the kNN pair join does |cell| dot products per
    row — stay compute-bound at full width, so they pass ``width=1.0``
    (r12 measured: pair stage 1.23 s at 16 parts vs 0.96 s at 32 on
    local[32]; both still identities at production scan widths).

    ``by`` hash-partitions on those columns instead of round-robin —
    use it when a DOWNSTREAM operator needs exactly that clustering
    (e.g. the kNN window top-k partitions by query id): the one spread
    exchange then doubles as the window's required distribution and
    Catalyst inserts no second exchange (guide §2.4 — two operations
    keyed the same way share one exchange).  HashPartitioning on any
    partition count satisfies the window's ClusteredDistribution, and
    round-robin's sort-before-repartition is skipped as a bonus.  Only
    pass high-cardinality keys (the guide's §2.5 synthetic-key note).
    """
    if df.isStreaming:
        # partition introspection (df.rdd) is undefined for streaming
        # plans; micro-batch parallelism is the source's concern
        return df
    target = max(2, int(df.sparkSession.sparkContext.defaultParallelism * width))
    if df.rdd.getNumPartitions() < target:
        if by:
            return df.repartition(target, *[F.col(c) for c in by])
        return df.repartition(target)
    return df
