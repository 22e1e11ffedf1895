"""Dataset curation ops: deterministic splits, stratified caps, and
source mixing (engine extension — BASELINE.json north star: what a
training-data pipeline does after cleaning/dedup).

Everything is driven by a *portable content hash* rather than
``rand()`` / ``sample()``:

- reproducible across runs, engines (the DuckDB oracle replays the
  exact assignment), partitionings, and cluster sizes — Spark's
  ``sample`` is none of those (it is seed + partition-layout
  dependent);
- stable under data growth: a doc keeps its split when the corpus
  around it changes, so train/val contamination can't creep in on
  incremental reruns.

Hash fraction = ``portable_hash64(key) / 2^60`` ∈ [0, 1); every op is
a filter or window on that value — JVM-side, no shuffle beyond what
the semantics require (split/mix: none; stratified cap: one, on the
group key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textfn import portable_hash64

_HASH_SPACE = float(2**60)


def hash_frac(col: Column | str, seed: str = "") -> Column:
    """Deterministic uniform-ish fraction in [0, 1) from a column's
    portable 60-bit hash."""
    return portable_hash64(col, seed=seed) / F.lit(_HASH_SPACE)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
) -> DataFrame:
    """Assign a ``split`` label by hash-bucket ranges (e.g.
    ``{"train": .9, "val": .05, "test": .05}``).  Weights must sum to
    1; assignment is a pure projection — no shuffle, no rand()."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    frac = hash_frac(F.col(key_col).cast("string"), seed="split")
    expr = None
    acc = 0.0
    labels = list(weights.items())
    for name, w in labels[:-1]:
        acc += w
        expr = F.when(frac < acc, name) if expr is None else expr.when(frac < acc, name)
    expr = (
        F.lit(labels[0][0]) if expr is None else expr.otherwise(labels[-1][0])
    )
    return df.withColumn("split", expr)


def stratified_cap(
    df: DataFrame,
    group_cols: list[str],
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically by
    ``doc_id`` hash order (not arbitrarily by partition layout).  One
    shuffle on the group key; the rank is a plain window."""
    w = Window.partitionBy(*group_cols).orderBy(
        portable_hash64(F.col("doc_id").cast("string"), seed="cap"), "doc_id"
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
) -> DataFrame:
    """Keep each row with probability = its weight (clamped to [0, 1]),
    deterministically: hash_frac(doc_id) < weight.

    The per-ROW generalization of :func:`source_mix` — the weight is
    any Column (a quality score, a domain prior, an importance weight
    from a reweighting model), so the kept corpus is biased toward
    high-value documents while staying exactly reproducible: the same
    doc is kept or dropped regardless of partitioning, cluster size,
    or what else is in the corpus.  Pure filter, no shuffle."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    bounded = F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0))
    return df.filter(hash_frac(F.col("doc_id").cast("string"), seed="wsample") < bounded)


def source_mix(
    df: DataFrame,
    source_col: str,
    rates: dict[str, float],
) -> DataFrame:
    """Down-weight sources to target sampling ``rates`` (e.g. keep 30%
    of crawl); a source ``rates`` does not name is kept whole — the
    mixing step that shapes a training corpus.  Pure filter on the
    ``doc_id`` hash fraction: no shuffle."""
    frac = hash_frac(F.col("doc_id").cast("string"), seed="mix")
    rate = None
    for name, r in rates.items():
        rate = (
            F.when(F.col(source_col) == name, F.lit(float(r)))
            if rate is None
            else rate.when(F.col(source_col) == name, F.lit(float(r)))
        )
    rate = F.lit(1.0) if rate is None else rate.otherwise(F.lit(1.0))
    return df.filter(frac < rate)


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based source rebalancing (the multilingual-corpus
    standard: sampling mass per group ∝ size^alpha, alpha<1 flattens
    dominant groups — XLM-R / mT5 style).

    Per group s with mass ``c_s`` (row count, or exact sum of
    ``weight_col`` e.g. chars): target budget ``B = budget_frac *
    Σc``; group keep-rate ``q_s = min(1, B · p_s / c_s)`` with ``p_s ∝
    c_s^alpha``.  Rows keep via the portable ``doc_id`` hash — exactly
    reproducible, and the DuckDB oracle replays the assignment.

    Cross-engine determinism: group masses are exact integers; the
    ^alpha powers are HALF_UP-rounded to 12 decimals before the
    normalizing sum (exact decimal addition is associative — sum
    order can't drift); alpha=0.5 uses IEEE-correctly-rounded sqrt
    rather than libm pow; the final rate is a fixed-order chain of
    double ops.  The O(groups) mass table collects to the DRIVER
    (like ANN codebooks: tiny model state rides the plan as
    literals), so the corpus-side plan is ONE broadcast hash join +
    filter — no corpus shuffle, no nested-loop join.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    mass = (
        F.sum(F.col(weight_col).cast("long")).alias("__c")
        if weight_col is not None
        else F.count(F.lit(1)).alias("__c")
    )
    rows = df.groupBy(group_col).agg(mass).collect()
    q12 = Decimal("1e-12")
    masses = {r[group_col]: int(r["__c"]) for r in rows}
    p_dec = {
        g: Decimal(
            math.sqrt(float(c)) if alpha == 0.5 else math.pow(float(c), alpha)
        ).quantize(q12, rounding=ROUND_HALF_UP)
        for g, c in masses.items()
    }
    tot_p = float(sum(p_dec.values()))
    tot_c = float(sum(masses.values()))
    rates = [
        (
            g,
            min(
                1.0,
                ((budget_frac * tot_c) * (float(p_dec[g]) / tot_p)) / float(c),
            ),
        )
        for g, c in masses.items()
    ]
    spark = df.sparkSession
    rate_df = spark.createDataFrame(rates, [group_col, "__q"])
    return (
        df.join(F.broadcast(rate_df), on=group_col, how="inner")
        .filter(hash_frac(F.col("doc_id").cast("string"), seed="tmix") < F.col("__q"))
        .drop("__q")
    )


def topk_weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    k: int,
) -> DataFrame:
    """EXACTLY-k weighted sample without replacement (Efraimidis &
    Spirakis 2006 A-Res): each row gets key u^(1/w) — equivalently
    rank by -ln(u)/w ascending — and the k best keys win.  Inclusion
    probability scales with the weight; the fixed output size is what
    :func:`weighted_sample`'s Bernoulli filter cannot give.

    ``u`` derives from the portable ``doc_id`` hash, NOT a random source,
    so the sample is deterministic across engines, partitionings, and
    reruns (the suite's reproducible-curation contract).  The rank key
    rounds at 12 decimals with a ``doc_id`` tie-break so cross-engine
    libm last-ulp ln() differences cannot reorder the cut.  Runs as
    TakeOrdered (per-partition heaps, k-row merge) — never a global
    sort."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (portable_hash64(F.col("doc_id").cast("string"), seed="ares") + 1) / F.lit(
        _HASH_SPACE
    )
    key = F.round(-F.log(u) / F.greatest(w, F.lit(1e-12)), 12)
    return (
        df.withColumn("ares_key", key)
        .orderBy("ares_key", "doc_id")
        .limit(k)
    )
