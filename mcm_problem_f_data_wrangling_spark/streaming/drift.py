"""Online CUSUM drift detection (Page 1954) — batch and streaming.

The one-sided CUSUM recursion S⁺_t = max(0, S⁺_{t-1} + d_t) looks
imperatively stateful, but has the classic closed form

    S⁺_t = C_t − min_{0≤j≤t} C_j        (C = running sum of d, C_0 = 0)

so the BATCH version is two window functions over one partitioned
sort — cumsum and running min — fully whole-stage-codegen, fully
ANSI-SQL-expressible (the ``s27_cusum_alarm`` oracle).  ``w24`` ships
the raw (unfloored) CUSUM statistic; this operator adds the proper
floored one-sided statistics and alarm flags.

The STREAMING version is the genuinely-online form: per-key state is
exactly (S⁺, S⁻) — two doubles, O(1) per key regardless of stream
length — updated through ``applyInPandasWithState`` with rows sorted
by event time inside each micro-batch.  The target mean ``mu0`` must
be known upfront (the online-monitoring contract); the batch twin
computes it two-pass.  Equivalence of the two (same alarms on ordered
arrivals) is pytest-checked.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def cusum_batch(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    d_col,
    h: float,
    decimal_exact: bool = False,
) -> DataFrame:
    """Floored one-sided CUSUM over an ordered series per key.

    ``d_col`` is the (already-centered) deviation Column; returns the
    input plus ``s_plus``, ``s_minus``, ``alarm`` (1 when either side
    exceeds ``h``).  Closed form: one partitioned sort serves the
    cumsum AND both running extrema — a single exchange.
    ``decimal_exact`` keeps the accumulators in DECIMAL(18,6) (pass a
    decimal-cast ``d_col``) so results hash-match a cross-engine
    oracle; the zero literal must be decimal too or Spark widens the
    whole expression back to double.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    zero = F.lit(0).cast("decimal(18,6)") if decimal_exact else F.lit(0.0)
    c = F.sum(d_col).over(frame)
    s_plus = c - F.least(zero, F.min(c).over(frame))
    s_minus = c - F.greatest(zero, F.max(c).over(frame))
    return (
        df.withColumn("s_plus", s_plus)
        .withColumn("s_minus", s_minus)
        .withColumn(
            "alarm",
            ((F.col("s_plus") > h) | (F.col("s_minus") < -h)).cast("int"),
        )
    )


def changepoint_mean_shift(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    value_col,
) -> DataFrame:
    """Single mean-shift changepoint per key — the classic CUSUM
    changepoint ESTIMATOR (equivalently binary segmentation at depth
    1, the recursion step PELT/BinSeg builds on): the change point is

        cp = argmax_{1≤t<n} |n·C_t − t·C_n|     (C = running sum)

    i.e. the position where the cumulative sum departs farthest from
    the no-change diagonal.  Pure windows — one partitioned sort
    serves row_number + cumsum, the full-frame n/total come from the
    same exchange — no applyInPandas, no iteration.

    EXACTNESS CONTRACT: pass an integer-valued ``value_col`` (e.g.
    cents, ``F.round(col*100).cast("long")``) — every quantity
    (C_t, n·C_t − t·C_n, the argmax) is then exact 64-bit integer
    arithmetic, identical in any engine and any accumulation order.
    Fits while n·|C_n| < 2^63 (~2×10⁹ rows of ~10⁹-cent sums); a
    100 TB run casts the statistic to decimal instead.

    Output per key: ``(key, cp_pos, n_rows, stat, pre_sum, post_sum)``
    — ``cp_pos`` is the 1-based position of the LAST pre-change row
    (ties → smallest position), ``pre_sum``/``post_sum`` the exact
    value sums on each side (the caller derives means as sum/count;
    emitting sums keeps the result hash-exact).  Keys with n < 2 rows
    emit nothing (no interior split point exists).
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v = value_col if not isinstance(value_col, str) else F.col(value_col)
    scored = df.select(
        F.col(key_col).alias("key"),
        F.row_number().over(w).alias("t"),
        F.sum(v).over(run).alias("ct"),
        F.count(F.lit(1)).over(full).alias("n"),
        F.sum(v).over(full).alias("total"),
    ).where(F.col("t") < F.col("n"))
    stat = F.abs(F.col("n") * F.col("ct") - F.col("t") * F.col("total"))
    best = (
        scored.select(
            "key",
            "n",
            "total",
            F.struct(
                stat.alias("stat"), (-F.col("t")).alias("negt"),
                F.col("ct").alias("ct"),
            ).alias("cand"),
        )
        .groupBy("key", "n", "total")
        .agg(F.max("cand").alias("w"))
    )
    return best.select(
        "key",
        (-F.col("w.negt")).cast("int").alias("cp_pos"),
        F.col("n").alias("n_rows"),
        F.col("w.stat").alias("stat"),
        F.col("w.ct").alias("pre_sum"),
        (F.col("total") - F.col("w.ct")).alias("post_sum"),
    )


_STATE_SCHEMA = StructType(
    [
        StructField("s_plus", DoubleType()),
        StructField("s_minus", DoubleType()),
    ]
)

ALARM_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
        StructField("s_plus", DoubleType()),
        StructField("s_minus", DoubleType()),
        StructField("alarm", IntegerType()),
    ]
)


def cusum_stream(
    stream: DataFrame,
    mu0: dict[str, float],
    h: float,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    emit: str = "all",
) -> DataFrame:
    """Streaming CUSUM via ``applyInPandasWithState``.

    ``mu0`` maps key → target mean (the online contract: the baseline
    is fixed before monitoring starts; keys absent from the map use
    0.0).  State per key is (S⁺, S⁻) — two doubles.  ``emit='all'``
    yields every scored row; ``emit='alarms'`` only threshold
    crossings (the monitoring topic); ``emit='final'`` only the LAST
    scored row per key per micro-batch — O(#keys) sink rows whatever
    the stream length, the form a memory-sink gate can hash at any
    scale (the final S⁺/S⁻ still depend on the entire path: S⁺_n =
    C_n − min_j C_j).  Rows sort by event time inside each
    micro-batch; cross-batch order is the arrival order, as for any
    online detector.  The event-time watermark trails by 0 seconds.
    """
    if emit not in ("all", "alarms", "final"):
        raise ValueError(f"unknown emit mode {emit!r}")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        k = str(key[0])
        target = float(mu0.get(k, 0.0))
        if state.exists:
            s_plus, s_minus = state.get
        else:
            s_plus, s_minus = 0.0, 0.0
        rows = pd.concat(list(pdfs))
        rows = rows[rows[ts_col].notna()].sort_values(ts_col, kind="mergesort")
        out = []
        for ts, val in zip(rows[ts_col], rows[value_col]):
            v = float(val) if val == val else 0.0
            d = v - target
            s_plus = max(0.0, s_plus + d)
            s_minus = min(0.0, s_minus + d)
            alarm = int(s_plus > h or s_minus < -h)
            if emit == "all" or emit == "final" or alarm:
                out.append((k, ts, v, s_plus, s_minus, alarm))
        if emit == "final" and out:
            out = out[-1:]
        state.update((s_plus, s_minus))
        if out:
            yield pd.DataFrame(
                out, columns=["key", "ts", "value", "s_plus", "s_minus", "alarm"]
            )

    return (
        stream.select(
            F.col(key_col).cast("string").alias(key_col), ts_col, value_col
        )
        .withWatermark(ts_col, "0 seconds")
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=ALARM_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
