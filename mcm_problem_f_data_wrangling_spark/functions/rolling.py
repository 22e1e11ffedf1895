"""Ordered-window / time-series helpers (SURVEY.md §2.5 W1-W9).

The analytical heart of the reference (``EDA.ipynb cell 5`` feature
engineering and cells 25-28 diagnostics/repair).  All operate over a
caller-supplied ``WindowSpec`` — canonically
``Window.partitionBy("career").orderBy("date")`` — so one partition
per series keeps every computation shuffle-local after a single
repartition, and scales linearly in the number of series.

pandas-parity (SURVEY.md §7 hard parts): pandas ``rolling(w)`` uses a
w-row frame AND ``min_periods=w`` by default, emitting NaN until w
observations exist; a bare Spark frame over-produces at series starts.
Every rolling helper therefore guards with ``count(...) over the same
frame >= w`` (``min_periods`` for ``rolling_median``) and yields NULL
otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, Window, WindowSpec
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _frame(w: WindowSpec, window: int) -> WindowSpec:
    return w.rowsBetween(-(window - 1), Window.currentRow)


def _guarded(agg: Column, counted: Column, w: WindowSpec, window: int, min_periods: int | None) -> Column:
    """NULL unless >= min_periods non-null observations in the frame."""
    mp = window if min_periods is None else min_periods
    frame = _frame(w, window)
    return F.when(F.count(counted).over(frame) >= mp, agg.over(frame))


def pct_change(col: Column | str, w: WindowSpec, periods: int = 1, scale: float = 1.0) -> Column:
    """W1: lag-k percent change (``pct_change(k)``, ``EDA.ipynb cell 5``).

    ``scale=100.0`` reproduces the notebook's ``* 100`` MoM/YoY columns.
    Pinned semantic (SURVEY.md §7): a zero previous value yields SQL
    NULL (``try_divide`` — ANSI-safe under the driver's vanilla
    session), where pandas emits ±inf.
    """
    c = _c(col)
    return (F.try_divide(c, F.lag(c, periods).over(w)) - F.lit(1.0)) * F.lit(scale)


def diff(col: Column | str, w: WindowSpec, periods: int = 1) -> Column:
    """W6: first difference ``x - x.shift(k)`` (``EDA.ipynb cell 25``)."""
    c = _c(col)
    return c - F.lag(c, periods).over(w)


def rolling_avg(col: Column | str, w: WindowSpec, window: int) -> Column:
    """W2: ``rolling(w).mean()`` with pandas min_periods semantics."""
    c = _c(col)
    return _guarded(F.avg(c), c, w, window, window)


def rolling_std(col: Column | str, w: WindowSpec, window: int) -> Column:
    """W3: ``rolling(w).std()`` (sample std, ddof=1 — pandas default)."""
    c = _c(col)
    return _guarded(F.stddev_samp(c), c, w, window, window)


def rolling_median(col: Column | str, w: WindowSpec, window: int, min_periods: int | None = None) -> Column:
    """W5: ``rolling(w, min_periods).median()``.

    The reference uses ``rolling(13, min_periods=max(6, 13//2))`` for
    last-point outlier repair (``EDA.ipynb cell 28``,
    ``fix_last_outlier_with_rolling_median``).

    Spark disallows ``median`` over a framed window; exact
    ``percentile(col, 0.5)`` is frame-capable and identical
    (interpolated median, matching pandas/DuckDB).
    """
    c = _c(col)
    return _guarded(F.percentile(c, F.lit(0.5)), c, w, window, min_periods)


def rolling_corr(x: Column | str, y: Column | str, w: WindowSpec, window: int) -> Column:
    """W4: ``x.rolling(w).corr(y)`` (``EDA.ipynb cell 17``).

    The count guard requires BOTH sides non-null on every row of the
    frame (pandas pairwise behavior), so the moments below never see a
    one-sided NULL.

    Computed as ``try_divide(covar_samp(x,y), stddev(x)*stddev(y))``
    rather than ``F.corr``: under an ANSI-on session (the driver's
    vanilla Spark 4 config) ``corr`` raises DIVIDE_BY_ZERO on a
    zero-variance frame, and a ``when(count >= w, ...)`` projection
    guard does not help because window aggregates are evaluated
    before the CASE.  ``try_divide`` yields NULL on zero variance,
    matching DuckDB's ``corr`` and pandas' NaN.
    """
    cx, cy = _c(x), _c(y)
    frame = _frame(w, window)
    corr = F.try_divide(
        F.covar_samp(cx, cy).over(frame),
        F.stddev_samp(cx).over(frame) * F.stddev_samp(cy).over(frame),
    )
    both = F.when(cx.isNotNull() & cy.isNotNull(), F.lit(1))
    return F.when(F.count(both).over(frame) >= window, corr)


def index_rebase(col: Column | str, w: WindowSpec) -> Column:
    """W7: rebase to first non-null value = 100 (``EDA.ipynb cell 5``).

    ``x / x.iloc[0] * 100`` — the wage variant divides by the first
    *non-null*, which also covers the plain variant when the series
    starts non-null.
    """
    c = _c(col)
    first = F.first(c, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.try_divide(c, first) * F.lit(100.0)


def cumulative_sum(col: Column | str, w: WindowSpec) -> Column:
    """W8: running sum (``np.cumsum`` path building, ``EDA.ipynb cell 27``)."""
    return F.sum(_c(col)).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))


def tail_slice_flag(partition_cols: list[str], order_col: str, n: int) -> Column:
    """W9: marker for the last-n rows of each series (``s.iloc[-n:]``).

    ``fit_rw_drift_params`` (``EDA.ipynb cell 27``) fits drift on the
    last 60 months.  Usage::

        df.withColumn("in_tail", tail_slice_flag(["career"], "date", 60)).filter("in_tail")
    """
    desc = Window.partitionBy(*partition_cols).orderBy(F.desc(order_col))
    return F.row_number().over(desc) <= n


# ewma's decay and its number of unrolled lags, shared with ewma_sql
_DECAY = 0.5
_N_LAGS = 40


def ewma(col: Column | str, w: WindowSpec) -> Column:
    """Exponentially-weighted moving average (pandas
    ``ewm(alpha=0.5, adjust=True)`` semantics, truncated at 40 terms).

    ``y_t = Σ_d decay^d·x_{t-d} / Σ_d decay^d`` over present terms,
    decay = 0.5.  The recursive EWMA form can't be a window aggregate,
    and the rescaled-cumsum trick (``decay^{-i}`` factors) overflows
    after a few hundred rows — so this unrolls the 40 dominant terms
    as an explicit lag chain over ONE window sort: terms beyond 40
    lags are < 1e-12 of the newest — below double noise.  Both
    numerator and denominator fold LEFT-TO-RIGHT with driver-computed
    literal weights, so the value is bit-identical in any engine that
    evaluates the same chain (the SQL oracle does).
    O(lags) per row, one sort, no shuffle beyond the window's own.
    """
    c = _c(col)
    num = None
    den = None
    for d in range(_N_LAGS):
        weight = F.lit(float(_DECAY**d))
        x_d = F.lag(c, d).over(w)
        t_num = F.coalesce(x_d * weight, F.lit(0.0))
        t_den = F.when(x_d.isNotNull(), weight).otherwise(F.lit(0.0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return num / F.nullif(den, F.lit(0.0))


def ewma_sql(expr: str, over: str) -> str:
    """DuckDB mirror of :func:`ewma` — the SAME left-to-right chain
    with the SAME float literals (``repr`` round-trips exactly)."""
    nums = " + ".join(
        f"COALESCE(LAG({expr}, {d}) OVER {over} * {_DECAY**d!r}, 0.0)"
        for d in range(_N_LAGS)
    )
    dens = " + ".join(
        f"(CASE WHEN LAG({expr}, {d}) OVER {over} IS NOT NULL"
        f" THEN {_DECAY**d!r} ELSE 0.0 END)"
        for d in range(_N_LAGS)
    )
    return f"({nums}) / NULLIF({dens}, 0.0)"
