"""Property-based pandas-parity fuzz for the rolling layer.

Hypothesis drives arbitrary series (values incl. NaN runs, arbitrary
window sizes, and min_periods for the median) through one Spark pass and compares
row-for-row with real pandas ``rolling``.  Each example batches many
generated series into ONE DataFrame so a Spark round trip is paid per
example, not per series.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window

from mcm_problem_f_data_wrangling_spark.functions.rolling import (
    pct_change,
    rolling_avg,
    rolling_median,
    rolling_std,
)

finite = st.floats(
    min_value=-1e6,
    max_value=1e6,
    allow_nan=False,
    allow_infinity=False,
    allow_subnormal=False,  # 1/subnormal overflows to inf engine-dependently
)
value = st.one_of(finite, st.just(float("nan")))
series_strategy = st.lists(value, min_size=3, max_size=30)


@pytest.fixture(scope="module")
def sparkref(spark):
    return spark


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    batch=st.lists(series_strategy, min_size=1, max_size=6),
    window=st.integers(min_value=1, max_value=8),
    min_periods=st.integers(min_value=1, max_value=8),
)
# Pinned falsifying examples (r11 judge fuzz): after evicting 7.0 from
# a near-zero window, pandas' ONLINE std kernel carries ~3e-12 error
# while the engine's stddev_samp-over-frame is exact.  The variance
# bound (scale²·eps) converted to a std bound divides by 2·std, which
# explodes when std ≪ 1 — so std is compared as VARIANCE below.  The
# .hypothesis example DB is gitignored; these keep the case a
# deterministic regression (the first for the median's min_periods,
# the second for std over full frames).
@example(
    batch=[[0.0, 7.0, float("nan"), 0.0, float("nan"), 0.0, float("nan"),
            float("nan"), 0.001953125]],
    window=4,
    min_periods=1,
)
@example(batch=[[7.0, 0.0, 0.0, 0.0009765625]], window=3, min_periods=3)
def test_rolling_matches_pandas_fuzz(sparkref, batch, window, min_periods):
    spark = sparkref
    min_periods = min(min_periods, window)  # pandas requires mp <= window
    pdf = pd.DataFrame(
        [
            (f"s{si}", t, v)
            for si, series in enumerate(batch)
            for t, v in enumerate(series)
        ],
        columns=["k", "t", "x"],
    )
    sdf = spark.createDataFrame(pdf)
    w = Window.partitionBy("k").orderBy("t")
    got = (
        sdf.select(
            "k",
            "t",
            rolling_avg("x", w, window).alias("avg"),
            rolling_std("x", w, window).alias("std"),
            rolling_median("x", w, window, min_periods).alias("med"),
            pct_change("x", w, 1).alias("pct"),
        )
        .orderBy("k", "t")
        .toPandas()
    )
    # Both engines' rounding error scales with the input magnitude —
    # e.g. std over [1e6, 1e6 - 1e-10] is pure catastrophic
    # cancellation, and pandas' ONLINE rolling algorithm carries
    # ~max|x|²·eps variance error after evicting a large value from a
    # near-zero window (observed: std [0,0,1] off by 1e-9 after 4615
    # left the window).  Variance error ~ scale²·eps ⇒ atol must scale
    # quadratically; a fixed 1e-12 flags that noise as a parity bug.
    finite_x = pdf["x"].to_numpy(dtype=float)
    finite_x = finite_x[np.isfinite(finite_x)]
    scale = float(np.max(np.abs(finite_x))) if finite_x.size else 1.0
    atol = max(1e-12, max(scale, scale**2) * np.finfo(float).eps * 64)
    g = pdf.sort_values(["k", "t"]).groupby("k")["x"]
    exp = {
        "avg": g.rolling(window).mean(),
        "std": g.rolling(window).std(),
        "med": g.rolling(window, min_periods=min_periods).median(),
        "pct": g.pct_change(1, fill_method=None),
    }
    for name, e in exp.items():
        e = e.reset_index(drop=True).to_numpy(dtype=float)
        a = got[name].to_numpy(dtype=float)
        if name == "pct":
            # pinned semantic (SURVEY.md §7): zero denominators are SQL
            # NULL in the engine where pandas emits ±inf — compare all
            # non-finites as "no value" on both sides
            e[np.isinf(e)] = np.nan
            a[np.isinf(a)] = np.nan
        if name == "std":
            # pandas' online kernel error is bounded on the VARIANCE
            # (~scale²·eps); as a std error it divides by 2·std and
            # blows past any fixed bound when std ≪ 1.  Compare
            # variances so the quadratic atol applies to the quantity
            # it actually bounds.
            e = e**2
            a = a**2
        assert np.allclose(a, e, rtol=1e-9, atol=atol, equal_nan=True), (
            name,
            window,
            min_periods,
            batch,
        )
