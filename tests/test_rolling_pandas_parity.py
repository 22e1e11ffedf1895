"""pandas-parity for the window layer (SURVEY.md §7 hard parts):
rolling stats must reproduce pandas min_periods NaN semantics exactly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mcm_problem_f_data_wrangling_spark.functions.rolling import (
    diff,
    index_rebase,
    pct_change,
    rolling_avg,
    rolling_corr,
    rolling_median,
    rolling_std,
)

N = 40


@pytest.fixture(scope="module")
def series(spark):
    rng = np.random.RandomState(7)
    pdf = pd.DataFrame(
        {
            "career": ["a"] * N + ["b"] * N,
            "t": list(range(N)) * 2,
            "x": np.concatenate([rng.lognormal(3, 0.2, N), rng.lognormal(4, 0.3, N)]),
            "y": np.concatenate([rng.lognormal(2, 0.4, N), rng.lognormal(1, 0.1, N)]),
        }
    )
    # leading nulls in one series exercise first-non-null rebasing
    pdf.loc[pdf.index[:3], "y"] = np.nan
    return spark.createDataFrame(pdf), pdf


def _check(sdf, pdf_expected, col):
    got = (
        sdf.orderBy("career", "t").select(col).toPandas()[col].to_numpy()
    )
    exp = pdf_expected.to_numpy()
    assert np.allclose(got, exp, rtol=1e-9, atol=1e-12, equal_nan=True), col


def test_rolling_family_matches_pandas(series):
    sdf, pdf = series
    w = Window.partitionBy("career").orderBy("t")
    out = sdf.select(
        "career",
        "t",
        rolling_avg("x", w, 6).alias("r_avg"),
        rolling_std("x", w, 12).alias("r_std"),
        rolling_median("x", w, 13, min_periods=6).alias("r_med"),
        rolling_corr("x", "y", w, 12).alias("r_corr"),
        pct_change("x", w, 1, scale=100.0).alias("mom"),
        diff("x", w, 12).alias("d12"),
        index_rebase("y", w).alias("y_idx"),
    )
    g = pdf.sort_values(["career", "t"]).groupby("career")
    _check(out, g["x"].rolling(6).mean().reset_index(drop=True), "r_avg")
    _check(out, g["x"].rolling(12).std().reset_index(drop=True), "r_std")
    _check(
        out,
        g["x"].rolling(13, min_periods=6).median().reset_index(drop=True),
        "r_med",
    )
    exp_corr = (
        pdf.sort_values(["career", "t"])
        .groupby("career")[["x", "y"]]
        .apply(lambda d: d["x"].rolling(12).corr(d["y"]))
        .reset_index(drop=True)
    )
    _check(out, exp_corr, "r_corr")
    _check(out, g["x"].pct_change(1).reset_index(drop=True) * 100.0, "mom")
    _check(out, g["x"].diff(12).reset_index(drop=True), "d12")
    exp_idx = (
        pdf.sort_values(["career", "t"])
        .groupby("career")["y"]
        .apply(lambda s: s / s.dropna().iloc[0] * 100.0)
        .reset_index(drop=True)
    )
    _check(out, exp_idx, "y_idx")


def test_min_periods_guard_nulls_exact_prefix(series):
    """First w-1 rows per series must be NULL — pandas rolling default."""
    sdf, _ = series
    w = Window.partitionBy("career").orderBy("t")
    out = (
        sdf.select("career", "t", rolling_avg("x", w, 6).alias("r"))
        .orderBy("career", "t")
        .toPandas()
    )
    for _, grp in out.groupby("career"):
        assert grp["r"].head(5).isna().all()
        assert grp["r"].iloc[5:].notna().all()


def test_ewma_matches_pandas_ewm(spark):
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mcm_problem_f_data_wrangling_spark.functions.rolling import ewma

    vals = [float(((i * 37) % 100) + 1) / 7.0 for i in range(120)]
    pdf = pd.DataFrame({"k": ["a"] * 60 + ["b"] * 60, "i": list(range(60)) * 2, "x": vals})
    sdf = spark.createDataFrame(pdf)
    w = Window.partitionBy("k").orderBy("i")
    got = (
        sdf.select("k", "i", ewma("x", w).alias("y"))
        .toPandas()
        .sort_values(["k", "i"])
        .reset_index(drop=True)
    )
    # pandas ewm: adjust=True with alpha = 1 - decay
    exp = (
        pdf.groupby("k", group_keys=False)
        .apply(lambda g: g.sort_values("i").assign(y=g.sort_values("i")["x"].ewm(alpha=0.5, adjust=True).mean()), include_groups=False)
        .assign(k=pdf["k"])
        .sort_values(["k", "i"])
        .reset_index(drop=True)
    )
    assert (got["y"] - exp["y"]).abs().max() < 1e-9


def test_rolling_corr_pairwise_complete_masking(spark):
    """One-sided nulls: a frame yields a value only when every row in
    it is pairwise-complete (pandas/DuckDB corr semantics), so no
    moment mixes in a row the other side lacks.  Unmasked per-side
    stddevs once returned 1.414... (> 1) on such frames."""
    from mcm_problem_f_data_wrangling_spark.functions.rolling import rolling_corr

    pdf = pd.DataFrame(
        {
            "k": ["a"] * 6,
            "t": [1, 2, 3, 4, 5, 6],
            "x": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
            "y": [1.0, None, 3.0, 4.0, 6.0, 5.0],
        }
    )
    sdf = spark.createDataFrame(pdf)
    w = Window.partitionBy("k").orderBy("t")
    got = (
        sdf.withColumn("c", rolling_corr("x", "y", w, window=3))
        .orderBy("t")
        .collect()
    )
    want = pdf["x"].rolling(3).corr(pdf["y"]).tolist()
    assert sum(p == p for p in want) == 2  # frames ending at t = 5, 6
    for g, p in zip((r["c"] for r in got), want):
        if p != p:  # NaN
            assert g is None
        else:
            assert g is not None and abs(g - p) < 1e-9
    # the bug's signature: |corr| must never exceed 1
    assert all(r["c"] is None or abs(r["c"]) <= 1 + 1e-9 for r in got)
