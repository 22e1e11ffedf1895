"""Model/simulation layer (X3-X5): deterministic drift fit + Monte-Carlo
distributional properties (SURVEY.md §4 item 3: seeded randn ≠ numpy
bit-for-bit, so MC is asserted on properties, not hashes)."""

from __future__ import annotations

import numpy as np
import pytest

from mcm_problem_f_data_wrangling_spark.operators.forecast import (
    fit_rw_drift_forecast,
    monte_carlo_forecast,
    quantile_fan_summary,
    simulate_paths,
)


@pytest.fixture(scope="module")
def trend(spark):
    rows = []
    for g, (start, slope) in {"a": (100.0, 2.0), "b": (50.0, -1.0)}.items():
        for t in range(30):
            rows.append((g, t, start + slope * t))
    return spark.createDataFrame(rows, ["career", "t", "y"])


def test_drift_fit_recovers_linear_slope(trend):
    out = fit_rw_drift_forecast(trend, "career", "t", "y", steps=3, tail_window=24)
    rows = {(r["group"], r["step"]): r for r in out.collect()}
    # exact linear trend: mu == slope, sigma == 0, forecast extrapolates
    assert rows[("a", 1)]["mu"] == pytest.approx(2.0)
    assert rows[("a", 1)]["sigma"] == pytest.approx(0.0)
    assert rows[("a", 3)]["forecast"] == pytest.approx(100.0 + 2.0 * 29 + 3 * 2.0)
    assert rows[("b", 2)]["forecast"] == pytest.approx(50.0 - 29.0 - 2.0)


def test_simulated_paths_distribution(spark):
    params = spark.createDataFrame(
        [("g", 1.0, 2.0, 100.0)], ["group", "mu", "sigma", "last_value"]
    )
    # the paths stay far above the clip floor at 0
    paths = simulate_paths(params, sims=400, steps=10, seed=3).toPandas()
    assert len(paths) == 4000
    step10 = paths[paths["step"] == 10]["y"]
    # E[y_10] = 100 + 10*mu = 110, sd = sigma*sqrt(10) ≈ 6.32
    assert step10.mean() == pytest.approx(110.0, abs=1.5)
    assert step10.std() == pytest.approx(2.0 * np.sqrt(10), rel=0.2)


def test_clip_floor_applies(spark):
    params = spark.createDataFrame(
        [("g", -50.0, 1.0, 10.0)], ["group", "mu", "sigma", "last_value"]
    )
    paths = simulate_paths(params, sims=20, steps=5, seed=1).toPandas()
    assert (paths["y"] >= 0.0).all()


def test_quantile_fan_monotone(trend):
    out = monte_carlo_forecast(trend, "career", "t", "y", sims=200, steps=6, seed=5)
    pdf = out.toPandas()
    assert len(pdf) == 12  # 2 groups × 6 steps
    for _, r in pdf.iterrows():
        assert r["p05"] <= r["p10"] <= r["p50"] <= r["p90"] <= r["p95"]
        assert r["min_y"] <= r["p05"] and r["p95"] <= r["max_y"]


def test_fan_summary_exact_quantiles(spark):
    rows = [("g", s, i, float(i)) for s in (1, 2) for i in range(1, 101)]
    paths = spark.createDataFrame(rows, ["group", "sim", "step", "y"])
    # here "sim" column is irrelevant to grouping: quantiles per step
    out = quantile_fan_summary(paths.selectExpr("group", "step as sim", "sim as step", "y"))
    r = out.filter("step = 1").head()
    assert r["p50"] == pytest.approx(np.quantile(np.arange(1.0, 101.0), 0.5))
    assert r["p95"] == pytest.approx(np.quantile(np.arange(1.0, 101.0), 0.95))


# ---------------------------------------------------------------------------
# X3 SARIMAX-lite AIC grid (fit_best_sarimax parity, EDA.ipynb cell 27)
# ---------------------------------------------------------------------------


def _sim_seasonal_arma(n=150, phi=0.6, seed=0):
    """d=1, D=1, s=12 integrated AR(1) — candidate 1's true model."""
    rng = np.random.RandomState(seed)
    z = np.zeros(n)
    e = rng.normal(0, 1.0, n)
    for t in range(1, n):
        z[t] = phi * z[t - 1] + e[t]
    # integrate seasonal then regular difference
    dy = np.zeros(n)
    for t in range(n):
        dy[t] = z[t] + (dy[t - 12] if t >= 12 else 0.0)
    y = 1000.0 + np.cumsum(dy)
    return y


def test_aic_grid_selects_min_aic():
    """The winner's AIC equals the minimum over the five candidates
    (selection-rule parity with fit_best_sarimax)."""
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        ARMA_CANDIDATES,
        fit_arma_css,
    )

    y = _sim_seasonal_arma()
    dy = np.diff(y)
    z = dy[12:] - dy[:-12]
    aics = []
    for (p, _, q), (P, _, Q, s) in ARMA_CANDIDATES:
        aic, _ = fit_arma_css(z, p, q, P, Q, s=s)
        aics.append(aic)
    assert all(np.isfinite(a) for a in aics)
    # the AR(1)-true data must prefer a candidate with an AR term over
    # the pure-MA ones by a clear margin
    best_idx = int(np.argmin(aics))
    assert ARMA_CANDIDATES[best_idx][0][0] == 1  # p == 1 in the winner


def test_aic_grid_recovers_ar_coefficient():
    from mcm_problem_f_data_wrangling_spark.operators.forecast import fit_arma_css

    y = _sim_seasonal_arma(phi=0.6, seed=3)
    dy = np.diff(y)
    z = dy[12:] - dy[:-12]
    _, params = fit_arma_css(z, 1, 0, 0, 0)
    assert abs(params["phi"] - 0.6) < 0.2


def test_aic_grid_spark_plan(spark):
    """End-to-end through applyInPandas: per-group winner rows, AIC
    constant within a group, forecasts finite, short series fall back
    to rw_drift."""
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        fit_best_arma_forecast,
    )

    rows = []
    y = _sim_seasonal_arma(seed=7)
    rows += [("long", t, float(v)) for t, v in enumerate(y)]
    rows += [("short", t, 100.0 + 2.0 * t) for t in range(10)]
    df = spark.createDataFrame(rows, ["g", "t", "v"])
    out = fit_best_arma_forecast(df, "g", "t", "v", steps=4).toPandas()
    assert len(out) == 8
    lng = out[out["group"] == "long"]
    assert lng["order"].nunique() == 1 and lng["order"].iloc[0] != "rw_drift"
    assert lng["aic"].nunique() == 1 and np.isfinite(lng["aic"].iloc[0])
    assert np.isfinite(lng["forecast"]).all()
    sht = out[out["group"] == "short"]
    assert (sht["order"] == "rw_drift").all()
    # drift fallback on an exact linear series continues the slope
    assert sht.sort_values("step")["forecast"].tolist() == pytest.approx(
        [118 + 2.0 * h for h in range(1, 5)]
    )


def test_aic_grid_nan_series_degrades_to_rw_drift(spark):
    """A gap (NaN) month poisons every candidate's SSE — the group must
    land on the documented rw_drift fallback, not crash the stage."""
    import math

    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        fit_best_arma_forecast,
    )

    rows = [("g", i, float(i) if i != 17 else float("nan")) for i in range(40)]
    df = spark.createDataFrame(rows, ["career", "t", "v"])
    out = fit_best_arma_forecast(df, "career", "t", "v", steps=3).collect()
    assert len(out) == 3
    assert all(r["order"] == "rw_drift" for r in out)
    assert all(r["aic"] is None or math.isnan(r["aic"]) for r in out)


# ---------------------------------------------------------------------------
# X5 full parity path: SARIMAX-with-exog fan (EDA.ipynb cell 32)
# ---------------------------------------------------------------------------


def _sim_exog_pair(n=150, beta=3.0, phi=0.5, seed=11):
    """y = beta*x + u with integrated seasonal AR(1) u and an RW+drift x."""
    rng = np.random.RandomState(seed)
    x = 50.0 + np.cumsum(rng.normal(0.5, 1.0, n))
    z = np.zeros(n)
    e = rng.normal(0, 1.0, n)
    for t in range(1, n):
        z[t] = phi * z[t - 1] + e[t]
    du = np.zeros(n)
    for t in range(n):
        du[t] = z[t] + (du[t - 12] if t >= 12 else 0.0)
    u = 1000.0 + np.cumsum(du)
    return x, beta * x + u


def test_exog_fit_recovers_beta(spark):
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        fit_arma_exog_params,
    )

    x, y = _sim_exog_pair(beta=3.0)
    df = spark.createDataFrame(
        [("g", t, float(y[t]), float(x[t])) for t in range(len(y))],
        ["career", "t", "y", "x"],
    )
    out = fit_arma_exog_params(df, "career", "t", "y", "x", steps=3).toPandas()
    assert len(out) == 3
    assert out["order"].iloc[0] != "rw_drift"
    # double-differenced OLS is consistent for beta; the u-noise floor
    # keeps it from being exact on 150 points
    assert out["beta"].iloc[0] == pytest.approx(3.0, abs=0.5)
    # exog RW law recovered from x's own diffs
    assert out["mu_x"].iloc[0] == pytest.approx(0.5, abs=0.3)
    assert out["last_x"].iloc[0] == pytest.approx(float(x[-1]))


def test_exog_fan_shape_and_widening(spark):
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        sarimax_exog_fan,
    )

    x, y = _sim_exog_pair()
    df = spark.createDataFrame(
        [("g", t, float(y[t]), float(x[t])) for t in range(len(y))],
        ["career", "t", "y", "x"],
    )
    fan = sarimax_exog_fan(
        df, "career", "t", "y", "x", sims=300, steps=6, seed=2
    ).toPandas().sort_values("step")
    assert len(fan) == 6
    # quantile sandwich at every step
    assert (fan["p05"] <= fan["p50"]).all() and (fan["p50"] <= fan["p95"]).all()
    # exog path variance grows with h => the fan must widen
    width = (fan["p95"] - fan["p05"]).to_numpy()
    assert width[-1] > width[0]
    # fan spread scales with |beta|*sigma_x*sqrt(h): sanity-bound step 1
    assert width[0] > 0.0


def test_exog_fan_fallback_matches_rw_drift(spark):
    """Short series: beta=0, exog law re-pointed at y's own diffs — the
    fan's step-h mean must track last + h*mu like the plain RW fan
    (and must NOT be clipped at zero despite the exog clip rule)."""
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        sarimax_exog_fan,
    )

    rows = [("s", t, -100.0 - 2.0 * t, float(t)) for t in range(10)]
    df = spark.createDataFrame(rows, ["career", "t", "y", "x"])
    fan = sarimax_exog_fan(
        df, "career", "t", "y", "x", sims=100, steps=4, seed=3
    ).toPandas().sort_values("step")
    assert len(fan) == 4
    # exact linear series: sigma of diffs = 0, so the fan is degenerate
    # at the drift extrapolation — all quantiles equal, deeply negative
    for h, r in zip(range(1, 5), fan.itertuples()):
        assert r.p50 == pytest.approx(-118.0 - 2.0 * h)
        assert r.p05 == pytest.approx(r.p95)


class TestHoltWinters:
    def _series(self, spark, n=48, level=100.0, trend=2.0, amp=10.0, season=12):
        import math

        rows = [
            (
                "s1",
                i,
                level + trend * i + amp * math.sin(2 * math.pi * (i % season) / season),
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, "g string, t int, y double"), rows

    def test_recovers_exact_additive_model(self, spark):
        """On a noise-free level+trend+seasonal series the in-sample
        one-step SSE of the best grid point is tiny and the 6-step
        forecast continues the exact pattern."""
        import math

        from mcm_problem_f_data_wrangling_spark.operators.forecast import (
            holt_winters_forecast,
        )

        df, rows = self._series(spark)
        out = {
            r["step"]: r
            for r in holt_winters_forecast(df, "g", "t", "y", season=12, steps=6).collect()
        }
        n = len(rows)
        for h in range(1, 7):
            i = n + h - 1
            truth = 100.0 + 2.0 * i + 10.0 * math.sin(2 * math.pi * (i % 12) / 12)
            rel = abs(out[h]["forecast"] - truth) / abs(truth)
            assert rel < 0.05, (h, out[h]["forecast"], truth)
        assert out[1]["n_obs"] == n

    def test_sse_is_grid_optimal(self, spark):
        """The reported SSE equals the minimum over the full grid,
        recomputed independently via _hw_fit_sse."""
        from mcm_problem_f_data_wrangling_spark.operators.forecast import (
            HW_GRID,
            _hw_fit_sse,
            holt_winters_forecast,
        )

        df, rows = self._series(spark, n=40, amp=5.0)
        got = holt_winters_forecast(df, "g", "t", "y", season=12, steps=1).collect()[0]
        y = [r[2] for r in rows]
        best = min(
            _hw_fit_sse(y, 12, a, b, g)[0]
            for a in HW_GRID
            for b in HW_GRID
            for g in HW_GRID
        )
        assert got["sse"] == pytest.approx(best, rel=1e-9)

    def test_short_series_falls_back_to_rw_drift(self, spark):
        from mcm_problem_f_data_wrangling_spark.operators.forecast import (
            holt_winters_forecast,
        )

        df = spark.createDataFrame(
            [("s", i, 10.0 + 3.0 * i) for i in range(10)], "g string, t int, y double"
        )
        out = {
            r["step"]: r
            for r in holt_winters_forecast(df, "g", "t", "y", season=12, steps=3).collect()
        }
        import math

        # Arrow maps the fallback's NaN params to SQL NULL; a vanilla
        # (non-Arrow) session keeps NaN — both mean "no fit"
        a = out[1]["alpha"]
        assert a is None or math.isnan(a)
        # RW with drift on a perfect line = exact continuation
        for h in range(1, 4):
            assert out[h]["forecast"] == pytest.approx(10.0 + 3.0 * (9 + h))
