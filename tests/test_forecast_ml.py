"""X3 exact-ML estimator tests (r4 verdict task 2).

The load-bearing anchor is ``test_kalman_matches_bruteforce_mvn``: the
Kalman log-likelihood is cross-checked against a from-first-principles
multivariate-normal evaluation built from truncated psi-weight
autocovariances — two completely independent computations of the same
Gaussian density.  With the likelihood itself proven exact, the golden
pins below are regression anchors for the optimizer wiring.

Parity: ``fit_best_sarimax`` (``EDA.ipynb cells 27/30/32``) fits the
same five-candidate grid by statsmodels state-space ML.
"""

from __future__ import annotations

import numpy as np
import pytest

from mcm_problem_f_data_wrangling_spark.operators.forecast import (
    ARMA_CANDIDATES,
    fit_arma_css,
    fit_arma_ml,
    fit_best_arma_forecast,
    sarma_loglik_at_unit_scale,
    sarma_loglik_concentrated,
)


# ---------------------------------------------------------------------------
# brute-force MVN reference (test-only; O(n^2 J) + O(n^3), fine at n=40)
# ---------------------------------------------------------------------------


def _psi_weights(phi, Phi, theta, Theta, s, J):
    """MA(inf) weights of the multiplicative SARMA via the standard
    psi-recursion psi_j = sum_k a_k psi_{j-k} + m_j."""
    a = np.zeros(J + 1)
    a[1], a[s], a[s + 1] = phi, Phi, -phi * Phi
    m = np.zeros(J + 1)
    m[1], m[s], m[s + 1] = theta, Theta, theta * Theta
    psi = np.zeros(J + 1)
    psi[0] = 1.0
    for j in range(1, J + 1):
        acc = m[j]
        for k in (1, s, s + 1):
            if j - k >= 0:
                acc += a[k] * psi[j - k]
        psi[j] = acc
    return psi


def _mvn_loglik(z, c, phi, Phi, theta, Theta, s=12, J=4000):
    """Exact Gaussian loglik (sigma^2=1) from the full n x n Toeplitz
    covariance gamma(h) = sum_j psi_j psi_{j+h} — truncation error is
    O(rho^J), invisible at J=4000 with |roots| <= 0.9."""
    psi = _psi_weights(phi, Phi, theta, Theta, s, J)
    n = len(z)
    gamma = np.array([float(psi[: J + 1 - h] @ psi[h:]) for h in range(n)])
    Sig = gamma[np.abs(np.subtract.outer(np.arange(n), np.arange(n)))]
    v = np.asarray(z, float) - c
    _, logdet = np.linalg.slogdet(Sig)
    return -0.5 * (n * np.log(2 * np.pi) + logdet + v @ np.linalg.solve(Sig, v))


def _planted_seasonal_ma(n=60, theta=-0.7, Theta=-0.5, c=0.2, seed=5):
    """(0,1)x(0,1,12) with intercept — short + strong MA terms is the
    regime where CSS's zero-pre-sample conditioning visibly biases the
    estimates relative to exact ML."""
    rng = np.random.RandomState(seed)
    e = rng.normal(0, 1.0, n + 13)
    z = np.array(
        [e[t + 13] + theta * e[t + 12] + Theta * e[t + 1] + theta * Theta * e[t] for t in range(n)]
    )
    return z + c


def _sim_seasonal_arma_y(n=120, phi=0.6, seed=7):
    """Integrated (d=1, D=1) seasonal AR(1) level series."""
    rng = np.random.RandomState(seed)
    z = np.zeros(n)
    e = rng.normal(0, 1.0, n)
    for t in range(1, n):
        z[t] = phi * z[t - 1] + e[t]
    dy = np.zeros(n)
    for t in range(n):
        dy[t] = z[t] + (dy[t - 12] if t >= 12 else 0.0)
    return 1000.0 + np.cumsum(dy)


# ---------------------------------------------------------------------------
# exactness anchor
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "c,phi,Phi,theta,Theta",
    [
        (0.3, 0.5, 0.0, 0.0, 0.0),
        (0.0, 0.0, 0.0, -0.6, -0.4),
        (0.1, 0.7, -0.3, 0.5, -0.5),
        (0.0, 0.9, 0.8, -0.9, 0.7),
    ],
)
def test_kalman_matches_bruteforce_mvn(c, phi, Phi, theta, Theta):
    rng = np.random.RandomState(42)
    z = rng.normal(0, 1, 40) + 0.3
    k = sarma_loglik_at_unit_scale(z, c, phi, Phi, theta, Theta)
    m = _mvn_loglik(z, c, phi, Phi, theta, Theta)
    assert abs(k - m) < 1e-8


def test_concentrated_loglik_is_profile_max():
    """The concentrated loglik equals the unit-scale loglik maximized
    over sigma^2 analytically: it must upper-bound loglik at sigma=1
    shifted by the scale term, and equal it when sigma_hat == 1."""
    rng = np.random.RandomState(1)
    z = rng.normal(0, 1, 50)
    llc = sarma_loglik_concentrated(z, 0.0, 0.4, 0.0, 0.2, 0.0)
    ll1 = sarma_loglik_at_unit_scale(z, 0.0, 0.4, 0.0, 0.2, 0.0)
    assert llc >= ll1 - 1e-9  # profile >= any fixed-scale value


# ---------------------------------------------------------------------------
# estimator behavior
# ---------------------------------------------------------------------------


def test_ml_improves_on_css_start():
    z = _planted_seasonal_ma()
    _, p_css = fit_arma_css(z, 0, 1, 0, 1)
    _, p_ml = fit_arma_ml(z, 0, 1, 0, 1)

    def ll(p):
        return sarma_loglik_concentrated(
            z, p["c"], p["phi"], p["Phi"], p["theta"], p["Theta"]
        )

    assert ll(p_ml) >= ll(p_css) - 1e-9


def test_ml_and_css_measurably_differ_on_planted_ma():
    """The series test_ml_golden pins: CSS and ML land on visibly
    different MA coefficients (the gap the r4 verdict flagged)."""
    z = _planted_seasonal_ma()
    _, p_css = fit_arma_css(z, 0, 1, 0, 1)
    _, p_ml = fit_arma_ml(z, 0, 1, 0, 1)
    assert abs(p_ml["theta"] - p_css["theta"]) > 0.01
    assert abs(p_ml["Theta"] - p_css["Theta"]) > 0.01


def test_ml_golden_planted_ma():
    """Golden pin for the planted (0,1)x(0,1,12) series.  Values were
    produced by this implementation and are trustworthy because the
    likelihood it maximizes is proven exact against the independent
    MVN evaluation above; the pin guards the optimizer wiring."""
    z = _planted_seasonal_ma()
    aic, p = fit_arma_ml(z, 0, 1, 0, 1)
    assert aic == pytest.approx(175.0784, abs=1e-2)
    assert p["c"] == pytest.approx(0.2418, abs=1e-3)
    assert p["theta"] == pytest.approx(-0.9342, abs=1e-3)
    assert p["Theta"] == pytest.approx(-0.4628, abs=1e-3)


def test_ml_recovers_ar_coefficient():
    y = _sim_seasonal_arma_y(phi=0.6, seed=3)
    dy = np.diff(y)
    z = dy[12:] - dy[:-12]
    _, params = fit_arma_ml(z, 1, 0, 0, 0)
    assert abs(params["phi"] - 0.6) < 0.2


def test_ml_grid_all_finite():
    y = _sim_seasonal_arma_y()
    dy = np.diff(y)
    z = dy[12:] - dy[:-12]
    aics = []
    for (p, _, q), (P, _, Q, s) in ARMA_CANDIDATES:
        aic, _ = fit_arma_ml(z, p, q, P, Q, s=s)
        aics.append(aic)
    assert all(np.isfinite(a) for a in aics)
    # AR(1)-true data prefers a candidate with an AR term
    assert ARMA_CANDIDATES[int(np.argmin(aics))][0][0] == 1


# ---------------------------------------------------------------------------
# Spark end-to-end
# ---------------------------------------------------------------------------


def test_ml_grid_spark_plan(spark):
    rows = []
    y = _sim_seasonal_arma_y(seed=7)
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
    assert sht.sort_values("step")["forecast"].tolist() == pytest.approx(
        [118 + 2.0 * h for h in range(1, 5)]
    )


# ---------------------------------------------------------------------------
# joint exog ML (regression with ARMA errors)
# ---------------------------------------------------------------------------


def test_exog_ml_recovers_beta_jointly():
    """y = beta*x + u with seasonal-AR(1) integrated u: the joint ML
    fit recovers beta and improves the likelihood over the two-step
    start (it optimizes the same objective from that start)."""
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        fit_arma_exog_ml,
        sarma_loglik_concentrated,
    )

    rng = np.random.RandomState(11)
    n, beta, phi = 150, 3.0, 0.5
    x = 50.0 + np.cumsum(rng.normal(0.5, 1.0, n))
    z = np.zeros(n)
    e = rng.normal(0, 1.0, n)
    for t in range(1, n):
        z[t] = phi * z[t - 1] + e[t]
    du = np.zeros(n)
    for t in range(n):
        du[t] = z[t] + (du[t - 12] if t >= 12 else 0.0)
    y = beta * x + 1000.0 + np.cumsum(du)

    def ddiff(v):
        dv = np.diff(v)
        return dv[12:] - dv[:-12]

    zy, zx = ddiff(y), ddiff(x)
    beta_ols = float(zx @ zy / (zx @ zx))
    aic, b_ml, p_ml = fit_arma_exog_ml(zy, zx, 1, 0, 0, 0, beta0=beta_ols)
    assert np.isfinite(aic)
    assert abs(b_ml - beta) < 0.2
    assert abs(p_ml["phi"] - phi) < 0.2
    # joint ML cannot be worse than the two-step start on its own objective
    from mcm_problem_f_data_wrangling_spark.operators.forecast import fit_arma_css

    _, p2 = fit_arma_css(zy - beta_ols * zx, 1, 0, 0, 0)

    def ll(beta_, p_):
        return sarma_loglik_concentrated(
            zy - beta_ * zx, p_["c"], p_["phi"], p_["Phi"], p_["theta"], p_["Theta"]
        )

    assert ll(b_ml, p_ml) >= ll(beta_ols, p2) - 1e-9


def test_exog_fit_spark_ml_default(spark):
    """fit_arma_exog_params runs the joint ML estimator and keeps the rw_drift degradation for short series."""
    from mcm_problem_f_data_wrangling_spark.operators.forecast import (
        fit_arma_exog_params,
    )

    rng = np.random.RandomState(3)
    rows = []
    x = 50.0 + np.cumsum(rng.normal(0.5, 1.0, 120))
    u = np.cumsum(np.cumsum(rng.normal(0, 1.0, 120)) / 10.0)
    for t in range(120):
        rows.append(("g", t, float(2.0 * x[t] + u[t]), float(x[t])))
    rows += [("short", t, 100.0 + t, 1.0) for t in range(8)]
    df = spark.createDataFrame(rows, ["career", "t", "v", "xc"])
    out = fit_arma_exog_params(df, "career", "t", "v", "xc", steps=3).toPandas()
    lng = out[out["group"] == "g"]
    assert lng["order"].iloc[0] != "rw_drift"
    assert abs(lng["beta"].iloc[0] - 2.0) < 0.5
    assert np.isfinite(lng["det"]).all()
    sht = out[out["group"] == "short"]
    assert (sht["order"] == "rw_drift").all() and (sht["beta"] == 0.0).all()
