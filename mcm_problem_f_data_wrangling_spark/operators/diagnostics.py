"""Per-group stationarity / seasonality diagnostics (SURVEY.md §2.9 X4).

The reference runs ADF, KPSS, Yeo-Johnson normalization, periodogram
seasonal-period estimation and ACF/PACF per career (``EDA.ipynb cells
25-26``, ``run_diagnostics_for_all``) via statsmodels/scipy.  Neither
library is in this container, so the statistics are implemented
directly in numpy — same definitions, same regression forms — and run
per group through ``applyInPandas``: the identical architectural
boundary the survey prescribes (groups are the parallelism axis; one
group's diagnostics are small and serial).

Inference: continuous p-values are reported alongside the statistics —
ADF via the MacKinnon (1994) response-surface polynomials for the
constant-only case (the published approximation ``adfuller`` uses;
sanity anchor: τ=-2.86 → p≈0.050, τ=-3.43 → p≈0.010), KPSS by linear
interpolation over the standard 10/5/2.5/1% critical-value table
(clamped to [0.01, 0.10] outside it, the conventional reporting) — so
X4 emits the notebook's DECISIONS, not just statistics.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# asymptotic critical values, constant-only case
ADF_CRIT = {"1%": -3.43, "5%": -2.86, "10%": -2.57}
KPSS_CRIT = {"10%": 0.347, "5%": 0.463, "1%": 0.739}

# MacKinnon (1994, JBES) response-surface coefficients for the ADF
# τ-statistic p-value, constant / no-trend case: p = Φ(poly(τ)), with
# the small-p polynomial below τ* and the large-p one above.
_ADF_TAU_STAR = -1.61
_ADF_TAU_MIN, _ADF_TAU_MAX = -18.83, 2.74
_ADF_SMALLP = (2.1659, 1.4412, 0.038269)          # ascending powers of τ
_ADF_LARGEP = (1.7339, 0.93202, -0.12745, -0.010368)

# KPSS level-stationarity table (Kwiatkowski et al. 1992 Table 1):
# statistic ↑ → p ↓; linear interpolation between tabulated points.
_KPSS_TABLE_STAT = (0.347, 0.463, 0.574, 0.739)
_KPSS_TABLE_P = (0.10, 0.05, 0.025, 0.01)


def adf_pvalue(stat: float) -> float:
    """Approximate ADF p-value (constant-only case) via the MacKinnon
    (1994) response surface: p = Φ(Σ cᵢ·τⁱ)."""
    import math

    if np.isnan(stat):
        return float("nan")
    if stat > _ADF_TAU_MAX:
        return 1.0
    if stat < _ADF_TAU_MIN:
        return 0.0
    coeffs = _ADF_SMALLP if stat <= _ADF_TAU_STAR else _ADF_LARGEP
    z = sum(c * stat**i for i, c in enumerate(coeffs))
    return 0.5 * math.erfc(-z / math.sqrt(2.0))


def kpss_pvalue(stat: float) -> float:
    """KPSS level-case p-value by linear interpolation over the
    standard critical-value table, clamped to [0.01, 0.10] outside it
    (the conventional 'p-value is smaller/greater than' report)."""
    if np.isnan(stat):
        return float("nan")
    return float(
        np.interp(stat, _KPSS_TABLE_STAT, _KPSS_TABLE_P)
    )  # np.interp clamps at both ends


def _ols(x: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray, float]:
    """OLS fit returning (beta, se(beta), sigma2).

    diag((XᵀX)⁺) comes from the SVD of X itself (V·S⁻²·Vᵀ) rather than
    from inverting XᵀX, which squares the condition number: the lagged
    ADF designs reach cond(X) ~ 5e3, so forming XᵀX costs ~1e-9 of
    relative accuracy in the t-statistic and lets the result drift with
    the BLAS kernel the CPU selects.
    """
    beta, *_ = np.linalg.lstsq(x, y, rcond=None)
    resid = y - x @ beta
    dof = max(len(y) - x.shape[1], 1)
    sigma2 = float(resid @ resid) / dof
    _, s, vt = np.linalg.svd(x, full_matrices=False)
    # same singular-value cutoff pinv(XᵀX) applied: drop s² < 1e-15·s_max²
    keep = s * s > 1e-15 * s[0] * s[0] if len(s) else s.astype(bool)
    xtx_inv_diag = ((vt[keep].T / s[keep]) ** 2).sum(axis=1)
    se = np.sqrt(np.maximum(xtx_inv_diag * sigma2, 0.0))
    return beta, se, sigma2


def _adf_design(y: np.ndarray, dy: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """Design matrix / target for the ADF regression with p lagged diffs:
    Δy_t = α + β·y_{t-1} + Σ γ_i·Δy_{t-i} + ε."""
    rows = len(dy) - p
    cols = [np.ones(rows), y[p:-1]]
    cols += [dy[p - i - 1 : len(dy) - i - 1] for i in range(p)]
    return np.column_stack(cols), dy[p:]


def adf_stat(y: np.ndarray) -> float:
    """Augmented Dickey-Fuller t-statistic (constant, AIC lag selection).

    Mirrors ``adfuller``'s defaults: candidate lags 0..maxlag (the
    Schwert bound) are fit on a common sample aligned at maxlag, AIC
    (n·log(RSS/n) + 2k) picks the lag, and the chosen regression is
    refit on the full usable sample; the statistic is β̂/se(β̂).
    """
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    n = len(y)
    if n < 10:
        return float("nan")
    pmax = int(np.floor(12 * (n / 100.0) ** 0.25))
    pmax = max(0, min(pmax, n // 2 - 3))
    dy = np.diff(y)
    if len(dy) - pmax < 5:
        pmax = max(0, len(dy) - 5)
    # common aligned sample for comparable AICs
    common_rows = len(dy) - pmax
    best_p, best_aic = 0, np.inf
    for p in range(pmax + 1):
        x_full, t_full = _adf_design(y, dy, p)
        x, t = x_full[-common_rows:], t_full[-common_rows:]
        beta, *_ = np.linalg.lstsq(x, t, rcond=None)
        resid = t - x @ beta
        rss = float(resid @ resid)
        if rss <= 0:
            continue
        aic = common_rows * np.log(rss / common_rows) + 2.0 * (p + 2)
        if aic < best_aic:
            best_aic, best_p = aic, p
    x, t = _adf_design(y, dy, best_p)
    beta, se, _ = _ols(x, t)
    return float(beta[1] / se[1]) if se[1] > 0 else float("nan")


def kpss_stat(y: np.ndarray) -> float:
    """KPSS level-stationarity statistic with Bartlett/Newey-West
    long-run variance, lags = int(4·(n/100)^0.25) (the statsmodels
    'legacy' default the notebook era used)."""
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    n = len(y)
    if n < 10:
        return float("nan")
    e = y - y.mean()
    s = np.cumsum(e)
    lags = int(4 * (n / 100.0) ** 0.25)
    gamma0 = float(e @ e) / n
    lrv = gamma0
    for k in range(1, lags + 1):
        w = 1.0 - k / (lags + 1.0)
        lrv += 2.0 * w * float(e[k:] @ e[:-k]) / n
    if lrv <= 0:
        return float("nan")
    return float(s @ s) / (n * n * lrv)


def yeo_johnson(y: np.ndarray, lam: float) -> np.ndarray:
    """Yeo-Johnson transform (scipy.stats.yeojohnson definition)."""
    y = np.asarray(y, dtype=float)
    out = np.empty_like(y)
    pos = y >= 0
    if abs(lam) > 1e-12:
        out[pos] = ((y[pos] + 1.0) ** lam - 1.0) / lam
    else:
        out[pos] = np.log1p(y[pos])
    if abs(lam - 2.0) > 1e-12:
        out[~pos] = -(((-y[~pos] + 1.0) ** (2.0 - lam)) - 1.0) / (2.0 - lam)
    else:
        out[~pos] = -np.log1p(-y[~pos])
    return out


def yeo_johnson_mle(y: np.ndarray) -> float:
    """λ maximizing the Yeo-Johnson log-likelihood (search over the grid
    -2, -1.95, …, 2 ≡ the scipy optimizer to grid resolution)."""
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    if len(y) < 5:
        return float("nan")
    best_lam, best_ll = 1.0, -np.inf
    n = len(y)
    jac = np.sign(y) * np.log1p(np.abs(y))  # d log-Jacobian term pieces
    for lam in np.arange(-2.0, 2.01, 0.05):
        t = yeo_johnson(y, float(lam))
        var = t.var()
        if var <= 0:
            continue
        ll = -0.5 * n * np.log(var) + (lam - 1.0) * float(jac.sum())
        if ll > best_ll:
            best_ll, best_lam = ll, float(lam)
    return best_lam


def periodogram_period(y: np.ndarray) -> int:
    """Dominant seasonal period via the FFT periodogram of the
    detrended (first-differenced) series — the notebook's estimator
    (``EDA.ipynb cell 25``), searching periods 2..24."""
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    if len(y) < 6:  # 2 · the shortest period + 2
        return 0
    d = np.diff(y)
    d = d - d.mean()
    power = np.abs(np.fft.rfft(d)) ** 2
    freqs = np.fft.rfftfreq(len(d))
    best_p, best_pow = 0, -1.0
    for i in range(1, len(freqs)):
        if freqs[i] <= 0:
            continue
        period = 1.0 / freqs[i]
        if 2 <= period <= 24 and power[i] > best_pow:
            best_pow, best_p = power[i], int(round(period))
    return best_p


def acf(y: np.ndarray, nlags: int) -> np.ndarray:
    y = np.asarray(y, dtype=float)
    y = y[~np.isnan(y)]
    e = y - y.mean()
    denom = float(e @ e)
    if denom <= 0:
        return np.full(nlags + 1, np.nan)
    return np.array([1.0] + [float(e[k:] @ e[:-k]) / denom for k in range(1, nlags + 1)])


def pacf(y: np.ndarray, nlags: int) -> np.ndarray:
    """Partial ACF via Durbin-Levinson recursion."""
    r = acf(y, nlags)
    if np.isnan(r).any():
        return np.full(nlags + 1, np.nan)
    phi = np.zeros((nlags + 1, nlags + 1))
    out = np.zeros(nlags + 1)
    out[0] = 1.0
    for k in range(1, nlags + 1):
        num = r[k] - sum(phi[k - 1, j] * r[k - j] for j in range(1, k))
        den = 1.0 - sum(phi[k - 1, j] * r[j] for j in range(1, k))
        phi[k, k] = num / den if den != 0 else 0.0
        for j in range(1, k):
            phi[k, j] = phi[k - 1, j] - phi[k, k] * phi[k - 1, k - j]
        out[k] = phi[k, k]
    return out


DIAGNOSTICS_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("n_obs", LongType()),
        StructField("adf_stat", DoubleType()),
        StructField("adf_pvalue", DoubleType()),
        StructField("adf_reject_unit_root_5pct", BooleanType()),
        StructField("kpss_stat", DoubleType()),
        StructField("kpss_pvalue", DoubleType()),
        StructField("kpss_reject_stationary_5pct", BooleanType()),
        StructField("yj_lambda", DoubleType()),
        StructField("seasonal_period", LongType()),
        StructField("acf1", DoubleType()),
        StructField("acf12", DoubleType()),
        StructField("pacf1", DoubleType()),
    ]
)


def run_diagnostics(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """X4: one diagnostics row per group via applyInPandas.

    Parity: ``run_diagnostics_for_all`` (``EDA.ipynb cell 26``) — ADF +
    KPSS on the level series, Yeo-Johnson λ, periodogram seasonal
    period, lead ACF/PACF values.
    """

    def diag(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype(float).to_numpy()
        y = y[~np.isnan(y)]
        a = adf_stat(y)
        k = kpss_stat(y)
        nlags = min(12, max(1, len(y) // 3))
        r = acf(y, nlags)
        p = pacf(y, nlags)
        return pd.DataFrame(
            [
                {
                    "group": str(pdf[group_col].iloc[0]),
                    "n_obs": int(len(y)),
                    "adf_stat": a,
                    "adf_pvalue": adf_pvalue(a),
                    "adf_reject_unit_root_5pct": bool(a < ADF_CRIT["5%"])
                    if not np.isnan(a)
                    else None,
                    "kpss_stat": k,
                    "kpss_pvalue": kpss_pvalue(k),
                    "kpss_reject_stationary_5pct": bool(k > KPSS_CRIT["5%"])
                    if not np.isnan(k)
                    else None,
                    "yj_lambda": yeo_johnson_mle(y),
                    "seasonal_period": int(periodogram_period(y)),
                    "acf1": float(r[1]) if len(r) > 1 else None,
                    "acf12": float(r[12]) if len(r) > 12 else None,
                    "pacf1": float(p[1]) if len(p) > 1 else None,
                }
            ]
        )

    return df.groupBy(group_col).applyInPandas(diag, DIAGNOSTICS_SCHEMA)
