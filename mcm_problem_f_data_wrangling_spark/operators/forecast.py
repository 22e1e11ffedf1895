"""Per-group model fitting + Monte-Carlo forecasting (SURVEY.md §2.9
X3-X5, §2.4 A6, §2.7 F13-F14).

The reference fits SARIMAX per career on the driver (``EDA.ipynb cells
27-32``); statsmodels is not available in this container, so the model
family here is the reference's own *fallback* model — random walk with
drift (``fit_rw_drift_params``, ``EDA.ipynb cell 27``: mean/std of the
last-window first differences) — plus an optional AR(1) term fit by
ordinary least squares in numpy.  The architectural point is identical:
**model fitting is a genuine Python boundary** (X3), crossed once per
group via ``applyInPandas`` (Arrow-batched, one group per task), while
path simulation (F14+W8), clipping (F10) and the quantile fan summary
(A6) stay native Spark.

Scale: groups (careers/series) are the parallelism axis — 1M series
fan out across executors; a single series' fit is small and serial,
exactly as in the reference (SURVEY.md §7 hard parts:
non-distributable model state).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

DRIFT_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("step", LongType()),
        StructField("forecast", DoubleType()),
        StructField("mu", DoubleType()),
        StructField("sigma", DoubleType()),
    ]
)


def fit_rw_drift_forecast(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    steps: int = 6,
    tail_window: int = 24,
) -> DataFrame:
    """X3: per-group RW-with-drift fit + point forecast via applyInPandas.

    Parity: ``fit_rw_drift_params`` (``EDA.ipynb cell 27``) — mu/sigma
    are mean and ddof-1 std of the last ``tail_window`` first
    differences; the h-step point forecast is ``last + h*mu``.
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype(float).to_numpy()
        key = str(pdf[group_col].iloc[0])
        d = pd.Series(y).diff().dropna().tail(tail_window)
        mu = float(d.mean()) if len(d) else 0.0
        sigma = float(d.std(ddof=1)) if len(d) > 1 else 0.0
        last = float(y[-1]) if len(y) else 0.0
        return pd.DataFrame(
            {
                "group": key,
                "step": range(1, steps + 1),
                "forecast": [last + (h + 1) * mu for h in range(steps)],
                "mu": mu,
                "sigma": sigma,
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, DRIFT_SCHEMA)


def simulate_paths(
    params: DataFrame,
    sims: int = 200,
    steps: int = 12,
    seed: int = 42,
) -> DataFrame:
    """F14+W8+F10: native Monte-Carlo path simulation.

    Parity: ``simulate_exog_paths`` (``EDA.ipynb cell 27``) —
    ``np.random.normal(mu, sigma, (sims, steps))`` → cumsum → + last →
    clip at 0.  Here the (sim × step) frame is built with
    ``sequence``+``explode`` and seeded ``randn``; the cumulative sum
    is a window over steps partitioned by (group, sim).  Numeric parity
    with numpy's RNG is impossible (SURVEY.md §4 item 3): correctness
    is asserted on distributional properties, not hashes.

    ``params`` must carry (group, mu, sigma, last_value).
    """
    from pyspark.sql import Window

    sims_df = params.select(
        "group",
        "mu",
        "sigma",
        "last_value",
        F.explode(F.sequence(F.lit(1), F.lit(sims))).alias("sim"),
    )
    grid = sims_df.select(
        "*", F.explode(F.sequence(F.lit(1), F.lit(steps))).alias("step")
    )
    noisy = grid.withColumn(
        "dx", F.randn(seed) * F.col("sigma") + F.col("mu")
    )
    w = Window.partitionBy("group", "sim").orderBy("step")
    path = noisy.withColumn(
        "y",
        F.col("last_value")
        + F.sum("dx").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    path = path.withColumn("y", F.greatest(F.col("y"), F.lit(0.0)))
    return path.select("group", "sim", "step", "y")


def quantile_fan_summary(paths: DataFrame) -> DataFrame:
    """A6: exact per-step quantile fan (p05, p10, p50, p90, p95) +
    moments over simulated paths.

    Parity: ``np.quantile(Y_paths, q, axis=0)`` (``EDA.ipynb cells
    27/28/32``) — exact interpolated percentile, not approx, to match
    numpy's default interpolation.
    """
    aggs = [
        F.percentile(F.col("y"), F.lit(q)).alias(f"p{int(q * 100):02d}")
        for q in (0.05, 0.1, 0.5, 0.9, 0.95)
    ]
    return paths.groupBy("group", "step").agg(
        *aggs,
        F.avg("y").alias("mean_y"),
        F.stddev_samp("y").alias("std_y"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


def monte_carlo_forecast(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    sims: int = 200,
    steps: int = 12,
    seed: int = 42,
    tail_window: int = 24,
) -> DataFrame:
    """X5 end-to-end: fit (X3) → simulate (F14+W8+F10) → fan summary (A6).

    Parity: ``monte_carlo_forecast`` (``EDA.ipynb cells 27-28``), with
    the RW-drift model standing in for SARIMAX (see module docstring).
    """
    last = (
        df.groupBy(group_col)
        .agg(F.max_by(value_col, F.col(order_col)).alias("last_value"))
        .withColumnRenamed(group_col, "group")
    )
    fitted = (
        fit_rw_drift_forecast(df, group_col, order_col, value_col, steps=1, tail_window=tail_window)
        .select("group", "mu", "sigma")
        .dropDuplicates(["group"])
    )
    params = fitted.join(last, "group")
    paths = simulate_paths(params, sims=sims, steps=steps, seed=seed)
    return quantile_fan_summary(paths)


# ---------------------------------------------------------------------------
# X3 (full parity path): SARIMAX AIC grid over the reference's five
# candidate orders.
#
# Parity target: ``fit_best_sarimax`` (``EDA.ipynb cell 27``) — the
# reference tries CANDIDATE_ORDERS = five (p,1,q)×(P,1,Q,12) models with
# p,q,P,Q ≤ 1 and keeps the lowest AIC, fitting by statsmodels'
# state-space maximum likelihood.  statsmodels is absent from this
# environment, so the estimator is pure numpy:
#
# - ``fit_arma_ml`` — EXACT Gaussian ML via the Kalman filter below
#   (Harvey form, stationary init, concentrated σ²),
#   AIC = -2·loglik + 2k: the same estimator statsmodels runs, modulo
#   the documented simple-differencing convention (see the Kalman
#   section note).
# - ``fit_arma_css`` — conditional-sum-of-squares (Box-Jenkins CSS:
#   minimize one-step residual SSE of the multiplicative recursion),
#   AIC = n·ln(SSE/n) + 2k; the ML fits' starting point.
# ---------------------------------------------------------------------------

# mirrors EDA.ipynb cell 27 CANDIDATE_ORDERS with d=D=1, s=12
ARMA_CANDIDATES: tuple[tuple[tuple[int, int, int], tuple[int, int, int, int]], ...] = (
    ((1, 1, 0), (0, 1, 1, 12)),
    ((0, 1, 1), (0, 1, 1, 12)),
    ((1, 1, 1), (0, 1, 1, 12)),
    ((1, 1, 0), (1, 1, 0, 12)),
    ((0, 1, 1), (1, 1, 0, 12)),
)

AIC_GRID_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("order", StringType()),
        StructField("aic", DoubleType()),
        StructField("n_obs", LongType()),
        StructField("step", LongType()),
        StructField("forecast", DoubleType()),
    ]
)


def _css_residuals(z, c, phi, Phi, theta, Theta, s=12):
    """One-step CSS residuals of (1-φB)(1-ΦB^s)(z_t - c) = (1+θB)(1+ΘB^s)e_t.

    Multiplicative polynomials expanded: the recursion needs lags
    1, s, s+1 of both z and e; pre-sample values condition on zero
    (the CSS convention).  Pure-python loop — series are O(100) points
    and this runs inside the per-group applyInPandas boundary.
    """
    import numpy as np

    n = len(z)
    e = np.zeros(n)
    zc = z - c
    m = s + 1
    for t in range(n):
        z1 = zc[t - 1] if t >= 1 else 0.0
        zs = zc[t - s] if t >= s else 0.0
        zs1 = zc[t - m] if t >= m else 0.0
        e1 = e[t - 1] if t >= 1 else 0.0
        es = e[t - s] if t >= s else 0.0
        es1 = e[t - m] if t >= m else 0.0
        e[t] = (
            zc[t]
            - phi * z1
            - Phi * zs
            + phi * Phi * zs1
            - theta * e1
            - Theta * es
            - theta * Theta * es1
        )
    return e


def _nelder_mead(f, x0, steps=250):
    """Minimal Nelder-Mead simplex (public algorithm, Nelder & Mead
    1965) — no scipy in this environment.  Good enough for the ≤5-dim
    CSS surfaces here.  Stops when the simplex's value spread falls
    below a 1e-10 relative tolerance."""
    import numpy as np

    x0 = np.asarray(x0, dtype=float)
    k = len(x0)
    pts = [x0]
    for i in range(k):
        p = x0.copy()
        p[i] += 0.1 if p[i] == 0 else 0.1 * abs(p[i])
        pts.append(p)
    simplex = [(f(p), p) for p in pts]
    for _ in range(steps):
        simplex.sort(key=lambda t: t[0])
        fbest, fworst = simplex[0][0], simplex[-1][0]
        if abs(fworst - fbest) < 1e-10 * (abs(fbest) + 1e-10):
            break
        centroid = np.mean([p for _, p in simplex[:-1]], axis=0)
        worst = simplex[-1][1]
        xr = centroid + (centroid - worst)          # reflect
        fr = f(xr)
        if fr < simplex[0][0]:
            xe = centroid + 2.0 * (centroid - worst)  # expand
            fe = f(xe)
            simplex[-1] = (fe, xe) if fe < fr else (fr, xr)
        elif fr < simplex[-2][0]:
            simplex[-1] = (fr, xr)
        else:
            xc = centroid + 0.5 * (worst - centroid)  # contract
            fc = f(xc)
            if fc < simplex[-1][0]:
                simplex[-1] = (fc, xc)
            else:                                      # shrink
                best = simplex[0][1]
                simplex = [simplex[0]] + [
                    (f(best + 0.5 * (p - best)), best + 0.5 * (p - best))
                    for _, p in simplex[1:]
                ]
    simplex.sort(key=lambda t: t[0])
    return simplex[0][0], simplex[0][1]


def fit_arma_css(z, p, q, P, Q, s=12):
    """CSS fit of one candidate: returns (aic, params dict).

    Free parameters: intercept c plus the present ARMA terms; AIC uses
    k = n_params + 1 (the implicit innovation variance), matching the
    standard CSS-AIC bookkeeping.
    """
    import numpy as np

    z = np.asarray(z, dtype=float)
    n = len(z)
    names = ["c"] + ["phi"] * p + ["theta"] * q + ["Phi"] * P + ["Theta"] * Q

    def unpack(x):
        d = {"c": 0.0, "phi": 0.0, "theta": 0.0, "Phi": 0.0, "Theta": 0.0}
        for name, v in zip(names, x):
            d[name] = float(v)
        return d

    def objective(x):
        d = unpack(x)
        # soft box: CSS surfaces for near-unit-root MA terms are flat
        # cliffs; penalize |coef| > 0.99 to keep the recursion stable
        pen = sum(
            max(0.0, abs(d[nm]) - 0.99) * 1e6
            for nm in ("phi", "theta", "Phi", "Theta")
        )
        e = _css_residuals(z, d["c"], d["phi"], d["Phi"], d["theta"], d["Theta"], s=s)
        return float(np.dot(e, e)) + pen

    x0 = np.zeros(len(names))
    x0[0] = float(np.mean(z))
    sse, xbest = _nelder_mead(objective, x0)
    k = len(names) + 1
    aic = n * float(np.log(max(sse, 1e-300) / n)) + 2 * k
    return aic, unpack(xbest)


# ---------------------------------------------------------------------------
# Exact Gaussian maximum likelihood via a pure-numpy Kalman filter —
# the state-space refinement CSS lacks (r4 verdict task 2).
#
# Parity target: ``fit_best_sarimax`` (``EDA.ipynb cells 27/30/32``)
# fits by statsmodels' state-space ML.  The filter below computes the
# EXACT Gaussian log-likelihood of the seasonally+regularly differenced
# series under the multiplicative SARMA candidate — Harvey companion
# form, stationary initialization (discrete-Lyapunov solve), innovation
# variance concentrated out — and the grid optimizes it with the same
# Nelder-Mead, started from the CSS solution (the classic two-stage
# start, as statsmodels starts from Hannan-Rissanen).  Convention
# delta vs the reference (documented, not hidden): statsmodels keeps
# d/D inside the state vector under a diffuse prior; here the
# differencing is applied to the data and the SARMA likelihood is
# exact-stationary — the textbook ``simple_differencing=True`` form of
# the same estimator.  Exactness of the likelihood itself is pinned in
# tests/test_forecast_ml.py against a brute-force MVN evaluation from
# truncated psi-weight autocovariances.
# ---------------------------------------------------------------------------


def _sarma_state_space(phi, Phi, theta, Theta, s=12):
    """Harvey companion form of (1-φB)(1-ΦB^s) z̃ = (1+θB)(1+ΘB^s) ε.

    Returns (T, RR, r): transition matrix, R·Rᵀ for σ²=1, state dim
    r = s+2 (max AR lag s+1, max MA lag s+1 → r = q̄+1)."""
    import numpy as np

    r = s + 2
    a = np.zeros(r + 1)
    a[1], a[s], a[s + 1] = phi, Phi, -phi * Phi
    m = np.zeros(r)
    m[0] = 1.0
    m[1], m[s], m[s + 1] = theta, Theta, theta * Theta
    T = np.zeros((r, r))
    T[:, 0] = a[1 : r + 1]
    for i in range(r - 1):
        T[i, i + 1] = 1.0
    return T, np.outer(m, m), r


def _sarma_kalman_pieces(z, c, phi, Phi, theta, Theta, s=12):
    """Kalman filter pass at σ²=1: returns (sum_logF, ssq, n, T, a_pred)
    where ``a_pred`` is the one-step-ahead state after the last
    observation (the forecast seed), or None on a degenerate surface
    (non-stationary AR, singular initialization, non-positive F)."""
    import numpy as np

    T, RR, r = _sarma_state_space(phi, Phi, theta, Theta, s=s)
    # stationary initialization: P0 solves P = T P Tᵀ + RR
    eye = np.eye(r * r)
    try:
        vecP = np.linalg.solve(eye - np.kron(T, T), RR.reshape(-1))
    except np.linalg.LinAlgError:
        return None
    P = vecP.reshape(r, r)
    P = (P + P.T) / 2.0
    if not np.isfinite(P).all() or P[0, 0] <= 0.0:
        return None
    x = np.asarray(z, dtype=float) - c
    a = np.zeros(r)
    sum_logF = 0.0
    ssq = 0.0
    for t in range(len(x)):
        Fm = P[0, 0]
        if not np.isfinite(Fm) or Fm <= 1e-12:
            return None
        v = x[t] - a[0]
        sum_logF += np.log(Fm)
        ssq += v * v / Fm
        TP0 = T @ P[:, 0]
        K = TP0 / Fm
        a = T @ a + K * v
        P = T @ P @ T.T + RR - np.outer(K, K) * Fm
        P = (P + P.T) / 2.0
    return float(sum_logF), float(ssq), len(x), T, a


def sarma_loglik_at_unit_scale(z, c, phi, Phi, theta, Theta, s=12):
    """Exact Gaussian log-likelihood with σ² fixed at 1 (the form the
    MVN golden test cross-checks against psi-weight autocovariances)."""
    import numpy as np

    pieces = _sarma_kalman_pieces(z, c, phi, Phi, theta, Theta, s=s)
    if pieces is None:
        return float("-inf")
    sum_logF, ssq, n, _, _ = pieces
    return -0.5 * (n * np.log(2.0 * np.pi) + sum_logF + ssq)


def sarma_loglik_concentrated(z, c, phi, Phi, theta, Theta, s=12):
    """Exact Gaussian log-likelihood profiled over σ²
    (σ̂² = (1/n)Σ v²/F plugged back in)."""
    import numpy as np

    pieces = _sarma_kalman_pieces(z, c, phi, Phi, theta, Theta, s=s)
    if pieces is None:
        return float("-inf")
    sum_logF, ssq, n, _, _ = pieces
    if ssq <= 0.0:
        return float("-inf")
    return -0.5 * (
        n * np.log(2.0 * np.pi) + n + n * np.log(ssq / n) + sum_logF
    )


def fit_arma_ml(z, p, q, P, Q, s=12):
    """Exact-ML fit of one candidate: CSS start → Nelder-Mead on the
    concentrated Kalman likelihood.  Returns (aic, params dict) with
    AIC = -2·loglik + 2k, k = n_coefficients + 1 (σ²) — statsmodels'
    bookkeeping for the same model."""
    import numpy as np

    z = np.asarray(z, dtype=float)
    names = ["c"] + ["phi"] * p + ["theta"] * q + ["Phi"] * P + ["Theta"] * Q
    _, start = fit_arma_css(z, p, q, P, Q, s=s)

    def unpack(x):
        d = {"c": 0.0, "phi": 0.0, "theta": 0.0, "Phi": 0.0, "Theta": 0.0}
        for name, v in zip(names, x):
            d[name] = float(v)
        return d

    def objective(x):
        d = unpack(x)
        # same soft box as CSS: stationary AR keeps the Lyapunov
        # initialization valid; bounded MA keeps the surface smooth
        pen = sum(
            max(0.0, abs(d[nm]) - 0.99) * 1e6
            for nm in ("phi", "theta", "Phi", "Theta")
        )
        ll = sarma_loglik_concentrated(
            z, d["c"], d["phi"], d["Phi"], d["theta"], d["Theta"], s=s
        )
        if not np.isfinite(ll):
            return 1e12
        return -ll + pen

    x0 = np.array([start[nm] for nm in names], dtype=float)
    # clamp the CSS start inside the box so the initial simplex is
    # entirely on the finite-likelihood region
    x0[1:] = np.clip(x0[1:], -0.98, 0.98)
    nll, xbest = _nelder_mead(objective, x0, steps=200)
    best = unpack(xbest)
    ll = sarma_loglik_concentrated(
        z, best["c"], best["phi"], best["Phi"], best["theta"], best["Theta"], s=s
    )
    if not np.isfinite(ll):
        return float("inf"), best
    k = len(names) + 1
    return -2.0 * ll + 2.0 * k, best


def fit_arma_exog_ml(zy, zx, p, q, P, Q, s=12, beta0=0.0):
    """Exact-ML fit of regression-with-ARMA-errors on the differenced
    scale: jointly maximize the Kalman likelihood of ``zy - β·zx``
    over (β, c, ARMA coefficients) — differencing is linear, so the
    doubly-differenced residual of ``y - β·x`` is exactly
    ``zy - β·zx``.  This is the estimator statsmodels runs for
    ``SARIMAX(y, exog=x, ...)`` (joint, not two-step), modulo the
    documented simple-differencing convention.  Starts from the
    two-step solution (OLS β + CSS ARMA).  Returns
    (aic, beta, params); AIC's k counts β and σ²."""
    import numpy as np

    zy = np.asarray(zy, dtype=float)
    zx = np.asarray(zx, dtype=float)
    names = ["beta", "c"] + ["phi"] * p + ["theta"] * q + ["Phi"] * P + ["Theta"] * Q
    _, start = fit_arma_css(zy - beta0 * zx, p, q, P, Q, s=s)

    def unpack(x):
        d = {"c": 0.0, "phi": 0.0, "theta": 0.0, "Phi": 0.0, "Theta": 0.0}
        for name, v in zip(names[1:], x[1:]):
            d[name] = float(v)
        return float(x[0]), d

    def objective(x):
        beta, d = unpack(x)
        pen = sum(
            max(0.0, abs(d[nm]) - 0.99) * 1e6
            for nm in ("phi", "theta", "Phi", "Theta")
        )
        ll = sarma_loglik_concentrated(
            zy - beta * zx, d["c"], d["phi"], d["Phi"], d["theta"], d["Theta"], s=s
        )
        if not np.isfinite(ll):
            return 1e12
        return -ll + pen

    x0 = np.array([beta0] + [start[nm] for nm in names[1:]], dtype=float)
    x0[2:] = np.clip(x0[2:], -0.98, 0.98)
    _, xbest = _nelder_mead(objective, x0, steps=200)
    beta, best = unpack(xbest)
    ll = sarma_loglik_concentrated(
        zy - beta * zx, best["c"], best["phi"], best["Phi"], best["theta"], best["Theta"], s=s
    )
    if not np.isfinite(ll):
        return float("inf"), beta, best
    k = len(names) + 1
    return -2.0 * ll + 2.0 * k, beta, best


def _sarma_kalman_forecast(y, params, steps, s=12):
    """Exact conditional-mean forecast: filter the differenced series,
    propagate the predicted state h steps, re-add the intercept, then
    invert the d=1, D=1 differencing."""
    import numpy as np

    y = np.asarray(y, dtype=float)
    dy = np.diff(y)
    z = dy[s:] - dy[:-s]
    pieces = _sarma_kalman_pieces(
        z, params["c"], params["phi"], params["Phi"], params["theta"], params["Theta"], s=s
    )
    if pieces is None:  # pragma: no cover — callers fit first, so the
        return None  # surface was finite at these exact params
    _, _, _, T, a = pieces
    z_fut = []
    st = a.copy()
    for _ in range(steps):
        z_fut.append(float(st[0]) + params["c"])
        st = T @ st
    dy_hist = list(dy)
    y_hist = list(y)
    out = []
    for h in range(steps):
        dy_next = z_fut[h] + (
            dy_hist[-s] if len(dy_hist) >= s else (dy_hist[0] if dy_hist else 0.0)
        )
        y_next = y_hist[-1] + dy_next
        dy_hist.append(dy_next)
        y_hist.append(y_next)
        out.append(y_next)
    return out


def fit_best_arma_forecast(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    steps: int = 6,
) -> DataFrame:
    """X3 parity path: per-group AIC grid over the reference's five
    candidate orders (``ARMA_CANDIDATES``; ``fit_best_sarimax``,
    ``EDA.ipynb cell 27``),
    exact-ML-estimated via the pure-numpy Kalman filter, one
    ``applyInPandas`` crossing.

    Output: one row per (group, step) carrying the WINNING candidate's
    order string and AIC.  Groups shorter than 2·12+2 observations
    (not enough to difference d=1, D=1 and still condition the
    recursion) fall back to the RW-with-drift stand-in, flagged
    ``order='rw_drift'`` — the same degradation the reference hits
    when SARIMAX fails to converge on a short series.

    NEGATIVE RESULT (r13, recorded so the next round doesn't re-try):
    fanning the grid out to (group, candidate) Arrow tasks — each
    candidate's optimizer in its own task, winner reduced by a
    min-AIC window — was built, proven row-identical at every SF, and
    REJECTED on an order-alternated isolated A/B at sf1: sequential
    6.28 s vs fanned 7.17 s median (whole query 5.68 vs 5.96).  The
    per-task Arrow/worker overhead exceeds the parallelism gain
    because one candidate's optimizer dominates the critical path
    either way, and at production scale groups ≫ cores already
    provide the parallelism while the fan-out would 5× the series
    shuffle.  The sequential per-group grid stands.
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype(float).to_numpy()
        key = str(pdf[group_col].iloc[0])

        def rw_fallback():
            d = pd.Series(y).diff().dropna()
            mu = float(d.mean()) if len(d) else 0.0
            finite = y[np.isfinite(y)] if len(y) else y
            last = float(finite[-1]) if len(finite) else 0.0
            fc = [last + (h + 1) * mu for h in range(steps)]
            return pd.DataFrame(
                {
                    "group": key,
                    "order": "rw_drift",
                    "aic": float("nan"),
                    "n_obs": len(y),
                    "step": range(1, steps + 1),
                    "forecast": fc,
                }
            )

        if len(y) < 2 * 12 + 2 or not np.isfinite(y).all():
            # short series AND series with gaps (NaN months) both land
            # on the documented rw_drift degradation — a NaN poisons
            # every candidate's SSE, so no finite AIC can exist
            return rw_fallback()
        dy = np.diff(y)
        z = dy[12:] - dy[:-12]  # d=1, then D=1 at the 12-month season
        best = None
        for (p, d_, q), (P, D_, Q, s) in ARMA_CANDIDATES:
            aic, params = fit_arma_ml(z, p, q, P, Q, s=s)
            if np.isfinite(aic) and (best is None or aic < best[0]):
                best = (aic, (p, d_, q), (P, D_, Q, s), params)
        if best is None:
            # every candidate degenerate (constant series, optimizer
            # failure) — degrade, don't crash the whole stage
            return rw_fallback()
        aic, order, seas, params = best
        fc = _sarma_kalman_forecast(y, params, steps, s=seas[3])
        if fc is None:  # degenerate surface at the winner — degrade
            return rw_fallback()
        label = f"({order[0]},{order[1]},{order[2]})x({seas[0]},{seas[1]},{seas[2]},{seas[3]})"
        return pd.DataFrame(
            {
                "group": key,
                "order": label,
                "aic": float(aic),
                "n_obs": len(y),
                "step": range(1, steps + 1),
                "forecast": fc,
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, AIC_GRID_SCHEMA)


# ---------------------------------------------------------------------------
# X5 (full parity path): SARIMAX-with-exogenous-regressor Monte-Carlo fan.
#
# Parity target: ``EDA.ipynb cell 32`` — the reference fits
# ``SARIMAX(y, exog=x, order, seasonal_order, trend='c')`` (AIC grid),
# estimates an RW+drift law for the exog from its last
# ``EXOG_FIT_WINDOW=60`` months (``fit_rw_drift_params``), simulates
# ``MC_SIMS`` future exog paths, and forecasts y once per path
# (``monte_carlo_forecast_y``); the fan quantiles are taken across
# paths.  Because the regression-with-ARMA-errors model is LINEAR in
# the exog — y_t = β·x_t + u_t with ARMA u — the per-path forecast
# decomposes as ``det_h + β·x_path``: one deterministic ARMA part per
# (group, step) plus a β-scaled exog path.  That makes the whole
# MC fan native Spark (seeded randn paths × a broadcast-sized
# params join); only the tiny per-group fit crosses Python, once.
# ---------------------------------------------------------------------------

EXOG_FIT_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("step", LongType()),
        StructField("det", DoubleType()),     # deterministic part: u-hat_{T+h}
        StructField("beta", DoubleType()),    # exog regression coefficient
        StructField("mu_x", DoubleType()),    # exog RW drift
        StructField("sigma_x", DoubleType()),  # exog RW vol
        StructField("last_x", DoubleType()),  # exog anchor
        StructField("order", StringType()),
        StructField("aic", DoubleType()),
        # fitted ARMA coefficients (X6 equation exporter input);
        # seasonal terms suffixed _s — Spark resolves column names
        # case-insensitively, so phi/Phi would be ambiguous
        StructField("c", DoubleType()),
        StructField("phi", DoubleType()),
        StructField("theta", DoubleType()),
        StructField("phi_s", DoubleType()),
        StructField("theta_s", DoubleType()),
    ]
)


def fit_arma_exog_params(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    exog_col: str,
    steps: int = 6,
) -> DataFrame:
    """X3+exog: per-group regression-with-ARMA-errors fit (one
    ``applyInPandas`` crossing).

    Estimation is the JOINT exact-ML fit statsmodels runs for
    ``SARIMAX(y, exog=x, ...)``: β and the ARMA coefficients maximize
    the Kalman likelihood together (:func:`fit_arma_exog_ml`),
    warm-started from the two-step solution — β by OLS on the
    doubly-differenced scale (differencing kills the intercept and any
    unit roots, so plain OLS is consistent), then a CSS fit
    (:func:`fit_arma_css`) of the residual series u = y − β·x.  The
    exog's own future law is RW+drift over
    its last 60 first differences
    (``fit_rw_drift_params``, ``EDA.ipynb cell 32``).

    Output: one row per (group, step) carrying the deterministic
    forecast part ``det`` = û_{T+h} (zero future innovations) plus the
    per-group constants (β, exog law, winning order/AIC, coefficients).
    Short or gappy series degrade to ``order='rw_drift'`` exactly like
    :func:`fit_best_arma_forecast`: det = RW forecast of y, β pinned 0
    and the exog law re-pointed at y's own diffs so the downstream fan
    reproduces the plain RW-drift fan.
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype(float).to_numpy()
        # prep_endog_exog (cell 32): exog NaNs -> 0
        x = pdf[exog_col].astype(float).fillna(0.0).to_numpy()
        key = str(pdf[group_col].iloc[0])

        def rw_fallback():
            d = pd.Series(y).diff().dropna()
            tail = d.tail(60)
            mu = float(tail.mean()) if len(tail) else 0.0
            sigma = float(tail.std(ddof=1)) if len(tail) > 1 else 0.0
            finite = y[np.isfinite(y)] if len(y) else y
            last = float(finite[-1]) if len(finite) else 0.0
            return pd.DataFrame(
                {
                    "group": key,
                    "step": range(1, steps + 1),
                    "det": [last + (h + 1) * mu for h in range(steps)],
                    "beta": 0.0,
                    "mu_x": 0.0,
                    "sigma_x": sigma,
                    "last_x": 0.0,
                    "order": "rw_drift",
                    "aic": float("nan"),
                    "c": 0.0, "phi": 0.0, "theta": 0.0, "phi_s": 0.0, "theta_s": 0.0,
                }
            )

        if len(y) < 2 * 12 + 2 or not np.isfinite(y).all():
            return rw_fallback()

        # β on the doubly-differenced scale (d=1, D=1 at the 12-month season)
        def ddiff(v):
            dv = np.diff(v)
            return dv[12:] - dv[:-12]

        zy, zx = ddiff(y), ddiff(x)
        sxx = float(np.dot(zx, zx))
        beta_ols = float(np.dot(zx, zy) / sxx) if sxx > 1e-12 else 0.0

        best = None
        for (p, d_, q), (P, D_, Q, s) in ARMA_CANDIDATES:
            aic, b, params = fit_arma_exog_ml(
                zy, zx, p, q, P, Q, s=s, beta0=beta_ols
            )
            if np.isfinite(aic) and (best is None or aic < best[0]):
                best = (aic, (p, d_, q), (P, D_, Q, s), params, b)
        if best is None:
            return rw_fallback()
        aic, order, seas, params, beta = best
        det = _sarma_kalman_forecast(y - beta * x, params, steps, s=seas[3])
        if det is None:
            return rw_fallback()

        # exog RW+drift law (fit_rw_drift_params, cell 32: last-window diffs)
        dx = pd.Series(x).diff().dropna().tail(60)
        mu_x = float(dx.mean()) if len(dx) else 0.0
        sigma_x = float(dx.std(ddof=1)) if len(dx) > 1 else 0.0

        label = f"({order[0]},{order[1]},{order[2]})x({seas[0]},{seas[1]},{seas[2]},{seas[3]})"
        return pd.DataFrame(
            {
                "group": key,
                "step": range(1, steps + 1),
                "det": det,
                "beta": beta,
                "mu_x": mu_x,
                "sigma_x": sigma_x,
                "last_x": float(x[-1]),
                "order": label,
                "aic": float(aic),
                "c": params["c"], "phi": params["phi"], "theta": params["theta"],
                "phi_s": params["Phi"], "theta_s": params["Theta"],
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, EXOG_FIT_SCHEMA)


def sarimax_exog_fan(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    exog_col: str,
    sims: int = 200,
    steps: int = 6,
    seed: int = 42,
) -> DataFrame:
    """X5 full parity path: SARIMAX-with-exog Monte-Carlo fan
    (``EDA.ipynb cell 32`` end-to-end).

    Per path s and horizon h: ``y[s,h] = det_h + β·x[s,h]`` where
    ``x[s,h] = max(last_x + Σ(mu_x + sigma_x·ε), 0)`` — the notebook's
    exog clip at 0 (shares can't go negative) applies only to real
    exog paths; the rw_drift degradation keeps its noise unclipped so
    it reproduces the plain RW-drift fan exactly.  Everything after
    the per-group fit is native: seeded ``randn`` path grid, window
    cumsum, broadcast-sized join on (group, step), exact percentile
    fan — no Python in the sims × steps × groups hot path.
    """
    from pyspark.sql import Window

    fitted = fit_arma_exog_params(
        df, group_col, order_col, value_col, exog_col, steps=steps
    )
    # fan the sims directly off the per-(group, step) fit rows: ONE
    # Python fit stage in the plan (no self-join of the fit subtree,
    # which would run the expensive applyInPandas twice), then a fully
    # native explode → windowed cumsum → percentile pipeline.
    grid = fitted.select(
        "group", "step", "det", "beta", "mu_x", "sigma_x", "last_x", "order",
        F.explode(F.sequence(F.lit(1), F.lit(sims))).alias("sim"),
    )
    w = Window.partitionBy("group", "sim").orderBy("step")
    x_path = grid.withColumn(
        "x_raw",
        F.col("last_x")
        + F.sum(F.randn(seed) * F.col("sigma_x") + F.col("mu_x")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn(
        "x_sim",
        F.when(F.col("order") == "rw_drift", F.col("x_raw")).otherwise(
            F.greatest(F.col("x_raw"), F.lit(0.0))
        ),
    )
    paths = x_path.select(
        "group",
        "sim",
        "step",
        (F.col("det") + F.col("beta") * F.col("x_sim")).alias("y"),
    )
    return quantile_fan_summary(paths)


# ---------------------------------------------------------------------------
# Holt-Winters additive triple exponential smoothing (engine extension:
# the standard non-ARIMA baseline the reference's notebook workflow
# would reach for next to ``fit_best_sarimax`` — same per-series
# applyInPandas boundary as the AIC grid, pure numpy).
# ---------------------------------------------------------------------------

HW_SCHEMA = StructType(
    [
        StructField("group", StringType()),
        StructField("alpha", DoubleType()),
        StructField("beta", DoubleType()),
        StructField("gamma", DoubleType()),
        StructField("sse", DoubleType()),
        StructField("n_obs", LongType()),
        StructField("step", LongType()),
        StructField("forecast", DoubleType()),
    ]
)

# coarse smoothing grid: 27 candidates — HW's SSE surface is smooth and
# flat near the optimum, so a coarse grid is the standard cheap selector
HW_GRID = (0.2, 0.5, 0.8)


def _hw_fit_sse(y, season: int, alpha: float, beta: float, gamma: float):
    """Additive Holt-Winters recursion → (one-step SSE, level, trend,
    seasonals) at the end of the series.

    Classical initialization with TREND-ADJUSTED seasonals: trend =
    mean per-period gain between season 1 and season 2; level = season-1
    mean projected to the END of season 1 (t = s-1); seasonal_i =
    y_i minus the fitted line at i — subtracting the raw season mean
    instead would leak the within-season trend ramp (±trend·s/2) into
    the seasonal profile and the recursion then spends the whole series
    un-learning it.  The recursion starts at t = season.  Pure-python
    loop over an O(100)-point series inside the per-group Pandas
    boundary (X3 precedent).

    The init means are EXPLICIT left-associated sums (not np.mean):
    numpy's pairwise 8-way-unrolled summation differs from sequential
    addition at ulp level for n >= 8, and the DuckDB oracle
    (suite_ext._HW_SQL) mirrors this recursion bit-for-bit with a
    left-associated add chain — np.mean here would make oracle parity
    depend on rounding luck (caught by round-4 review on the sf0.001
    series: the best-candidate SSE sat exactly on the 2dp knife edge).
    """

    def _seqmean(xs) -> float:
        acc = 0.0
        for v in xs:
            acc = acc + float(v)
        return acc / len(xs)

    s = season
    m1 = _seqmean(y[:s])
    trend = (_seqmean(y[s : 2 * s]) - m1) / s
    mid = (s - 1) / 2.0
    level = m1 + trend * mid  # level at t = s-1
    seas = [float(y[i] - (m1 + (i - mid) * trend)) for i in range(s)]
    sse = 0.0
    for t in range(s, len(y)):
        pred = level + trend + seas[t % s]
        err = y[t] - pred
        sse += err * err
        new_level = alpha * (y[t] - seas[t % s]) + (1 - alpha) * (level + trend)
        trend = beta * (new_level - level) + (1 - beta) * trend
        seas[t % s] = gamma * (y[t] - new_level) + (1 - gamma) * seas[t % s]
        level = new_level
    return sse, level, trend, seas


def holt_winters_forecast(
    df: DataFrame,
    group_col: str,
    order_col: str,
    value_col: str,
    season: int = 12,
    steps: int = 6,
) -> DataFrame:
    """Per-group additive Holt-Winters fit + h-step forecast.

    Selects (alpha, beta, gamma) from ``HW_GRID``³ by one-step in-sample
    SSE, then forecasts ``level + h·trend + seasonal[(t+h) mod s]``.
    One ``applyInPandas`` crossing; each group is O(n·|HW_GRID|³) local
    work, so the stage scales with the number of series exactly like
    the X3 AIC grid.  Groups shorter than 2·season observations can't
    initialize trend/seasonals and fall back to RW-with-drift, flagged
    with NULL smoothing parameters (the X3 degradation convention).
    """

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(order_col)
        y = pdf[value_col].astype(float).to_numpy()
        key = str(pdf[group_col].iloc[0])

        if len(y) < 2 * season or not np.isfinite(y).all():
            d = pd.Series(y).diff().dropna()
            mu = float(d.mean()) if len(d) else 0.0
            finite = y[np.isfinite(y)] if len(y) else y
            last = float(finite[-1]) if len(finite) else 0.0
            return pd.DataFrame(
                {
                    "group": key,
                    "alpha": float("nan"),
                    "beta": float("nan"),
                    "gamma": float("nan"),
                    "sse": float("nan"),
                    "n_obs": len(y),
                    "step": range(1, steps + 1),
                    "forecast": [last + (h + 1) * mu for h in range(steps)],
                }
            )

        best = None
        for a in HW_GRID:
            for b in HW_GRID:
                for g in HW_GRID:
                    sse, level, trend, seas = _hw_fit_sse(y, season, a, b, g)
                    if np.isfinite(sse) and (best is None or sse < best[0]):
                        best = (sse, a, b, g, level, trend, seas)
        sse, a, b, g, level, trend, seas = best
        n = len(y)
        # forecast target time for step h (1-based) is t = n+h-1 in the
        # series' 0-based clock, so its seasonal slot is (n+h-1) mod s
        fc = [
            level + (h + 1) * trend + seas[(n + h) % season] for h in range(steps)
        ]
        return pd.DataFrame(
            {
                "group": key,
                "alpha": a,
                "beta": b,
                "gamma": g,
                "sse": float(sse),
                "n_obs": n,
                "step": range(1, steps + 1),
                "forecast": fc,
            }
        )

    return df.groupBy(group_col).applyInPandas(fit, HW_SCHEMA)
