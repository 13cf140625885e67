"""Statistical diagnostics: ACF/PACF/CCF, seasonal & STL-style diagnostics,
ts_features — numpy ports (statsmodels/tsfeatures are unavailable here; the
formulas are the standard public definitions, matching statsmodels'
defaults where noted).

Reference surface: /root/reference/src/pytimetk/core/acf_diagnostics.py,
seasonal_diagnostics.py, stl_diagnostics.py, ts_features.py.

Spark: one Arrow grouped-map per group — each per-series kernel needs the
whole history in one task (same dispatch as the reference's per-group
apply, minus Ray).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.windows import warn_single_partition
from pyspark.sql import types as T

from pytimetk_spark.operators.anomalize import _classical_decompose, _numeric_period


# ---------------------------------------------------------------------------
# numpy kernels


def acf_np(x: np.ndarray, nlags: int) -> np.ndarray:
    """Autocorrelation (statsmodels acf default: denominator n, overall
    mean)."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    xm = x - x.mean()
    denom = (xm * xm).sum()
    out = np.empty(nlags + 1)
    for k in range(nlags + 1):
        out[k] = (xm[: n - k] * xm[k:]).sum() / denom if denom else np.nan
    return out


def pacf_np(x: np.ndarray, nlags: int) -> np.ndarray:
    """Partial autocorrelation via Durbin–Levinson (statsmodels 'ldb')."""
    r = acf_np(x, nlags)
    pacf = np.zeros(nlags + 1)
    pacf[0] = 1.0
    phi = np.zeros((nlags + 1, nlags + 1))
    for k in range(1, nlags + 1):
        num = r[k] - np.dot(phi[k - 1, 1:k], r[1:k][::-1])
        den = 1.0 - np.dot(phi[k - 1, 1:k], r[1:k])
        phi[k, k] = num / den if den != 0 else np.nan
        for j in range(1, k):
            phi[k, j] = phi[k - 1, j] - phi[k, k] * phi[k - 1, k - j]
        pacf[k] = phi[k, k]
    return pacf


def ccf_np(x: np.ndarray, y: np.ndarray, nlags: int) -> np.ndarray:
    """Cross-correlation x vs lagged y (statsmodels ccf convention)."""
    x, y = np.asarray(x, float), np.asarray(y, float)
    n = len(x)
    xm, ym = x - x.mean(), y - y.mean()
    denom = n * x.std() * y.std()
    return np.array(
        [(xm[: n - k] * ym[k:]).sum() / denom if denom else np.nan for k in range(nlags + 1)]
    )


# ---------------------------------------------------------------------------
# operators


def acf_diagnostics(
    df: DataFrame,
    date_column: str,
    value_column: str,
    group_cols: Sequence[str] | None = None,
    lags: int = 40,
    ccf_columns: Sequence[str] | None = None,
) -> DataFrame:
    """Long frame (group..., lag, acf, pacf[, ccf_{col}...]) per group
    (reference acf_diagnostics.py:8-53)."""
    group_cols = list(group_cols or [])
    ccf_columns = list(ccf_columns or [])
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = T.StructType(
        [
            *group_fields,
            T.StructField("lag", T.IntegerType()),
            T.StructField("acf", T.DoubleType()),
            T.StructField("pacf", T.DoubleType()),
            *[T.StructField(f"ccf_{c}", T.DoubleType()) for c in ccf_columns],
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column)
        x = pdf[value_column].to_numpy(dtype=float)
        nl = min(lags, len(x) - 1)
        out = pd.DataFrame(
            {
                "lag": np.arange(nl + 1, dtype="int32"),
                "acf": acf_np(x, nl),
                "pacf": pacf_np(x, nl),
            }
        )
        for c in ccf_columns:
            out[f"ccf_{c}"] = ccf_np(x, pdf[c].to_numpy(dtype=float), nl)
        for g in group_cols:
            out.insert(0, g, pdf[g].iloc[0])
        return out

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        warn_single_partition("diagnostics")
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    return grouped.applyInPandas(fn, schema=schema)


def stl_diagnostics(
    df: DataFrame,
    date_column: str,
    value_column: str,
    group_cols: Sequence[str] | None = None,
    period: int | None = None,
) -> DataFrame:
    """observed/seasonal/seasadj/trend/remainder per row (reference
    stl_diagnostics.py:9-114; classical decomposition stands in for
    statsmodels STL — same substitution as anomalize)."""
    group_cols = list(group_cols or [])
    ts_field = next(f for f in df.schema.fields if f.name == date_column)
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = T.StructType(
        [
            *group_fields,
            ts_field,
            *[
                T.StructField(n, T.DoubleType())
                for n in ("observed", "seasonal", "seasadj", "trend", "remainder")
            ],
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column).reset_index(drop=True)
        p = period or _numeric_period(pd.to_datetime(pdf[date_column]), 0)
        values = pdf[value_column].to_numpy(dtype=float)
        seasonal, trend = _classical_decompose(values, int(p))
        out = pd.DataFrame(
            {
                date_column: pdf[date_column],
                "observed": values,
                "seasonal": seasonal,
                "seasadj": values - seasonal,
                "trend": trend,
                "remainder": values - seasonal - trend,
            }
        )
        for g in group_cols:
            out.insert(0, g, pdf[g].iloc[0])
        return out

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        warn_single_partition("diagnostics")
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    return grouped.applyInPandas(fn, schema=schema)


_TS_FEATURES = [
    "n_obs",
    "mean",
    "std",
    "acf1",
    "acf10_sumsq",
    "pacf5_sumsq",
    "trend_strength",
    "seasonal_strength",
    "entropy",
    "hurst",
    "lumpiness",
    "stability",
    "crossing_points",
    "flat_spots",
    "arch_stat",
    "holt_alpha",
    "holt_beta",
    "hw_alpha",
    "hw_beta",
    "hw_gamma",
    "arch_acf",
    "garch_acf",
    "arch_r2",
    "garch_r2",
    "sparsity",
    "adi",
    "cv2",
    "unitroot_kpss",
    "unitroot_kpss_pvalue",
    "unitroot_pp",
    "unitroot_pp_pvalue",
]

# KPSS level-stationarity critical values (Kwiatkowski et al. 1992 Table 1,
# eta_mu) — identical table statsmodels interpolates; p outside [0.01, 0.10]
# is clamped to the nearest bound, as statsmodels does.
_KPSS_CRIT = np.array([0.347, 0.463, 0.574, 0.739])
_KPSS_P = np.array([0.10, 0.05, 0.025, 0.01])

# MacKinnon (2010, "Critical Values for Cointegration Tests", QED wp 1227)
# response-surface coefficients for the Dickey-Fuller tau distribution,
# constant / no-trend, one variable: crit(a, T) = b0 + b1/T + b2/T^2 + b3/T^3
_MACKINNON_TAU_C = {
    0.01: (-3.43035, -6.5393, -16.786, -79.433),
    0.05: (-2.86154, -2.8903, -4.234, -40.040),
    0.10: (-2.56677, -1.5384, -2.809, 0.0),
}
# standard normal quantiles at those tail probabilities (probit anchors)
_PROBIT = {0.01: -2.3263478740, 0.05: -1.6448536270, 0.10: -1.2815515655}


def _ets_profile_sse(
    x: np.ndarray, alpha: float, beta: float, gamma: float | None, m: int
) -> float:
    """Concentrated SSE of ets(A,A,N) (``gamma is None``) / ets(A,A,A):
    for FIXED smoothing parameters the one-step errors are AFFINE in the
    initial states (level, trend, m seasonals), so the likelihood-optimal
    initial states are profiled out EXACTLY by one OLS solve per objective
    evaluation — joint MLE without an 11-dim simplex (the reference
    delegates these fits to R ets() via the tsfeatures package,
    ts_features.py:28-51; Hyndman et al. 2008 ch.2 state space form).

    Mechanics: each state is carried as a K-vector — column 0 is the
    particular response driven by the data with ZERO initial states;
    columns 1..K-1 are the homogeneous unit-initial-state responses (zero
    data). The additive error recursions
        e_t = x_t − (l+b+s),  l ← l+b+αe,  b ← b+αβ*e,  s ← s+γe
    are linear, so superposition gives e_t(init) = target_t − design_t·init
    and OLS recovers the profiled optimum."""
    x = np.asarray(x, dtype=float)
    n = x.size
    seasonal = gamma is not None
    k_init = 2 + (m if seasonal else 0)
    K = 1 + k_init
    L = np.zeros(K)
    B = np.zeros(K)
    L[1] = 1.0  # unit-l0 response column
    B[2] = 1.0  # unit-b0 response column
    if seasonal:
        S = np.zeros((m, K))
        for j in range(m):
            S[j, 3 + j] = 1.0
    design = np.empty((n, k_init))
    target = np.empty(n)
    ab = alpha * beta
    for t in range(n):
        F = L + B + S[t % m] if seasonal else L + B
        target[t] = x[t] - F[0]
        design[t] = -F[1:]
        E = -F  # e decomposed over columns; particular col gets +x_t
        E[0] += x[t]
        if seasonal:
            S[t % m] = S[t % m] + gamma * E
        L = L + B + alpha * E
        B = B + ab * E
    init, *_ = np.linalg.lstsq(design, target, rcond=None)
    resid = target - design @ init
    return float(resid @ resid)


def _fit_holt(x: np.ndarray) -> tuple[float, float]:
    """ets(A,A,N) MLE smoothing parameters (alpha, beta* = trend
    smoothing, the statsmodels ``smoothing_trend`` convention; R ets()
    reports beta = alpha·beta*). Concentrated Gaussian likelihood: the
    initial level/trend are profiled out exactly inside
    ``_ets_profile_sse``, so the simplex runs over (alpha, beta*) only —
    minimizing n·log(SSE*/n), which shares its argmin with SSE*
    (tsfeatures holt_parameters, reference ts_features.py:28-51)."""
    from pytimetk_spark.functions.optim import nelder_mead

    clip = lambda p: np.clip(p, 1e-4, 0.9999)
    obj = lambda p: _ets_profile_sse(x, *clip(p), None, 0)
    best = clip(nelder_mead(obj, np.array([0.3, 0.1]), step=0.2))
    return float(best[0]), float(best[1])


def _fit_hw(x: np.ndarray, m: int) -> tuple[float, float, float]:
    """ets(A,A,A) MLE (alpha, beta*, gamma), admissible region γ ≤ 1−α
    enforced by the γ = (1−α)·γ* parameterization; initial level/trend/
    seasonals profiled out exactly (tsfeatures hw_parameters). The
    level/seasonal confounding (add c to every seasonal, subtract from
    l0 — identical forecasts) lands on lstsq's min-norm solution and
    cannot move the reported smoothing parameters."""
    from pytimetk_spark.functions.optim import nelder_mead

    clip = lambda v: float(np.clip(v, 1e-4, 0.9999))

    def unpack(p):
        a = clip(p[0])
        return a, clip(p[1]), (1.0 - a) * clip(p[2])

    obj = lambda p: _ets_profile_sse(x, *unpack(p), m)
    best = unpack(nelder_mead(obj, np.array([0.3, 0.1, 0.3]), step=0.2,
                              max_iter=250))
    return best


def _lm_r2(z2: np.ndarray, lags: int = 12) -> float:
    """Engle LM R^2: regress z^2 on a constant + its first ``lags`` lags."""
    n = z2.size
    if n <= lags + 4:
        return float("nan")
    yt = z2[lags:]
    design = np.column_stack(
        [np.ones(n - lags)] + [z2[lags - k : n - k] for k in range(1, lags + 1)]
    )
    coef, *_ = np.linalg.lstsq(design, yt, rcond=None)
    resid = yt - design @ coef
    tss = float(np.sum((yt - yt.mean()) ** 2))
    return float(1 - resid @ resid / tss) if tss > 0 else float("nan")


def _acf_sumsq(z: np.ndarray, lags: int = 12) -> float:
    if z.size <= lags + 1 or z.std() == 0:
        return float("nan")
    r = acf_np(z, lags)
    return float((r[1:] ** 2).sum())


def _garch11_std_resid(x: np.ndarray) -> np.ndarray | None:
    """Gaussian-MLE GARCH(1,1) standardized residuals (numpy Nelder-Mead
    over log-parameters; Bollerslev 1986). Returns None when the fit
    degenerates."""
    from pytimetk_spark.functions.optim import nelder_mead

    x = x - x.mean()
    v0 = float(x.var())
    if not np.isfinite(v0) or v0 <= 0:
        return None
    x2 = x * x

    def nll(p: np.ndarray) -> float:
        omega = np.exp(p[0])
        a = 1.0 / (1.0 + np.exp(-p[1])) * 0.5
        b = 1.0 / (1.0 + np.exp(-p[2])) * (0.999 - a)
        h = v0
        ll = 0.0
        for t in range(x.size):
            h = max(h, 1e-12)
            ll += np.log(h) + x2[t] / h
            h = omega + a * x2[t] + b * h
        return ll

    p0 = np.array([np.log(v0 * 0.1), 0.0, 1.0])
    p = nelder_mead(nll, p0, step=0.5, max_iter=200)
    omega = np.exp(p[0])
    a = 1.0 / (1.0 + np.exp(-p[1])) * 0.5
    b = 1.0 / (1.0 + np.exp(-p[2])) * (0.999 - a)
    h = v0
    sig = np.empty(x.size)
    for t in range(x.size):
        sig[t] = max(h, 1e-12)
        h = omega + a * x2[t] + b * h
    if not np.all(np.isfinite(sig)):
        return None
    return x / np.sqrt(sig)


def _prewhiten(x: np.ndarray, order: int | None = None) -> np.ndarray:
    """AR(p) OLS residuals (tsfeatures heterogeneity pre-whitens with
    ar(); fixed p = min(5, n//10) here, documented simplification of R's
    AIC-selected order)."""
    n = x.size
    p = order if order is not None else max(1, min(5, n // 10))
    if n <= p + 4:
        return x - x.mean()
    yt = x[p:]
    design = np.column_stack(
        [np.ones(n - p)] + [x[p - k : n - k] for k in range(1, p + 1)]
    )
    coef, *_ = np.linalg.lstsq(design, yt, rcond=None)
    return yt - design @ coef


def _kpss_pvalue(stat: float) -> float:
    if not np.isfinite(stat):
        return float("nan")
    return float(np.interp(stat, _KPSS_CRIT, _KPSS_P))


def _pp_tau_pvalue(tau: float, nobs: int) -> float:
    """Approximate p-value of a Phillips-Perron Z-tau statistic via the
    MacKinnon response-surface critical values: the three finite-sample
    critical points (1/5/10%) are mapped to their normal quantiles and the
    statistic is piecewise-linearly interpolated (extrapolated with the end
    slopes) in probit space, then mapped back through the normal CDF —
    monotone, exact at the tabulated points, smooth in between."""
    import math

    if not np.isfinite(tau):
        return float("nan")
    alphas = sorted(_MACKINNON_TAU_C)  # [0.01, 0.05, 0.10]
    crit = [
        b0 + b1 / nobs + b2 / nobs**2 + b3 / nobs**3
        for b0, b1, b2, b3 in (_MACKINNON_TAU_C[a] for a in alphas)
    ]
    z = [_PROBIT[a] for a in alphas]
    # crit is increasing with alpha (more negative at 1%); interp on tau
    if tau <= crit[0]:
        slope = (z[1] - z[0]) / (crit[1] - crit[0])
        zq = z[0] + slope * (tau - crit[0])
    elif tau >= crit[-1]:
        slope = (z[-1] - z[-2]) / (crit[-1] - crit[-2])
        zq = z[-1] + slope * (tau - crit[-1])
    else:
        zq = float(np.interp(tau, crit, z))
    p = 0.5 * (1.0 + math.erf(zq / math.sqrt(2.0)))
    return float(min(max(p, 1e-6), 1 - 1e-6))


def ts_features(
    df: DataFrame,
    date_column: str,
    value_column: str,
    group_cols: Sequence[str] | None = None,
    period: int | None = None,
) -> DataFrame:
    """Per-group feature vector (reference ts_features.py wraps the
    `tsfeatures` package; this is a numpy port of the standard features:
    acf/pacf summaries, STL-based trend/seasonal strength, spectral
    entropy, simplified R/S hurst, lumpiness/stability)."""
    group_cols = list(group_cols or [])
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = T.StructType(
        [*group_fields, *[T.StructField(n, T.DoubleType()) for n in _TS_FEATURES]]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column)
        x = pdf[value_column].to_numpy(dtype=float)
        n = len(x)
        feats: dict[str, float] = {"n_obs": float(n), "mean": x.mean(), "std": x.std(ddof=1) if n > 1 else np.nan}
        nl = max(min(10, n - 1), 1)
        r = acf_np(x, nl)
        feats["acf1"] = r[1] if nl >= 1 else np.nan
        feats["acf10_sumsq"] = float((r[1:] ** 2).sum())
        p5 = pacf_np(x, min(5, nl))
        feats["pacf5_sumsq"] = float((p5[1:] ** 2).sum())
        p = period or max(_numeric_period(pd.to_datetime(pdf[date_column]), 0), 2)
        if n > 2 * p:
            seasonal, trend = _classical_decompose(x, int(p))
            remainder = x - seasonal - trend
            vr = np.var(remainder)
            feats["trend_strength"] = max(0.0, 1 - vr / np.var(x - seasonal)) if np.var(x - seasonal) else np.nan
            feats["seasonal_strength"] = max(0.0, 1 - vr / np.var(x - trend)) if np.var(x - trend) else np.nan
        else:
            feats["trend_strength"] = np.nan
            feats["seasonal_strength"] = np.nan
        # spectral entropy (normalized Shannon entropy of the periodogram)
        if n >= 8:
            fft = np.fft.rfft(x - x.mean())
            psd = (np.abs(fft) ** 2)[1:]
            if psd.sum() > 0:
                pnorm = psd / psd.sum()
                pnz = pnorm[pnorm > 0]
                feats["entropy"] = float(-(pnz * np.log(pnz)).sum() / np.log(len(pnorm)))
            else:
                feats["entropy"] = np.nan
        else:
            feats["entropy"] = np.nan
        # simplified R/S hurst (same kernel as finance.augment_hurst_exponent)
        if n >= 8 and x.std() > 0:
            c = np.cumsum(x - x.mean())
            rs = (c.max() - c.min()) / x.std()
            feats["hurst"] = float(np.log(rs) / np.log(n)) if rs > 0 else np.nan
        else:
            feats["hurst"] = np.nan
        # lumpiness/stability over tiles of size p
        tiles = [x[i : i + int(p)] for i in range(0, n - int(p) + 1, int(p))]
        if len(tiles) > 1:
            feats["lumpiness"] = float(np.var([np.var(t) for t in tiles]))
            feats["stability"] = float(np.var([np.mean(t) for t in tiles]))
        else:
            feats["lumpiness"] = np.nan
            feats["stability"] = np.nan
        # crossing_points (tsfeatures: median crossings of the series)
        if n > 1:
            ab = x <= np.median(x)
            feats["crossing_points"] = float(np.sum(ab[1:] != ab[:-1]))
        else:
            feats["crossing_points"] = np.nan
        # flat_spots (tsfeatures: longest run after 10-bin equal-width cut)
        if n > 1 and x.max() > x.min():
            binned = np.minimum(
                ((x - x.min()) / (x.max() - x.min()) * 10).astype(int), 9
            )
            changes = np.flatnonzero(np.diff(binned) != 0)
            runs = np.diff(np.concatenate(([-1], changes, [n - 1])))
            feats["flat_spots"] = float(runs.max())
        else:
            feats["flat_spots"] = float(n) if n > 1 else np.nan
        # arch_stat (tsfeatures: R^2 of demeaned-squared series on 12 lags)
        lags = 12
        if n > lags + 8:
            y = (x - x.mean()) ** 2
            yt = y[lags:]
            design = np.column_stack(
                [np.ones(n - lags)] + [y[lags - k : n - k] for k in range(1, lags + 1)]
            )
            coef, *_ = np.linalg.lstsq(design, yt, rcond=None)
            resid = yt - design @ coef
            tss = float(np.sum((yt - yt.mean()) ** 2))
            feats["arch_stat"] = float(1 - resid @ resid / tss) if tss > 0 else np.nan
        else:
            feats["arch_stat"] = np.nan
        # holt/hw smoothing parameters (tsfeatures holt_parameters /
        # hw_parameters): SSE-fit exponential-smoothing recurrences via
        # the in-repo Nelder-Mead (functions/optim.py)
        if n >= 10 and np.isfinite(x).all():
            feats["holt_alpha"], feats["holt_beta"] = _fit_holt(x)
        else:
            feats["holt_alpha"] = np.nan
            feats["holt_beta"] = np.nan
        m = int(p)
        if m >= 2 and n >= 2 * m + 4 and np.isfinite(x).all():
            feats["hw_alpha"], feats["hw_beta"], feats["hw_gamma"] = _fit_hw(
                x, m
            )
        else:
            feats["hw_alpha"] = np.nan
            feats["hw_beta"] = np.nan
            feats["hw_gamma"] = np.nan
        # heterogeneity (tsfeatures): AR-prewhitened residuals -> ARCH
        # acf/R2; GARCH(1,1) standardized residuals -> leftover acf/R2
        if n >= 30 and x.std() > 0:
            wh = _prewhiten(x)
            feats["arch_acf"] = _acf_sumsq(wh * wh)
            feats["arch_r2"] = _lm_r2(wh * wh)
            z = _garch11_std_resid(wh)
            if z is not None:
                feats["garch_acf"] = _acf_sumsq(z * z)
                feats["garch_r2"] = _lm_r2(z * z)
            else:
                feats["garch_acf"] = np.nan
                feats["garch_r2"] = np.nan
        else:
            for k in ("arch_acf", "garch_acf", "arch_r2", "garch_r2"):
                feats[k] = np.nan
        # sparsity / intermittent-demand features (Syntetos-Boylan):
        # sparsity = zero fraction; adi = average inter-demand interval
        # (n / #nonzero); cv2 = squared coefficient of variation of the
        # NONZERO demands — the classic ADI/CV^2 intermittency quadrant
        if n > 0:
            nz = x[x != 0]
            feats["sparsity"] = float((x == 0).mean())
            feats["adi"] = float(n / nz.size) if nz.size else np.nan
            feats["cv2"] = (
                float((nz.std(ddof=0) / nz.mean()) ** 2)
                if nz.size and nz.mean() != 0 else np.nan
            )
        else:
            feats["sparsity"] = np.nan
            feats["adi"] = np.nan
            feats["cv2"] = np.nan
        # unitroot_kpss (tsfeatures: level-stationarity KPSS statistic,
        # Newey-West bartlett bandwidth trunc(3*sqrt(n)/13) — R tseries
        # kpss.test lshort=TRUE; statsmodels' "legacy" uses
        # int(12*(n/100)^0.25), a DIFFERENT larger bandwidth) and
        # unitroot_pp (Phillips-Perron
        # Z-alpha statistic, bandwidth trunc(4*(n/100)^0.25)). P-values:
        # KPSS via the Kwiatkowski table interpolation (statsmodels-
        # identical); PP via the Z-tau form of the same regression scored
        # against MacKinnon (2010) response-surface critical values — the
        # rho-form Z-alpha stat is kept as the headline statistic for
        # tsfeatures parity, the tau form feeds the p-value surface.
        if n >= 12:
            e = x - x.mean()
            s_cum = np.cumsum(e)
            lmax = int(np.trunc(3.0 * np.sqrt(n) / 13.0))
            s2 = float(e @ e) / n
            for lag in range(1, lmax + 1):
                wgt = 1.0 - lag / (lmax + 1.0)
                s2 += 2.0 / n * wgt * float(e[lag:] @ e[:-lag])
            feats["unitroot_kpss"] = (
                float(s_cum @ s_cum) / (n * n * s2) if s2 > 0 else np.nan
            )
            feats["unitroot_kpss_pvalue"] = _kpss_pvalue(feats["unitroot_kpss"])
            # PP: OLS x_t = a + rho * x_{t-1} + u_t
            y, yl = x[1:], x[:-1]
            nn = n - 1
            ylc = yl - yl.mean()
            denom = float(ylc @ ylc)
            if denom > 0:
                rho = float(ylc @ (y - y.mean())) / denom
                a = y.mean() - rho * yl.mean()
                u = y - a - rho * yl
                s2u = float(u @ u) / nn
                lmax_pp = int(np.trunc(4.0 * (nn / 100.0) ** 0.25))
                lam = s2u
                for lag in range(1, lmax_pp + 1):
                    wgt = 1.0 - lag / (lmax_pp + 1.0)
                    lam += 2.0 / nn * wgt * float(u[lag:] @ u[:-lag])
                feats["unitroot_pp"] = nn * (rho - 1) - 0.5 * (
                    lam - s2u
                ) * nn * nn / denom
                # Z-tau (Hamilton 1994 eq 17.6.12): reduces to the plain
                # t-stat when lam == s2u (no serial correlation)
                if s2u > 0 and lam > 0:
                    se_rho = np.sqrt(s2u / denom)
                    t_rho = (rho - 1.0) / se_rho
                    z_tau = (
                        np.sqrt(s2u / lam) * t_rho
                        - 0.5 * (lam - s2u) / np.sqrt(lam)
                        * nn * se_rho / np.sqrt(s2u)
                    )
                    feats["unitroot_pp_pvalue"] = _pp_tau_pvalue(
                        float(z_tau), nn
                    )
                else:
                    feats["unitroot_pp_pvalue"] = np.nan
            else:
                feats["unitroot_pp"] = np.nan
                feats["unitroot_pp_pvalue"] = np.nan
        else:
            feats["unitroot_kpss"] = np.nan
            feats["unitroot_kpss_pvalue"] = np.nan
            feats["unitroot_pp"] = np.nan
            feats["unitroot_pp_pvalue"] = np.nan
        out = pd.DataFrame({k: [v] for k, v in feats.items()})
        for g in group_cols:
            out.insert(0, g, pdf[g].iloc[0])
        return out

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        warn_single_partition("diagnostics")
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    return grouped.applyInPandas(fn, schema=schema)


def seasonal_diagnostics(
    df: DataFrame,
    date_column: str,
    value_column: str,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Seasonal bucket features auto-selected by inferred frequency
    (reference seasonal_diagnostics.py:59-104): adds categorical time
    buckets (hour, wday, week, month, quarter, year) — pure projection."""
    group_cols = list(group_cols or [])
    ts = F.col(date_column)
    return df.select(
        *group_cols,
        date_column,
        F.col(value_column),
        F.hour(ts).alias("hour"),
        (F.expr(f"weekday({date_column})") + 1).alias("wday"),
        F.weekofyear(ts).alias("week"),
        F.month(ts).alias("month"),
        F.quarter(ts).alias("quarter"),
        F.year(ts).alias("year"),
    )
