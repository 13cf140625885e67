"""anomalize — per-group anomaly detection via seasonal decomposition + IQR.

Reference: /root/reference/src/pytimetk/core/anomalize.py — pipeline
:479-602, _twitter_decompose :605-656, _iqr :733-785 (limits =
[-1·(q1 + (0.15/α)·IQR), q3 + (0.15/α)·IQR], score = |x − centerline|),
recomposed_l1/l2 = seasonal + trend + limit, clean = linear interpolation
or min_max band clamp. Output columns enforced by the reference's
check_anomalize_data (utils/checks.py:19-44): observed, seasonal, seasadj,
trend, remainder, anomaly (Yes/No), anomaly_score, anomaly_direction
(−1/0/1), recomposed_l1, recomposed_l2, observed_clean.

Spark: decomposition is inherently sequential per series → ONE Arrow
grouped-map UDF per group (per-url histories fit in a task; for hot groups
the rollup engine salts upstream aggregation, not this step). The
statistical kernel uses statsmodels STL when installed; this environment
lacks statsmodels, so the default is a faithful numpy port of classical
``seasonal_decompose`` (centered MA trend with linear edge extrapolation —
the 'twitter' method's decomposition), which the reference uses for
method="twitter". method="stl" falls back to the same classical kernel
with a documented deviation when statsmodels is absent.
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

from pytimetk_spark.operators.frequency import (
    TIME_SCALE_TEMPLATE,
    unit_and_scale_from_seconds,
)

try:  # optional — not present in this sandbox
    from statsmodels.tsa.seasonal import STL as _STL  # type: ignore

    _HAS_STATSMODELS = True
except ImportError:  # pragma: no cover
    _STL = None
    _HAS_STATSMODELS = False


# ---------------------------------------------------------------------------
# pandas-side helpers (run inside the Arrow UDF)


def _floor_series(s: pd.Series, alias: str) -> pd.Series:
    """Floor datetimes to the template period (pandas-side mirror of
    functions/datetime.floor_date for the handful of template aliases)."""
    n = int("".join(ch for ch in alias if ch.isdigit()) or 1)
    unit = "".join(ch for ch in alias if ch.isalpha()).upper()
    if unit in ("H", "D"):
        return s.dt.floor(f"{n}{'h' if unit == 'H' else 'D'}")
    if unit == "W":
        return s.dt.to_period("W").dt.start_time
    if unit == "M":
        return s.dt.to_period("M").dt.start_time
    if unit == "Q":
        return s.dt.to_period("Q").dt.start_time
    if unit == "Y":
        years = (s.dt.year // n) * n
        return pd.to_datetime(years.astype(str))
    raise ValueError(alias)


def _numeric_period(dates: pd.Series, which: int) -> int:
    """Observations per seasonal/trend period — reference
    _get_median_timestamps (frequency.py:634-653): floor to the template
    period, count per bucket, median of counts."""
    diffs = dates.sort_values().diff().dt.total_seconds()
    med = diffs.median()
    _, unit = unit_and_scale_from_seconds(float(med))
    alias = TIME_SCALE_TEMPLATE[unit][which]
    floored = _floor_series(dates, alias)
    counts = floored.groupby(floored).size()
    return max(int(np.median(counts.values)), 2)


def _classical_decompose(values: np.ndarray, period: int) -> tuple[np.ndarray, np.ndarray]:
    """Classical additive decomposition (numpy port of statsmodels
    seasonal_decompose with extrapolate_trend='freq'): returns
    (seasonal, trend_ma)."""
    n = len(values)
    period = max(2, min(period, max(2, n // 2)))
    # centered moving average (even periods use the standard 2xMA weights)
    if period % 2 == 0:
        w = np.concatenate(([0.5], np.ones(period - 1), [0.5])) / period
    else:
        w = np.ones(period) / period
    half = len(w) // 2
    trend = np.full(n, np.nan)
    conv = np.convolve(values, w, mode="valid")
    trend[half : half + len(conv)] = conv
    # extrapolate_trend="freq": linear OLS on the nearest `period` valid pts
    valid = np.flatnonzero(~np.isnan(trend))
    if len(valid) >= 2:
        k = min(period, len(valid))
        lo, hi = valid[0], valid[-1]
        x0 = valid[:k]
        b0, a0 = np.polyfit(x0, trend[x0], 1)
        x1 = valid[-k:]
        b1, a1 = np.polyfit(x1, trend[x1], 1)
        left = np.arange(0, lo)
        right = np.arange(hi + 1, n)
        trend[left] = b0 * left + a0
        trend[right] = b1 * right + a1
    elif len(valid) == 1:
        trend[:] = trend[valid[0]]
    else:
        trend[:] = np.nanmean(values)
    detrended = values - trend
    # seasonal = per-position means, centered to zero mean
    idx = np.arange(n) % period
    seas_means = np.array(
        [np.nanmean(detrended[idx == i]) if (idx == i).any() else 0.0 for i in range(period)]
    )
    seas_means = seas_means - np.nanmean(seas_means)
    seasonal = seas_means[idx]
    return seasonal, trend


def _decompose_frame(
    pdf: pd.DataFrame,
    date_column: str,
    value_column: str,
    period: int,
    trend_n: int,
    method: str,
) -> pd.DataFrame:
    values = pdf[value_column].to_numpy(dtype="float64")
    n = len(values)
    if method == "stl" and _HAS_STATSMODELS and n > 2 * period:
        def make_odd(x):
            return x + 1 if x % 2 == 0 else x
        series = pd.Series(values, index=pd.DatetimeIndex(pdf[date_column]))
        res = _STL(
            series,
            period=period,
            seasonal=make_odd(period),
            trend=make_odd(max(trend_n, period + 2)),
            robust=True,
        ).fit()
        seasonal = np.asarray(res.seasonal)
        trend = np.asarray(res.trend)
        seasadj = values - seasonal
        remainder = seasadj - trend
    else:
        seasonal, trend_ma = _classical_decompose(values, period)
        seasadj = values - seasonal
        if method == "twitter":
            # reference: piecewise per-span MEDIAN of seasadj
            # (_twitter_decompose anomalize.py:636-646)
            median_span = max(int(round(n / max(trend_n, 1))), 1)
            span_idx = np.sort(np.resize(np.arange(median_span), n))
            ser = pd.Series(seasadj)
            trend = ser.groupby(span_idx).transform("median").to_numpy()
        else:
            trend = trend_ma
        remainder = seasadj - trend
    return pd.DataFrame(
        {
            "observed": values,
            "seasonal": seasonal,
            "seasadj": seasadj,
            "trend": trend,
            "remainder": remainder,
        },
        index=pdf.index,
    )


def _iqr_flags(remainder: pd.Series, alpha: float) -> pd.DataFrame:
    """Reference _iqr (anomalize.py:733-785) verbatim semantics."""
    q1, q3 = np.percentile(remainder.dropna(), [25, 75])
    iq_range = q3 - q1
    limits = [-1 * (q1 + (0.15 / alpha) * iq_range), q3 + (0.15 / alpha) * iq_range]
    centerline = sum(limits) / 2
    score = (remainder - centerline).abs()
    hi = remainder > limits[1]
    lo = remainder < limits[0]
    return pd.DataFrame(
        {
            "anomaly": np.where(hi | lo, "Yes", "No"),
            "anomaly_score": score,
            "anomaly_direction": np.where(hi, 1, np.where(lo, -1, 0)),
            "remainder_l1": limits[0],
            "remainder_l2": limits[1],
        },
        index=remainder.index,
    )


OUTPUT_COLS = [
    "observed",
    "seasonal",
    "seasadj",
    "trend",
    "remainder",
    "anomaly",
    "anomaly_score",
    "anomaly_direction",
    "recomposed_l1",
    "recomposed_l2",
    "observed_clean",
]


def anomalize(
    df: DataFrame,
    date_column: str,
    value_column: str,
    group_cols: Sequence[str] | None = None,
    period: int | None = None,
    trend: int | None = None,
    method: str = "stl",
    decomp: str = "additive",
    clean: str = "min_max",
    iqr_alpha: float = 0.05,
    clean_alpha: float = 0.75,
    bind_data: bool = False,
) -> DataFrame:
    group_cols = list(group_cols or [])
    ts_field = next(f for f in df.schema.fields if f.name == date_column)
    group_fields = [f for f in df.schema.fields if f.name in group_cols]
    schema = T.StructType(
        [
            *group_fields,
            ts_field,
            *[
                T.StructField(
                    n, T.StringType() if n == "anomaly" else (
                        T.IntegerType() if n == "anomaly_direction" else T.DoubleType()
                    )
                )
                for n in OUTPUT_COLS
            ],
        ]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column).reset_index(drop=True)
        dates = pd.to_datetime(pdf[date_column])
        p = period if period is not None else _numeric_period(dates, 0)
        t = trend if trend is not None else _numeric_period(dates, 1)
        dec = _decompose_frame(pdf, date_column, value_column, int(p), int(t), method)
        flags = _iqr_flags(dec["remainder"], iqr_alpha)
        out = pd.concat([dec, flags], axis=1)
        out["recomposed_l1"] = out["seasonal"] + out["trend"] + out["remainder_l1"]
        out["recomposed_l2"] = out["seasonal"] + out["trend"] + out["remainder_l2"]
        if clean == "linear":
            out["observed_clean"] = (
                out["observed"]
                .where(out["anomaly"] == "No", np.nan)
                .interpolate(method="linear", limit_direction="both")
            )
        else:  # min_max band clamp (anomalize.py:577-594)
            band = (1 - clean_alpha) * (out["recomposed_l2"] - out["recomposed_l1"]) / 2
            out["observed_clean"] = np.where(
                out["anomaly_direction"] == -1,
                out["recomposed_l1"] + band,
                np.where(
                    out["anomaly_direction"] == 1,
                    out["recomposed_l2"] - band,
                    out["observed"],
                ),
            )
        out["anomaly_direction"] = out["anomaly_direction"].astype("int32")
        res = pd.concat(
            [pdf[group_cols + [date_column]], out[OUTPUT_COLS]], axis=1
        )
        return res

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        warn_single_partition("anomalize")
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    result = grouped.applyInPandas(fn, schema=schema)
    if bind_data:
        # passenger columns ride along: original df columns + the
        # decomposition columns, joined on (group, date)
        result = df.join(result, on=[*group_cols, date_column], how="inner")
    return result
