"""augment_rolling / augment_expanding (+ *_apply variants).

Reference semantics (/root/reference/src/pytimetk/feature_engineering/
rolling.py, expanding.py):
  - trailing ROW-COUNT windows of size w per group, ordered by date
  - ``min_periods`` defaults to w for rolling (NaN until the window is
    full — rolling.py:634-637) and 1 for expanding (expanding.py:266)
  - ``center=True`` → left-biased centered window (rolling.py:112-113)
  - column names: ``{col}_rolling_{func}_win_{w}``,
    ``{col}_rolling_quantile_{q%}_win_{w}``, ``{col}_expanding_{func}``
    (rolling.py:739-758, expanding.py:646-649)
  - window may be int, (a, b) inclusive range, or list of ints
    (rolling.py:255-262)

Spark: every built-in function is a native JVM window aggregate over
``Window.partitionBy(groups).orderBy(ts).rowsBetween(...)`` — ALL
windows × functions × columns are evaluated in ONE shuffle+sort pass
(Catalyst collapses same-window aggregates into a single Window node).
pandas' min_periods NaN-edge is emulated by gating on a running
``count(col)``. Sample skew/kurt are exact closed forms over rolling power
sums (no UDF). Median/quantile use exact ``percentile``; pass
``approx=True`` to switch to ``percentile_approx`` sketches at scale.
Custom callables route to the *_apply variants (Arrow grouped-map UDF).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.windows import warn_single_partition

from pytimetk_spark.functions.windows import ordered_window
from pyspark.sql import types as T

from pytimetk_spark.functions.selection import ColumnSelector, resolve_columns

_NATIVE = {
    "mean",
    "sum",
    "min",
    "max",
    "std",
    "var",
    "count",
    "median",
    "skew",
    "kurt",
    "quantile",
}


def _expand_windows(window) -> list[int]:
    if isinstance(window, int):
        return [window]
    if isinstance(window, tuple) and len(window) == 2:
        return list(range(window[0], window[1] + 1))
    return list(window)


def _q_label(q: float) -> str:
    pct = q * 100
    return str(int(pct)) if pct == int(pct) else str(pct).replace(".", "_")


def _moment_exprs(col: str, frame) -> dict[str, Column]:
    x = F.col(col).cast("double")
    return {
        "n": F.count(x).over(frame),
        "s1": F.sum(x).over(frame),
        "s2": F.sum(x * x).over(frame),
        "s3": F.sum(x * x * x).over(frame),
        "s4": F.sum(x * x * x * x).over(frame),
    }


def _sample_skew(m: dict[str, Column]) -> Column:
    n, s1, s2, s3 = m["n"], m["s1"], m["s2"], m["s3"]
    mean = s1 / n
    m3 = s3 - 3 * mean * s2 + 2 * n * mean * mean * mean
    var = (s2 - n * mean * mean) / (n - 1)
    sd = F.sqrt(var)
    return F.when(
        (n >= 3) & (sd > 0), n * m3 / ((n - 1) * (n - 2) * sd * sd * sd)
    ).otherwise(F.lit(None))


def _sample_kurt(m: dict[str, Column]) -> Column:
    n, s1, s2, s3, s4 = m["n"], m["s1"], m["s2"], m["s3"], m["s4"]
    mean = s1 / n
    m4 = s4 - 4 * mean * s3 + 6 * mean * mean * s2 - 3 * n * mean**4
    var = (s2 - n * mean * mean) / (n - 1)
    num = n * (n + 1) * m4
    den = (n - 1) * (n - 2) * (n - 3) * var * var
    adj = 3 * (n - 1) * (n - 1) / ((n - 2) * (n - 3))
    return F.when((n >= 4) & (var > 0), num / den - adj).otherwise(F.lit(None))


def _func_expr(col: str, func, frame, approx: bool) -> tuple[str, Column]:
    """Returns (name_fragment, expression-over-frame)."""
    if isinstance(func, tuple):
        name, spec = func
        if isinstance(spec, (int, float)):
            q = float(spec)
            expr = (
                F.percentile_approx(col, q)
                if approx
                else F.expr(f"percentile({col}, {q})")
            )
            return name, expr.over(frame)
        raise TypeError(
            "callable window functions route through augment_rolling_apply"
        )
    simple = {
        "mean": F.avg,
        "sum": F.sum,
        "min": F.min,
        "max": F.max,
        "std": F.stddev_samp,
        "var": F.var_samp,
        "count": lambda c: F.count(c).cast("double"),
    }
    if func in simple:
        return func, simple[func](col).over(frame)
    if func == "median":
        expr = (
            F.percentile_approx(col, 0.5)
            if approx
            else F.expr(f"percentile({col}, 0.5)")
        )
        return "median", expr.over(frame)
    if func == "quantile":
        expr = (
            F.percentile_approx(col, 0.5)
            if approx
            else F.expr(f"percentile({col}, 0.5)")
        )
        return "quantile_50", expr.over(frame)
    if func == "skew":
        return "skew", _sample_skew(_moment_exprs(col, frame))
    if func == "kurt":
        return "kurt", _sample_kurt(_moment_exprs(col, frame))
    raise ValueError(f"unsupported window function: {func!r}")


def _base_window(group_cols: Sequence[str], date_column: str):
    return ordered_window(group_cols, date_column, "augment_rolling")


def augment_rolling(
    df: DataFrame,
    date_column: str,
    value_column: ColumnSelector,
    window: int | tuple | Sequence[int] = 2,
    window_func: str | Sequence = "mean",
    min_periods: int | None = None,
    center: bool = False,
    group_cols: Sequence[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    group_cols = list(group_cols or [])
    cols = resolve_columns(df.columns, value_column)
    funcs = [window_func] if isinstance(window_func, (str, tuple)) else list(window_func)
    base = _base_window(group_cols, date_column)
    out = df
    for c in cols:
        # reference quirk (rolling.py:631-637,775): the resolved min_periods
        # is STICKY across the window list — when min_periods=None, every
        # window after the first inherits the FIRST window's size (the
        # reference's own golden tests pin this: win_3 sum on [1,2,3] →
        # [NaN, 3.0, 6.0] because windows=[2,3] resolve min_periods=2).
        mp_state = min_periods
        for w_size in _expand_windows(window):
            mp = w_size if mp_state is None else mp_state
            mp_state = mp
            if center:
                frame = base.rowsBetween(-(w_size // 2), w_size - w_size // 2 - 1)
            else:
                frame = base.rowsBetween(-(w_size - 1), 0)
            gate = F.count(c).over(frame) >= F.lit(mp)
            for fn in funcs:
                frag, expr = _func_expr(c, fn, frame, approx)
                name = f"{c}_rolling_{frag}_win_{w_size}"
                out = out.withColumn(name, F.when(gate, expr).otherwise(F.lit(None)))
    return out


def augment_expanding(
    df: DataFrame,
    date_column: str,
    value_column: ColumnSelector,
    window_func: str | Sequence = "mean",
    min_periods: int = 1,
    group_cols: Sequence[str] | None = None,
    approx: bool = False,
) -> DataFrame:
    group_cols = list(group_cols or [])
    cols = resolve_columns(df.columns, value_column)
    funcs = [window_func] if isinstance(window_func, (str, tuple)) else list(window_func)
    frame = _base_window(group_cols, date_column).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = df
    for c in cols:
        gate = F.count(c).over(frame) >= F.lit(min_periods)
        for fn in funcs:
            frag, expr = _func_expr(c, fn, frame, approx)
            frag = f"quantile_{_q_label(float(fn[1]))}" if isinstance(fn, tuple) and isinstance(fn[1], (int, float)) and fn[0] == "quantile" else frag
            name = f"{c}_expanding_{frag}"
            out = out.withColumn(name, F.when(gate, expr).otherwise(F.lit(None)))
    return out


# ---------------------------------------------------------------------------
# apply variants: whole-sub-frame custom functions via Arrow grouped-map UDF


def _grouped_apply(
    df: DataFrame,
    date_column: str,
    group_cols: Sequence[str],
    new_cols: dict[str, Callable[[pd.DataFrame], pd.Series]],
    multi_kernel: Callable[[pd.DataFrame], dict[str, pd.Series]] | None = None,
    multi_names: Sequence[str] | None = None,
    op_name: str = "grouped_apply",
) -> DataFrame:
    """Run per-group pandas kernels producing new double columns; original
    columns pass through. One Arrow round-trip per group. Either a dict of
    per-column kernels, or one ``multi_kernel`` returning {name: Series}
    (cheaper when outputs share intermediate state, e.g. EMA chains)."""
    out_names = list(multi_names) if multi_kernel else list(new_cols)
    schema = T.StructType(
        [*df.schema.fields, *[T.StructField(n, T.DoubleType()) for n in out_names]]
    )
    names = dict(new_cols or {})

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column).reset_index(drop=True)
        if multi_kernel is not None:
            for name, series in multi_kernel(pdf).items():
                pdf[name] = pd.to_numeric(series, errors="coerce")
        else:
            for name, kernel in names.items():
                pdf[name] = pd.to_numeric(kernel(pdf), errors="coerce")
        return pdf

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        # ungrouped: a constant grouping column (groupBy(lit) is rejected by
        # the Spark 4 analyzer in flatMapGroupsInPandas)
        warn_single_partition(op_name)
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    return grouped.applyInPandas(fn, schema=schema)


def augment_rolling_apply(
    df: DataFrame,
    date_column: str,
    window: int | tuple | Sequence[int],
    window_func: Sequence[tuple[str, Callable[[pd.DataFrame], float]]],
    min_periods: int | None = None,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Custom frame-level rolling funcs → ``rolling_{name}_win_{w}``
    (reference rolling_apply.py:263-340). The callable sees the window's
    whole multi-column sub-DataFrame."""
    group_cols = list(group_cols or [])
    window_func = [window_func] if isinstance(window_func, tuple) else list(window_func)
    new_cols: dict[str, Callable] = {}
    for w_size in _expand_windows(window):
        mp = w_size if min_periods is None else min_periods

        def make(kernel, w=w_size, m=mp):
            def col_fn(pdf: pd.DataFrame) -> pd.Series:
                vals = []
                for i in range(len(pdf)):
                    lo = max(0, i - w + 1)
                    sub = pdf.iloc[lo : i + 1]
                    vals.append(kernel(sub) if len(sub) >= m else float("nan"))
                return pd.Series(vals, index=pdf.index, dtype="float64")

            return col_fn

        for name, kernel in window_func:
            new_cols[f"rolling_{name}_win_{w_size}"] = make(kernel)
    return _grouped_apply(df, date_column, group_cols, new_cols,
                          op_name="augment_rolling_apply")


def augment_expanding_apply(
    df: DataFrame,
    date_column: str,
    window_func: Sequence[tuple[str, Callable[[pd.DataFrame], float]]],
    min_periods: int = 1,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Custom frame-level expanding funcs → ``expanding_{name}``
    (reference expanding_apply.py:28,394)."""
    group_cols = list(group_cols or [])
    window_func = [window_func] if isinstance(window_func, tuple) else list(window_func)
    new_cols: dict[str, Callable] = {}
    for name, kernel in window_func:

        def make(k=kernel, m=min_periods):
            def col_fn(pdf: pd.DataFrame) -> pd.Series:
                vals = []
                for i in range(len(pdf)):
                    sub = pdf.iloc[: i + 1]
                    vals.append(k(sub) if len(sub) >= m else float("nan"))
                return pd.Series(vals, index=pdf.index, dtype="float64")

            return col_fn

        new_cols[f"expanding_{name}"] = make()
    return _grouped_apply(df, date_column, group_cols, new_cols,
                          op_name="augment_expanding_apply")
