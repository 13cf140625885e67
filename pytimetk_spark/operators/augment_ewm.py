"""augment_ewm — exponentially weighted moments per group.

Reference: /root/reference/src/pytimetk/feature_engineering/ewm.py
(:340-391; naming :377 → ``{col}_ewm_{func}_{decay_label}_{decay_value}``,
e.g. ``value_ewm_mean_alpha_0.1``; exactly one decay spec among
alpha / com / span / halflife — _prepare_decay_configs :293-323).

Spark: the EWM recurrence is inherently sequential per series, so this is
an Arrow grouped-map UDF running the pandas ``ewm`` kernel per group —
bounded by per-group history length, exactly the reference's kernel, one
Arrow round-trip. (A closed-form ``aggregate()`` higher-order-function
path exists for short windows but loses precision for long series.)
"""

from __future__ import annotations

from collections.abc import Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.windows import warn_single_partition
from pyspark.sql import types as T

from pytimetk_spark.functions.selection import ColumnSelector, resolve_columns


def augment_ewm(
    df: DataFrame,
    date_column: str,
    value_column: ColumnSelector,
    window_func: str | Sequence[str] = "mean",
    alpha: float | None = None,
    group_cols: Sequence[str] | None = None,
    **decay_kwargs,
) -> DataFrame:
    """funcs ∈ {mean, std, var}; decay via ``alpha=`` or exactly one of
    ``com=/span=/halflife=`` kwargs (pandas semantics, adjust=True)."""
    group_cols = list(group_cols or [])
    cols = resolve_columns(df.columns, value_column)
    funcs = [window_func] if isinstance(window_func, str) else list(window_func)

    decays: list[tuple[str, float]] = []
    if alpha is not None:
        decays.append(("alpha", float(alpha)))
    for k in ("com", "span", "halflife"):
        if k in decay_kwargs and decay_kwargs[k] is not None:
            decays.append((k, float(decay_kwargs[k])))
    if len(decays) != 1:
        raise ValueError(
            "exactly one decay spec required: alpha=, com=, span= or halflife="
        )
    label, value = decays[0]
    vstr = f"{value:g}"

    new_names = [
        f"{c}_ewm_{fn}_{label}_{vstr}" for c in cols for fn in funcs
    ]
    schema = T.StructType(
        [*df.schema.fields, *[T.StructField(n, T.DoubleType()) for n in new_names]]
    )
    bad = [fn for fn in funcs if fn not in ("mean", "std", "var")]
    if bad:
        raise ValueError(f"unsupported ewm funcs: {bad}")

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        pdf = pdf.drop(columns=["__gg__"], errors="ignore")
        pdf = pdf.sort_values(date_column).reset_index(drop=True)
        for c in cols:
            ew = pdf[c].ewm(**{label: value})
            for f_ in funcs:
                pdf[f"{c}_ewm_{f_}_{label}_{vstr}"] = getattr(ew, f_)()
        return pdf

    if group_cols:
        grouped = df.groupBy(*group_cols)
    else:
        warn_single_partition("augment_ewm")
        grouped = df.withColumn("__gg__", F.lit(1)).groupBy("__gg__")
    return grouped.applyInPandas(fn, schema=schema)
