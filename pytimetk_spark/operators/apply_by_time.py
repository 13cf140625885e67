"""apply_by_time — downsample with arbitrary named Python functions over each
time-bucket sub-frame.

Reference: /root/reference/src/pytimetk/core/apply_by_time.py:56-70 (API),
:307-356 (resample(freq).apply(custom) kernel).

Spark: the designated escape hatch — ``groupBy(groups, bucket)
.applyInPandas`` with an Arrow-batched grouped-map UDF. Each named function
receives the bucket's sub-frame (pandas) and returns a scalar. This is the
ONLY rollup path that leaves the JVM; everything expressible as SQL should
go through summarize_by_time instead.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.datetime import parse_freq, period_end_label, floor_date


def apply_by_time(
    df: DataFrame,
    date_column: str,
    freq: str = "D",
    group_cols: Sequence[str] | None = None,
    fillna: float | None = 0,
    wide_format: bool = False,
    **named_funcs: Callable[[pd.DataFrame], float],
) -> DataFrame:
    """Per (group, bucket): ``out[name] = func(sub_frame)`` for each named
    function. Output: group cols + date (bucket label) + one double column
    per function. ``wide_format=True`` (reference apply_by_time.py:56-70,
    :346-348 unstack) pivots grouped output to one row per bucket with
    columns ``{func}_{groupval}``."""
    if not named_funcs:
        raise ValueError("apply_by_time requires at least one named function")
    group_cols = list(group_cols or [])
    f = parse_freq(freq)

    work = df.withColumn("__bucket_start__", floor_date(F.col(date_column), f))

    group_schema = [field for field in work.schema.fields if field.name in group_cols]
    out_schema = T.StructType(
        [
            *group_schema,
            T.StructField("__bucket_start__", T.TimestampType()),
            *[T.StructField(name, T.DoubleType()) for name in named_funcs],
        ]
    )
    names = list(named_funcs)
    funcs = dict(named_funcs)
    keys = [*group_cols, "__bucket_start__"]

    def apply_fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        drop_spark_zip_finders()
        row = {k: [v] for k, v in zip(keys, key)}
        for name in names:
            row[name] = [float(funcs[name](pdf))]
        return pd.DataFrame(row)

    result = work.groupBy(*keys).applyInPandas(apply_fn, schema=out_schema)
    if fillna is not None:
        result = result.fillna(fillna, subset=names)
    label = (
        period_end_label(F.col("__bucket_start__"), f)
        if f.label_end
        else F.col("__bucket_start__")
    )
    result = (
        result.withColumn(date_column, label)
        .drop("__bucket_start__")
        .select(*group_cols, date_column, *names)
    )
    if wide_format and group_cols:
        pivot_col = (
            F.col(group_cols[0])
            if len(group_cols) == 1
            else F.concat_ws("_", *group_cols)
        )
        work2 = result.withColumn("__pivot__", pivot_col)
        pivot_vals = sorted(
            r["__pivot__"]
            for r in work2.select("__pivot__").distinct().collect()
            if r["__pivot__"] is not None
        )
        pivoted = work2.groupBy(date_column).pivot("__pivot__", pivot_vals).agg(
            *[F.first(n).alias(f"__v{i}__") for i, n in enumerate(names)]
        )
        # positional rename (explicit pivot values → known column order)
        new_names = [f"{n}_{v}" for v in pivot_vals for n in names]
        result = pivoted.select(
            date_column,
            *[
                F.col(f"`{c}`").alias(nm)
                for c, nm in zip(pivoted.columns[1:], new_names)
            ],
        )
        if fillna is not None:
            result = result.fillna(fillna, subset=new_names)
        return result.orderBy(date_column)
    return result.orderBy(*group_cols, date_column)
