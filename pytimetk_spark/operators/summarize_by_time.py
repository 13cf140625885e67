"""summarize_by_time — downsample rows into time buckets and aggregate.

Reference semantics: /root/reference/src/pytimetk/core/summarize_by_time.py
(kernel :362-441 — set_index(date).resample(freq).agg(...), wide unstack,
fillna, flattened column names). Column-name contract (asserted by
tests/core/test_summarize_by_time.py):

  * single string agg, single value col → column keeps the value name
  * list of aggs → ``{value}_{agg}``
  * wide_format with single agg → ``{value}_{groupval}``
  * wide_format with agg list → ``{value}_{agg}_{groupval}``
  * bucket labels match pandas resample (period END for M/Q/Y/W)

Spark plan: one hash aggregate — ``df.groupBy(groups, resample_label(ts,
freq)).agg(...)`` → partial (map-side) + final agg after a single shuffle on
(groups, bucket). Empty buckets between each group's min and max are then
densified with a per-group ``sequence()``+``explode`` calendar left-join
(the calendar side is tiny — one row per bucket — so AQE broadcasts it).
Wide format adds a ``pivot`` on the group values.

Scale notes (100 TB): the bucket expression is a native Catalyst expression
inside whole-stage codegen, so the scan→partial-agg pipeline never leaves
the JVM; cardinality after partial agg is |groups|×|buckets|, which is what
crosses the shuffle, not raw rows. Skewed group keys are handled upstream by
the rollup engine's salted two-phase aggregation (rollup/tiers.py).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.functions.datetime import (
    Freq,
    floor_date,
    parse_freq,
    period_end_label,
)
from pytimetk_spark.functions.selection import ColumnSelector, resolve_columns

AggSpec = str | tuple | Sequence


def _agg_expr(col: str, func, alias: str) -> Column:
    """Map a pandas-style agg name to a native Spark expression."""
    if isinstance(func, tuple):
        name, spec = func
        if isinstance(spec, (int, float)):  # ("q25", 0.25) → exact quantile
            return F.expr(f"percentile({col}, {float(spec)})").alias(alias)
        raise TypeError(
            "callable aggregations are handled by apply_by_time (applyInPandas)"
        )
    mapping: dict[str, Callable[[str], Column]] = {
        "sum": F.sum,
        "mean": F.avg,
        "avg": F.avg,
        "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
        "min": F.min,
        "max": F.max,
        "std": F.stddev_samp,
        "var": F.var_samp,
        "count": F.count,
        "size": F.count,
        "nunique": F.count_distinct,
        "approx_nunique": F.approx_count_distinct,
        "first": lambda c: F.min_by(c, "__ts_for_order__"),
        "last": lambda c: F.max_by(c, "__ts_for_order__"),
        "skew": F.skewness,
        "kurt": F.kurtosis,
    }
    if func not in mapping:
        raise ValueError(f"unsupported agg_func: {func!r}")
    return mapping[func](col).alias(alias)


def _needs_ts_order(aggs) -> bool:
    return any(a in ("first", "last") for a in aggs if isinstance(a, str))


def _bucket_calendar(df: DataFrame, group_cols: list[str], f: Freq) -> DataFrame:
    """Dense per-group calendar of bucket labels between each group's min and
    max bucket (pandas resample emits empty buckets in-range)."""
    agg = df.groupBy(*group_cols).agg(
        F.min("__bucket_start__").alias("__min_b__"),
        F.max("__bucket_start__").alias("__max_b__"),
    )
    seq = F.explode(
        F.expr(f"sequence(__min_b__, __max_b__, {f.interval_sql()})")
    ).alias("__bucket_start__")
    return agg.select(*group_cols, seq)


def _pivot_wide(
    result: DataFrame,
    date_column: str,
    group_cols: list[str],
    value_cols: list[str],
    fillna: float | None,
) -> DataFrame:
    """Pivot the long ``(groups, date, values)`` frame on the group values
    into ``{value}_{groupval}`` columns."""
    pivot_col = (
        F.col(group_cols[0])
        if len(group_cols) == 1
        else F.concat_ws("_", *group_cols)
    )
    work = result.withColumn("__pivot__", pivot_col)
    # explicit pivot values (one bounded distinct — Spark's auto-pivot
    # collects the same set internally), so the output column ORDER is
    # known ([date] + pivot_vals × values) and renaming is positional —
    # no suffix parsing, which mislabeled group values that themselves
    # end in "_{value}_{agg}"
    pivot_vals = sorted(
        r["__pivot__"]
        for r in work.select("__pivot__").distinct().collect()
        if r["__pivot__"] is not None
    )
    pivoted = (
        work.groupBy(date_column)
        .pivot("__pivot__", pivot_vals)
        .agg(*[F.first(c).alias(f"__v{i}__") for i, c in enumerate(value_cols)])
    )
    new_names = [f"{ov}_{v}" for v in pivot_vals for ov in value_cols]
    pivoted = pivoted.select(
        date_column,
        *[
            F.col(f"`{c}`").alias(n)
            for c, n in zip(pivoted.columns[1:], new_names)
        ],
    )
    # pivot gaps (group absent in a bucket) honor fillna like the
    # reference's post-unstack fillna (summarize_by_time.py:418)
    if fillna is not None:
        pivoted = pivoted.fillna(fillna, subset=new_names)
    return pivoted


def summarize_by_time(
    df: DataFrame,
    date_column: str,
    value_column: ColumnSelector,
    group_cols: Sequence[str] | None = None,
    freq: str = "D",
    agg_func: AggSpec = "sum",
    wide_format: bool = False,
    fillna: float | None = 0,
    dense: bool = True,
    sort: bool = True,
) -> DataFrame:
    """Downsample ``df`` into ``freq`` buckets per group and aggregate.

    Parameters mirror the reference (core/summarize_by_time.py:38-52);
    grouping is explicit ``group_cols`` instead of a pandas GroupBy object.
    ``dense=True`` reproduces pandas resample's empty in-range buckets;
    pass ``dense=False`` to skip the densify join when gaps are known absent
    (cheaper at scale: pure single-shuffle aggregation).
    """
    group_cols = list(group_cols or [])
    value_cols = resolve_columns(df.columns, value_column)
    f = parse_freq(freq)
    single_agg = isinstance(agg_func, (str, tuple))
    aggs = [agg_func] if single_agg else list(agg_func)

    # custom callable aggregations (reference: ("q25", lambda s: ...)) route
    # through apply_by_time (Arrow grouped-map) and join back on the bucket
    custom = [
        a for a in aggs if isinstance(a, tuple) and callable(a[1])
    ]
    if custom:
        from pytimetk_spark.operators.apply_by_time import apply_by_time

        sql_aggs = [a for a in aggs if a not in custom]
        named = {
            f"{c}_{name}": (lambda d, fn=fn, c=c: fn(d[c]))
            for c in value_cols
            for name, fn in custom
        }
        custom_df = apply_by_time(
            df, date_column, freq=freq, group_cols=group_cols,
            fillna=fillna, **named,
        )
        if not sql_aggs:
            result = custom_df
        else:
            sql_df = summarize_by_time(
                df, date_column, value_column, group_cols, freq, sql_aggs,
                wide_format=False, fillna=fillna, dense=dense, sort=False,
            )
            result = sql_df.join(
                custom_df, on=[*group_cols, date_column], how="full"
            )
        if wide_format and group_cols:
            out_cols = [
                c for c in result.columns
                if c not in (*group_cols, date_column)
            ]
            result = _pivot_wide(result, date_column, group_cols, out_cols,
                                 fillna)
        order = [date_column] if wide_format else [*group_cols, date_column]
        return result.orderBy(*order) if sort else result

    def out_name(col: str, func) -> str:
        if single_agg and len(value_cols) >= 1 and isinstance(agg_func, str):
            return col  # single string agg keeps the value column's name
        fname = func[0] if isinstance(func, tuple) else func
        return f"{col}_{fname}"

    # aggregate on the period START (uniform sequence stepping), label later
    work = df.withColumn("__bucket_start__", floor_date(F.col(date_column), f))
    if _needs_ts_order(aggs):
        work = work.withColumn("__ts_for_order__", F.col(date_column))

    agg_exprs = [
        _agg_expr(c, a, out_name(c, a)) for c in value_cols for a in aggs
    ]
    out_value_cols = [out_name(c, a) for c in value_cols for a in aggs]

    result = work.groupBy(*group_cols, "__bucket_start__").agg(*agg_exprs)

    if dense:
        cal = _bucket_calendar(work.select(*group_cols, "__bucket_start__"), group_cols, f)
        result = cal.join(result, on=[*group_cols, "__bucket_start__"], how="left")

    if fillna is not None:
        result = result.fillna(fillna, subset=out_value_cols)

    label = (
        period_end_label(F.col("__bucket_start__"), f)
        if f.label_end
        else F.col("__bucket_start__")
    )
    result = result.withColumn(date_column, label).drop("__bucket_start__")

    if wide_format and group_cols:
        result = _pivot_wide(result, date_column, group_cols, out_value_cols,
                             fillna)

    if sort:
        order = [date_column] if wide_format else [*group_cols, date_column]
        result = result.orderBy(*order)
    # stable column order: groups, date, values
    if not wide_format:
        result = result.select(*group_cols, date_column, *out_value_cols)
    return result
