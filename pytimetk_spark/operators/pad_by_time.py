"""pad_by_time — gap-fill an irregular series to a regular grid.

Reference semantics: /root/reference/src/pytimetk/core/pad.py (pandas kernel
:360-446 — per-group reindex over pd.date_range; golden tests show default
bounds are the GLOBAL min/max of the date column, so every group spans the
same range; group-constant columns are forward-filled; new rows get NaN or
the ``fillna`` scalar).

Spark plan: one tiny aggregate computes the global bounds,
a ``sequence()``+``explode`` builds the calendar (|groups| × |buckets| rows —
orders of magnitude smaller than the fact table), then ONE left join
calendar←data on (group, ts). The calendar side is generated, never
shuffled from raw data; with AQE the join of calendar to the aggregated
series is locally partitioned by the same keys the caller will aggregate
on next, so no extra shuffle is introduced downstream.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.functions.datetime import parse_freq


def _to_ts_lit(v) -> "F.Column":
    if isinstance(v, str):
        return F.to_timestamp(F.lit(v))
    if isinstance(v, (_dt.datetime, _dt.date)):
        return F.lit(v).cast("timestamp")
    return v


def pad_by_time(
    df: DataFrame,
    date_column: str,
    freq: str = "D",
    group_cols: Sequence[str] | None = None,
    start_date=None,
    end_date=None,
    fillna: float | None = None,
    sort: bool = False,
) -> DataFrame:
    """Insert missing timestamps at ``freq`` so every (group,) series is
    regular.

    * Default bounds: global min/max of ``date_column`` (reference golden:
      tests/core/test_pad_by_time.py:53-84 pads group B to the global range).
    * value columns in inserted rows are NULL, or ``fillna``; columns
      CONSTANT within their group are filled with the group constant
      (reference pad.py:431-438).
    """
    group_cols = list(group_cols or [])
    f = parse_freq(freq)
    ts = F.col(date_column)

    value_cols = [c for c in df.columns if c != date_column and c not in group_cols]

    # group-constant forward-fill (reference pad.py:431-438): when fillna
    # is None, a column whose value is constant WITHIN a group
    # (nunique(dropna=False) == 1 on the pre-pad group) is filled into the
    # inserted rows. One aggregate computes the constancy flag + the
    # constant per group; it doubles as the distinct-groups source so the
    # default-bounds path costs no extra shuffle. (The reference's
    # UNgrouped variant checks constancy on the already-padded frame —
    # inserted NaNs always break it, a provable no-op — so grouped only.)
    need_const_fill = fillna is None and bool(group_cols) and bool(value_cols)
    # constancy via (min == max AND no nulls) — plain hash aggregates in
    # the distinct-groups pass (round-2 used countDistinct, which adds
    # an Expand pass, plus a second join of the constants — the constants
    # now ride along the calendar rows instead, so the ffill costs zero
    # extra joins and zero extra source scans). nunique(dropna=False)==1
    # (reference pad.py:431-438) = all-equal-non-null, or all-null (which
    # fills null — a no-op — so only the first case needs a value).
    const_cols = [f"__cv_{c}__" for c in value_cols] if need_const_fill else []
    gmin, gmax = F.min(ts).alias("__lo__"), F.max(ts).alias("__hi__")
    if group_cols:
        if need_const_fill:
            groups = df.groupBy(*group_cols).agg(*[
                F.when(
                    (F.min(c) == F.max(c))
                    & (F.max(F.col(c).isNull().cast("int")) == 0),
                    F.min(c),
                ).alias(f"__cv_{c}__")
                for c in value_cols
            ])
        else:
            groups = df.select(*group_cols).distinct()
        bounds = groups.crossJoin(F.broadcast(df.agg(gmin, gmax)))
    else:
        bounds = df.agg(gmin, gmax)

    lo = _to_ts_lit(start_date) if start_date is not None else F.col("__lo__")
    hi = _to_ts_lit(end_date) if end_date is not None else F.col("__hi__")
    calendar = bounds.select(
        *group_cols,
        *const_cols,
        F.explode(F.expr(f"sequence(__lo__, __hi__, {f.interval_sql()})")).alias(
            date_column
        ),
    ) if start_date is None and end_date is None else bounds.select(
        *group_cols,
        *const_cols,
        F.explode(
            F.sequence(
                lo.cast("timestamp"), hi.cast("timestamp"), F.expr(f.interval_sql())
            )
        ).alias(date_column),
    )

    # cast calendar ts to the input's timestamp flavor so the join key matches
    in_ts_type = dict(df.dtypes)[date_column]
    calendar = calendar.withColumn(date_column, F.col(date_column).cast(in_ts_type))

    out = calendar.join(df, on=[*group_cols, date_column], how="left")
    if fillna is not None:
        out = out.fillna(fillna, subset=value_cols)
    elif need_const_fill:
        for c in value_cols:
            out = out.withColumn(c, F.coalesce(F.col(c), F.col(f"__cv_{c}__")))
    out = out.select(*group_cols, date_column, *value_cols)
    # a global orderBy is a full range-shuffle + sort — only pay it when the
    # caller explicitly wants ordered output (Spark frames are unordered;
    # the reference's row-order contract doesn't apply — SURVEY.md §1.4)
    return out.orderBy(*group_cols, date_column) if sort else out
