"""Mergeable sketch tiers: percentiles (KLL) and distinct counts (HLL).

Extends the tiers' re-aggregable stats (count/sum/min/max/sumsq —
rollup/tiers.py) with PERCENTILES: the analogue of TimescaleDB's
``percentile_agg``/``tdigest`` continuous-aggregate columns. Exact
percentiles are not re-aggregable; a KLL quantile sketch (Karnin, Lang &
Liberty, "Optimal Quantile Approximation in Streams") is — coarser tiers
merge their children's sketches without touching raw rows, so a 7d p99
costs 7 sketch merges instead of a raw re-scan.

Both tiers use Spark's native Datasketches aggregates (pure Catalyst,
JVM-side, binary sketch columns), grouped on the (url, bucket) keys the
tier chain already shuffles on, so they add no new exchange and no
Python stage.

What a KLL quantile is:

* the rank error is bounded uniformly over [0, 1] (about 0.2% at
  ``KLL_K``), not weighted towards the tails;
* the estimate is a value the sketch kept, never an interpolation
  (for {1, 2, 3, 4} p50 is 2.0);
* once a bucket holds more values than the sketch keeps, compaction is
  randomized, so two runs may differ within the error bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.functions.datetime import floor_date

# k=400 keeps the worst rank error near 0.002 for one sketch and for a
# merge of 24 (7.9 KB each); Spark's default k=200 reaches 0.004.
KLL_K = 400


def kll_aggs(value_col: str) -> list[Column]:
    """``cnt`` and ``kll`` aggregates over a double column. NaN counts as
    missing like NULL: the sketch skips NaN while ``count`` would not,
    and an empty sketch must keep ``cnt`` 0 (see ``sketch_quantiles``)."""
    v = F.nanvl(F.col(value_col), F.lit(None).cast("double"))
    return [F.count(v).alias("cnt"),
            F.kll_sketch_agg_double(v, KLL_K).alias("kll")]


def rollup_sketch_tier(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    value_col,
    freq: str = "h",
) -> DataFrame:
    """Raw rows -> (url, bucket_ts, cnt, kll): one KLL sketch of the
    value per tier bucket. NULL and NaN values are skipped; ``cnt``
    counts the rest."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    return (
        df.select(
            F.col(url_col).alias("url"),
            floor_date(F.col(ts_col), freq).alias("bucket_ts"),
            value.cast("double").alias("__v__"),
        )
        .groupBy("url", "bucket_ts")
        .agg(*kll_aggs("__v__"))
    )


def rollup_sketch_tier_to_tier(tier_df: DataFrame, to_freq: str) -> DataFrame:
    """Merge fine-tier sketches into a coarser tier — NO raw rows."""
    return (
        tier_df.withColumn(
            "bucket_ts", floor_date(F.col("bucket_ts"), to_freq)
        )
        .groupBy("url", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.kll_merge_agg_double("kll", KLL_K).alias("kll"),
        )
    )


def sketch_quantiles(
    tier_df: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Add p{q} columns read off each row's sketch (the sketch stays in
    the row for further merging). A bucket with no values gets NULL."""
    qcols = [f"p{round(q * 1000) / 10:g}".replace(".", "_")
             for q in quantiles]
    # an empty sketch is rejected by the quantile function, hence the
    # guard; the array is staged once and indexed per column
    est = F.when(
        F.col("cnt") > 0,
        F.kll_sketch_get_quantile_double(
            "kll", F.array(*[F.lit(float(q)) for q in quantiles])
        ),
    )
    return (
        tier_df.withColumn("__q__", est)
        .select(*tier_df.columns,
                *[F.col("__q__")[i].alias(c) for i, c in enumerate(qcols)])
    )


# -- distinct-count tiers (native Datasketches HLL) ---------------------


def rollup_distinct_tier(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    item_col: str,
    freq: str = "h",
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count tier: (url, bucket) -> HyperLogLog sketch of the
    item column (e.g. distinct visitor/page ids per domain-hour), using
    Spark's NATIVE Datasketches HLL aggregate — pure Catalyst, JVM-side,
    and the binary sketch column is re-aggregable by design. lg_k=12
    -> ~2.5% standard error in 4 KB per bucket."""
    return (
        df.select(
            F.col(url_col).alias("url"),
            floor_date(F.col(ts_col), freq).alias("bucket_ts"),
            F.col(item_col).alias("__item__"),
        )
        .groupBy("url", "bucket_ts")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.hll_sketch_agg("__item__", F.lit(lg_k)).alias("hll"),
        )
    )


def rollup_distinct_tier_to_tier(
    tier_df: DataFrame, to_freq: str
) -> DataFrame:
    """Merge fine-tier HLL sketches into a coarser tier — the distinct
    count RE-AGGREGATES exactly (union semantics), which a plain
    count-distinct column never can."""
    return (
        tier_df.withColumn(
            "bucket_ts", floor_date(F.col("bucket_ts"), to_freq)
        )
        .groupBy("url", "bucket_ts")
        .agg(
            F.sum("cnt").alias("cnt"),
            F.hll_union_agg("hll").alias("hll"),
        )
    )


def distinct_estimates(tier_df: DataFrame) -> DataFrame:
    """Read n_distinct off the sketch (keeps the sketch for merging)."""
    return tier_df.withColumn(
        "n_distinct", F.hll_sketch_estimate("hll")
    )
