"""Mergeable quantile sketches for the rollup tiers (t-digest).

Extends the tiers' re-aggregable stats (count/sum/min/max/sumsq —
rollup/tiers.py) with PERCENTILES: the analogue of TimescaleDB's
``percentile_agg``/``tdigest`` continuous-aggregate columns. Exact
percentiles are not re-aggregable; the merging t-digest (Dunning &
Ertl, "Computing extremely accurate quantiles using t-digests") is —
coarser tiers merge their children's digests without touching raw
rows, so a 7d p99 costs 7 digest merges instead of a raw re-scan.

Representation: two parallel arrays (means, weights), centroids sorted
by mean, compressed against the k1 scale function (asin form) which
concentrates resolution at the tails — p99/p999 stay accurate at
compression ~100 while the digest stays ~200 centroids.

All kernels are numpy; Spark surfaces them as grouped-map passes keyed
on (url, bucket) — the SAME keys the tier chain already shuffles on,
so sketch tiers add no new exchange. Deterministic: merging digests is
order-sensitive in general, so inputs are pre-sorted by mean (and the
grouped rows by timestamp) before every compress.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.datetime import floor_date


def _k1(q: np.ndarray, delta: float) -> np.ndarray:
    return delta / (2 * np.pi) * np.arcsin(2 * np.clip(q, 0, 1) - 1)


def compress(means: np.ndarray, weights: np.ndarray,
             delta: float = 100.0) -> tuple[np.ndarray, np.ndarray]:
    """Merge sorted centroids greedily while the k1 scale budget
    allows (the merging-digest compress)."""
    order = np.argsort(means, kind="stable")
    means = np.asarray(means, float)[order]
    weights = np.asarray(weights, float)[order]
    total = weights.sum()
    if total == 0 or len(means) == 0:
        return np.zeros(0), np.zeros(0)
    out_m = []
    out_w = []
    acc_m = means[0] * weights[0]
    acc_w = weights[0]
    q_left = 0.0
    k_left = _k1(np.array([0.0]), delta)[0]
    for m, w in zip(means[1:], weights[1:]):
        q_right = q_left + (acc_w + w) / total
        if _k1(np.array([q_right]), delta)[0] - k_left <= 1.0:
            acc_m += m * w
            acc_w += w
        else:
            out_m.append(acc_m / acc_w)
            out_w.append(acc_w)
            q_left += acc_w / total
            k_left = _k1(np.array([q_left]), delta)[0]
            acc_m = m * w
            acc_w = w
    out_m.append(acc_m / acc_w)
    out_w.append(acc_w)
    return np.asarray(out_m), np.asarray(out_w)


def digest_of(values: np.ndarray, delta: float = 100.0):
    v = np.sort(np.asarray(values, float))
    return compress(v, np.ones(len(v)), delta)


def merge_digests(parts, delta: float = 100.0):
    """parts: iterable of (means, weights) -> one compressed digest."""
    ms = np.concatenate([np.asarray(m, float) for m, _ in parts])
    ws = np.concatenate([np.asarray(w, float) for _, w in parts])
    return compress(ms, ws, delta)


def digest_quantile(means, weights, q) -> float:
    """Interpolated quantile from a digest (centroid midpoints rule)."""
    means = np.asarray(means, float)
    weights = np.asarray(weights, float)
    if len(means) == 0:
        return float("nan")
    if len(means) == 1:
        return float(means[0])
    total = weights.sum()
    # cumulative weight at each centroid's MIDPOINT
    cum = np.cumsum(weights) - weights / 2.0
    target = q * total
    if target <= cum[0]:
        return float(means[0])
    if target >= cum[-1]:
        return float(means[-1])
    i = int(np.searchsorted(cum, target) - 1)
    span = cum[i + 1] - cum[i]
    frac = (target - cum[i]) / span if span > 0 else 0.0
    return float(means[i] + frac * (means[i + 1] - means[i]))


_SKETCH_FIELDS = [
    T.StructField("qs_means", T.ArrayType(T.DoubleType())),
    T.StructField("qs_weights", T.ArrayType(T.DoubleType())),
]


def rollup_sketch_tier(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    value_col,
    freq: str = "h",
    delta: float = 100.0,
) -> DataFrame:
    """Raw rows -> (url, bucket_ts, cnt, qs_means, qs_weights): one
    t-digest per tier bucket, grouped-map keyed on the tier chain's
    existing (url, bucket) partitioning."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    base = df.select(
        F.col(url_col).alias("url"),
        floor_date(F.col(ts_col), freq).alias("bucket_ts"),
        value.cast("double").alias("__v__"),
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("bucket_ts", T.TimestampType()),
         T.StructField("cnt", T.LongType())] + _SKETCH_FIELDS
    )

    def build(pdf):
        drop_spark_zip_finders()
        import pandas as pd

        # NULL metric rows arrive as NaN — drop them like every Spark
        # aggregate does, or one NULL poisons the whole bucket's digest
        v = pdf["__v__"].to_numpy()
        v = v[~np.isnan(v)]
        m, w = digest_of(v, delta)
        return pd.DataFrame({
            "url": [pdf["url"].iloc[0]],
            "bucket_ts": [pdf["bucket_ts"].iloc[0]],
            "cnt": [len(v)],
            "qs_means": [m.tolist()],
            "qs_weights": [w.tolist()],
        })

    return base.groupBy("url", "bucket_ts").applyInPandas(build, schema)


def rollup_sketch_tier_to_tier(
    tier_df: DataFrame, to_freq: str, delta: float = 100.0
) -> DataFrame:
    """Merge fine-tier digests into a coarser tier — NO raw rows."""
    coarse = tier_df.withColumn(
        "bucket_ts", floor_date(F.col("bucket_ts"), to_freq)
    )
    schema = T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("bucket_ts", T.TimestampType()),
         T.StructField("cnt", T.LongType())] + _SKETCH_FIELDS
    )

    def merge(pdf):
        drop_spark_zip_finders()
        import pandas as pd

        parts = [(np.asarray(m, float), np.asarray(w, float))
                 for m, w in zip(pdf["qs_means"], pdf["qs_weights"])
                 if len(m)]
        if parts:
            m, w = merge_digests(parts, delta)
        else:
            m = w = np.zeros(0)
        return pd.DataFrame({
            "url": [pdf["url"].iloc[0]],
            "bucket_ts": [pdf["bucket_ts"].iloc[0]],
            "cnt": [int(pdf["cnt"].sum())],
            "qs_means": [m.tolist()],
            "qs_weights": [w.tolist()],
        })

    return coarse.groupBy("url", "bucket_ts").applyInPandas(merge, schema)


def sketch_quantiles(
    tier_df: DataFrame, quantiles: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Add p{q} columns extracted from each row's digest (vectorized
    Arrow pass; the digest stays in the row for further merging)."""
    qcols = [f"p{round(q * 1000) / 10:g}".replace(".", "_")
             for q in quantiles]
    fields = list(tier_df.schema.fields) + [
        T.StructField(c, T.DoubleType()) for c in qcols
    ]
    schema = T.StructType(fields)
    in_cols = [f.name for f in tier_df.schema.fields]

    def extract(batches):
        drop_spark_zip_finders()
        for pdf in batches:
            for c, q in zip(qcols, quantiles):
                pdf[c] = [
                    digest_quantile(m, w, q)
                    for m, w in zip(pdf["qs_means"], pdf["qs_weights"])
                ]
            yield pdf[in_cols + qcols]

    return tier_df.mapInPandas(extract, schema)


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
