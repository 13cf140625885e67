"""Structured Streaming path for the 1h tier (optional; the batch engine in
rollup/ is the primary north-rule implementation — SURVEY.md §2.4 notes the
reference is batch-only and our continuous aggregates are incremental
batch; this module provides the true-streaming variant).

Pattern: readStream → event-time tumbling window with watermark → the same
re-aggregable stats as rollup_raw_to_tier → sink (append mode once the
watermark closes a window). Late data within the watermark updates the
open window; later-than-watermark rows are dropped (the batch engine's
fingerprint-checked reprocess covers true stragglers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pytimetk_spark.rollup.tiers import _raw_aggs


def streaming_tier_1h(
    stream_df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    value_col="plen",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling 1h windowed aggregation with the tier stat set.

    ``stream_df`` must be a streaming DataFrame (spark.readStream...).
    Returns the aggregated streaming DataFrame; attach ``.writeStream``
    with a checkpointLocation to run, e.g.::

        q = (streaming_tier_1h(src).writeStream
             .format("parquet").option("path", tier_path)
             .option("checkpointLocation", ckpt).outputMode("append")
             .trigger(processingTime="1 minute").start())
    """
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    src = stream_df.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("__ts__"),
        value.cast("double").alias("__v__"),
    ).withWatermark("__ts__", watermark)
    agg = src.groupBy(
        F.col("url"), F.window("__ts__", "1 hour").alias("w")
    ).agg(*_raw_aggs())
    return agg.select(
        "url",
        F.col("w.start").alias("bucket_ts"),
        "cnt", "vsum", "vmin", "vmax", "vsumsq",
        "vfirst", "first_ts", "vlast", "last_ts",
    )
