"""Continuous-aggregate tier engine: raw → 1h → 1d → 7d.

North rule (BASELINE.json): continuous aggregates over a Common-Crawl-style
table ``(url, warc_ts, html, text, lang)``, rolled into 1h/1d/7d tiers with
gap-fill and Gorilla compression.

Design for 10^12 rows:
  * The 1h tier aggregates RAW data exactly once — a single shuffle on
    (url, bucket) after map-side partial aggregation. All stats are
    RE-AGGREGABLE (count/sum/min/max/sumsq + timestamped first/last), so
    the 1d tier aggregates the 1h tier (≤24 rows per url-day instead of
    raw) and 7d aggregates 1d — each coarser tier costs a shuffle of the
    *previous tier's* cardinality, not the raw table's.
  * Hot-domain skew: ``salt_partials=k`` splits each (url, bucket) group
    into k sub-groups keyed by a deterministic hash of the timestamp,
    aggregates partials, then merges — two small shuffles instead of one
    skewed one. Combined with AQE skew handling this bounds any single
    reducer. (Spark's hash-aggregate already does map-side combine; the
    explicit salt matters when ONE url floods ONE bucket beyond a single
    task's share.)
  * Derived stats (mean/std) are computed FROM the re-aggregable stats at
    read time — they are never stored, so tier merging stays exact.
  * 7d buckets are epoch-aligned (pandas ``dt.floor('7D')`` semantics) via
    functions/datetime.floor_date — deterministic across runs and
    resumable without remembering an origin.

Gorilla blocks: ``encode_tier_blocks`` packs each url's (bucket_ts, stat)
streams into binary blobs via the rollup/compression codecs inside one
``mapInArrow`` pass over the url-sorted tier, and ``decode_tier_blocks``
reverses it exactly in one shuffle-free ``mapInArrow`` (tests assert a
bit-identical round-trip). Both call each codec once per Arrow batch, for
all of the batch's urls: no Python work per url or per point.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.datetime import floor_date
from pytimetk_spark.operators.pad_by_time import pad_by_time
from pytimetk_spark.rollup.compression import (
    decode_gorilla_many,
    decode_timestamps_many,
    encode_gorilla_array,
    encode_timestamps_array,
)

TIER_FREQS = {"1h": "h", "1d": "D", "7d": "7D"}

STAT_COLS = ["cnt", "vsum", "vmin", "vmax", "vsumsq", "vfirst", "vlast"]


def rollup_raw_to_tier(
    df: DataFrame,
    url_col: str,
    ts_col: str,
    value_col,
    freq: str = "h",
    salt_partials: int | None = None,
) -> DataFrame:
    """Aggregate raw rows into one tier: (url, bucket) × re-aggregable stats.

    ``value_col`` may be a column name or a Column expression (e.g.
    ``F.length("text")`` — page-length stream per the north rule).
    """
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    value = value.cast("double").alias("__v__")
    bucket = floor_date(F.col(ts_col), freq).alias("bucket_ts")
    # no self-alias: a plan that reads this tier twice (run_rollup's write
    # of 1h plus the 1d built from it) must canonicalize both copies alike,
    # or the raw->tier exchange is not reused and the raw relation is
    # scanned twice
    url = F.col("url") if url_col == "url" else F.col(url_col).alias("url")
    base = df.select(url, bucket, value, F.col(ts_col).alias("__ts__"))

    aggs = _raw_aggs()
    if not salt_partials:
        return base.groupBy("url", "bucket_ts").agg(*aggs)

    # two-phase salted aggregation for hot (url, bucket) groups
    salted = base.withColumn(
        "__salt__", F.pmod(F.xxhash64("__ts__"), F.lit(salt_partials))
    )
    partial = salted.groupBy("url", "bucket_ts", "__salt__").agg(*aggs)
    return partial.groupBy("url", "bucket_ts").agg(*_merge_aggs())


def _raw_aggs():
    """The re-aggregable tier stat set over raw rows whose value column is
    ``__v__`` and whose timestamp column is ``__ts__`` (used by
    ``rollup_raw_to_tier`` and by the streaming 1h tier)."""
    return [
        F.count("__v__").alias("cnt"),
        F.sum("__v__").alias("vsum"),
        F.min("__v__").alias("vmin"),
        F.max("__v__").alias("vmax"),
        F.sum(F.col("__v__") * F.col("__v__")).alias("vsumsq"),
        F.min_by("__v__", "__ts__").alias("vfirst"),
        F.min("__ts__").alias("first_ts"),
        F.max_by("__v__", "__ts__").alias("vlast"),
        F.max("__ts__").alias("last_ts"),
    ]


def _merge_aggs():
    """Merge re-aggregable partials (used by salted phase-2 and by
    tier→tier rollup)."""
    return [
        F.sum("cnt").alias("cnt"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("vsumsq").alias("vsumsq"),
        F.min_by("vfirst", "first_ts").alias("vfirst"),
        F.min("first_ts").alias("first_ts"),
        F.max_by("vlast", "last_ts").alias("vlast"),
        F.max("last_ts").alias("last_ts"),
    ]


def rollup_tier_to_tier(tier_df: DataFrame, to_freq: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (1h→1d, 1d→7d)."""
    coarse = floor_date(F.col("bucket_ts"), to_freq).alias("bucket_ts")
    return tier_df.groupBy("url", coarse).agg(*_merge_aggs())


def derived_stats(tier_df: DataFrame) -> DataFrame:
    """mean/std/range computed from the re-aggregable stats (never stored)."""
    cnt, s, ss = F.col("cnt"), F.col("vsum"), F.col("vsumsq")
    mean = s / cnt
    raw_var = (ss - s * s / cnt) / (cnt - 1)
    # clamp tiny negative variance from fp cancellation; cnt<=1 → NULL
    # (no sample std, matching pandas .std())
    return tier_df.withColumn("vmean", mean).withColumn(
        "vstd", F.when(cnt > 1, F.sqrt(F.greatest(raw_var, F.lit(0.0))))
    )


def gap_fill_tier(tier_df: DataFrame, freq: str, fill_zero: bool = False) -> DataFrame:
    """Make each url's bucket series regular (missing intervals explicit):
    count gaps become 0, values NULL.

    r7 shape: one lag window over (url, bucket) emits each gap's missing
    buckets directly (``sequence(prev+1, cur-1)`` exploded), unioned with
    the original rows — same row set as the old per-group-bounds
    ``pad_by_time``, but with NO join: the r6 shape generated the full
    |urls| × |buckets| calendar (≈ 11× the tier at sf1.0) and sort-merge-
    joined the tier back into it, sorting the calendar side for nothing.
    One exchange + a tier-sized sort replaces two exchanges and a
    calendar-sized sort (guide §2.4/§3.3). ``pad_by_time`` remains the
    general operator (global bounds, constant fill, arbitrary groups)."""
    from pyspark.sql import Window

    from pytimetk_spark.functions.datetime import parse_freq

    ivl = parse_freq(freq).interval_sql()
    stat_cols = [c for c in tier_df.columns if c not in ("url", "bucket_ts")]
    w = Window.partitionBy("url").orderBy("bucket_ts")
    start = F.expr(f"__prev__ + {ivl}")
    stop = F.expr(f"bucket_ts - {ivl}")
    gaps = (
        tier_df.select(
            "url", "bucket_ts", F.lag("bucket_ts").over(w).alias("__prev__")
        )
        .filter(F.col("__prev__").isNotNull() & (start <= stop))
        .select(
            "url",
            F.explode(F.sequence(start, stop, F.expr(ivl))).alias("bucket_ts"),
        )
    )
    dtypes = {fld.name: fld.dataType for fld in tier_df.schema.fields}
    gap_rows = gaps.select(
        "url",
        "bucket_ts",
        *[F.lit(None).cast(dtypes[c]).alias(c) for c in stat_cols],
    )
    filled = tier_df.select("url", "bucket_ts", *stat_cols).unionByName(
        gap_rows
    )
    filled = filled.fillna(0, subset=["cnt"])
    if fill_zero:
        filled = filled.fillna(0.0, subset=["vsum", "vsumsq"])
    return filled


# ---------------------------------------------------------------------------
# Gorilla block packing (Arrow mapInArrow, many urls per batch)


def _encode_runs(rb: pa.RecordBatch, urls, ends: np.ndarray, stats) -> pa.RecordBatch:
    """Encode the whole url groups of ``rb`` (group g = rows
    ``[ends[g-1], ends[g])``) into one block row each."""
    starts = np.concatenate(([0], ends[:-1]))
    ts = rb.column(1).cast(pa.int64()).to_numpy() // 10**6
    cols = [
        urls,
        pa.array((ends - starts).astype(np.int32)),
        encode_timestamps_array(ts, starts, ends),
    ]
    for i in range(len(stats)):
        col = pc.fill_null(rb.column(2 + i).cast(pa.float64()), np.nan)
        cols.append(encode_gorilla_array(col.to_numpy(), starts, ends))
    return pa.RecordBatch.from_arrays(
        cols, names=["url", "n_points", "ts_block", *[f"blk_{s}" for s in stats]]
    )


def _encode_block_batches(batches, stats):
    """mapInArrow body of ``encode_tier_blocks``: batches arrive sorted by
    (url, bucket_ts) and a url may continue into the next batch, so the
    last url of each batch is carried into the next one."""
    drop_spark_zip_finders()
    carry = None
    for rb in batches:
        if carry is not None:
            rb = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([a, b]) for a, b in zip(carry.columns, rb.columns)],
                schema=rb.schema,
            )
        runs = pc.run_end_encode(rb.column(0))  # one run per url
        ends = runs.run_ends.to_numpy().astype(np.int64)
        if len(ends) > 1:
            yield _encode_runs(rb, runs.values[:-1], ends[:-1], stats)
        carry = rb.slice(ends[-2] if len(ends) > 1 else 0)
    if carry is not None and carry.num_rows:
        urls = carry.column(0).slice(0, 1)
        yield _encode_runs(carry, urls, np.array([carry.num_rows]), stats)


def encode_tier_blocks(
    tier_df: DataFrame, stats: Sequence[str] = ("cnt", "vsum", "vmin", "vmax")
) -> DataFrame:
    """Per url: delta-of-delta the bucket timestamps + Gorilla-XOR each stat
    stream → one row (url, n_points, ts_block, blk_<stat> binaries).

    Shape: repartition by url with no fixed count, so AQE sizes the Python
    stage by data (a fresh Python worker's first task pays a fixed ~0.2 s
    re-read of Spark's zips on a 4-core host, a later task on it under
    1 ms, see ``drop_spark_zip_finders`` — a sub-MB tier runs as one
    task), sortWithinPartitions, then ONE mapInArrow pass that encodes
    every whole url of an Arrow batch with one batched codec call per
    stream (``encode_*_array``)."""
    stats = list(stats)
    url_field = next(f for f in tier_df.schema.fields if f.name == "url")
    schema = T.StructType(
        [
            url_field,
            T.StructField("n_points", T.IntegerType()),
            T.StructField("ts_block", T.BinaryType()),
            *[T.StructField(f"blk_{s}", T.BinaryType()) for s in stats],
        ]
    )
    pre = (
        tier_df.select("url", "bucket_ts", *stats)
        .repartition("url")
        .sortWithinPartitions("url", "bucket_ts")
    )
    return pre.mapInArrow(
        lambda batches: _encode_block_batches(batches, stats), schema=schema
    )


def _decode_block_batches(batches, stats):
    """mapInArrow body of ``decode_tier_blocks``: one output batch per
    input batch, every stream of the batch decoded in one call."""
    drop_spark_zip_finders()
    for rb in batches:
        if not rb.num_rows:
            continue
        ts, counts = decode_timestamps_many(rb.column(1))
        cols = [
            rb.column(0).take(np.repeat(np.arange(rb.num_rows), counts)),
            pa.array(ts, pa.timestamp("s", tz="UTC")).cast(
                pa.timestamp("us", tz="UTC")
            ),
        ]
        for i, s in enumerate(stats):
            vals, n = decode_gorilla_many(rb.column(2 + i))
            if not np.array_equal(n, counts):
                raise ValueError(f"blk_{s} and ts_block point counts differ")
            cols.append(pa.array(vals, from_pandas=True))  # NaN -> NULL
        yield pa.RecordBatch.from_arrays(cols, names=["url", "bucket_ts", *stats])


def decode_tier_blocks(blocks_df: DataFrame, stats: Sequence[str]) -> DataFrame:
    """Inverse of encode_tier_blocks → long (url, bucket_ts, *stats).
    Block rows are independent, so this is one shuffle-free mapInArrow
    with one batched decode per stream of each Arrow batch."""
    stats = list(stats)
    url_field = next(f for f in blocks_df.schema.fields if f.name == "url")
    schema = T.StructType(
        [
            url_field,
            T.StructField("bucket_ts", T.TimestampType()),
            *[T.StructField(s, T.DoubleType()) for s in stats],
        ]
    )
    blocks = blocks_df.select("url", "ts_block", *[f"blk_{s}" for s in stats])
    return blocks.mapInArrow(
        lambda batches: _decode_block_batches(batches, stats), schema=schema
    )
