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
``mapInPandas`` pass over the url-sorted tier (batched ``encode_*_many``
codecs — one vectorized analysis across all of a batch's groups);
``decode_tier_blocks`` reverses exactly (tests assert bit-identical
round-trip).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.functions.datetime import floor_date
from pytimetk_spark.operators.pad_by_time import pad_by_time
from pytimetk_spark.rollup.compression import (
    decode_gorilla,
    decode_timestamps,
    encode_gorilla_many,
    encode_timestamps_many,
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

    aggs = [
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
    if not salt_partials:
        return base.groupBy("url", "bucket_ts").agg(*aggs)

    # two-phase salted aggregation for hot (url, bucket) groups
    salted = base.withColumn(
        "__salt__", F.pmod(F.xxhash64("__ts__"), F.lit(salt_partials))
    )
    partial = salted.groupBy("url", "bucket_ts", "__salt__").agg(*aggs)
    return partial.groupBy("url", "bucket_ts").agg(*_merge_aggs())


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
# Gorilla block packing (Arrow mapInPandas, many urls per batch)


def encode_tier_blocks(
    tier_df: DataFrame, stats: Sequence[str] = ("cnt", "vsum", "vmin", "vmax")
) -> DataFrame:
    """Per url: delta-of-delta the bucket timestamps + Gorilla-XOR each stat
    stream → one row (url, n_points, ts_block, blk_<stat> binaries).

    Round-2 shape: repartition by url + sortWithinPartitions, then ONE
    mapInPandas pass encoding MANY whole urls per Arrow batch (a group
    spanning a batch boundary is carried into the next batch). The round-1
    groupBy().applyInPandas paid one Arrow batch flush per url — ~1.8 ms
    per group, 64% of the bench query at sf0.1 with 1500 tiny groups."""
    stats = list(stats)
    url_field = next(f for f in tier_df.schema.fields if f.name == "url")
    out_names = ["url", "n_points", "ts_block", *[f"blk_{s}" for s in stats]]
    schema = T.StructType(
        [
            url_field,
            T.StructField("n_points", T.IntegerType()),
            T.StructField("ts_block", T.BinaryType()),
            *[T.StructField(f"blk_{s}", T.BinaryType()) for s in stats],
        ]
    )
    nparts = tier_df.sparkSession.sparkContext.defaultParallelism * 2
    pre = tier_df.select("url", "bucket_ts", *stats).repartition(
        nparts, "url"
    ).sortWithinPartitions("url", "bucket_ts")

    def encode_span(urls, ts_all, stat_cols, starts, ends) -> pd.DataFrame:
        # group boundaries precomputed from the SORTED url column; whole-
        # batch column conversions done once by the caller — the r6 shape
        # paid a pandas groupby plus per-group astype/to_numpy for every
        # url, which dominated wall time once groups shrank to ~64 points
        # (15k groups at sf1.0: per-group overhead, not codec math).
        # r7: the codecs run BATCHED across all of the batch's groups
        # (encode_*_many — one vectorized analysis pass instead of ~20
        # numpy ops per group; 3× on the codec core, byte-identical
        # streams asserted by tests).
        data = {
            "url": urls[starts],
            "n_points": (ends - starts).astype("int32"),
            "ts_block": encode_timestamps_many(ts_all, starts, ends),
        }
        for s_name, col in zip(stats, stat_cols):
            data[f"blk_{s_name}"] = encode_gorilla_many(col, starts, ends)
        return pd.DataFrame(data, columns=out_names)

    def encode_iter(batches):
        carry = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            urls = pdf["url"].to_numpy()
            n = len(urls)
            bounds = np.flatnonzero(urls[1:] != urls[:-1]) + 1
            starts = np.concatenate(([0], bounds))
            ends = np.concatenate((bounds, [n]))
            # last group may continue into the next Arrow batch — carry it
            carry = pdf.iloc[starts[-1]:]
            starts, ends = starts[:-1], ends[:-1]
            if len(starts):
                ts_all = (
                    pdf["bucket_ts"].astype("int64").to_numpy() // 10**9
                )
                stat_cols = [
                    pdf[s].to_numpy(dtype="float64") for s in stats
                ]
                yield encode_span(urls, ts_all, stat_cols, starts, ends)
        if carry is not None and len(carry):
            urls = carry["url"].to_numpy()
            ts_all = (carry["bucket_ts"].astype("int64").to_numpy() // 10**9)
            stat_cols = [carry[s].to_numpy(dtype="float64") for s in stats]
            yield encode_span(
                urls, ts_all, stat_cols, np.array([0]), np.array([len(urls)])
            )

    return pre.mapInPandas(encode_iter, schema=schema)


def decode_tier_blocks(blocks_df: DataFrame, stats: Sequence[str]) -> DataFrame:
    """Inverse of encode_tier_blocks → long (url, bucket_ts, *stats).
    Block rows are independent, so this is a shuffle-free mapInPandas."""
    stats = list(stats)
    url_field = next(f for f in blocks_df.schema.fields if f.name == "url")
    schema = T.StructType(
        [
            url_field,
            T.StructField("bucket_ts", T.TimestampType()),
            *[T.StructField(s, T.DoubleType()) for s in stats],
        ]
    )

    blk_cols = ["url", "ts_block"] + [f"blk_{s}" for s in stats]

    def decode_iter(batches):
        for pdf in batches:
            frames = []
            # itertuples over the needed columns only: ~5× cheaper than
            # iterrows (no per-row Series construction) and the loop is
            # per-BLOCK (each row expands to a whole url's stream), so
            # the remaining Python overhead amortizes (VERDICT r4 #6)
            for url, ts_block, *blks in pdf[blk_cols].itertuples(index=False):
                ts = decode_timestamps(bytes(ts_block))
                data = {"url": url, "bucket_ts": pd.to_datetime(ts, unit="s")}
                for s, blk in zip(stats, blks):
                    data[s] = decode_gorilla(bytes(blk))
                frames.append(pd.DataFrame(data))
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return blocks_df.mapInPandas(decode_iter, schema=schema)
