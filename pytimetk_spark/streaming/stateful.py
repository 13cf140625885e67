"""Streaming dedup + custom stateful operators.

* ``streaming_dedup_exact`` — exact content dedup on a stream with BOUNDED
  state: ``dropDuplicatesWithinWatermark`` keeps a key's hash only until
  the watermark passes it, so state size is (arrival rate × watermark),
  not corpus size. The batch engine's ``dedup_exact`` remains the
  full-corpus path; this handles the ingest stream.
* ``streaming_running_ewm`` — the ``applyInPandasWithState`` pattern for
  operators Spark's windowed aggregates can't express: a per-url adjusted
  EWM whose numerator/denominator accumulators persist in group state
  across micro-batches. Semantics match pandas ``ewm(alpha).mean()``
  (adjust=True) over the url's full history; verified against the batch
  ``augment_ewm`` under an availableNow trigger.
* ``streaming_sketch_tier`` — the streaming percentile tier: a native
  watermarked tumbling-window aggregate of KLL sketches, in the batch
  sketch tier's shape.

State-boundedness contract (every operator here): ``streaming_dedup_exact``
is bounded by construction (``dropDuplicatesWithinWatermark`` drops a seen
hash once the watermark passes it); ``streaming_running_ewm`` takes
``idle_timeout``, which arms an event-time timeout
(``GroupStateTimeout.EventTimeTimeout``) that DROPS a url's state once the
watermark moves past it; ``streaming_sketch_tier`` takes ``lateness``, the
watermark delay after which Spark drops a closed bucket's window state.
Either way state row count tracks ACTIVE groups, not all groups ever seen.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders
from pytimetk_spark.functions.datetime import parse_freq
from pytimetk_spark.rollup.sketch import kll_aggs

_DUR_UNITS_MS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "sec": 1000, "second": 1000, "seconds": 1000,
    "min": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def _duration_ms(spec: str) -> int:
    """'10 minutes' / '1 hour' / '30s' -> milliseconds. Fixed-width
    units only — event-time timeout arithmetic needs an exact span."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]+)\s*", spec)
    if not m or m.group(2).lower() not in _DUR_UNITS_MS:
        raise ValueError(f"unsupported duration: {spec!r}")
    return int(m.group(1)) * _DUR_UNITS_MS[m.group(2).lower()]


def streaming_dedup_exact(
    stream_df: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-arriving row per exact text within the watermark
    horizon. State is bounded: a seen-hash expires once event time moves
    ``watermark`` past it (exact duplicates arriving later than that are
    the batch engine's job)."""
    hashed = stream_df.withColumn(
        "__h__", F.sha2(F.col(text_col).cast("string"), 256)
    ).withWatermark(ts_col, watermark)
    return hashed.dropDuplicatesWithinWatermark(["__h__"]).drop("__h__")


def streaming_running_ewm(
    stream_df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "plen",
    alpha: float = 0.2,
    out_col: str = "ewm",
    idle_timeout: str | None = None,
) -> DataFrame:
    """Per-url adjusted EWM over the stream via ``applyInPandasWithState``.

    State per url = (w, y): w = Σ(1-α)^i (the adjusted denominator), y =
    current EWM. Each micro-batch folds its rows (event-time order within
    the batch) into the state, so the emitted value at row t equals the
    batch EWM over the url's entire history — exactly what pandas
    ``ewm(alpha, adjust=True).mean()`` yields when the stream arrives in
    order. Out-of-order arrival within a batch is sorted; across batches
    it is the documented approximation (same contract as any
    run-once-per-arrival stateful operator).

    ``idle_timeout`` (e.g. ``"2 hours"``) BOUNDS the state: a watermark
    with that delay is applied to ``ts_col`` and a url whose last event
    falls ``idle_timeout`` behind the watermark has its (w, y) state
    DROPPED — a later reappearance restarts its EWM from scratch (the
    explicit bounded-state trade-off; with ``None`` state is kept for
    every url ever seen, acceptable only for bounded key universes)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    idle_ms = _duration_ms(idle_timeout) if idle_timeout else None

    url_field = next(f for f in stream_df.schema.fields if f.name == url_col)
    ts_field = next(f for f in stream_df.schema.fields if f.name == ts_col)
    out_schema = T.StructType(
        [
            T.StructField("url", url_field.dataType),
            T.StructField("ts", ts_field.dataType),
            T.StructField("value", T.DoubleType()),
            T.StructField(out_col, T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("w", T.DoubleType()), T.StructField("y", T.DoubleType())]
    )
    keep = 1.0 - alpha

    def fn(key, pdfs, state):
        drop_spark_zip_finders()
        if state.hasTimedOut:
            # url idle past the watermark horizon: drop its accumulators
            # (nothing to emit — the EWM row for each event already went
            # out when the event arrived)
            state.remove()
            return
        if state.exists:
            w, y = state.get
        else:
            w, y = 0.0, 0.0
        # one group's micro-batch rows may span several Arrow chunks;
        # materialize and sort ONCE so the fold runs in event-time order
        # across chunk boundaries (a group's per-batch rows are small)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((float(w), float(y)))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("__ts__")
        vals = pdf["__v__"].to_numpy(dtype=np.float64)
        out = np.empty(len(vals))
        for i, x in enumerate(vals):
            # adjusted-EWM fold: y_t = (w·(1-α)·y_{t-1} + x) / (w·(1-α) + 1)
            wk = w * keep
            y = (wk * y + x) / (wk + 1.0)
            w = wk + 1.0
            out[i] = y
        state.update((float(w), float(y)))
        if idle_ms is not None:
            last_ms = int(pd.Timestamp(pdf["__ts__"].iloc[-1]).value
                          // 1_000_000)
            # never set a timeout at/behind the current watermark (Spark
            # rejects it): an already-stale group times out next batch
            state.setTimeoutTimestamp(
                max(last_ms + idle_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame(
            {
                "url": key[0],
                "ts": pdf["__ts__"].to_numpy(),
                "value": vals,
                out_col: out,
            }
        )

    src = stream_df.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("__ts__"),
        F.col(value_col).cast("double").alias("__v__"),
    )
    if idle_ms is not None:
        # watermark on the projected alias so the analyzer sees the
        # event-time column inside the stateful operator's child plan
        src = src.withWatermark("__ts__", idle_timeout)
    return src.groupBy("url").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout if idle_ms is not None
                     else GroupStateTimeout.NoTimeout),
    )


def streaming_sessionize(
    stream_df: DataFrame,
    ts_col: str,
    gap: str = "30 minutes",
    group_cols: tuple = ("user_id",),
    watermark: str = "1 hour",
) -> DataFrame:
    """Gap-based sessions on a stream via Spark's native ``session_window``
    — the incremental twin of the batch ``sessionize`` operator
    (operators/asof_join.py): a session closes once event time moves
    ``gap`` past its last event, and its final row is emitted when the
    watermark passes. State per group = open sessions only, so state size
    tracks concurrency, not history.

    Output: group cols + session_start (min event ts), session_end (max
    event ts — ``session_window.end`` minus the gap, matching the batch
    operator's max(ts)), n_events.
    """
    w = stream_df.withWatermark(ts_col, watermark)
    return (
        w.groupBy(*group_cols, F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .drop("session_window")
    )


def streaming_sketch_tier(
    stream_df: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    value_col: str = "plen",
    freq: str = "h",
    lateness: str | None = None,
) -> DataFrame:
    """Streaming twin of ``rollup.sketch.rollup_sketch_tier``: a native
    watermarked tumbling-window aggregate emitting ``(url, bucket_ts,
    cnt, kll)`` — the batch tier shape, so the KLL sketch stays
    mergeable into coarser tiers via ``rollup_sketch_tier_to_tier``.

    State per (url, bucket) is the sketch itself, bounded by its ``k``
    however many rows the bucket has seen. ``lateness`` (e.g.
    ``"10 minutes"``) is the watermark delay: once the watermark passes
    a bucket's end the bucket closes and its state is dropped, so state
    row count tracks OPEN buckets. In ``append`` output mode (which
    needs ``lateness``) each closed bucket is emitted once and can go
    straight to the tier store; in ``update`` mode apply
    ``sketch_quantiles`` to the output for running estimates. Fixed-width
    ``freq`` only (a tumbling window needs an exact span)."""
    f = parse_freq(freq)
    if not f.is_fixed:
        raise ValueError(f"streaming_sketch_tier needs a fixed-width freq: {freq!r}")
    src = stream_df.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("__ts__"),
        F.col(value_col).cast("double").alias("__v__"),
    )
    if lateness is not None:
        src = src.withWatermark("__ts__", lateness)
    agg = src.groupBy(
        "url", F.window("__ts__", f"{f.seconds} seconds").alias("w")
    ).agg(*kll_aggs("__v__"))
    return agg.select(
        "url", F.col("w.start").alias("bucket_ts"), "cnt", "kll"
    )
