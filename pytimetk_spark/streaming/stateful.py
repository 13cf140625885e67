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

State-boundedness contract (every operator here): ``streaming_dedup_exact``
is bounded by construction (``dropDuplicatesWithinWatermark`` drops a seen
hash once the watermark passes it); ``streaming_running_ewm`` takes
``idle_timeout`` and ``streaming_sketch_tier`` takes ``lateness`` — both
arm event-time timeouts (``GroupStateTimeout.EventTimeTimeout``) that DROP
a group's state once the watermark moves past it, so state row count
tracks ACTIVE groups, not all groups ever seen. A closing sketch bucket is
flushed as a final ``closed=True`` row carrying its digest, in exactly the
batch tier shape (``closed_tier_frame``), so a ``foreachBatch`` sink can
append it to the tier store and the digest stays mergeable downstream.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pytimetk_spark.config import drop_spark_zip_finders

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
    delta: float = 100.0,
    quantiles: tuple[float, ...] = (0.5, 0.99),
    lateness: str | None = None,
) -> DataFrame:
    """Streaming twin of ``rollup.sketch.rollup_sketch_tier``: per
    (url, bucket) t-digest maintained in group state across
    micro-batches, current percentile estimates emitted each update.

    State per group = the digest's (means, weights) arrays — bounded at
    ~delta*2 centroids regardless of how many rows the bucket has seen
    (the whole point of the sketch: streaming percentiles with O(delta)
    state where exact would need every value).

    ``lateness`` (e.g. ``"10 minutes"``) bounds the GROUP COUNT, the
    other axis of state growth: a watermark with that delay is applied
    to ``ts_col``, and once the watermark passes a bucket's end +
    ``lateness`` the bucket CLOSES — its final row is emitted with
    ``closed = true`` and the digest arrays populated (exactly the
    batch-tier shape; ``closed_tier_frame`` projects it), then the
    group's state is dropped. Route closed rows to the batch tier store
    in a ``foreachBatch`` sink and the digest stays mergeable into
    coarser tiers. Fixed-width freqs only with ``lateness`` (bucket end
    must be computable); with ``None``, buckets stay open until the
    query ends (group count unbounded — dev/ad-hoc only)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pytimetk_spark.functions.datetime import floor_date
    from pytimetk_spark.rollup.sketch import (
        compress,
        digest_quantile,
        merge_digests,
    )

    late_ms = _duration_ms(lateness) if lateness else None
    if late_ms is not None:
        f = freq if re.match(r"^\d", freq) else "1" + freq
        span_ms = _duration_ms(f)  # raises on calendar freqs (MS, ...)

    qcols = [f"p{round(q * 1000) / 10:g}".replace(".", "_")
             for q in quantiles]
    out_schema = T.StructType(
        [T.StructField("url", T.StringType()),
         T.StructField("bucket_ts", T.TimestampType()),
         T.StructField("cnt", T.LongType())]
        + [T.StructField(c, T.DoubleType()) for c in qcols]
        + [T.StructField("closed", T.BooleanType()),
           T.StructField("qs_means", T.ArrayType(T.DoubleType())),
           T.StructField("qs_weights", T.ArrayType(T.DoubleType()))]
    )
    state_schema = T.StructType([
        T.StructField("cnt", T.LongType()),
        T.StructField("means", T.ArrayType(T.DoubleType())),
        T.StructField("weights", T.ArrayType(T.DoubleType())),
    ])

    def emit(key, cnt, means, weights, closed):
        row = {"url": key[0], "bucket_ts": key[1], "cnt": int(cnt),
               "closed": closed,
               "qs_means": means.tolist() if closed else None,
               "qs_weights": weights.tolist() if closed else None}
        for c, q in zip(qcols, quantiles):
            row[c] = digest_quantile(means, weights, q)
        return pd.DataFrame([row])

    def fn(key, pdfs, state):
        drop_spark_zip_finders()
        if state.hasTimedOut:
            # watermark passed bucket end + lateness: flush the final
            # digest (batch-tier shape) and drop the group's state
            cnt, means, weights = state.get
            yield emit(key, cnt, np.asarray(means, float),
                       np.asarray(weights, float), True)
            state.remove()
            return
        if state.exists:
            cnt, means, weights = state.get
            means = np.asarray(means, float)
            weights = np.asarray(weights, float)
        else:
            cnt, means, weights = 0, np.zeros(0), np.zeros(0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((int(cnt), means.tolist(), weights.tolist()))
            return
        vals = pd.concat(chunks, ignore_index=True)["__v__"].to_numpy(
            dtype=np.float64)
        vals = vals[~np.isnan(vals)]
        batch_m, batch_w = compress(vals, np.ones(len(vals)), delta)
        if len(means):
            means, weights = merge_digests(
                [(means, weights), (batch_m, batch_w)], delta)
        else:
            means, weights = batch_m, batch_w
        cnt = int(cnt) + len(vals)
        state.update((cnt, means.tolist(), weights.tolist()))
        if late_ms is not None:
            bucket_ms = int(pd.Timestamp(key[1]).value // 1_000_000)
            # close at bucket end + lateness; clamp above the current
            # watermark (Spark rejects timeouts at/behind it) so a
            # bucket fed by late-but-admitted data still closes next batch
            state.setTimeoutTimestamp(
                max(bucket_ms + span_ms + late_ms,
                    state.getCurrentWatermarkMs() + 1)
            )
        yield emit(key, cnt, means, weights, False)

    # the watermarked event-time column must SURVIVE the projection —
    # the analyzer requires it in the stateful operator's child plan
    src = stream_df.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("__ts__"),
        floor_date(F.col(ts_col), freq).alias("bucket_ts"),
        F.col(value_col).cast("double").alias("__v__"),
    )
    if late_ms is not None:
        src = src.withWatermark("__ts__", lateness)
    return src.groupBy("url", "bucket_ts").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(GroupStateTimeout.EventTimeTimeout
                     if late_ms is not None else GroupStateTimeout.NoTimeout),
    )


def closed_tier_frame(df: DataFrame) -> DataFrame:
    """Project a ``streaming_sketch_tier(lateness=...)`` output (or one
    ``foreachBatch`` micro-batch of it) onto the CLOSED buckets in the
    batch sketch-tier schema ``(url, bucket_ts, cnt, qs_means,
    qs_weights)`` — directly unionable with ``rollup_sketch_tier``
    output and mergeable into coarser tiers via
    ``rollup_sketch_tier_to_tier`` (no raw re-scan)."""
    return df.filter(F.col("closed")).select(
        "url", "bucket_ts", "cnt", "qs_means", "qs_weights"
    )
