"""North-rule rollup engine tests: Gorilla codecs, tier aggregation parity
with pandas (pytimetk-style resample oracle), gap-fill, compression
round-trip, checkpoint/resume, retention, and the byte-identical-text
per-url invariant."""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pytimetk_spark.rollup.compression import (
    decode_gorilla,
    decode_gorilla_many,
    decode_timestamps,
    decode_timestamps_many,
    encode_gorilla,
    encode_timestamps,
)
from pytimetk_spark.rollup.tiers import (
    decode_tier_blocks,
    derived_stats,
    encode_tier_blocks,
    gap_fill_tier,
    rollup_raw_to_tier,
    rollup_tier_to_tier,
)
from pytimetk_spark.rollup.store import TierStore, run_rollup
from pytimetk_spark.rollup.retention import apply_retention
from pytimetk_spark.sources.webpages import generate_webpages


# ---------------------------------------------------------------------------
# codecs (no Spark needed)


def test_codec_roundtrip_fuzz():
    # n up to 3000: streams of one to many 128-point super-blocks
    rng = np.random.RandomState(42)
    for trial in range(100):
        n = rng.randint(0, 3000)
        ts = np.cumsum(rng.randint(1, 10**6, size=n)).astype(np.int64) + 1_600_000_000
        assert np.array_equal(ts, decode_timestamps(encode_timestamps(ts)))
        vals = rng.randn(n) * 10.0 ** rng.randint(-5, 8)
        if n > 3:
            vals[rng.randint(0, n)] = np.nan
            vals[rng.randint(0, n)] = np.inf
            vals[0] = 0.0
        back = decode_gorilla(encode_gorilla(vals))
        assert np.array_equal(vals.view(np.uint64), back.view(np.uint64))


def test_codec_rejects_v1_blocks():
    # only the v2 format (0xA3/0xA4, with the super-block bit-length
    # table) decodes; a v1 tag is an unknown block, not a silent misread
    from pytimetk_spark.rollup import compression as C

    ts = np.arange(300, dtype=np.int64) * 60
    vals = np.cumsum(np.random.RandomState(7).randn(300))
    for tag in (0xA1, 0xA2):
        with pytest.raises(ValueError, match="bad timestamp block magic"):
            C.decode_timestamps(bytes([tag]) + C.encode_timestamps(ts)[1:])
        with pytest.raises(ValueError, match="bad value block magic"):
            C.decode_gorilla(bytes([tag]) + C.encode_gorilla(vals)[1:])


def _codec_cases(seed):
    """(timestamps, values) streams over the sizes where the codecs change
    shape: empty/1/2/3 points and the 128- and 256-point super-block
    edges; with 64-bit timestamp escapes, NaNs and constants."""
    rng = np.random.RandomState(seed)
    for n in (0, 1, 2, 3, 127, 128, 129, 255, 256, 257, 258, 1000):
        for kind in range(4):
            ts = np.cumsum(rng.randint(1, 4000, n)).astype(np.int64) + 1_600_000_000
            if kind == 1 and n > 3:
                ts[n // 2:] += 2**40  # 64-bit escape
            if kind == 2:
                ts = np.arange(n, dtype=np.int64) * 3600
            vals = rng.randn(n) * 10.0 ** rng.randint(-5, 8)
            if kind == 3:
                vals = np.round(vals)
                vals[rng.rand(n) < 0.2] = np.nan
            if kind == 2:
                vals = np.full(n, 2.5)
            yield ts, vals


def test_codec_streams_pinned():
    """The encoded bytes are a storage format: this digest was taken from
    the per-stream encoders before the batched rewrite, so any byte that
    moves in either codec fails here."""
    h = hashlib.sha256()
    for ts, vals in _codec_cases(2024):
        h.update(encode_timestamps(ts))
        for block in (1, 16, 64):
            h.update(encode_gorilla(vals, block))
    assert h.hexdigest() == (
        "a1d80761d35a63db73e4a7bef1aa3be78fdfea5cdbef58bef2ae5df3159a3c66"
    )


def test_batched_decoders_match_per_blob():
    """decode_*_many (every super-block of every stream in one numpy walk)
    against one-blob-at-a-time decodes and the encoded input, over the
    size edges, blocks 1/16/64, NaNs, 64-bit escapes and a sliced Arrow
    array (offset != 0); bad tags and NULL blobs raise ValueError."""
    import pyarrow as pa

    cases = list(_codec_cases(7))
    ts_all = np.concatenate([ts for ts, _ in cases])
    v_all = np.concatenate([v for _, v in cases])
    sizes = np.array([len(ts) for ts, _ in cases])
    ts_blobs = [encode_timestamps(ts) for ts, _ in cases]
    got, counts = decode_timestamps_many(
        pa.array([b"pre", *ts_blobs, b"post"], pa.binary()).slice(1, len(cases))
    )
    assert np.array_equal(counts, sizes)
    assert np.array_equal(got, ts_all)
    assert np.array_equal(got, np.concatenate([decode_timestamps(b) for b in ts_blobs]))
    for block in (1, 16, 64):
        blobs = [encode_gorilla(v, block) for _, v in cases]
        got, counts = decode_gorilla_many(pa.array(blobs, pa.binary()))
        assert np.array_equal(counts, sizes)
        want = np.concatenate([decode_gorilla(b) for b in blobs])
        assert np.array_equal(got.view(np.uint64), want.view(np.uint64))
        assert np.array_equal(got.view(np.uint64), v_all.view(np.uint64))
    # a batch of only empty streams, and an empty batch
    assert np.array_equal(decode_timestamps_many([encode_timestamps([])] * 3)[1], [0, 0, 0])
    assert len(decode_gorilla_many(pa.array([], pa.binary()))[0]) == 0

    ts, vals = cases[30]
    bad_ts = bytes([0xA1]) + encode_timestamps(ts)[1:]
    bad_v = bytes([0xA2]) + encode_gorilla(vals)[1:]
    for one, many, blob, good in (
        (decode_timestamps, decode_timestamps_many, bad_ts, encode_timestamps(ts)),
        (decode_gorilla, decode_gorilla_many, bad_v, encode_gorilla(vals)),
    ):
        with pytest.raises(ValueError) as per_blob:
            one(blob)
        with pytest.raises(ValueError) as batched:
            many([good, blob])
        assert str(batched.value) == str(per_blob.value)
        with pytest.raises(ValueError, match="NULL"):
            many(pa.array([good, None], pa.binary()))
        with pytest.raises(ValueError, match="corrupt"):
            many([good[:-1]])


def test_codec_compresses_regular_series():
    ts = (np.arange(10000) * 3600 + 1_600_000_000).astype(np.int64)
    assert len(encode_timestamps(ts)) < 10000 * 8 / 40  # ~1 bit/point
    vals = np.full(10000, 42.5)
    assert len(encode_gorilla(vals)) < 10000 * 8 / 40


# ---------------------------------------------------------------------------
# web table + tiers


@pytest.fixture(scope="module")
def web(spark):
    df = generate_webpages(
        spark, n_urls=50, crawls_per_url=40, days=21, n_domains=10, seed=42
    ).cache()
    df.count()
    return df


def test_webpages_deterministic_and_invariant(spark, web):
    df2 = generate_webpages(
        spark, n_urls=50, crawls_per_url=40, days=21, n_domains=10, seed=42
    )
    assert web.count() == df2.count()
    # text is byte-identical per url (the per-row invariant)
    per_url = web.groupBy("url").agg(
        F.count_distinct(F.sha2(F.col("text"), 256)).alias("n_texts")
    )
    assert per_url.filter(F.col("n_texts") != 1).count() == 0
    # domains are skewed: top domain owns > 3x the average urls/domain
    dom = (
        web.select(F.regexp_extract("url", r"site-(\d+)", 1).alias("d"), "url")
        .distinct()
        .groupBy("d")
        .count()
        .toPandas()
    )
    assert dom["count"].max() > 3 * dom["count"].mean()


def test_tier_1h_matches_pandas_resample(spark, web):
    tier = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    out = derived_stats(tier).toPandas().sort_values(["url", "bucket_ts"])
    pdf = web.select(
        "url", "warc_ts", F.length("text").alias("v").cast("double")
    ).toPandas()
    exp = (
        pdf.set_index("warc_ts")
        .groupby("url")["v"]
        .resample("h")
        .agg(["count", "sum", "min", "max", "mean", "std"])
        .dropna(subset=["count"])
    )
    exp = exp[exp["count"] > 0].reset_index()
    merged = out.merge(
        exp, left_on=["url", "bucket_ts"], right_on=["url", "warc_ts"], how="outer",
        indicator=True,
    )
    assert (merged["_merge"] == "both").all()
    np.testing.assert_allclose(merged["cnt"], merged["count"])
    np.testing.assert_allclose(merged["vsum"], merged["sum"], rtol=1e-12)
    np.testing.assert_allclose(merged["vmean"], merged["mean"], rtol=1e-12)
    np.testing.assert_allclose(
        merged["vstd"].fillna(0), merged["std"].fillna(0), rtol=1e-9, atol=1e-12
    )


def test_salted_rollup_identical(spark, web):
    plain = (
        rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
        .toPandas()
        .sort_values(["url", "bucket_ts"])
        .reset_index(drop=True)
    )
    salted = (
        rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h", salt_partials=8)
        .toPandas()
        .sort_values(["url", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(plain, salted, check_exact=False, rtol=1e-12)


def test_tier_to_tier_exact(spark, web):
    """1h→1d→7d re-aggregation must equal aggregating raw directly."""
    h1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    d1 = rollup_tier_to_tier(h1, "D")
    d7 = rollup_tier_to_tier(d1, "7D")
    direct_d1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "D")
    direct_d7 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "7D")
    for got_df, want_df in [(d1, direct_d1), (d7, direct_d7)]:
        got = got_df.toPandas().sort_values(["url", "bucket_ts"]).reset_index(drop=True)
        want = (
            want_df.toPandas().sort_values(["url", "bucket_ts"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-12)


def test_gap_fill_tier(spark, web):
    h1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    filled = gap_fill_tier(h1, "h")
    one = (
        filled.filter(F.col("url") == filled.select("url").first()["url"])
        .orderBy("bucket_ts")
        .toPandas()
    )
    diffs = one["bucket_ts"].diff().dropna()
    assert (diffs == pd.Timedelta(hours=1)).all()
    assert (one["cnt"] == 0).any()  # gaps materialized
    assert one.loc[one["cnt"] == 0, "vsum"].isna().all()


def test_compression_roundtrip_through_spark(spark, web):
    h1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    stats = ["cnt", "vsum", "vmin", "vmax"]
    blocks = encode_tier_blocks(h1, stats)
    back = decode_tier_blocks(blocks, stats)
    got = back.toPandas().sort_values(["url", "bucket_ts"]).reset_index(drop=True)
    want = (
        h1.select("url", "bucket_ts", *[F.col(s).cast("double") for s in stats])
        .toPandas()
        .sort_values(["url", "bucket_ts"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    # blocks actually compress: total blob bytes < raw 8B/point/stream
    blk_total = None
    for s in stats:
        term = F.sum(F.length(f"blk_{s}"))
        blk_total = term if blk_total is None else blk_total + term
    sizes = blocks.select(
        F.sum(F.length("ts_block")).alias("tsb"),
        blk_total.alias("vb"),
        F.sum("n_points").alias("n"),
    ).first()
    raw_bytes = sizes["n"] * 8 * (1 + len(stats))
    assert (sizes["tsb"] + sizes["vb"]) < raw_bytes


def test_decoded_blocks_keep_null_stats(spark, web):
    """decode_tier_blocks is the Spark-level inverse of encode_tier_blocks:
    a NULL stat (vsum/vmin/vmax of a gap-filled bucket) decodes to SQL
    NULL, not NaN, so isNull/isnan/count/sum/min/max over the decoded
    stats equal the tier's. toPandas() shows NULL and NaN alike, so this
    compares inside Spark."""
    h1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    tier = gap_fill_tier(h1, "h")
    stats = ["cnt", "vsum", "vmin", "vmax"]
    back = decode_tier_blocks(encode_tier_blocks(tier, stats), stats)

    def profile(df):
        aggs = []
        for s in stats:
            c = F.col(s).cast("double")
            aggs += [
                F.sum(c.isNull().cast("int")).alias(f"{s}_nulls"),
                F.sum(F.isnan(c).cast("int")).alias(f"{s}_nans"),
                F.count(c).alias(f"{s}_count"),
                F.sum(c).alias(f"{s}_sum"),
                F.min(c).alias(f"{s}_min"),
                F.max(c).alias(f"{s}_max"),
            ]
        return df.select(*aggs).first().asDict()

    want = profile(tier)
    assert min(want[f"{s}_nulls"] for s in ("vsum", "vmin", "vmax")) > 0
    assert profile(back) == want


def test_batched_codecs_byte_identical():
    """encode_gorilla_many / encode_timestamps_many (r7: one vectorized
    analysis pass across all of a batch's groups, ~3x on the codec core)
    must emit byte-identical streams to the per-group encoders — over
    degenerate sizes (1/2/3 points), block/super-block boundaries,
    constants (zero XORs), NaNs, huge-exponent floats, escape-heavy
    timestamp jumps, padded backing arrays (the Arrow-carry shape), and
    non-contiguous groups. The per-group encoders are now one-group calls
    of the batched ones; test_codec_streams_pinned pins their bytes."""
    import numpy as np

    from pytimetk_spark.rollup.compression import (
        encode_gorilla,
        encode_gorilla_many,
        encode_timestamps,
        encode_timestamps_many,
    )

    rng = np.random.RandomState(11)
    for trial in range(40):
        G = rng.randint(1, 25)
        sizes = rng.choice([1, 2, 3, 15, 16, 17, 127, 128, 129, 500], G)
        pre, post = rng.randint(0, 4), rng.randint(0, 30)
        kinds = rng.randint(0, 4, G)
        vparts = []
        for n, k in zip(sizes, kinds):
            v = (
                np.full(n, 2.5) if k == 0
                else rng.rand(n) * (1e300 if k == 1 else 10)
            )
            if k == 3:
                v = v.copy()
                v[rng.rand(n) < 0.2] = np.nan
            vparts.append(v)
        vals = np.concatenate(
            [rng.rand(pre), *vparts, rng.rand(post)]
        )
        ts = np.sort(
            rng.randint(0, 2**40, pre + int(sizes.sum()) + post)
        ).astype(np.int64)
        ends = pre + np.cumsum(sizes).astype(np.int64)
        starts = ends - sizes
        mv = encode_gorilla_many(vals, starts, ends)
        mt = encode_timestamps_many(ts, starts, ends)
        for g in range(G):
            assert mv[g] == encode_gorilla(vals[starts[g]:ends[g]])
            assert mt[g] == encode_timestamps(ts[starts[g]:ends[g]])
    # non-contiguous groups
    vals = rng.rand(60)
    ts = np.sort(rng.randint(0, 10**9, 60)).astype(np.int64)
    st, en = np.array([2, 40]), np.array([10, 55])
    assert encode_gorilla_many(vals, st, en) == [
        encode_gorilla(vals[2:10]), encode_gorilla(vals[40:55])
    ]
    assert encode_timestamps_many(ts, st, en) == [
        encode_timestamps(ts[2:10]), encode_timestamps(ts[40:55])
    ]
    empty = np.array([], dtype=np.int64)
    assert encode_gorilla_many(vals, empty, empty) == []


def test_encode_blocks_multi_batch_carry(spark, web):
    """The mapInArrow encoder carries an unfinished url group across
    Arrow batch boundaries; that path only runs when a partition spans
    several record batches, which the default 100k-row batch size never
    triggers at test scale. Force 7-row batches so groups straddle
    boundaries and pin the bit-exact round-trip, and check that the
    mapInArrow decoder then emits one output batch per input batch."""
    import pyarrow as pa

    from pytimetk_spark.rollup.tiers import _decode_block_batches

    h1 = rollup_raw_to_tier(web, "url", "warc_ts", F.length("text"), "h")
    stats = ["cnt", "vsum"]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        blocks = encode_tier_blocks(h1, stats)
        # group count preserved: one block row per url
        assert blocks.count() == h1.select("url").distinct().count()
        back = decode_tier_blocks(blocks, stats)
        got = (back.toPandas().sort_values(["url", "bucket_ts"])
               .reset_index(drop=True))
        want = (
            h1.select("url", "bucket_ts",
                      *[F.col(s).cast("double") for s in stats])
            .toPandas().sort_values(["url", "bucket_ts"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(got, want, check_exact=True)

        # the decoder's own output batches, counted inside the same stage
        def batch_sizes(batches):
            for out in _decode_block_batches(batches, stats):
                yield pa.RecordBatch.from_pydict({"rows": [out.num_rows]})

        sizes = (
            blocks.select("url", "ts_block", *[f"blk_{s}" for s in stats])
            .mapInArrow(batch_sizes, "rows long").toPandas()["rows"]
        )
        assert len(sizes) > 1
        assert sizes.sum() == len(want)
    finally:
        spark.conf.set(key, old)


def _assert_tier_matches_raw(spark, store, tier, raw, freq):
    """A stored tier equals aggregating the raw rows directly."""
    stored = store.read_tier(spark, tier).drop("bucket_date")
    direct = rollup_raw_to_tier(raw, "url", "warc_ts", F.length("text"), freq)
    keys = ["url", "bucket_ts"]
    got = stored.toPandas().sort_values(keys).reset_index(drop=True)
    want = direct.toPandas().sort_values(keys).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got[want.columns], want, check_exact=False, rtol=1e-12
    )


def _assert_manifest_rows(spark, store):
    """Every manifest's output_rows (taken from parquet footers) equals the
    rows stored in its tier/bucket_date partition."""
    for tier in ("1h", "1d", "7d"):
        counts = store.read_tier(spark, tier).groupBy("bucket_date").count()
        stored = {str(r["bucket_date"]): r["count"] for r in counts.collect()}
        assert {m.partition: m.output_rows for m in store.manifests(tier)} == stored


def test_run_rollup_resume_and_retention(spark, web, tmp_path):
    store = TierStore(str(tmp_path / "tiers"))
    written = run_rollup(spark, web, store, value_col=F.length("text"))
    tiers_written = {m.tier for m in written}
    assert tiers_written == {"1h", "1d", "7d"}
    n_days = len(store.completed_partitions("1h"))
    assert n_days >= 20
    for m in written:
        assert m.points_per_sec > 0 and m.input_fingerprint
    _assert_manifest_rows(spark, store)

    # resume: second run with identical input writes NOTHING — coarse
    # tiers are incrementally maintained, so no changed fine day means no
    # coarse rewrite either
    again = run_rollup(spark, web, store, value_col=F.length("text"))
    assert again == []

    # incremental: appending one row to ONE day reprocesses exactly that
    # fine partition plus the single 1d and 7d buckets containing it
    one = web.limit(1).withColumn("text", F.concat(F.col("text"), F.lit("!")))
    touched_day = str(one.select(F.to_date("warc_ts")).first()[0])
    updated = web.unionByName(one)
    delta = run_rollup(spark, updated, store, value_col=F.length("text"))
    by_tier = {}
    for m in delta:
        by_tier.setdefault(m.tier, []).append(m.partition)
    assert by_tier["1h"] == [touched_day]
    assert len(by_tier["1d"]) == 1 and len(by_tier["7d"]) == 1
    _assert_manifest_rows(spark, store)
    # the rewritten 7d bucket merges the fresh 1d row of the touched day
    # with the stored 1d rows of the week's other days
    _assert_tier_matches_raw(spark, store, "7d", updated, "7D")
    # restore the original content for the assertions below
    run_rollup(spark, web, store, value_col=F.length("text"))

    # tier read-back: 1d tier equals direct aggregation of raw
    _assert_tier_matches_raw(spark, store, "1d", web, "D")

    # retention: drop 1h partitions older than cutoff
    import datetime as dt

    some_dates = sorted(store.completed_partitions("1h"))
    cutoff_days = 3
    now = dt.date.fromisoformat(some_dates[-1])
    dropped = apply_retention(
        store, {"1h": cutoff_days}, now=now
    )
    assert len(dropped.get("1h", [])) > 0
    remaining = (
        store.read_tier(spark, "1h")
        .agg(F.min(F.to_date("bucket_ts")).alias("lo"))
        .first()["lo"]
    )
    assert remaining >= now - dt.timedelta(days=cutoff_days)


def test_run_rollup_resume_rebuilds_stale_coarse_tiers(spark, web, tmp_path):
    """Missing or stale coarse tiers and manifests (a lost or partially
    restored store) must NOT leave 1d/7d permanently stale on resume — the
    coarse manifests carry fingerprints composed from the below-tier
    manifests, and resume reconciles them from the stored tier below."""
    import json as _json
    import shutil as _sh

    store = TierStore(str(tmp_path / "tiers"))
    run_rollup(spark, web, store, value_col=F.length("text"))

    # simulate the kill: coarse tiers + their manifests vanish, fine stays
    for tier in ("1d", "7d"):
        _sh.rmtree(store.tier_path(tier))
        _sh.rmtree(store.base / "_manifests" / tier)
    resumed = run_rollup(spark, web, store, value_col=F.length("text"))
    assert {m.tier for m in resumed} == {"1d", "7d"}  # fine days all skipped
    assert store.read_tier(spark, "1d").count() > 0
    assert store.read_tier(spark, "7d").count() > 0

    # a single stale coarse manifest → exactly that 1d partition (plus its
    # 7d parent) is rewritten, nothing else
    days = sorted(store.completed_partitions("1d"))
    mp = store.manifest_path("1d", days[0])
    rec = _json.loads(mp.read_text())
    rec["input_fingerprint"] = "stale"
    mp.write_text(_json.dumps(rec))
    again = run_rollup(spark, web, store, value_col=F.length("text"))
    by_tier: dict[str, list[str]] = {}
    for m in again:
        by_tier.setdefault(m.tier, []).append(m.partition)
    assert "1h" not in by_tier
    assert by_tier["1d"] == [days[0]]
    assert len(by_tier["7d"]) == 1

    # fully consistent state: resume touches nothing at any tier
    assert run_rollup(spark, web, store, value_col=F.length("text")) == []


def test_run_rollup_batch_days_and_salt(spark, web, tmp_path):
    """Chunked and salted runs build the same tiers: each batch_days chunk
    runs the whole plan, so a 7d bucket spanning two chunks is rebuilt
    from the earlier chunk's stored 1d days plus the later chunk's fresh
    ones."""
    store = TierStore(str(tmp_path / "tiers"))
    written = run_rollup(
        spark, web, store, value_col=F.length("text"), batch_days=5,
        salt_partials=4,
    )
    assert sorted(m.partition for m in written if m.tier == "1h") == sorted(
        store.completed_partitions("1h")
    )
    _assert_manifest_rows(spark, store)
    for tier, freq in (("1h", "h"), ("1d", "D"), ("7d", "7D")):
        _assert_tier_matches_raw(spark, store, tier, web, freq)


class _Killed(BaseException):
    """Stands in for the process dying mid-write."""


def test_manifest_write_killed_midway_keeps_old_manifest(
    spark, web, tmp_path, monkeypatch
):
    """Manifests are replaced atomically: a write killed partway leaves
    the previous manifest readable, and the next run resumes and repairs
    every tier."""
    from pathlib import Path

    store = TierStore(str(tmp_path / "tiers"))
    run_rollup(spark, web, store, value_col=F.length("text"))
    one = web.limit(1).withColumn("text", F.concat(F.col("text"), F.lit("!")))
    day = str(one.select(F.to_date("warc_ts")).first()[0])
    before = store.read_manifest("1h", day)
    updated = web.unionByName(one)

    real_write_text = Path.write_text

    def killed(self, data, *args, **kwargs):
        real_write_text(self, data[: len(data) // 2], *args, **kwargs)
        raise _Killed()

    monkeypatch.setattr(Path, "write_text", killed)
    with pytest.raises(_Killed):
        run_rollup(spark, updated, store, value_col=F.length("text"))
    monkeypatch.undo()

    assert store.read_manifest("1h", day) == before
    resumed = run_rollup(spark, updated, store, value_col=F.length("text"))
    assert [m.partition for m in resumed if m.tier == "1h"] == [day]
    assert {m.tier for m in resumed} == {"1h", "1d", "7d"}
    _assert_manifest_rows(spark, store)
    for tier, freq in (("1h", "h"), ("1d", "D"), ("7d", "7D")):
        _assert_tier_matches_raw(spark, store, tier, updated, freq)
    assert run_rollup(spark, updated, store, value_col=F.length("text")) == []


def test_source_days_memo_stays_exact(spark, tmp_path):
    """The per-day fingerprints memoized by file-set lineage never stand
    in for a source they were not taken from: (a) a raw file rewritten in
    place misses the memo and rebuilds exactly its day, (b) a derived
    source over the same files never uses it, (c) a changed session time
    zone misses it, and (d) an unchanged file set still resumes a lost
    coarse tier."""
    import os
    import shutil as _sh

    raw_path = tmp_path / "raw"
    generate_webpages(
        spark, n_urls=40, crawls_per_url=10, days=9, n_domains=5, seed=3
    ).write.parquet(str(raw_path))
    store = TierStore(str(tmp_path / "tiers"))
    memo = store.source_days_path()
    # reads create nothing
    assert store.read_manifest("1h", "2024-01-01") is None
    assert store.read_source_days("0" * 64) is None
    assert list((store.base / "_manifests").iterdir()) == []

    def rollup(source):
        return {
            (m.tier, m.partition)
            for m in run_rollup(spark, source, store, value_col=F.length("text"))
        }

    def assert_tiers_match(raw, tiers=(("1h", "h"), ("1d", "D"), ("7d", "7D"))):
        for tier, freq in tiers:
            _assert_tier_matches_raw(spark, store, tier, raw, freq)

    def stamp():
        st = os.stat(memo)
        return st.st_ino, st.st_mtime_ns

    assert rollup(spark.read.parquet(str(raw_path)))
    hit = stamp()
    assert rollup(spark.read.parquet(str(raw_path))) == set()
    assert stamp() == hit

    # (a) one row's text changes in one file, rewritten in place (with its
    # checksum sidecar, as a Hadoop writer leaves it)
    part = sorted(raw_path.glob("part-*.parquet"))[0]
    row = spark.read.parquet(str(part)).select(
        "url", "warc_ts", F.to_date("warc_ts").cast("string").alias("day")
    ).first()
    hit_row = (F.col("url") == row["url"]) & (F.col("warc_ts") == row["warc_ts"])
    staged = tmp_path / "staged"
    spark.read.parquet(str(part)).withColumn(
        "text", F.when(hit_row, F.concat("text", F.lit("!"))).otherwise(F.col("text"))
    ).coalesce(1).write.parquet(str(staged))
    (new,) = staged.glob("part-*.parquet")
    os.replace(new, part)
    os.replace(new.with_name(f".{new.name}.crc"), part.with_name(f".{part.name}.crc"))
    raw = spark.read.parquet(str(raw_path))
    written = rollup(raw)
    assert stamp() != hit
    assert {(t, d) for t, d in written if t != "7d"} == {("1h", row["day"]), ("1d", row["day"])}
    assert len([t for t, _ in written if t == "7d"]) == 1
    assert_tiers_match(raw)

    # (b) derived sources over the same files take the scan: dropping one
    # url rebuilds its days, and the union restoring it rebuilds them again
    hit = stamp()
    kept = raw.filter(F.col("url") != row["url"])
    assert rollup(kept)
    assert_tiers_match(kept, (("1h", "h"),))
    assert rollup(kept.unionByName(raw.filter(F.col("url") == row["url"])))
    assert_tiers_match(raw)
    assert stamp() == hit

    # (c) the same files under another session time zone name miss the memo
    # (the engine's day boundaries are UTC, so "GMT" keeps every day)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "GMT")
    try:
        assert rollup(spark.read.parquet(str(raw_path))) == set()
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert stamp() != hit

    # (d) unchanged files, coarse tiers lost: resume rebuilds them from the
    # memoized fingerprints; the memo is read, not rewritten
    assert rollup(spark.read.parquet(str(raw_path))) == set()
    hit = stamp()
    for tier in ("1d", "7d"):
        _sh.rmtree(store.tier_path(tier))
        _sh.rmtree(store.base / "_manifests" / tier)
    assert {t for t, _ in rollup(spark.read.parquet(str(raw_path)))} == {"1d", "7d"}
    assert stamp() == hit
    assert_tiers_match(raw, (("1d", "D"), ("7d", "7D")))


def test_text_invariant_through_pipeline(spark, web, tmp_path):
    """sha256(text) per url is unchanged by rollup reads/writes (FIXTURES §1)."""
    before = (
        web.select("url", F.sha2("text", 256).alias("h")).distinct().toPandas()
    )
    path = str(tmp_path / "raw")
    web.write.mode("overwrite").parquet(path)
    after = (
        spark.read.parquet(path)
        .select("url", F.sha2("text", 256).alias("h"))
        .distinct()
        .toPandas()
    )
    b = before.sort_values(["url", "h"]).reset_index(drop=True)
    a = after.sort_values(["url", "h"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert (b.groupby("url")["h"].nunique() == 1).all()


def _no_python_stage(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "EvalPython" not in plan and "InPandas" not in plan


def test_quantile_sketch_tiers(spark):
    """Mergeable KLL percentile tiers (the percentile_agg analogue to the
    re-aggregable stats): on 200k heavy-tailed points one sketch and a
    merge of 24 sketches keep rank error under 0.5% / 0.8%; on sf0.01,
    per-(url, day) sketches MERGED from hourly sketches (no raw re-scan)
    place p50/p99 within 2% rank error of each bucket's raw values; the
    whole path is pure Catalyst."""
    from pytimetk_spark.rollup.sketch import (
        KLL_K,
        rollup_sketch_tier,
        rollup_sketch_tier_to_tier,
        sketch_quantiles,
    )

    rng = np.random.RandomState(0)
    x = rng.lognormal(0, 1, 200_000)
    xs = np.sort(x)
    # 24 consecutive chunks, one per hour of one day: the hourly tier
    # holds 24 sketches, the daily tier their merge
    hour = np.repeat(np.arange(24), -(-len(x) // 24))[: len(x)]
    pts = spark.createDataFrame(pd.DataFrame({
        "url": "u",
        "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(hour, unit="h"),
        "v": x,
    }))
    qs = (0.01, 0.5, 0.9, 0.99, 0.999)
    one = sketch_quantiles(
        rollup_sketch_tier(pts, "url", "ts", "v", freq="D"), qs
    ).first()
    assert one["cnt"] == len(x)
    for q, c in zip(qs, ("p1", "p50", "p90", "p99", "p99_9")):
        assert abs(np.searchsorted(xs, one[c]) / len(xs) - q) < 0.005, q
    merged = rollup_sketch_tier_to_tier(
        rollup_sketch_tier(pts, "url", "ts", "v", freq="h"), "D")
    m = sketch_quantiles(merged, (0.5, 0.99)).select(
        "cnt", "p50", "p99",
        F.kll_sketch_to_string_double("kll").alias("desc")).first()
    assert m["cnt"] == len(x)
    assert re.search(rf"\bK\s*: {KLL_K}\n", m["desc"])  # merge keeps k
    for q, c in ((0.5, "p50"), (0.99, "p99")):
        assert abs(np.searchsorted(xs, m[c]) / len(xs) - q) < 0.008

    # sf0.01: ~400 values per (type, day) bucket — enough for rank
    # statistics to be meaningful (sf0.001 buckets hold 2-15 rows)
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    t1h = rollup_sketch_tier(ev, "event_type", "ts", "value", freq="h")
    t1d = rollup_sketch_tier_to_tier(t1h, "d")
    est = sketch_quantiles(t1d, (0.5, 0.99))
    assert _no_python_stage(est)
    got = est.toPandas()
    raw = ev.toPandas()
    raw["bucket_ts"] = raw["ts"].dt.floor("D")
    p50_errs = []
    for _, row in got.iterrows():
        vals = np.sort(raw[(raw["event_type"] == row["url"])
                           & (raw["bucket_ts"] == row["bucket_ts"])]
                       ["value"].to_numpy())
        n = len(vals)
        assert n == row["cnt"]
        rank50 = np.searchsorted(vals, row["p50"], side="right") / n
        p50_errs.append(abs(rank50 - 0.5))
        # p99 estimate must land among the top order statistics
        assert vals[int(np.floor(0.96 * n)) - 1] <= row["p99"], row["url"]
        assert row["p99"] <= vals[-1] + 1e-9
    assert float(np.median(p50_errs)) < 0.02
    assert max(p50_errs) < 0.06


def test_distinct_count_tiers_hll(spark):
    """Distinct-count tiers via Spark's native Datasketches HLL: the
    binary sketch column re-aggregates exactly across tiers (union
    semantics — a plain count-distinct column cannot), estimates match
    exact daily distincts within HLL error, and the whole path is pure
    Catalyst (no Python in the plan)."""
    import numpy as np

    from pytimetk_spark.rollup.sketch import (
        distinct_estimates,
        rollup_distinct_tier,
        rollup_distinct_tier_to_tier,
    )

    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    t1h = rollup_distinct_tier(ev, "event_type", "ts", "user_id", "h")
    t1d = rollup_distinct_tier_to_tier(t1h, "d")
    got = distinct_estimates(t1d).toPandas()
    exact = (
        ev.toPandas().assign(b=lambda d: d["ts"].dt.floor("D"))
        .groupby(["event_type", "b"])["user_id"].nunique()
    )
    rels = []
    for _, row in got.iterrows():
        nd = exact[(row["url"], row["bucket_ts"])]
        rels.append(abs(row["n_distinct"] - nd) / max(nd, 1))
    assert float(np.median(rels)) < 0.03 and max(rels) < 0.1
    assert _no_python_stage(distinct_estimates(t1d))


def test_sketch_tier_null_values(spark):
    """NULL and NaN metric rows are skipped like every Spark aggregate
    skips NULLs: cnt counts the rest and p50 is a kept value (KLL does
    not interpolate: p50 of {1, 2, 3, 4} is 2.0). An all-NULL or all-NaN
    bucket gets cnt 0 and NULL quantiles, in its own tier and after a
    merge."""
    import datetime as dt

    from pytimetk_spark.rollup.sketch import (
        rollup_sketch_tier,
        rollup_sketch_tier_to_tier,
        sketch_quantiles,
    )

    ts = dt.datetime(2024, 1, 1, 0, 1)
    vals = {"a": [1.0, 2.0, None, 3.0, float("nan"), 4.0],
            "b": [None, None], "c": [float("nan")]}
    rows = [(u, ts, v) for u, vs in vals.items() for v in vs]
    t = rollup_sketch_tier(
        spark.createDataFrame(rows, "url string, ts timestamp, v double"),
        "url", "ts", "v", "h")
    for tier in (t, rollup_sketch_tier_to_tier(t, "D")):
        got = (sketch_quantiles(tier, (0.5,)).toPandas()
               .sort_values("url").reset_index(drop=True))
        assert got["cnt"].tolist() == [4, 0, 0]
        assert got.loc[0, "p50"] == 2.0
        assert got.loc[1:, "p50"].isna().all()


def test_streaming_sketch_tier_matches_batch(spark, tmp_path):
    """Streaming percentile tier (native windowed KLL aggregate, sketch
    per (url, bucket) in state) must agree with the batch sketch tier
    over the same files: identical counts and p50 (these buckets are
    smaller than the sketch, so both are exact)."""
    from pyspark.sql import functions as SF

    from pytimetk_spark.rollup.sketch import (
        rollup_sketch_tier,
        sketch_quantiles,
    )
    from pytimetk_spark.streaming.stateful import streaming_sketch_tier

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        SF.col("event_type").alias("url"),
        SF.col("ts").cast("timestamp").alias("warc_ts"),
        SF.col("value").alias("plen"))
    src = str(tmp_path / "sk_src")
    # several files + maxFilesPerTrigger=1 forces MULTIPLE micro-batches,
    # exercising the cross-batch sketch merge in state (a single batch
    # would never touch the state-merge path)
    ev.repartition(4).write.mode("overwrite").parquet(src)

    stream = (spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    tier = streaming_sketch_tier(stream, freq="d")
    plan = tier._jdf.queryExecution().analyzed().toString()
    assert "FlatMapGroupsInPandasWithState" not in plan
    q = (sketch_quantiles(tier, (0.5,))
         .writeStream.format("memory").queryName("sk_stream_t")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = (spark.table("sk_stream_t").toPandas()
           .sort_values("cnt").groupby(["url", "bucket_ts"])
           .last().reset_index())
    batch = sketch_quantiles(
        rollup_sketch_tier(ev, "url", "warc_ts", "plen", "d"), (0.5,)
    ).toPandas()
    m = got.merge(batch, on=["url", "bucket_ts"], suffixes=("_s", "_b"))
    assert len(m) == len(batch)
    assert (m["cnt_s"] == m["cnt_b"]).all()
    rel = ((m["p50_s"] - m["p50_b"]).abs()
           / m["p50_b"].abs().clip(lower=1))
    assert rel.max() < 0.05


def test_streaming_sketch_tier_lateness_closes_buckets(spark, tmp_path):
    """The watermark bounds the streaming sketch tier's GROUP COUNT.
    Three watermark-separated micro-batches; once the watermark passes
    hour-0's bucket end, both hour-0 buckets are emitted once (append
    mode, batch tier shape, landed in a tier-store path) and their state
    rows are DROPPED — observed via stateOperators numRowsTotal
    shrinking below its peak."""
    import time

    from pytimetk_spark.rollup.sketch import (
        rollup_sketch_tier,
        sketch_quantiles,
    )
    from pytimetk_spark.streaming.stateful import streaming_sketch_tier

    rng = np.random.RandomState(7)

    def batch_pdf(urls, hour, n=40):
        rows = []
        for u in urls:
            rows.append(pd.DataFrame({
                "url": u,
                "warc_ts": pd.to_datetime(f"2024-01-01 {hour:02d}:00:00")
                + pd.to_timedelta(rng.randint(0, 1800, n), unit="s"),
                "plen": rng.randint(10, 500, n).astype(float),
            }))
        return pd.concat(rows, ignore_index=True)

    # b1: urls a+b in hour 0 (2 groups); b2/b3: url a in hours 2 and 4.
    # lateness=10min => the watermark after b2 (~02:30 - 10min) passes
    # hour-0's end, so b3 evicts both hour-0 buckets.
    batches = [batch_pdf(["a", "b"], 0), batch_pdf(["a"], 2),
               batch_pdf(["a"], 4)]
    src = tmp_path / "sk_close_src"
    src.mkdir()
    for i, b in enumerate(batches):
        spark.createDataFrame(b).coalesce(1).write.mode("append").parquet(
            str(src))
        time.sleep(0.05)  # distinct mtimes: oldest-first file order
    schema = "url string, warc_ts timestamp, plen double"

    store_path = str(tmp_path / "sk_close_store")
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (streaming_sketch_tier(stream, freq="h", lateness="10 minutes")
         .writeStream.format("parquet").option("path", store_path)
         .option("checkpointLocation", str(tmp_path / "sk_close_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    totals = [p["stateOperators"][0]["numRowsTotal"]
              for p in q.recentProgress if p["stateOperators"]]
    removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                  for p in q.recentProgress if p["stateOperators"])
    # peak 3 open groups (h0-a, h0-b, h2-a); the watermark then closes
    # h0-a + h0-b (file-3 batch) and h2-a (availableNow's final
    # watermark-flush batch) — state COUNT shrinks, not just per-group size
    assert max(totals) == 3
    assert totals[-1] < max(totals)
    assert removed >= 2

    # closed buckets landed once each in the tier store in the batch tier
    # shape, and the hour-0 sketches match the batch sketch tier over the
    # same data
    stored = spark.read.parquet(store_path)
    assert set(stored.columns) == {"url", "bucket_ts", "cnt", "kll"}
    assert stored.count() == stored.select("url", "bucket_ts").distinct().count()
    h0 = stored.filter(F.col("bucket_ts") == "2024-01-01 00:00:00")
    got = (sketch_quantiles(h0, (0.5,)).toPandas()
           .sort_values("url").reset_index(drop=True))
    want = (sketch_quantiles(
        rollup_sketch_tier(spark.createDataFrame(batches[0]),
                           "url", "warc_ts", "plen", "h"), (0.5,))
        .toPandas().sort_values("url").reset_index(drop=True))
    assert list(got["url"]) == ["a", "b"]
    assert (got["cnt"].to_numpy() == want["cnt"].to_numpy()).all()
    assert np.allclose(got["p50"], want["p50"], rtol=0.05)
