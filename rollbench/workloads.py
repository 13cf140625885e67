"""The two benchmark workloads.

Each workload is a closed loop with one client: a *cycle* runs the
workload's four operations once, in order, each waiting for the previous
one. ``setup`` builds the inputs from the seed (via the engine's own
``sources.webpages.generate_webpages``) and is repeated to time it; the
cycles then reuse what the last setup built. ``check`` compares the outputs
of the last cycle against an oracle and returns the problems found.

Both workloads report the same four operation slots, so every end-to-end
metric exists on both:

=========  ==========================================  =========================================
slot       bulk                                        daily
=========  ==========================================  =========================================
rollup     ``run_rollup`` of the whole crawl into an   land one day plus late rows,
           empty store (backfill)                      ``run_rollup(resume=True)``, retention
rerun      no-op re-submit of that backfill            no-op re-submit of that daily job
derive     ``dedup_exact`` of the crawl, written out   ``encode_tier_blocks`` of the 1h tier,
                                                       written out (compaction)
analyze    ``minhash_dedup`` + ``repetition_signals``   read mix: block decode, 1h gap-fill,
           over the distinct documents                 1d derived stats, weekly summary,
                                                       7-bucket rolling mean
=========  ==========================================  =========================================

Why the workloads are shaped this way is in README.md.
"""

from __future__ import annotations

import datetime as dt
import shutil
import time
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import pytimetk_spark as tk
from pytimetk_spark.rollup.compression import (
    decode_gorilla,
    decode_timestamps,
    encode_gorilla_many,
    encode_timestamps_many,
)
from pytimetk_spark.rollup.retention import apply_retention
from pytimetk_spark.rollup.store import TierStore, run_rollup
from pytimetk_spark.rollup.tiers import (
    decode_tier_blocks,
    derived_stats,
    encode_tier_blocks,
    gap_fill_tier,
)
from pytimetk_spark.sources.webpages import generate_webpages
from pytimetk_spark.webtext.dedup import (
    dedup_exact,
    minhash_dedup,
    release_minhash_cache,
)
from pytimetk_spark.webtext.textstats import repetition_signals

START = dt.date(2024, 1, 1)
EPOCH = dt.date(1970, 1, 1)
BLOCK_STATS = ["cnt", "vsum", "vmin", "vmax"]
SLOTS = ("rollup", "rerun", "derive", "analyze")


@dataclass
class Op:
    slot: str
    run: Callable[[], None]
    # untimed preparation run right before ``run`` (e.g. emptying a store)
    before: Callable[[], None] | None = None
    # timed runs per cycle: the sub-second no-op re-submit runs 3 times so
    # its median rests on more samples
    repeat: int = 1


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _week(d: dt.date) -> dt.date:
    """Epoch-aligned 7-day bucket of a day (the engine's 7d tier key)."""
    return d - dt.timedelta(days=(d - EPOCH).days % 7)


def _changed_partitions(days: set[dt.date]) -> int:
    """Tier partitions whose inputs change when these source days change:
    one 1h and one 1d partition per day, one 7d partition per week."""
    return 2 * len(days) + len({_week(d) for d in days})


def _tier_mismatches(raw_glob: str, store: Path, tier: str, since: dt.date | None = None) -> int:
    """Rows that differ between a stored tier and a DuckDB aggregation of
    the raw rows (both directions), optionally from ``since`` on."""
    bucket = {
        "1h": "date_trunc('hour', warc_ts)",
        "1d": "date_trunc('day', warc_ts)",
        "7d": "make_timestamp(epoch_us(warc_ts) // 604800000000 * 604800000000)",
    }[tier]
    where = f"WHERE bucket_ts >= TIMESTAMP '{since}'" if since else ""
    sql = f"""
    WITH o AS (
      SELECT url, {bucket} AS bucket_ts, count(*)::BIGINT AS cnt,
             sum(length(text))::DOUBLE AS vsum,
             min(length(text))::DOUBLE AS vmin,
             max(length(text))::DOUBLE AS vmax,
             arg_min(length(text), warc_ts)::DOUBLE AS vfirst,
             arg_max(length(text), warc_ts)::DOUBLE AS vlast
      FROM read_parquet('{raw_glob}') GROUP BY ALL),
    t AS (
      SELECT url, bucket_ts, cnt::BIGINT, vsum, vmin, vmax, vfirst, vlast
      FROM read_parquet('{store}/tier={tier}/*/*.parquet', hive_partitioning = false))
    SELECT (SELECT count(*) FROM (FROM o {where} EXCEPT ALL FROM t {where}))
         + (SELECT count(*) FROM (FROM t {where} EXCEPT ALL FROM o {where}))
    """
    with duckdb.connect() as con:
        return int(con.execute(sql).fetchone()[0])


class Workload:
    """Shared set-up, rollup job and checks; subclasses fill the slots."""

    name = ""
    sizes: dict = {}
    warmup_cycles = 1

    def __init__(self, spark, work: Path, seed: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.raw = work / "raw"
        self.store_dir = work / "store"
        self.written: list = []

    def generate(self, path: Path, partition_by: str | None = None, **extra_cols) -> None:
        """Write the seeded crawl table (plus any extra columns) as parquet."""
        with self.tr.span("sources.generate_webpages"):
            df = generate_webpages(
                self.spark, start=str(START), seed=self.seed, **self.sizes
            )
            for name, col in extra_cols.items():
                df = df.withColumn(name, col)
            writer = df.write.mode("overwrite")
            if partition_by:
                writer = writer.partitionBy(partition_by)
            writer.parquet(str(path))

    def rollup(self, new_rows: int, changed: int) -> None:
        """One ``run_rollup`` job over the raw table into the store."""
        source = self.spark.read.parquet(str(self.raw))
        with self.tr.span("store.run_rollup") as s:
            self.written = run_rollup(
                self.spark, source, TierStore(str(self.store_dir)), resume=True
            )
        s.counts.update(
            new_rows=new_rows, changed_partitions=changed,
            manifests_written=len(self.written),
        )

    def check_tiers(self, since_1h: dt.date | None = None) -> list[str]:
        problems = [
            f"tier {t}: {n} rows differ from the DuckDB oracle"
            for t, since in (("1h", since_1h), ("1d", None), ("7d", None))
            if (n := _tier_mismatches(f"{self.raw}/*.parquet", self.store_dir, t, since))
        ]
        if self.written:  # the last op of a cycle's rollup half is a no-op
            problems.append(f"no-op re-submit wrote {len(self.written)} partitions")
        return problems

    def setup(self) -> None:
        raise NotImplementedError

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def figures(self, p50: dict[str, float]) -> dict[str, float]:
        """The workload's named end-to-end figures, from slot medians."""
        raise NotImplementedError

    def layer_extras(self) -> dict[str, float]:
        """Per-layer metrics measured outside the traced cycles."""
        return {}


class Bulk(Workload):
    """A fresh crawl: backfill it into an empty store, then curate it."""

    name = "bulk"
    sizes = dict(n_urls=1000, crawls_per_url=40, days=7)
    # set-up only generates the crawl, so no op's code path is warm yet;
    # the first two cycles after it ran 20-35% slower than later ones
    warmup_cycles = 2

    def setup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.docs = str(self.work / "docs")
        self.generate(self.raw, doc_id=F.monotonically_increasing_id())
        with duckdb.connect() as con:
            self.raw_rows, self.distinct_texts, days = con.execute(
                f"SELECT count(*), count(DISTINCT text), list(DISTINCT warc_ts::DATE) "
                f"FROM read_parquet('{self.raw}/*.parquet')"
            ).fetchone()
        self.all_partitions = _changed_partitions(set(days))

    def ops(self) -> list[Op]:
        def empty_store():
            shutil.rmtree(self.store_dir, ignore_errors=True)

        def backfill():
            self.rollup(self.raw_rows, self.all_partitions)
            self.points = sum(m.output_rows for m in self.written)

        def dedup():
            crawl = self.spark.read.parquet(str(self.raw))
            with self.tr.span("webtext.dedup_exact"):
                dedup_exact(crawl, "text", "doc_id").select(
                    "doc_id", "url", "text"
                ).write.mode("overwrite").parquet(self.docs)

        def near_dup_repetition():
            docs = self.spark.read.parquet(self.docs)
            with self.tr.span("webtext.minhash_dedup"):
                kept = minhash_dedup(docs, "text", "doc_id")
                _force(kept)
                release_minhash_cache(kept)
            with self.tr.span("webtext.repetition_signals"):
                _force(repetition_signals(docs, "text", "doc_id"))

        return [
            Op("rollup", backfill, before=empty_store),
            Op("rerun", lambda: self.rollup(0, 0), repeat=3),
            Op("derive", dedup),
            Op("analyze", near_dup_repetition),
        ]

    def check(self) -> list[str]:
        problems = self.check_tiers()
        kept = self.spark.read.parquet(self.docs).count()
        if kept != self.distinct_texts:
            problems.append(f"dedup_exact kept {kept} rows for {self.distinct_texts} distinct texts")
        return problems

    def store_bytes_per_point(self) -> float:
        size = sum(p.stat().st_size for p in self.store_dir.rglob("*.parquet"))
        return size / self.points

    def figures(self, p50):
        return {
            "backfill_points_per_s": self.points / p50["rollup"],
            "store_bytes_per_point": self.store_bytes_per_point(),
            "rerun_noop_s": p50["rerun"],
            "curation_rows_per_s": self.raw_rows / (p50["derive"] + p50["analyze"]),
        }

    def layer_extras(self):
        return {"store.bytes_per_point": self.store_bytes_per_point()}


class Daily(Workload):
    """Continuous-aggregate maintenance from a store snapshot: one day's
    increment and its re-submit, then compaction and queries of the tiers."""

    name = "daily"
    sizes = dict(n_urls=1000, crawls_per_url=40, days=12)
    base_days = 7  # days in the snapshot; the rest land one per increment
    # set-up already runs the daily job three times, warming the rollup path
    warmup_cycles = 1
    policy = {"1h": 7, "1d": 365, "7d": 3650}
    # ~10% of rows land 1-3 days late: always inside the 1h keep window, so
    # no late row targets a partition that retention has already expired
    max_lag = 3

    def setup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        self.staged = self.work / "staged"
        self.snapshot = self.work / "snapshot"
        self.blocks = str(self.work / "blocks")
        h = F.pmod(F.xxhash64("url", "warc_ts", F.lit(self.seed)), F.lit(30))
        lag = F.when(h >= 30 - self.max_lag, h - (29 - self.max_lag)).otherwise(0)
        self.generate(
            self.staged, partition_by="land_day",
            land_day=F.date_add(F.to_date("warc_ts"), lag.cast("int")),
        )
        with duckdb.connect() as con:
            rows = con.execute(
                f"SELECT land_day::DATE, count(*), list(DISTINCT warc_ts::DATE) "
                f"FROM read_parquet('{self.staged}/*/*.parquet', hive_partitioning = true) "
                f"GROUP BY land_day"
            ).fetchall()
        # land day -> (rows landing that day, source days they belong to)
        self.landings = {d: (n, set(days)) for d, n, days in rows}
        self.base_end = START + dt.timedelta(days=self.base_days - 1)
        self.last_day = START + dt.timedelta(days=self.sizes["days"] - 1)
        self.raw.mkdir(parents=True)
        for d in sorted(self.landings):
            if d <= self.base_end:
                self._land(d)
        self.day = self.base_end
        self._daily_job(0, 0)
        shutil.copytree(self.store_dir, self.snapshot)

    def _land(self, day: dt.date) -> None:
        """Copy one land day's files into the raw table, as an upstream
        writer appending a batch would."""
        for i, f in enumerate(sorted((self.staged / f"land_day={day}").glob("*.parquet"))):
            shutil.copyfile(f, self.raw / f"land-{day}-{i}.parquet")

    def _restore(self) -> None:
        """Back to the setup snapshot once every staged day has landed."""
        for f in self.raw.glob("land-*.parquet"):
            if dt.date.fromisoformat(f.name[5:15]) > self.base_end:
                f.unlink()
        shutil.rmtree(self.store_dir)
        shutil.copytree(self.snapshot, self.store_dir)
        self.day = self.base_end

    def _daily_job(self, new_rows: int, changed: int) -> None:
        self.rollup(new_rows, changed)
        with self.tr.span("retention.apply_retention") as s:
            dropped = apply_retention(TierStore(str(self.store_dir)), self.policy, now=self.day)
        s.counts["partitions_expired"] = sum(len(v) for v in dropped.values())

    def _tier(self, tier: str):
        return TierStore(str(self.store_dir)).read_tier(self.spark, tier).drop("bucket_date")

    def ops(self) -> list[Op]:
        def restore_if_exhausted():
            if self.day >= self.last_day:
                self._restore()

        def increment():
            self.day += dt.timedelta(days=1)
            n, days = self.landings.get(self.day, (0, set()))
            self._land(self.day)
            self._daily_job(n, _changed_partitions(days))

        def compact():
            with self.tr.span("tiers.encode_tier_blocks"):
                encode_tier_blocks(self._tier("1h"), BLOCK_STATS).write.mode(
                    "overwrite"
                ).parquet(self.blocks)

        def read_mix():
            d1 = self._tier("1d")
            with self.tr.span("tiers.decode_tier_blocks"):
                _force(decode_tier_blocks(self.spark.read.parquet(self.blocks), BLOCK_STATS))
            with self.tr.span("tiers.gap_fill_tier"):
                _force(gap_fill_tier(self._tier("1h"), "h"))
            with self.tr.span("tiers.derived_stats"):
                _force(derived_stats(d1))
            with self.tr.span("operators.summarize_by_time"):
                _force(tk.summarize_by_time(
                    d1, "bucket_ts", ["cnt", "vsum"], group_cols=["url"],
                    freq="W", agg_func="sum",
                ))
            with self.tr.span("operators.augment_rolling"):
                _force(tk.augment_rolling(
                    d1.select("url", "bucket_ts", "vsum"), "bucket_ts", "vsum",
                    window=7, window_func="mean", group_cols=["url"],
                ))

        return [
            Op("rollup", increment, before=restore_if_exhausted),
            Op("rerun", lambda: self._daily_job(0, 0), repeat=3),
            Op("derive", compact),
            Op("analyze", read_mix),
        ]

    def check(self) -> list[str]:
        cutoff = self.day - dt.timedelta(days=self.policy["1h"])
        problems = self.check_tiers(since_1h=cutoff)
        kept = sorted((self.store_dir / "tier=1h").glob("bucket_date=*"))
        if kept and dt.date.fromisoformat(kept[0].name.split("=")[1]) < cutoff:
            problems.append(f"1h partition {kept[0].name} outlived retention")
        return problems + self._check_round_trip()

    def _check_round_trip(self) -> list[str]:
        """Decoded blocks must equal the 1h tier bit for bit."""
        keys = ["url", "bucket_ts"]
        decoded = (
            decode_tier_blocks(self.spark.read.parquet(self.blocks), BLOCK_STATS)
            .toPandas().sort_values(keys, ignore_index=True)
        )
        tier = (
            self._tier("1h").select(*keys, *BLOCK_STATS)
            .toPandas().sort_values(keys, ignore_index=True)
        )
        if len(decoded) != len(tier):
            return [f"decode returned {len(decoded)} rows for {len(tier)} tier rows"]
        problems = []
        if not decoded[keys].equals(tier[keys]):
            problems.append("decoded (url, bucket_ts) keys differ from the 1h tier")
        for s in BLOCK_STATS:
            a = decoded[s].to_numpy(dtype="float64").view(np.int64)
            b = tier[s].to_numpy(dtype="float64").view(np.int64)
            if not np.array_equal(a, b):
                problems.append(f"decoded {s} is not bit-identical to the 1h tier")
        return problems

    def block_bytes_per_point(self) -> float:
        blob_cols = ["ts_block", *[f"blk_{s}" for s in BLOCK_STATS]]
        row = self.spark.read.parquet(self.blocks).select(
            sum(F.sum(F.length(c)) for c in blob_cols).alias("b"),
            F.sum("n_points").alias("n"),
        ).first()
        return row["b"] / row["n"]

    def figures(self, p50):
        return {
            "increment_p50_s": p50["rollup"],
            "rerun_noop_s": p50["rerun"],
            "compact_s": p50["derive"],
            "read_mix_s": p50["analyze"],
            "block_bytes_per_point": self.block_bytes_per_point(),
        }

    def layer_extras(self) -> dict[str, float]:
        """The Gorilla codecs called directly on the 1h tier's arrays (no
        Spark): batched encode as ``encode_tier_blocks`` runs it, per-url
        decode as ``decode_tier_blocks`` runs it; median of 3 repeats."""
        cols = ["url", "bucket_ts", *BLOCK_STATS]
        df = (
            pq.read_table(str(self.store_dir / "tier=1h"), columns=cols).to_pandas()
            .sort_values(["url", "bucket_ts"], ignore_index=True)
        )
        urls = df["url"].to_numpy()
        bounds = np.flatnonzero(urls[1:] != urls[:-1]) + 1
        starts = np.concatenate(([0], bounds))
        ends = np.concatenate((bounds, [len(urls)]))
        ts = df["bucket_ts"].astype("int64").to_numpy() // 10**9
        values = [df[s].to_numpy(dtype="float64") for s in BLOCK_STATS]
        enc, dec = [], []
        for _ in range(3):
            t0 = time.perf_counter()
            ts_blobs = encode_timestamps_many(ts, starts, ends)
            stat_blobs = [encode_gorilla_many(v, starts, ends) for v in values]
            enc.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            for blob in ts_blobs:
                decode_timestamps(bytes(blob))
            for blobs in stat_blobs:
                for blob in blobs:
                    decode_gorilla(bytes(blob))
            dec.append(time.perf_counter() - t0)
        n = len(urls)
        size = sum(map(len, ts_blobs)) + sum(len(b) for bs in stat_blobs for b in bs)
        return {
            "compression.encode_points_per_s": n / float(np.median(enc)),
            "compression.decode_points_per_s": n / float(np.median(dec)),
            "compression.bytes_per_point": size / n,
        }


WORKLOADS = {w.name: w for w in (Bulk, Daily)}
