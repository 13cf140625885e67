"""Tier store: partitioned-parquet snapshots + per-partition checkpoint
manifests with lineage and throughput metrics, enabling resume.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". In this sandbox the table format is partitioned parquet laid out
Iceberg-style: the store root is ONE table partitioned by
``(tier, bucket_date)`` (``tier=1h/bucket_date=YYYY-MM-DD/``), so every
tier lands in one dynamic-partition-overwrite write; on a real cluster that
write maps 1:1 onto ``df.writeTo(catalog.table).overwritePartitions()``
with Iceberg snapshot ids replacing the manifest's ``snapshot_id``.

Checkpoint granularity = one partition: each fine-tier source day (the
natural Iceberg partition of the raw table by ``days(warc_ts)``) and each
coarse bucket date gets a manifest JSON carrying {input fingerprint,
partition, row counts, points/sec}. Manifests are written after the write
commits, each atomically (temp file + ``os.replace``), and their
``output_rows`` come from the parquet footers of the files just written —
metadata only, no Spark job. ``run_rollup`` skips days whose manifest
exists and whose fingerprint matches — a killed job resumes from the next
unprocessed partition.

Source lineage: the per-day fingerprints are a pure function of the source
rows, ``ts_col`` and the session time zone, so they are memoized in
``_manifests/_source_days.json`` under a key built from the source's file
set. The key is a sha256 over ``ts_col``, the source schema, the session
time zone and the sorted ``(uri, size, mtime_ns)`` of every input file,
read with ``os.stat``; a re-submit over an unchanged file set reads the
memo and skips the fingerprint scan. Only a bare file relation over
``file:`` URIs (``spark.read.parquet(path)``) is keyed; a derived source
(filter, union, ``createDataFrame``) or a non-``file:`` URI always takes
the scan. An in-place rewrite that keeps both a file's size and its mtime
is not detected. On Iceberg the table snapshot id is the natural key.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import asdict, dataclass, field
from functools import reduce
from pathlib import Path
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pytimetk_spark.rollup.tiers import (
    TIER_FREQS,
    rollup_raw_to_tier,
    rollup_tier_to_tier,
)


@dataclass
class PartitionManifest:
    tier: str
    partition: str  # source day / bucket date YYYY-MM-DD
    input_fingerprint: str
    input_rows: int
    # filled in after the write job commits
    output_rows: int = 0
    elapsed_sec: float = 0.0
    points_per_sec: float = 0.0
    written_at: float = 0.0
    snapshot_id: str = field(default_factory=lambda: uuid.uuid4().hex)


class TierStore:
    """Directory layout (the base directory is one parquet table
    partitioned by ``tier`` then ``bucket_date``):
    base/
      tier=1h/bucket_date=.../part-*.parquet
      _manifests/{tier}/{partition}.json
    """

    def __init__(self, base_dir: str):
        self.base = Path(base_dir)
        (self.base / "_manifests").mkdir(parents=True, exist_ok=True)

    def tier_path(self, tier: str) -> str:
        return str(self.base / f"tier={tier}")

    def partition_dir(self, tier: str, bucket_date: str) -> Path:
        return Path(self.tier_path(tier)) / f"bucket_date={bucket_date}"

    def partition_rows(self, tier: str, bucket_date: str) -> int:
        """Rows in one tier partition, summed from its parquet footers."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(f).num_rows
            for f in self.partition_dir(tier, bucket_date).glob("*.parquet")
        )

    def manifest_path(self, tier: str, partition: str) -> Path:
        return self.base / "_manifests" / tier / f"{partition}.json"

    def read_manifest(self, tier: str, partition: str) -> PartitionManifest | None:
        p = self.manifest_path(tier, partition)
        if not p.exists():
            return None
        return PartitionManifest(**json.loads(p.read_text()))

    def write_manifest(self, m: PartitionManifest) -> None:
        _write_atomic(self.manifest_path(m.tier, m.partition), asdict(m))

    def source_days_path(self) -> Path:
        return self.base / "_manifests" / "_source_days.json"

    def read_source_days(self, key: str) -> dict[str, tuple[str, int]] | None:
        """The memoized per-day fingerprints when they were taken from the
        file set ``key`` names, else None."""
        try:
            memo = json.loads(self.source_days_path().read_text())
        except FileNotFoundError:
            return None
        if memo["key"] != key:
            return None
        return {d: tuple(v) for d, v in memo["days"].items()}

    def write_source_days(
        self, lineage: dict, days: dict[str, tuple[str, int]]
    ) -> None:
        """Keep one memo entry: ``{key, n_files, n_bytes, days}``."""
        _write_atomic(self.source_days_path(), {**lineage, "days": days})

    def manifests(self, tier: str) -> list[PartitionManifest]:
        d = self.base / "_manifests" / tier
        if not d.exists():
            return []
        return [
            PartitionManifest(**json.loads(p.read_text()))
            for p in sorted(d.glob("*.json"))
        ]

    def completed_partitions(self, tier: str) -> set[str]:
        return {m.partition for m in self.manifests(tier)}

    def drop_partition_dir(self, tier: str, bucket_date: str) -> bool:
        p = self.partition_dir(tier, bucket_date)
        if p.exists():
            shutil.rmtree(p)
            return True
        return False

    def read_tier(self, spark: SparkSession, tier: str) -> DataFrame:
        return spark.read.parquet(self.tier_path(tier))


def _write_atomic(p: Path, record: dict) -> None:
    """Atomic: a write killed partway leaves the previous file (or none)
    in place, never truncated JSON."""
    p.parent.mkdir(parents=True, exist_ok=True)
    tmp = p.with_name(f".{p.name}.{uuid.uuid4().hex}.tmp")
    tmp.write_text(json.dumps(record))
    os.replace(tmp, p)


def _file_set_lineage(
    spark: SparkSession, source: DataFrame, ts_col: str
) -> dict | None:
    """``{key, n_files, n_bytes}`` of a bare file relation over ``file:``
    URIs, from ``os.stat`` alone (no file is opened, no Spark job runs);
    None for any other source. The key holds only strings and integers, so
    it is stable across JVMs."""
    plan = source._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    uris = sorted(source.inputFiles())
    if not uris or any(urlparse(u).scheme != "file" for u in uris):
        return None
    stats = [os.stat(url2pathname(urlparse(u).path)) for u in uris]
    files = [[u, st.st_size, st.st_mtime_ns] for u, st in zip(uris, stats)]
    tz = spark.conf.get("spark.sql.session.timeZone")
    payload = json.dumps([ts_col, source.schema.simpleString(), tz, files])
    return {
        "key": hashlib.sha256(payload.encode()).hexdigest(),
        "n_files": len(files),
        "n_bytes": sum(st.st_size for st in stats),
    }


def _day_fingerprints(source: DataFrame, ts_col: str) -> dict[str, tuple[str, int]]:
    """ONE scan over the source computes every day's lineage fingerprint
    (row count + order-independent xor of row hashes). Round-1 version
    rescanned the source once per day — O(days × table) on an
    unpartitioned source."""
    rows = (
        source.select(
            F.to_date(ts_col).alias("__d__"),
            F.xxhash64(*source.columns).alias("__h__"),
        )
        .groupBy("__d__")
        .agg(F.count(F.lit(1)).alias("n"), F.expr("bit_xor(__h__)").alias("h"))
        .collect()
    )
    return {
        str(r["__d__"]): (f"{r['__d__']}:{r['n']}:{r['h']}", int(r["n"]))
        for r in rows
    }


_EPOCH = _dt.date(1970, 1, 1)


def _coarse_date(d: _dt.date, freq: str) -> _dt.date:
    """Coarse-tier partition a below-tier partition date belongs to
    (epoch-aligned 7-day floor, same alignment as floor_date)."""
    if freq == "D":
        return d
    if freq == "7D":
        return d - _dt.timedelta(days=(d - _EPOCH).days % 7)
    raise ValueError(f"unsupported coarse tier freq: {freq}")


def _compose_fingerprint(prev_tier: str, ms: list[PartitionManifest]) -> str:
    """Deterministic lineage fingerprint of a coarse partition: digest of
    the below-tier manifests it aggregates. Fine-tier fingerprints encode
    (day, row count, content hash), so staleness propagates upward through
    every tier level."""
    payload = "|".join(
        f"{m.partition}={m.input_fingerprint}"
        for m in sorted(ms, key=lambda m: m.partition)
    )
    return f"tier:{prev_tier}:" + hashlib.sha256(payload.encode()).hexdigest()[:24]


def run_rollup(
    spark: SparkSession,
    source: DataFrame,
    store: TierStore,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    value_col=None,
    tiers: tuple[str, ...] = ("1h", "1d", "7d"),
    salt_partials: int | None = None,
    resume: bool = True,
    batch_days: int | None = None,
) -> list[PartitionManifest]:
    """Roll the source into the fine tier and every coarser tier FROM the
    tier below (cheap — tier cardinality, and exact because stats
    re-aggregate), in one Spark write job.

    Scan discipline: one fingerprint pass (a grouped aggregate for all
    per-day fingerprints) plus ONE write job, so a non-empty run starts two
    SQL executions regardless of day or tier count. The fingerprints are
    memoized by the source's file-set lineage (see the module docstring):
    a re-submit over an unchanged file set skips the pass, and when it has
    nothing to write it starts no Spark job at all. The write plans every
    tier up front and dynamic-partition-overwrites all of them into the
    store root, partitioned by ``(tier, bucket_date)``:

    * the fine tier aggregates the pending days of the source (the day
      filter is a partition-pruning predicate when the raw table is laid
      out by ``days(warc_ts)``, the assumed Iceberg partitioning);
    * each coarser tier re-aggregates the fresh rows of the tier below plus
      the stored below-tier partitions of its changed buckets that this
      job does not rewrite (read with a ``bucket_date`` partition filter).
      The raw→fine exchange is shared by all tiers, so the raw relation is
      scanned once.

    Incremental maintenance: only the coarse partitions whose below-tier
    inputs changed are rewritten (a late-arriving day reprocesses one 1d
    and one 7d bucket, never the whole tier). Resume reconciliation: each
    coarse manifest carries a fingerprint composed from the below-tier
    manifests it aggregates (including the ones planned in this run); with
    ``resume`` a coarse partition whose stored manifest is missing or
    stale joins the plan even when no fresh rows feed it.

    Manifests are written after the job commits; ``output_rows`` comes from
    the written parquet footers. ``batch_days`` restores finer checkpoint
    granularity: pending days are processed in chunks of that size, each
    chunk running the same plan (one write job per chunk), trading extra
    scans for smaller redo units after a mid-batch failure.

    Returns the manifests written this run (entries skipped via resume are
    not re-listed).
    """
    if value_col is None:
        value_col = F.length("text")

    fine = tiers[0]
    lineage = _file_set_lineage(spark, source, ts_col)
    day_info = store.read_source_days(lineage["key"]) if lineage else None
    if day_info is None:
        day_info = _day_fingerprints(source, ts_col)
        if lineage:
            store.write_source_days(lineage, day_info)
    done = (
        {m.partition: m.input_fingerprint for m in store.manifests(fine)}
        if resume
        else {}
    )
    # already rolled up with unchanged inputs → resume skips the day
    pending = [d for d in sorted(day_info) if done.get(d) != day_info[d][0]]

    def fine_rows(days: list[str]) -> DataFrame:
        rows = source.filter(
            F.to_date(ts_col).isin([_dt.date.fromisoformat(d) for d in days])
        )
        return rollup_raw_to_tier(
            rows, url_col, ts_col, value_col, TIER_FREQS[fine], salt_partials
        )

    chunk = batch_days or max(len(pending), 1)
    written: list[PartitionManifest] = []
    # an empty pending list still runs one plan: coarse reconciliation
    for i in range(0, max(len(pending), 1), chunk):
        batch = pending[i : i + chunk]
        plan = {fine: [PartitionManifest(fine, d, *day_info[d]) for d in batch]}
        frames = {fine: fine_rows(batch)} if batch else {}
        _plan_coarse(spark, store, tiers, plan, frames, resume)
        written += _write_planned(store, tiers, plan, frames)
    return written


def _plan_coarse(
    spark: SparkSession,
    store: TierStore,
    tiers: tuple[str, ...],
    plan: dict[str, list[PartitionManifest]],
    frames: dict[str, DataFrame],
    resume: bool,
) -> None:
    """Extend ``plan`` / ``frames`` (fine tier already planned) with every
    coarse partition to rewrite and the frame that produces it."""
    for prev, tier in zip(tiers, tiers[1:]):
        freq = TIER_FREQS[tier]
        below = {m.partition: m for m in store.manifests(prev)}
        below.update({m.partition: m for m in plan[prev]})
        by_coarse: dict[_dt.date, list[PartitionManifest]] = {}
        for m in below.values():
            cd = _coarse_date(_dt.date.fromisoformat(m.partition), freq)
            by_coarse.setdefault(cd, []).append(m)
        expected = {cd: _compose_fingerprint(prev, ms) for cd, ms in by_coarse.items()}
        todo = {
            _coarse_date(_dt.date.fromisoformat(m.partition), freq)
            for m in plan[prev]
        }
        if resume:
            stored = {m.partition: m.input_fingerprint for m in store.manifests(tier)}
            todo |= {cd for cd, fp in expected.items() if stored.get(str(cd)) != fp}
        plan[tier] = [
            PartitionManifest(tier, str(cd), expected[cd], -1) for cd in sorted(todo)
        ]

        fresh = {m.partition for m in plan[prev]}
        kept = [
            _dt.date.fromisoformat(m.partition)
            for cd in sorted(todo)
            for m in by_coarse[cd]
            if m.partition not in fresh
            and store.partition_dir(prev, m.partition).exists()
        ]
        inputs = [frames[prev]] if prev in frames else []
        if kept:
            inputs.append(
                store.read_tier(spark, prev)
                .filter(F.col("bucket_date").isin(kept))
                .drop("bucket_date")
            )
        if inputs:
            below_rows = reduce(DataFrame.unionByName, inputs)
            frames[tier] = rollup_tier_to_tier(below_rows, freq)


def _write_planned(
    store: TierStore,
    tiers: tuple[str, ...],
    plan: dict[str, list[PartitionManifest]],
    frames: dict[str, DataFrame],
) -> list[PartitionManifest]:
    """One dynamic-partition-overwrite job for every planned partition,
    then the manifests with footer row counts."""
    planned = [m for t in tiers for m in plan[t]]
    if not planned:
        return []
    t0 = time.time()
    parts = [frames[t].withColumn("tier", F.lit(t)) for t in tiers if t in frames]
    if parts:
        reduce(DataFrame.unionByName, parts).withColumn(
            "bucket_date", F.to_date("bucket_ts")
        ).write.mode("overwrite").partitionBy("tier", "bucket_date").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(str(store.base))
    elapsed = time.time() - t0
    for m in planned:
        m.output_rows = store.partition_rows(m.tier, m.partition)
    total_out = sum(m.output_rows for m in planned) or 1
    now = time.time()
    for m in planned:
        # amortized share of the write job's wall-clock
        m.elapsed_sec = elapsed * (m.output_rows / total_out)
        m.points_per_sec = (m.output_rows / m.elapsed_sec) if m.elapsed_sec > 0 else 0.0
        m.written_at = now
        store.write_manifest(m)
    return planned
