"""FeatureStore — register named feature pipelines, fingerprint inputs,
cache materialized outputs as parquet keyed by fingerprint.

Reference: /root/reference/src/pytimetk/feature_store/store.py:282-…
(register/materialize with FeatureSetMetadata {name, version, inputs
fingerprint, created_at}); mlflow integration is out of scope (optional in
the reference too).

Spark: outputs are parquet snapshots under ``base/{name}/{fingerprint}/``;
a second materialize call with an unchanged input DataFrame fingerprint is
a pure metadata hit (no recompute) — the cluster-side analogue of the
reference's in-memory cache.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class FeatureSetMetadata:
    name: str
    version: int
    input_fingerprint: str
    row_count: int
    columns: list[str] = field(default_factory=list)
    created_at: float = 0.0


def _fingerprint(df: DataFrame) -> tuple[str, int]:
    row = df.select(F.xxhash64(*df.columns).alias("__h__")).agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(__h__)").alias("h")
    ).first()
    return f"{row['n']}-{row['h'] & 0xFFFFFFFFFFFFFFFF:016x}", int(row["n"])


class FeatureStore:
    def __init__(self, base_dir: str):
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self._pipelines: dict[str, Callable[[DataFrame], DataFrame]] = {}
        # whether the most recent materialize() call was served from cache
        # (observability for callers — avoids a second full input
        # fingerprint scan just to compute a cache-hit metric)
        self.last_cache_hit: bool | None = None

    def register(
        self, name: str, pipeline: Callable[[DataFrame], DataFrame]
    ) -> None:
        """Register a named feature pipeline (DataFrame → DataFrame)."""
        self._pipelines[name] = pipeline

    def _meta_path(self, name: str, fp: str) -> Path:
        return self.base / name / fp / "_meta.json"

    def materialize(
        self, name: str, df: DataFrame, force: bool = False
    ) -> tuple[DataFrame, FeatureSetMetadata]:
        """Compute (or cache-hit) the named feature set for this input."""
        if name not in self._pipelines:
            raise KeyError(f"feature set {name!r} not registered")
        fp, _ = _fingerprint(df)
        out_dir = self.base / name / fp
        meta_path = self._meta_path(name, fp)
        spark = df.sparkSession
        if meta_path.exists() and not force:
            meta = FeatureSetMetadata(**json.loads(meta_path.read_text()))
            self.last_cache_hit = True
            return spark.read.parquet(str(out_dir / "data")), meta
        self.last_cache_hit = False
        result = self._pipelines[name](df)
        result.write.mode("overwrite").parquet(str(out_dir / "data"))
        materialized = spark.read.parquet(str(out_dir / "data"))
        meta = FeatureSetMetadata(
            name=name,
            version=len(list((self.base / name).glob("*/_meta.json"))) + 1,
            input_fingerprint=fp,
            row_count=materialized.count(),
            columns=materialized.columns,
            created_at=time.time(),
        )
        meta_path.parent.mkdir(parents=True, exist_ok=True)
        meta_path.write_text(json.dumps(asdict(meta)))
        return materialized, meta

    def load(
        self, name: str, spark: SparkSession, fingerprint: str | None = None
    ) -> tuple[DataFrame, FeatureSetMetadata]:
        """Load a previously materialized feature set — the newest
        snapshot, or the exact ``fingerprint`` version (the handle
        ``FeatureSetMetadata.input_fingerprint`` records)."""
        metas = [m for m in self.list_feature_sets() if m.name == name]
        if fingerprint is not None:
            metas = [m for m in metas if m.input_fingerprint == fingerprint]
        if not metas:
            raise KeyError(
                f"no materialized snapshot for feature set {name!r}"
                + (f" fingerprint {fingerprint!r}" if fingerprint else "")
            )
        meta = max(metas, key=lambda m: m.created_at)
        path = self.base / name / meta.input_fingerprint / "data"
        return spark.read.parquet(str(path)), meta

    def list_feature_sets(self) -> list[FeatureSetMetadata]:
        return [
            FeatureSetMetadata(**json.loads(p.read_text()))
            for p in sorted(self.base.glob("*/*/_meta.json"))
        ]
