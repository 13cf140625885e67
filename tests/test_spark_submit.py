"""The actual deployment path: `spark-submit --py-files
dist/pytimetk_spark.zip jobs/rollup_job.py` as a REAL subprocess —
not run_rollup called in-process. Asserts the north-rule contract
end-to-end: the zip resolves imports on a bare spark-submit driver,
tiers land in the store with per-partition manifests, and a second
submission resumes from checkpoints (writes nothing, reports
resumed_skipped)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest


SPARK_SUBMIT = shutil.which("spark-submit")
REPO = Path(__file__).resolve().parent.parent


def _run_job(zip_path, src, store, extra=()):
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from --py-files
    cmd = [
        SPARK_SUBMIT, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        "jobs/rollup_job.py",
        "--source", src, "--store", store, "--tiers", "1h,1d",
        *extra,
    ]
    out = subprocess.run(
        cmd, capture_output=True, text=True, timeout=420, cwd=REPO,
        env=env,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(l) for l in out.stdout.splitlines()
             if l.startswith("{")]
    assert lines, out.stdout[-2000:]
    return lines


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_rollup_job_via_spark_submit(spark, tmp_path):
    from pytimetk_spark.sources.webpages import generate_webpages
    from tools.make_pyfiles_zip import build

    src = str(tmp_path / "crawl")
    generate_webpages(
        spark, n_urls=200, crawls_per_url=6, days=4, n_domains=10, seed=7
    ).write.mode("overwrite").parquet(src)
    zip_path = build()
    store = str(tmp_path / "store")

    lines = _run_job(zip_path, src, store)
    summary = [l for l in lines if "written_partitions" in l][-1]
    assert summary["written_partitions"] > 0
    per_part = [l for l in lines if "tier" in l]
    assert {l["tier"] for l in per_part} == {"1h", "1d"}
    assert all(l["rows"] > 0 and l["points_per_sec"] > 0 for l in per_part)
    # tiers actually landed and are readable by an independent session
    h1 = spark.read.parquet(f"{store}/tier=1h")
    assert h1.count() == sum(l["rows"] for l in per_part if l["tier"] == "1h")

    # second submission: checkpoint resume — nothing re-written, and the
    # new JVM reads the per-day fingerprints from the file-set memo (a miss
    # would replace the memo file)
    memo = os.path.join(store, "_manifests", "_source_days.json")
    before = os.stat(memo)
    lines2 = _run_job(zip_path, src, store)
    summary2 = [l for l in lines2 if "written_partitions" in l][-1]
    assert summary2["written_partitions"] == 0
    assert summary2["resumed_skipped"] is True
    after = os.stat(memo)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
