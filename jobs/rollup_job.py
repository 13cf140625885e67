"""spark-submit entry point for the tier rollup pipeline (north rule:
"jobs run via spark-submit --py-files, resume from per-partition
checkpoints").

Usage:
  python tools/make_pyfiles_zip.py
  spark-submit --master local[32] \
      --py-files dist/pytimetk_spark.zip \
      jobs/rollup_job.py --source <parquet_or_table> --store <dir> \
      [--tiers 1h,1d,7d] [--salt 8] [--retention]

The job is idempotent: re-submitting after a crash skips source-day
partitions whose manifest fingerprints match (rollup/store.py). The
per-day fingerprints are memoized in the store by the source's file set
(the sorted ``(uri, size, mtime_ns)`` of its files, its schema, the
timestamp column and the session time zone), so a re-submit over an
unchanged ``--source`` directory starts no Spark job for the rollup. An
in-place rewrite that keeps a file's size and mtime is not detected; a
non-``file:`` source always takes the fingerprint scan.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="parquet path of the crawl table")
    ap.add_argument("--store", required=True, help="tier store directory")
    ap.add_argument("--tiers", default="1h,1d,7d")
    ap.add_argument("--salt", type=int, default=None, help="salt partials for hot urls")
    ap.add_argument(
        "--batch-days", type=int, default=None,
        help="checkpoint granularity: process pending days in chunks of N "
        "(default: all pending days in one aggregation job)",
    )
    ap.add_argument("--retention", action="store_true", help="apply retention policy after rollup")
    ap.add_argument("--url-col", default="url")
    ap.add_argument("--ts-col", default="warc_ts")
    args = ap.parse_args()

    # imports AFTER spark-submit ships the zip (module resolution via
    # --py-files at executor AND driver)
    from pytimetk_spark.rollup.retention import apply_retention
    from pytimetk_spark.rollup.store import TierStore, run_rollup

    spark = SparkSession.builder.appName("pytimetk-rollup").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    source = spark.read.parquet(args.source)
    store = TierStore(args.store)
    manifests = run_rollup(
        spark,
        source,
        store,
        url_col=args.url_col,
        ts_col=args.ts_col,
        value_col=F.length("text"),
        tiers=tuple(args.tiers.split(",")),
        salt_partials=args.salt,
        batch_days=args.batch_days,
    )
    for m in manifests:
        print(json.dumps({"tier": m.tier, "partition": m.partition,
                          "rows": m.output_rows, "points_per_sec": round(m.points_per_sec, 1)}))
    print(json.dumps({
        "written_partitions": len(manifests),
        "resumed_skipped": len(manifests) == 0,
    }))
    if args.retention:
        dropped = apply_retention(store)
        print(json.dumps({"retention_dropped": dropped}))
    spark.stop()


if __name__ == "__main__":
    main()
