"""SparkSession factory tuned for this engine, and the Python-worker hook
every UDF body of the package calls (``drop_spark_zip_finders``).

All engine semantics assume ``spark.sql.session.timeZone=UTC`` (timestamp ↔
epoch arithmetic in the tier-bucketing expressions is tz-naive-UTC, matching
the reference's tz-naive pandas kernels).
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

# Spark's codegen class cache defaults to 100 entries, fewer than one
# rollup + curation cycle generates: a bulk rollbench cycle recompiled
# about 16 classes in its rollup and 35 in its MinHash/repetition slot,
# all compiled the cycle before and evicted by the LRU (run alone, the
# curation slot compiles 0 classes after warm-up). 1000 holds a cycle.
CODEGEN_CACHE_ENTRIES = 1000

_GIB = 1 << 30

# Spark's own archives on a Python worker's path (PythonUtils.sparkPythonPath):
# $SPARK_HOME/python/lib/pyspark.zip, py4j-<version>-src.zip and the
# jars/spark-core_<version>.jar that holds the JVM side
_SPARK_ZIP = re.compile(
    r"[/\\](?:python[/\\]lib[/\\](?:pyspark|py4j-[^/\\]*-src)\.zip"
    r"|jars[/\\]spark-core_[^/\\]*\.jar)$"
)


def drop_spark_zip_finders() -> None:
    """Drop the cached import finders over Spark's own archives. Call it
    first in every Python UDF body (``mapInArrow``, ``mapInPandas``,
    ``applyInPandas``, ``applyInPandasWithState``).

    Before every task a Python worker calls ``importlib.invalidate_caches()``
    (``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.11 that
    re-reads an archive's whole directory once per cached finder over it. A
    reused worker holds about 12 finders over pyspark.zip (1,328 entries)
    and 2 over the spark-core jar: 0.19-0.23 s per task on a 4-core host.
    These archives do not change while a worker lives, and
    ``zipimport._zip_directory_cache`` keeps the parsed directory, so a later
    import builds a new finder without a re-read. Finders over any other zip
    (``--py-files``, ``addPyFile``) keep their per-task refresh. Only the
    first task of a fresh worker pays."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        archive = getattr(finder, "archive", None)
        if archive and _SPARK_ZIP.search(archive):
            cache.pop(path, None)


def default_driver_memory(total_bytes: int | None = None) -> str:
    """Driver heap for local mode: half of physical memory, capped at 16g
    and at least 1g. In local mode the driver heap IS the executor heap,
    and shuffle files may live in RAM-backed /dev/shm next to it, so a
    fixed 16g overcommits a 16 GiB host. ``total_bytes`` defaults to the
    host's physical memory (MemTotal); when that cannot be read it is
    16g."""
    if total_bytes is None:
        try:
            total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (ValueError, OSError, AttributeError):
            return "16g"
    mib = min(max(total_bytes // 2, _GIB), 16 * _GIB) >> 20
    return f"{mib}m"


def get_spark(
    app_name: str = "pytimetk_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[*]" and cpus:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match local cores, not the 200 default: avoids tiny-partition
        # overhead at test scale; on a real cluster this is set per job.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = os.cpu_count() or 32 if n == "*" else int(n)
    # shuffle/spill dir: prefer RAM-backed tmpfs when present (the local-mode
    # analogue of per-executor NVMe — disk /tmp serializes 32 concurrent
    # shuffle writers on this VM); SPARK_LOCAL_DIRS overrides.
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if not local_dir and os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        # single-JVM local mode: driver heap IS the executor heap. Long
        # benches accumulate broadcast relations and shuffle state across
        # queries (full-GC stalls under an 8g ceiling produced rare 10×+
        # outliers on late queries), so take as much as the host can
        # spare; SPARK_DRIVER_MEMORY overrides
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory(),
        )
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
