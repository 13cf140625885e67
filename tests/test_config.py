"""SparkSession factory defaults."""

from __future__ import annotations

import os

from pytimetk_spark.config import CODEGEN_CACHE_ENTRIES, default_driver_memory

GIB = 1 << 30


def test_default_driver_memory_is_half_of_host_capped():
    assert default_driver_memory(15 * GIB) == "7680m"
    assert default_driver_memory(128 * GIB) == "16384m"  # capped at 16g
    assert default_driver_memory(1 * GIB) == "1024m"  # floor of 1g
    total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    assert default_driver_memory() == default_driver_memory(total)


def test_session_uses_sized_heap_and_codegen_cache(spark):
    conf = spark.sparkContext.getConf()
    want = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    assert conf.get("spark.driver.memory") == want
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )
