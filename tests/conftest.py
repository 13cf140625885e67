"""Shared Spark fixture for the test suite.

Session-scoped local[4] SparkSession with UTC session timezone and Arrow
enabled — small core count keeps test latency low; scale behavior is
exercised by tools/scaling_bench.py at local[N] vs local[4N].
"""

from __future__ import annotations

import pandas as pd
import pytest

from pytimetk_spark.config import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytimetk_spark-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture
def sbt_data(spark):
    """pytimetk's summarize_by_time fixture —
    /root/reference/tests/core/test_summarize_by_time.py:20-28."""
    pdf = pd.DataFrame(
        {
            "date": pd.date_range(start="1/1/2020", periods=60),
            "value": list(range(1, 61)),
            "groups": ["Group_1", "Group_2"] * 30,
        }
    )
    return spark.createDataFrame(pdf)


def assert_pdf_equal(actual: pd.DataFrame, expected: pd.DataFrame, **kwargs):
    pd.testing.assert_frame_equal(
        actual.reset_index(drop=True),
        expected.reset_index(drop=True),
        check_dtype=False,
        **kwargs,
    )
