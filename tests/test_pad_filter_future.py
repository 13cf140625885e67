"""Golden tests for pad_by_time / filter_by_time / future_frame, ported from
/root/reference/tests/core/test_pad_by_time.py and the reference docstrings."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pytimetk_spark import (
    filter_by_time,
    future_frame,
    make_future_timeseries,
    pad_by_time,
    parse_end_date,
)
from tests.conftest import assert_pdf_equal


def test_pad_single_series(spark):
    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2022-01-01", periods=5, freq="D"),
            "value": [1.0, 2, 3, 4, 5],
        }
    )
    out = pad_by_time(spark.createDataFrame(pdf), "date", freq="D", sort=True).toPandas()
    assert_pdf_equal(out, pdf)


def test_pad_single_series_with_gap(spark):
    pdf = pd.DataFrame(
        {"date": pd.to_datetime(["2022-01-01", "2022-01-04"]), "value": [1.0, 4.0]}
    )
    out = pad_by_time(spark.createDataFrame(pdf), "date", freq="D", sort=True).toPandas()
    expected = pd.DataFrame(
        {
            "date": pd.date_range("2022-01-01", periods=4, freq="D"),
            "value": [1.0, np.nan, np.nan, 4.0],
        }
    )
    assert_pdf_equal(out, expected)


def test_pad_grouped_global_bounds(spark):
    """Reference golden (test_pad_by_time.py:53-84): groups pad to the GLOBAL
    range."""
    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2022-01-01", periods=6, freq="D"),
            "value": [1.0, 2, 3, 4, 5, 6],
            "group": ["A", "B", "A", "B", "B", "A"],
        }
    )
    out = pad_by_time(
        spark.createDataFrame(pdf), "date", freq="D", group_cols=["group"], sort=True
    ).toPandas()
    expected = pd.DataFrame(
        {
            "group": ["A"] * 6 + ["B"] * 6,
            "date": list(pd.date_range("2022-01-01", periods=6)) * 2,
            "value": [1, np.nan, 3, np.nan, np.nan, 6, np.nan, 2, np.nan, 4, 5, np.nan],
        }
    )
    assert_pdf_equal(out, expected)


def test_pad_fillna(spark):
    pdf = pd.DataFrame(
        {"date": pd.to_datetime(["2022-01-01", "2022-01-03"]), "value": [1.0, 3.0]}
    )
    out = pad_by_time(
        spark.createDataFrame(pdf), "date", freq="D", fillna=0.0, sort=True
    ).toPandas()
    assert out["value"].tolist() == [1.0, 0.0, 3.0]


def test_parse_end_date_granularity():
    """Reference datetime_helpers.py:626-646 quirks."""
    assert parse_end_date("2024") == pd.Timestamp("2024-12-31")
    assert parse_end_date("2024-02") == pd.Timestamp("2024-02-29")
    assert parse_end_date("2024-02-05") == pd.Timestamp("2024-02-05 23:59:59")
    assert parse_end_date("2024-02-05 13") == pd.Timestamp("2024-02-05 13:59:59")
    assert parse_end_date("2024-02-05 13:45") == pd.Timestamp("2024-02-05 13:45:59")


def test_filter_by_time(spark):
    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2024-01-15", periods=60, freq="D"),
            "value": range(60),
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = filter_by_time(sdf, "date", "2024-02-01", "2024-02").toPandas()
    assert out["date"].min() == pd.Timestamp("2024-02-01")
    assert out["date"].max() == pd.Timestamp("2024-02-29")
    assert len(out) == 29


def test_make_future_timeseries(spark):
    pdf = pd.DataFrame(
        {"date": pd.date_range("2022-01-01", periods=5, freq="D"), "value": [1.0] * 5}
    )
    out = make_future_timeseries(
        spark.createDataFrame(pdf), "date", length_out=3, freq="D"
    ).toPandas()
    expected = pd.DataFrame({"date": pd.date_range("2022-01-06", periods=3, freq="D")})
    assert_pdf_equal(out.sort_values("date"), expected)


def test_future_frame_grouped(spark):
    pdf = pd.DataFrame(
        {
            "id": ["A"] * 3 + ["B"] * 3,
            "date": list(pd.date_range("2022-01-01", periods=3, freq="D")) * 2,
            "value": [1.0, 2, 3, 4, 5, 6],
        }
    )
    out = future_frame(
        spark.createDataFrame(pdf), "date", length_out=2, freq="D", group_cols=["id"]
    ).toPandas()
    assert len(out) == 10
    a = out[out["id"] == "A"]
    assert a["date"].max() == pd.Timestamp("2022-01-05")
    assert a["value"].isna().sum() == 2


def test_future_frame_monthly(spark):
    pdf = pd.DataFrame(
        {"date": pd.date_range("2022-01-01", periods=4, freq="MS"), "value": [1.0] * 4}
    )
    out = make_future_timeseries(
        spark.createDataFrame(pdf), "date", length_out=2, freq="MS"
    ).toPandas()
    assert sorted(out["date"]) == list(pd.to_datetime(["2022-05-01", "2022-06-01"]))


def test_pad_by_time_group_constant_ffill(spark):
    """Reference pad.py:431-438: columns constant WITHIN a group (by
    nunique(dropna=False)==1) are filled into inserted rows; varying
    columns stay NULL."""
    pdf = pd.DataFrame(
        {
            "date": pd.to_datetime(
                ["2022-01-01", "2022-01-03", "2022-01-02", "2022-01-04"]
            ),
            "group": ["A", "A", "B", "B"],
            "value": [1.0, 3.0, 2.0, 4.0],      # varies per group
            "label": ["x", "x", "y", "y"],       # constant per group
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = (
        pad_by_time(sdf, "date", freq="D", group_cols=["group"])
        .toPandas()
        .sort_values(["group", "date"])
        .reset_index(drop=True)
    )
    # global bounds → both groups span 01-01..01-04 (4 rows each)
    assert len(out) == 8
    a = out[out["group"] == "A"]
    assert a["label"].tolist() == ["x"] * 4          # constant filled
    assert a["value"].isna().sum() == 2              # varying stays NULL
