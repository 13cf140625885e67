"""Golden-value tests ported from the reference
(/root/reference/tests/core/test_summarize_by_time.py) — same inputs, same
expected frames, run through the Spark engine."""

from __future__ import annotations

import pandas as pd

from pytimetk_spark import summarize_by_time
from tests.conftest import assert_pdf_equal


def test_single_agg_month_end_labels(sbt_data):
    result = summarize_by_time(sbt_data, "date", "value", freq="M", agg_func="sum")
    expected = pd.DataFrame(
        {"date": pd.to_datetime(["2020-01-31", "2020-02-29"]), "value": [496, 1334]}
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_agg_list_naming(sbt_data):
    result = summarize_by_time(
        sbt_data, "date", "value", freq="M", agg_func=["sum", "mean"]
    )
    expected = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-31", "2020-02-29"]),
            "value_sum": [496, 1334],
            "value_mean": [16.0, 46.0],
        }
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_grouped_wide_month_start(sbt_data):
    result = summarize_by_time(
        sbt_data,
        "date",
        "value",
        group_cols=["groups"],
        freq="MS",
        agg_func="sum",
        wide_format=True,
    )
    expected = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-02-01"]),
            "value_Group_1": [256, 644],
            "value_Group_2": [240, 690],
        }
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_grouped_wide_quantile_tuple(sbt_data):
    result = summarize_by_time(
        sbt_data,
        "date",
        "value",
        group_cols=["groups"],
        freq="MS",
        agg_func=["sum", ("q25", 0.25)],
        wide_format=True,
    )
    expected = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-02-01"]),
            "value_q25_Group_1": [8.5, 39.5],
            "value_q25_Group_2": [9.0, 39.0],
            "value_sum_Group_1": [256, 644],
            "value_sum_Group_2": [240, 690],
        }
    )
    pdf = result.toPandas()
    assert_pdf_equal(pdf[sorted(pdf.columns)][["date", *sorted(c for c in pdf.columns if c != "date")]],
                     expected[["date", *sorted(c for c in expected.columns if c != "date")]])


def test_grouped_wide_lambda_agg(sbt_data):
    """Reference golden test_summarize_by_time.py:129-152 — callable agg."""
    result = summarize_by_time(
        sbt_data,
        "date",
        "value",
        group_cols=["groups"],
        freq="MS",
        agg_func=["sum", ("q25", lambda s: s.quantile(0.25))],
        wide_format=True,
    )
    expected = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-02-01"]),
            "value_q25_Group_1": [8.5, 39.5],
            "value_q25_Group_2": [9.0, 39.0],
            "value_sum_Group_1": [256, 644],
            "value_sum_Group_2": [240, 690],
        }
    )
    pdf = result.toPandas()
    cols = ["date", *sorted(c for c in pdf.columns if c != "date")]
    assert_pdf_equal(pdf[cols], expected[cols])


def test_grouped_wide_lambda_agg_names_like_sql_path(spark):
    """A group value that itself ends in ``_{value}_{agg}`` keeps its
    full name in the wide columns, on the callable path as on the SQL
    path: positional renaming, no suffix matching."""
    pdf = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-01-02"] * 2),
            "g": ["east_v_q25", "east_v_q25", "west", "west"],
            "v": [1.0, 3.0, 5.0, 9.0],
        }
    )
    sdf = spark.createDataFrame(pdf)

    def wide(agg):
        return summarize_by_time(
            sdf, "date", "v", group_cols=["g"], freq="MS",
            agg_func=[agg], wide_format=True,
        ).toPandas()

    got = wide(("q25", lambda s: s.quantile(0.25)))
    want = wide(("q25", 0.25))
    assert list(got.columns) == ["date", "v_q25_east_v_q25", "v_q25_west"]
    assert_pdf_equal(got, want)


def test_grouped_long(sbt_data):
    result = summarize_by_time(
        sbt_data, "date", "value", group_cols=["groups"], freq="MS", agg_func="sum"
    )
    expected = pd.DataFrame(
        {
            "groups": ["Group_1", "Group_1", "Group_2", "Group_2"],
            "date": pd.to_datetime(["2020-01-01", "2020-02-01"] * 2),
            "value": [256, 644, 240, 690],
        }
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_dense_buckets_fillna(spark):
    """Empty in-range buckets appear with fillna value (pandas resample
    emits them; reference fillna default 0)."""
    pdf = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-01-03"]),
            "value": [1.0, 5.0],
        }
    )
    result = summarize_by_time(
        spark.createDataFrame(pdf), "date", "value", freq="D", agg_func="sum"
    )
    expected = pd.DataFrame(
        {
            "date": pd.to_datetime(["2020-01-01", "2020-01-02", "2020-01-03"]),
            "value": [1.0, 0.0, 5.0],
        }
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_first_last_nunique_median(spark):
    """Order-dependent and distinct aggs vs pandas resample."""
    import numpy as np

    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2020-01-01", periods=60, freq="7h"),
            "value": np.arange(60.0) % 7,
        }
    )
    out = summarize_by_time(
        spark.createDataFrame(pdf), "date", "value", freq="D",
        agg_func=["first", "last", "nunique", "median"],
    ).toPandas()
    exp = (
        pdf.set_index("date")
        .resample("D")["value"]
        .agg(["first", "last", "nunique", "median"])
        .reset_index()
    )
    np.testing.assert_allclose(out["value_first"], exp["first"])
    np.testing.assert_allclose(out["value_last"], exp["last"])
    assert (out["value_nunique"] == exp["nunique"]).all()
    np.testing.assert_allclose(out["value_median"], exp["median"])


def test_weekly_end_labels(spark):
    """pandas resample('W') labels Sundays (right-closed, right-labeled)."""
    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2020-01-01", periods=14, freq="D"),  # Wed start
            "value": [1.0] * 14,
        }
    )
    sdf = spark.createDataFrame(pdf)
    result = summarize_by_time(sdf, "date", "value", freq="W", agg_func="sum")
    expected = (
        pdf.set_index("date").resample("W").sum().reset_index()
    )
    assert_pdf_equal(result.toPandas(), expected)


def test_parity_with_pandas_resample_many_freqs(spark):
    """Differential oracle vs pandas resample across label semantics."""
    pdf = pd.DataFrame(
        {
            "date": pd.date_range("2021-02-15 03:17:00", periods=500, freq="7h"),
            "value": [float(i % 17) for i in range(500)],
        }
    )
    sdf = spark.createDataFrame(pdf)
    for freq in ["D", "2D", "h", "12h", "W", "W-WED", "M", "MS", "Q", "QS", "Y", "YS", "15min"]:
        result = summarize_by_time(sdf, "date", "value", freq=freq, agg_func="sum")
        pandas_freq = freq.replace("M", "ME").replace("Q", "QE").replace("Y", "YE") if freq in ("M", "Q", "Y") else freq
        # fixed-duration multiples: our bins are epoch-aligned (pandas
        # origin='epoch', same as Series.dt.floor — the 7d-tier primitive);
        # pandas resample's default origin='start_day' differs for "2D".
        origin = "epoch" if freq in ("2D", "12h", "15min") else "start_day"
        expected = (
            pdf.set_index("date")
            .resample(pandas_freq, origin=origin)
            .sum()
            .fillna(0)
            .reset_index()
        )
        assert_pdf_equal(result.toPandas(), expected), freq
