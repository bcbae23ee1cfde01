"""Metadata/quality stats (A5-A12) + series analysis (W11-W13, M8, F3 MI)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from preprocessor_spark.functions import analysis as an
from preprocessor_spark.operators import metadata as md

RNG = np.random.default_rng(42)


@pytest.fixture(scope="module")
def pdf():
    n = 400
    return pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=n, freq="min"),
            "a": np.where(RNG.uniform(size=n) < 0.1, np.nan, RNG.normal(10, 2, n)),
            "b": RNG.normal(0, 1, n),
            "cat": RNG.choice(["x", "y", "z"], n),
        }
    )


def test_null_report(spark, pdf):
    df = spark.createDataFrame(pdf)
    row = md.null_report(df).collect()[0]
    assert row["n_rows"] == 400
    assert row["nulls_a"] == int(pdf["a"].isna().sum())
    assert row["nulls_b"] == 0
    assert 0 < row["completeness_pct"] < 100


def test_duplicate_row_stats(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"x": [1, 1, 2, 3], "y": ["a", "a", "b", "c"]})
    )
    row = md.duplicate_row_stats(df).collect()[0]
    assert row["n_rows"] == 4 and row["duplicate_rows"] == 1
    assert row["duplicate_pct"] == 25.0


def test_describe_stats_matches_pandas(spark, pdf):
    df = spark.createDataFrame(pdf)
    out = md.describe_stats(df, ["b"]).toPandas().set_index("stat")["value"]
    assert out["count"] == 400
    np.testing.assert_allclose(out["mean"], pdf["b"].mean(), atol=1e-10)
    np.testing.assert_allclose(out["std"], pdf["b"].std(ddof=1), atol=1e-10)
    np.testing.assert_allclose(
        out["median"], pdf["b"].quantile(0.5, interpolation="linear"), atol=1e-10
    )


def test_iqr_outliers(spark, pdf):
    df = spark.createDataFrame(pdf)
    row = md.iqr_outlier_counts(df, ["b"]).collect()[0]
    q1, q3 = pdf["b"].quantile([0.25, 0.75], interpolation="linear")
    iqr = q3 - q1
    expected = int(
        ((pdf["b"] < q1 - 1.5 * iqr) | (pdf["b"] > q3 + 1.5 * iqr)).sum()
    )
    assert row["outliers_b"] == expected


def test_text_column_stats(spark, pdf):
    df = spark.createDataFrame(pdf)
    out = md.text_column_stats(df, ["cat"]).collect()[0]
    assert out["n_unique"] == 3
    assert out["mode_value"] in ("x", "y", "z")


def test_validate_normalization(spark, pdf):
    from preprocessor_spark.operators import Normalizer, TemporalSplitter

    df = spark.createDataFrame(pdf.drop(columns="cat").dropna())
    labeled = TemporalSplitter().transform(df)
    norm = Normalizer(method="zscore", columns=["a", "b"])
    params = norm.fit(labeled.filter(F.col("split_id").isin("d1", "d2")))
    normed = norm.transform(labeled, params)
    rep = md.validate_normalization(normed, ["a", "b"]).toPandas()
    train = rep[rep["split_id"].isin(["d1", "d2"])]
    # training splits must satisfy mean≈0±0.1, std≈1±0.1 (A11 tolerances)
    # note: fit is on d1+d2 jointly, so per-split means can drift slightly —
    # check the invariant on the combined re-aggregation instead
    both = md.validate_normalization(
        normed.filter(F.col("split_id").isin("d1", "d2")).withColumn(
            "split_id", F.lit("train")
        ),
        ["a", "b"],
    ).collect()[0]
    assert both["within_tolerance"]
    assert len(train) == 2


def test_table_fingerprint_partition_invariant(spark, pdf):
    df = spark.createDataFrame(pdf.dropna())
    f1 = md.table_fingerprint(df).collect()[0]
    f2 = md.table_fingerprint(df.repartition(13)).collect()[0]
    assert f1["fingerprint"] == f2["fingerprint"]
    f3 = md.table_fingerprint(
        df.withColumn("a", F.col("a") + 1e-9)
    ).collect()[0]
    assert f3["fingerprint"] != f1["fingerprint"]


# ------------------------------------------------------------- analysis
def test_lag_diff_and_autocorr(spark):
    n = 300
    t = np.arange(n)
    v = np.sin(2 * np.pi * t / 24) + RNG.normal(0, 0.05, n)
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2020-01-01", periods=n, freq="h"), "src": "s", "v": v}
    )
    df = spark.createDataFrame(pdf)
    diffed = an.lag_diff(df, "v", series_cols=["src"]).toPandas().sort_values("ts")
    expected = pdf["v"].diff()
    np.testing.assert_allclose(
        diffed["v_diff"].values[1:], expected.values[1:], atol=1e-10
    )
    ac = an.autocorrelation(df, "v", series_cols=["src"], max_lag=3).collect()[0]
    for k in (1, 2, 3):
        expected_ac = pd.Series(v).autocorr(lag=k)
        np.testing.assert_allclose(ac[f"lag_{k}"], expected_ac, atol=1e-6)


def test_snr(spark):
    pdf = pd.DataFrame({"v": RNG.normal(100, 5, 1000)})
    df = spark.createDataFrame(pdf)
    row = an.snr_stats(df, "v").collect()[0]
    exp_snr = (pdf["v"].mean() / pdf["v"].std(ddof=1)) ** 2
    np.testing.assert_allclose(row["snr"], exp_snr, rtol=1e-5)
    np.testing.assert_allclose(
        row["channel_capacity_bits"], np.log2(1 + exp_snr), rtol=1e-5
    )


def test_fft_finds_dominant_period(spark):
    n = 512
    t = np.arange(n)
    v = np.sin(2 * np.pi * t * 8 / n)  # dominant at bin 8
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2020-01-01", periods=n, freq="min"), "src": "s", "v": v}
    )
    df = spark.createDataFrame(pdf)
    peaks = an.fft_top_peaks(df, "v", series_cols=["src"], top_k=1).collect()
    assert peaks[0]["freq_index"] == 8


def test_mutual_information_ranks_informative_feature(spark):
    n = 3000
    x1 = RNG.normal(0, 1, n)
    x2 = RNG.normal(0, 1, n)  # pure noise
    y = 2.0 * x1 + RNG.normal(0, 0.1, n)
    pdf = pd.DataFrame({"x1": x1, "x2": x2, "y": y})
    df = spark.createDataFrame(pdf)
    mi = an.mutual_information(df, ["x1", "x2"], "y").collect()
    scores = {r["feature"]: r["mi_bits"] for r in mi}
    assert scores["x1"] > scores["x2"] + 0.5  # informative ≫ noise
    sel = an.mutual_info_select(df, ["x1", "x2"], "y", top_n=1)
    assert sel == ["x1"]
    # the sketch-edged default and the exact-edged oracle shape must agree
    # on the feature ranking and closely on the estimate itself: the
    # approx_percentile rank error (≤1e-4) moves a bin edge by ≤ a few of
    # the 3000 rows, a sub-quantization perturbation of the histogram
    exact = {
        r["feature"]: r["mi_bits"]
        for r in an.mutual_information(
            df, ["x1", "x2"], "y", edge_method="exact"
        ).collect()
    }
    assert exact["x1"] > exact["x2"] + 0.5
    for f in ("x1", "x2"):
        assert abs(exact[f] - scores[f]) < 0.05


def test_text_column_stats_no_string_columns(spark):
    """An all-numeric table yields an empty result with the contract
    schema, not an IndexError."""
    from preprocessor_spark.operators.metadata import text_column_stats

    df = spark.range(5).selectExpr("id", "id * 2 AS v")
    out = text_column_stats(df)
    assert out.count() == 0
    assert out.columns == ["column", "n_unique", "mode_value", "avg_length"]


def test_validation_and_stats_on_empty_or_all_null_input(spark):
    """Empty/degenerate inputs must report violations or contract-shaped
    empties, not crash: validate_dataset raised TypeError summing SQL-NULL
    null-counts, iqr/describe built empty aggregate lists."""
    from preprocessor_spark.operators.metadata import (
        describe_stats,
        iqr_outlier_counts,
        validate_dataset,
    )

    empty = spark.createDataFrame([], "ts timestamp, v double")
    errs = validate_dataset(empty, {"min_rows": 10})
    assert any("Insufficient rows: 0" in e for e in errs)
    assert iqr_outlier_counts(empty).count() == 1  # zero-count contract row
    allnull = spark.range(5).select(
        F.lit(None).cast("double").alias("v")
    )
    assert iqr_outlier_counts(allnull).count() == 1
    strings_only = spark.createDataFrame([("a",)], "s string")
    out = describe_stats(strings_only)
    assert out.count() == 0
    assert out.columns == ["column", "stat", "value"]


def test_iqr_outliers_without_quantiles_keeps_per_column_schema(spark):
    """Columns with no quantiles (empty table, all-null column) report
    outliers_<col> = 0 in the same per-column schema as the normal path,
    next to the columns that do have outliers."""
    from preprocessor_spark.operators.metadata import iqr_outlier_counts

    empty = spark.createDataFrame([], "v double, w double")
    out = iqr_outlier_counts(empty)
    assert out.columns == ["outliers_v", "outliers_w"]
    assert out.collect()[0].asDict() == {"outliers_v": 0, "outliers_w": 0}
    mixed = spark.range(20).select(
        F.when(F.col("id") == 19, F.lit(1000.0))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.lit(None).cast("double").alias("w"),
    )
    row = iqr_outlier_counts(mixed, ["v", "w"]).collect()[0]
    assert row.asDict() == {"outliers_v": 1, "outliers_w": 0}
