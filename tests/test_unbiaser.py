"""Unbiaser oracles — MA residuals vs pandas rolling(min_periods=1) and EMA
residuals BIT-EXACT vs pandas ewm (the reference's own implementation,
app/plugins/plugin_unbiaser.py:89-129)."""

import numpy as np
import pandas as pd
from conftest import SHIFT_1969_S
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
import pytest

from preprocessor_spark.operators.unbiaser import Unbiaser

RNG = np.random.default_rng(42)


@pytest.fixture(scope="module")
def series_pdf():
    n = 400
    ts = pd.date_range("2020-01-01", periods=n, freq="min")
    return pd.DataFrame(
        {
            "ts": list(ts) * 2,
            "source": ["s0"] * n + ["s1"] * n,
            "v": np.concatenate(
                [RNG.normal(100, 5, n).cumsum() / 50, RNG.normal(0, 1, n)]
            ),
        }
    )


def _ref_ma(x: pd.Series, w: int) -> pd.Series:
    # reference loop semantics (plugin_unbiaser.py:103-107): trailing window
    # incl. current row, partial at head == rolling(w, min_periods=1).mean()
    return x - x.rolling(window=w, min_periods=1).mean()


def test_ma_unbias_matches_reference(spark, series_pdf):
    df = spark.createDataFrame(series_pdf)
    out = (
        Unbiaser(method="ma", window_size=5, series_cols=["source"], value_cols=["v"])
        .transform(df)
        .toPandas()
        .sort_values(["source", "ts"])
    )
    for src, grp in series_pdf.groupby("source"):
        expected = _ref_ma(grp.sort_values("ts")["v"], 5)
        got = out[out["source"] == src]["v"]
        np.testing.assert_allclose(got.values, expected.values, atol=1e-10)


def test_ma_partial_leading_windows(spark):
    # first row residual must be exactly 0 (window = itself)
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=6, freq="min"),
            "source": ["s0"] * 6,
            "v": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        Unbiaser(method="ma", window_size=3, series_cols=["source"], value_cols=["v"])
        .transform(df)
        .toPandas()
        .sort_values("ts")["v"]
        .values
    )
    np.testing.assert_allclose(out, [0.0, 5.0, 10.0, 10.0, 10.0, 10.0], atol=1e-12)


def test_ema_bitexact_vs_pandas(spark, series_pdf):
    df = spark.createDataFrame(series_pdf).repartition(4)
    out = (
        Unbiaser(method="ema", ema_alpha=0.1, series_cols=["source"], value_cols=["v"])
        .transform(df)
        .toPandas()
        .sort_values(["source", "ts"])
    )
    for src, grp in series_pdf.groupby("source"):
        x = grp.sort_values("ts")["v"]
        expected = x - x.ewm(alpha=0.1, adjust=True).mean()
        got = out[out["source"] == src]["v"]
        # bit-exact: same pandas ewm kernel runs inside applyInPandas
        assert np.array_equal(got.values, expected.values)


def test_ma_chunked_equals_plain(spark):
    """Scale-path chunked MA must be bit-identical to the plain window,
    including across time gaps (dense positional chunking)."""
    import numpy as np
    from preprocessor_spark.synth import token_sequences

    corpus = token_sequences(spark, 20000).withColumn(
        "v", F.col("n_tok").cast("double")
    )
    kw = dict(
        method="ma",
        window_size=5,
        series_cols=["source"],
        value_cols=["v"],
        tiebreak_cols=["doc_id"],
    )
    plain = (
        Unbiaser(**kw)
        .transform(corpus)
        .select("doc_id", "v")
        .toPandas()
        .sort_values("doc_id")
    )
    chunked = (
        Unbiaser(**kw, chunk_rows=500)
        .transform(corpus)
        .select("doc_id", "v")
        .toPandas()
        .sort_values("doc_id")
    )
    assert len(plain) == len(chunked)
    assert np.array_equal(plain["v"].values, chunked["v"].values)


def test_ema_chunked_matches_pandas(spark):
    """Chunked-carry EMA scale path ≈ single-pass pandas ewm (1e-10 rel;
    chunk seams reorder float summation so bit-exactness isn't claimed —
    the default per-series path stays bit-exact)."""
    import numpy as np
    from preprocessor_spark.synth import token_sequences

    corpus = token_sequences(spark, 6000).withColumn(
        "v", F.col("n_tok").cast("double")
    )
    kw = dict(
        method="ema",
        ema_alpha=0.1,
        series_cols=["source"],
        value_cols=["v"],
        tiebreak_cols=["doc_id"],
    )
    exact = (
        Unbiaser(**kw)
        .transform(corpus)
        .select("doc_id", "v")
        .toPandas()
        .sort_values("doc_id")
    )
    chunked = (
        Unbiaser(**kw, chunk_rows=300)
        .transform(corpus)
        .select("doc_id", "v")
        .toPandas()
        .sort_values("doc_id")
    )
    assert len(exact) == len(chunked)
    np.testing.assert_allclose(
        chunked["v"].values, exact["v"].values, rtol=1e-10, atol=1e-12
    )


def test_ma_chunked_plan_has_single_exchange(spark):
    """The chunked MA scale path must cost exactly ONE full-width shuffle:
    chunk ids come from driver-side bucket packing + a broadcast join, not
    from a positions window (which added a second Exchange)."""
    from preprocessor_spark.synth import token_sequences

    corpus = token_sequences(spark, 5000).withColumn(
        "v", F.col("n_tok").cast("double")
    )
    out = Unbiaser(
        method="ma",
        window_size=5,
        series_cols=["source"],
        value_cols=["v"],
        tiebreak_cols=["doc_id"],
        chunk_rows=300,
    ).transform(corpus)
    plan = out._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{plan}"
    assert "BroadcastExchange" in plan  # the chunk-assignment join


def test_ma_chunked_tail_spans_buckets(spark):
    """Window larger than single-bucket counts: the tail suffix must span
    multiple buckets and stay exact."""
    import numpy as np
    import pandas as pd

    n = 400
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=n, freq="s"),
            "doc_id": [f"d{i:05d}" for i in range(n)],
            "v": np.random.default_rng(5).normal(size=n),
        }
    )
    df = spark.createDataFrame(pdf)
    kw = dict(method="ma", window_size=60, value_cols=["v"], tiebreak_cols=["doc_id"])
    plain = (
        Unbiaser(**kw).transform(df).select("doc_id", "v").toPandas().sort_values("doc_id")
    )
    chunked = (
        Unbiaser(**kw, chunk_rows=50)
        .transform(df)
        .select("doc_id", "v")
        .toPandas()
        .sort_values("doc_id")
    )
    assert np.array_equal(plain["v"].values, chunked["v"].values)


def test_ema_integer_value_columns_yield_double_residuals(spark):
    """EMA residuals are fractional: reusing the input schema for the
    pandas path made integer value columns an Arrow unsafe cast (error, or
    silent truncation with safe checks off) and disagreed with MA, which
    yields doubles. Both EMA paths must promote ints to double."""
    import pandas as pd
    import pyspark.sql.functions as F

    from preprocessor_spark.operators.unbiaser import Unbiaser

    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(40)], "ts bigint, v int"
    ).withColumn("ts", F.timestamp_seconds("ts"))
    s = pd.Series([(i * 7) % 13 for i in range(40)], dtype=float)
    for chunk in (None, 11):
        u = Unbiaser(
            method="ema", value_cols=["v"], tiebreak_cols=[], chunk_rows=chunk
        )
        out = u.transform(df)
        assert dict(out.dtypes)["v"] == "double"
        got = [r["v"] for r in out.orderBy("ts").collect()]
        exp = (s - s.ewm(alpha=u.ema_alpha, adjust=True).mean()).tolist()
        assert max(abs(a - b) for a, b in zip(got, exp)) < 1e-9


def test_ema_chunked_keeps_null_series_keys(spark):
    """A null series key is a legitimate group: the chunked scale path's
    carry join must be null-safe, or every null-keyed row silently
    vanishes from the output while the default path returns them."""
    import numpy as np
    from preprocessor_spark.synth import token_sequences

    corpus = (
        token_sequences(spark, 4000)
        .withColumn(
            "source",
            F.when(F.col("source") == "s1", F.lit(None)).otherwise(
                F.col("source")
            ),
        )
        .withColumn("v", F.col("n_tok").cast("double"))
    )
    n_null = corpus.filter(F.col("source").isNull()).count()
    assert n_null > 0
    kw = dict(
        method="ema",
        ema_alpha=0.1,
        series_cols=["source"],
        value_cols=["v"],
        tiebreak_cols=["doc_id"],
    )
    exact = (
        Unbiaser(**kw).transform(corpus).select("doc_id", "v").toPandas()
    ).sort_values("doc_id")
    chunked = (
        Unbiaser(**kw, chunk_rows=300)
        .transform(corpus)
        .select("doc_id", "v")
        .toPandas()
    ).sort_values("doc_id")
    assert len(chunked) == len(exact) == corpus.count()
    np.testing.assert_allclose(
        chunked["v"].values, exact["v"].values, rtol=1e-10, atol=1e-12
    )


_MA_BASE = dict(seed=0, rows=600, sources=3, null_frac=0.3, null_source=True,
                shift_s=SHIFT_1969_S, sub_second=True, distinct_s=50, window=5)
_ma_cases = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**16),
        "rows": st.integers(1, 1_000),
        "sources": st.integers(1, 4),
        "null_frac": st.sampled_from([0.0, 0.3, 1.0]),
        "null_source": st.booleans(),
        "shift_s": st.sampled_from([0, SHIFT_1969_S]),
        "sub_second": st.booleans(),
        # few distinct times: equal ts, told apart by doc_id
        "distinct_s": st.sampled_from([3, 50, 86_400]),
        "window": st.sampled_from([2, 5]),
    }
)


@settings(max_examples=4, derandomize=True, deadline=None)
@given(case=_ma_cases)
@example(case=_MA_BASE)
@example(case={**_MA_BASE, "shift_s": 0, "null_source": False, "null_frac": 0.0, "rows": 3})
def test_ma_local_equals_spark_window_bit_for_bit(spark, case):
    """The driver MA (``ma_local``) gives the residuals Spark's window
    (``_ma``) gives through ``toArrow``: the same rows in the window's
    order, the same float64 bits and nulls in the same places. The rows
    hold null values, a null source, a series shorter than the window and
    one of a single row, sub-second times before 1970 and equal times told
    apart by doc_id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    rng = np.random.default_rng(case["seed"])
    n = case["rows"]
    us = 1_577_836_800_000_000 - case["shift_s"] * 1_000_000 + rng.integers(
        0, case["distinct_s"], n
    ) * 1_000_000
    if case["sub_second"]:
        us = us + rng.integers(0, 1_000_000, n)
    names = [f"s{i}" for i in range(case["sources"])]
    source = [names[k] for k in rng.integers(0, len(names), n)]
    if case["null_source"]:
        source = [None if rng.random() < 0.1 else s for s in source]
    v = [None if rng.random() < case["null_frac"] else float(x) for x in rng.normal(0, 2, n)]
    # a series shorter than the window, and one of a single row
    extra = [("short", int(us[0]) + k, 1.5 * k) for k in range(case["window"] - 1)]
    extra.append(("single", int(us[0]), -0.25))
    rows = [
        (s, int(t), f"d{i}", x)
        for i, (s, t, x) in enumerate([*zip(source, us.tolist(), v), *extra])
    ]
    df = spark.createDataFrame(rows, "source string, us long, doc_id string, v double").select(
        "source", F.timestamp_micros("us").alias("ts"), "doc_id", "v"
    )
    unb = Unbiaser(
        method="ma",
        window_size=case["window"],
        series_cols=["source"],
        value_cols=["v"],
        tiebreak_cols=["doc_id"],
    )
    want = unb._ma(df).toArrow()
    keys = [(c, "ascending") for c in ("source", "ts", "doc_id")]
    want = want.take(pc.sort_indices(want, keys, null_placement="at_start"))
    got = unb.ma_local(df.toArrow())
    assert got.schema == want.schema
    for c in ("source", "ts", "doc_id"):
        assert got[c].equals(want[c]), c
    assert pc.is_null(got["v"]).equals(pc.is_null(want["v"]))

    def bits(col):
        return pc.fill_null(col, 0.0).to_numpy().view(np.int64)

    assert (bits(got["v"]) == bits(want["v"])).all()
    assert got.num_rows == len(rows)
    assert pa.types.is_float64(got.schema.field("v").type)
