"""Direct oracles for the distributed-positions machinery
(`operators/positions.py`) — until now it was tested only through its
consumers (splitter W6, chunked MA W1, trimmer P3, ACF screen W14).

Covers the determinism invariant (identical positions at any parallelism)
and the NULLS FIRST total-order contract, including null keys, duplicate
keys, and the all-null degenerate case."""

from collections import Counter

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from preprocessor_spark.operators.positions import (
    chunked_assignment,
    grouped_positions,
    grouped_positions_and_totals,
    time_profile,
)

RNG = np.random.default_rng(11)


def _random_pdf(n=400, null_frac=0.1):
    k = RNG.normal(0, 100, n).round(0)  # heavy duplicates after rounding
    k = np.where(RNG.random(n) < null_frac, np.nan, k)
    return pd.DataFrame(
        {"k": k, "rid": np.arange(n), "g": RNG.choice(["a", "b", None], n)}
    )


def _expected_positions(pdf, group_cols=()):
    """pandas oracle: 0-based rank under ORDER BY k ASC NULLS FIRST, rid —
    within each group."""
    out = {}
    key = lambda r: (0 if pd.isna(r.k) else 1, -np.inf if pd.isna(r.k) else r.k, r.rid)
    groups = pdf.groupby(list(group_cols), dropna=False) if group_cols else [((), pdf)]
    for _, gdf in groups:
        for pos, row in enumerate(sorted(gdf.itertuples(), key=key)):
            out[row.rid] = pos
    return out


def test_grouped_positions_matches_pandas_with_nulls_and_ties(spark):
    pdf = _random_pdf()
    expected = _expected_positions(pdf)
    for parts in (2, 16):
        df = spark.createDataFrame(pdf).repartition(parts)
        got = {
            r["rid"]: r["__pos"]
            for r in grouped_positions(df, ["k", "rid"]).collect()
        }
        assert got == expected, f"positions diverge at {parts} partitions"


def test_grouped_positions_per_group_and_totals(spark):
    pdf = _random_pdf()
    expected = _expected_positions(pdf, group_cols=("g",))
    df = spark.createDataFrame(pdf).repartition(8)
    positioned, totals = grouped_positions_and_totals(
        df, ["k", "rid"], group_cols=["g"]
    )
    got = {r["rid"]: r["__pos"] for r in positioned.collect()}
    assert got == expected
    # totals include the null stratum and sum to n
    counts = pdf.groupby("g", dropna=False)["rid"].count()
    assert sum(totals.values()) == len(pdf)
    assert totals[(None,)] == counts[counts.index.isna()].iloc[0]


def test_grouped_positions_all_null_keys_are_dense(spark):
    pdf = pd.DataFrame({"k": [np.nan] * 7, "rid": range(7)})
    df = spark.createDataFrame(pdf).repartition(3)
    pos = sorted(
        r["__pos"] for r in grouped_positions(df, ["k", "rid"]).collect()
    )
    assert pos == list(range(7))


def test_chunked_assignment_lags_match_global(spark):
    """lag(v, k) over (chunk) windows with carried tails must equal the
    global-window lag for every real row — nulls, duplicate keys, and tiny
    chunks forcing many boundaries."""
    pdf = _random_pdf(n=300, null_frac=0.05)
    pdf["v"] = RNG.normal(0, 1, len(pdf))
    df = spark.createDataFrame(pdf[["k", "rid", "v"]]).repartition(8)
    max_lag = 4
    chunked = chunked_assignment(
        df, "k", chunk_rows=37, carry_rows=max_lag
    )
    wc = Window.partitionBy("__chunk").orderBy("k", "rid")
    wg = Window.orderBy("k", "rid")
    got = (
        chunked.select(
            "rid",
            *[F.lag("v", i).over(wc).alias(f"l{i}") for i in range(1, max_lag + 1)],
            "__aug",
        )
        .filter(~F.col("__aug"))
        .collect()
    )
    exp = df.select(
        "rid",
        *[F.lag("v", i).over(wg).alias(f"l{i}") for i in range(1, max_lag + 1)],
    ).collect()
    gmap = {r["rid"]: tuple(r[f"l{i}"] for i in range(1, max_lag + 1)) for r in got}
    emap = {r["rid"]: tuple(r[f"l{i}"] for i in range(1, max_lag + 1)) for r in exp}
    assert gmap == emap
    # and the chunking actually split the data (not one degenerate chunk)
    n_chunks = chunked.select("__chunk").distinct().count()
    assert n_chunks >= 4


def test_chunked_assignment_empty_and_all_null(spark):
    empty = spark.createDataFrame([], "k double, v double")
    out = chunked_assignment(empty, "k", chunk_rows=10, carry_rows=2)
    assert out.count() == 0 and {"__chunk", "__aug"} <= set(out.columns)
    allnull = spark.createDataFrame(
        pd.DataFrame({"k": [np.nan] * 5, "v": range(5)})
    )
    out2 = chunked_assignment(allnull, "k", chunk_rows=10, carry_rows=2)
    assert out2.filter(~F.col("__aug")).count() == 5


def _chunk_lags(chunked, max_lag):
    """{rid: (lag_1 .. lag_max_lag of v)} over the (g, chunk) windows."""
    w = Window.partitionBy("g", "__chunk").orderBy("k", "rid")
    rows = (
        chunked.select(
            "rid",
            "__aug",
            *[F.lag("v", i).over(w).alias(f"l{i}") for i in range(1, max_lag + 1)],
        )
        .filter(~F.col("__aug"))
        .collect()
    )
    return {r["rid"]: tuple(r[f"l{i}"] for i in range(1, max_lag + 1)) for r in rows}


def test_chunked_assignment_from_passed_profile_matches_self_built(spark):
    """A passed profile with finer buckets than the chunker's own is
    coarsened by integer division of its bucket ids: the chunked windows
    must give the same lags as a self-built profile and as one window per
    series — null keys, null series and ties included — and the chunks
    must nest in the profile's buckets."""
    pdf = _random_pdf(n=300, null_frac=0.05)
    pdf["v"] = RNG.normal(0, 1, len(pdf))
    df = spark.createDataFrame(pdf).repartition(8)
    cores = spark.sparkContext.defaultParallelism
    fine = max(cores * 16, 64) * 8
    prof = time_profile(df, "k", ["g"], fine)
    assert prof.n_buckets == fine and prof.rows == len(pdf)
    assert prof.totals() == Counter(
        (g if isinstance(g, str) else None,) for g in pdf["g"]
    )
    kw = dict(series_cols=["g"], chunk_rows=23, carry_rows=3)
    got = chunked_assignment(df, "k", profile=prof, **kw)
    own = chunked_assignment(df, "k", **kw)
    w = Window.partitionBy("g").orderBy("k", "rid")
    want = {
        r["rid"]: tuple(r[f"l{i}"] for i in range(1, 4))
        for r in df.select(
            "rid", *[F.lag("v", i).over(w).alias(f"l{i}") for i in range(1, 4)]
        ).collect()
    }
    assert _chunk_lags(got, 3) == _chunk_lags(own, 3) == want
    assert got.select("g", "__chunk").distinct().count() >= 6
    # every chunk is a union of whole profile buckets
    per_bucket = got.filter(~F.col("__aug")).select(
        "g", prof.bucket.alias("b"), "__chunk"
    ).distinct()
    assert per_bucket.count() == per_bucket.select("g", "b").distinct().count()

    with pytest.raises(ValueError, match="profile is per"):
        chunked_assignment(df, "k", series_cols=[], profile=prof)
    empty = spark.createDataFrame([], "k double, g string, rid long, v double")
    out = chunked_assignment(
        empty, "k", profile=time_profile(empty, "k", ["g"], fine), **kw
    )
    assert out.count() == 0


def test_is_bucketable_dtype_excludes_intervals(spark):
    """'interval day to second'.startswith('int') is True — the raw prefix
    tuple would misroute interval order keys into the scale path, where
    cast('double') fails; the gate must exclude them (they fall back to
    the legacy single-window path, which sorts intervals fine)."""
    from preprocessor_spark.operators.positions import is_bucketable_dtype
    from preprocessor_spark.operators.trimmer import Trimmer

    for ok in ("int", "bigint", "smallint", "tinyint", "float", "double",
               "decimal(10,2)", "timestamp", "timestamp_ntz", "date"):
        assert is_bucketable_dtype(ok), ok
    for bad in ("interval day to second", "interval year to month",
                "string", "binary", "array<int>"):
        assert not is_bucketable_dtype(bad), bad

    # end-to-end: positional drop ordered by an interval column must take
    # the fallback window, not raise AnalysisException from the scale path
    df = spark.range(5).select(
        F.col("id"),
        (F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.col("id"))).alias(
            "iv"
        ),
    )
    assert dict(df.dtypes)["iv"].startswith("interval")
    out = Trimmer(rows=[0], order_col="iv").transform(df)
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3, 4]
