"""Splitter oracles — exact-count preservation, the reference remainder rule
(app/core/data_processor.py:313-350), temporal contiguity, boundary metadata.
Mirrors reference tests/test_data_processor.py:400-451, :775-807."""

import pandas as pd
import pytest

from preprocessor_spark.operators.splitter import (
    DEFAULT_RATIOS,
    SPLIT_KEYS,
    TemporalSplitter,
    split_counts,
)


def _reference_split_counts(total, ratios):
    # independent transliteration of the reference algorithm for the oracle
    counts = {k: int(total * ratios[k]) for k in SPLIT_KEYS}
    remainder = total - sum(counts.values())
    if remainder > 0:
        skeys = sorted(ratios.keys(), key=lambda k: ratios[k], reverse=True)
        for i in range(remainder):
            counts[skeys[i % 6]] += 1
    return counts


@pytest.mark.parametrize("total", [6, 7, 100, 101, 997, 12345])
def test_split_counts_match_reference_rule(total):
    assert split_counts(total, DEFAULT_RATIOS) == _reference_split_counts(
        total, DEFAULT_RATIOS
    )


@pytest.mark.parametrize(
    "ratios",
    [
        DEFAULT_RATIOS,
        {"d1": 0.4, "d2": 0.2, "d3": 0.1, "d4": 0.1, "d5": 0.1, "d6": 0.1},
        {"d1": 0.17, "d2": 0.17, "d3": 0.17, "d4": 0.17, "d5": 0.16, "d6": 0.16},
    ],
)
def test_count_preservation(ratios):
    for total in (60, 61, 62, 63, 64, 65, 1009):
        assert sum(split_counts(total, ratios).values()) == total


def test_labeled_split_counts_and_contiguity(spark):
    n = 1013
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=n, freq="min"),
            "v": range(n),
        }
    )
    df = spark.createDataFrame(pdf).repartition(7)
    sp = TemporalSplitter(ratios=DEFAULT_RATIOS)
    labeled = sp.transform(df)
    got = {
        r["split_id"]: r["cnt"]
        for r in labeled.groupBy("split_id").count().withColumnRenamed("count", "cnt").collect()
    }
    assert got == split_counts(n, DEFAULT_RATIOS)

    # temporal contiguity: every split's max(ts) < next split's min(ts)
    b = (
        sp.boundaries(labeled)
        .toPandas()
        .set_index("split_id")
        .loc[SPLIT_KEYS]
    )
    for prev, nxt in zip(SPLIT_KEYS, SPLIT_KEYS[1:]):
        assert b.loc[prev, "end_time"] < b.loc[nxt, "start_time"]


def test_time_boundary_split_matches_positional(spark):
    n = 500
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2020-01-01", periods=n, freq="h"), "v": range(n)}
    )
    df = spark.createDataFrame(pdf)
    sp = TemporalSplitter()
    labeled = sp.transform(df)
    params = sp.params(labeled)
    relabeled = TemporalSplitter.split_by_time_boundaries(
        df, "ts", params.params["boundaries"]
    )
    a = labeled.select("ts", "split_id").toPandas().sort_values("ts")
    b = relabeled.select("ts", "split_id").toPandas().sort_values("ts")
    assert (a["split_id"].values == b["split_id"].values).all()


def test_invalid_ratios_rejected():
    bad = {"d1": 0.5, "d2": 0.1, "d3": 0.1, "d4": 0.1, "d5": 0.1, "d6": 0.3}
    with pytest.raises(ValueError):
        TemporalSplitter(ratios=bad)


def test_fit_time_boundaries_matches_positional_params(spark):
    """The exact-quantile boundary fit (no global window) must produce the
    same boundaries dict as the positional transform→params path, on both
    regular and irregular (gappy, duplicate-free) timestamps."""
    import numpy as np

    rng = np.random.default_rng(7)
    # irregular spacing: cumulative positive gaps, unique timestamps
    gaps = rng.integers(1, 900, size=2000).cumsum()
    pdf = pd.DataFrame(
        {
            "ts": pd.Timestamp("2021-03-01") + pd.to_timedelta(gaps, unit="s"),
            "v": range(2000),
        }
    )
    df = spark.createDataFrame(pdf)
    sp = TemporalSplitter()
    ref = sp.params(sp.transform(df)).params["boundaries"]
    got = sp.fit_time_boundaries(df, n_buckets=64).params["boundaries"]
    assert set(ref) == set(got)
    for k in ref:
        assert ref[k]["sample_count"] == got[k]["sample_count"], k
        assert str(ref[k]["start_time"]) == str(got[k]["start_time"]), k
        assert str(ref[k]["end_time"]) == str(got[k]["end_time"]), k


def test_fit_time_boundaries_from_passed_profile_matches_self_built(spark):
    """A job passes the fit its own per-series time profile (counts summed
    over series, another bucket width): the boundaries must equal the fit's
    self-built profile — on irregular timestamps with ties across series,
    and on an empty table."""
    import numpy as np

    from preprocessor_spark.operators.positions import time_profile

    rng = np.random.default_rng(3)
    ts = pd.Timestamp("2021-03-01") + pd.to_timedelta(
        rng.integers(1, 900, size=1500).cumsum(), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "ts": np.concatenate([ts, ts[::7]]),  # tied timestamps
            "source": ["a"] * len(ts) + ["b"] * len(ts[::7]),
            "doc": range(len(ts) + len(ts[::7])),
        }
    )
    df = spark.createDataFrame(pdf).repartition(4)
    sp = TemporalSplitter(tiebreak_cols=["doc"])
    want = sp.fit_time_boundaries(df, n_buckets=64).params
    prof = time_profile(df, "ts", ["source"], 4096)
    assert sp.fit_time_boundaries(df, profile=prof).params == want

    empty = spark.createDataFrame([], "ts timestamp, source string, doc long")
    prof = time_profile(empty, "ts", ["source"], 4096)
    assert sp.fit_time_boundaries(empty, profile=prof).params["boundaries"] == {}


def test_fit_time_boundaries_small_and_empty(spark):
    sp = TemporalSplitter()
    empty = spark.createDataFrame([], "ts timestamp, v long")
    assert sp.fit_time_boundaries(empty).params["boundaries"] == {}
    tiny = spark.createDataFrame(
        pd.DataFrame(
            {"ts": pd.date_range("2020-01-01", periods=4, freq="min"), "v": range(4)}
        )
    )
    ref = sp.params(sp.transform(tiny)).params["boundaries"]
    got = sp.fit_time_boundaries(tiny, n_buckets=8).params["boundaries"]
    assert ref == got


def test_stratified_split_exact_per_stratum_counts(spark):
    """W9: each stratum is split with the exact W6 remainder rule applied
    to ITS row count; assignment is deterministic across partition counts."""
    import numpy as np

    from preprocessor_spark.operators.splitter import split_counts

    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=1000, freq="min"),
            "grp": ["a"] * 700 + ["b"] * 200 + ["c"] * 100,
            "v": np.arange(1000.0),
        }
    )
    sp = TemporalSplitter(seed=42)
    out = sp.stratified(spark.createDataFrame(pdf), "grp")
    got = (
        out.groupBy("grp", "split_id")
        .count()
        .toPandas()
        .set_index(["grp", "split_id"])["count"]
        .to_dict()
    )
    for g, n in (("a", 700), ("b", 200), ("c", 100)):
        want = split_counts(n, sp.ratios)
        for k, c in want.items():
            if c:
                assert got.get((g, k), 0) == c, (g, k)
    # determinism across parallelism
    out2 = sp.stratified(
        spark.createDataFrame(pdf).repartition(13), "grp"
    )
    a = out.select("v", "split_id").toPandas().sort_values("v")
    b = out2.select("v", "split_id").toPandas().sort_values("v")
    assert (a["split_id"].values == b["split_id"].values).all()


def test_stratified_split_rejects_high_cardinality(spark):
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=100, freq="min"),
            "grp": [f"g{i}" for i in range(100)],
            "v": range(100),
        }
    )
    with pytest.raises(ValueError, match="unique values"):
        TemporalSplitter().stratified(spark.createDataFrame(pdf), "grp")


def test_fit_time_boundaries_tie_heavy_records_actual_counts(spark):
    """Tie-heavy time columns (many rows per timestamp): a split edge can
    land inside a tie run, where inclusive time predicates give every tied
    row to the earlier split. The fit must detect this and persist counts
    that MATCH the labels the boundaries will actually produce."""
    n_ts, per_ts = 97, 10
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=n_ts, freq="min").repeat(
                per_ts
            ),
            "v": range(n_ts * per_ts),
        }
    )
    df = spark.createDataFrame(pdf).repartition(5)
    sp = TemporalSplitter()
    p = sp.fit_time_boundaries(df, n_buckets=16)
    assert p.params["boundary_ties"] is True
    boundaries = p.params["boundaries"]
    labeled = TemporalSplitter.split_by_time_boundaries(df, "ts", boundaries)
    got = {
        r["split_id"]: r["count"]
        for r in labeled.groupBy("split_id").count().collect()
    }
    assert got == {
        k: b["sample_count"] for k, b in boundaries.items()
    }
    # every row is labeled and total mass is preserved
    assert sum(got.values()) == n_ts * per_ts
    # splits never overlap in time after the actual-bounds rewrite
    order = [k for k in SPLIT_KEYS if k in boundaries]
    for a, b in zip(order, order[1:]):
        assert boundaries[a]["end_time"] < boundaries[b]["start_time"]


def test_fit_time_boundaries_unique_ts_has_no_ties(spark):
    pdf = pd.DataFrame(
        {"ts": pd.date_range("2020-01-01", periods=300, freq="h"), "v": range(300)}
    )
    p = TemporalSplitter().fit_time_boundaries(spark.createDataFrame(pdf))
    assert p.params["boundary_ties"] is False


def test_stratified_split_keeps_null_strata(spark):
    """Rows with a NULL stratum are a legitimate group: they must be split
    with the same remainder rule, not silently dropped."""
    pdf = pd.DataFrame(
        {
            "ts": pd.date_range("2020-01-01", periods=300, freq="min"),
            "grp": ["a"] * 200 + [None] * 100,
            "v": range(300),
        }
    )
    sp = TemporalSplitter(seed=1)
    out = sp.stratified(spark.createDataFrame(pdf), "grp")
    assert out.count() == 300
    null_counts = {
        r["split_id"]: r["count"]
        for r in out.filter(out["grp"].isNull())
        .groupBy("split_id")
        .count()
        .collect()
    }
    want = split_counts(100, sp.ratios)
    for k, c in want.items():
        if c:
            assert null_counts.get(k, 0) == c, k


def test_split_counts_tiebreak_is_canonical_and_keys_validated():
    """Remainder round-robin must break ratio ties in canonical d1..d6
    order regardless of the caller's dict insertion order, and a ratios
    dict missing a split key must fail with a clear error, not KeyError."""
    import pytest as pt

    from preprocessor_spark.operators.splitter import split_counts

    fwd = {"d1": 0.5, "d2": 0.1, "d3": 0.1, "d4": 0.1, "d5": 0.1, "d6": 0.1}
    rev = dict(reversed(list(fwd.items())))
    assert split_counts(1003, fwd) == split_counts(1003, rev)
    # remainder 2 goes to d1 (largest), then d2 (canonical tie order —
    # the reversed-dict call above would have picked d6 before the fix)
    c = split_counts(1003, fwd)
    assert c["d1"] == 502 and c["d2"] == 101
    assert c["d3"] == c["d4"] == c["d5"] == c["d6"] == 100
    with pt.raises(ValueError, match="missing"):
        split_counts(100, {"d1": 1.0})


def test_fit_time_boundaries_rejects_uncastable_time_column(spark):
    """A non-empty table whose time column encodes to NULL for every row
    (an all-null time column; under non-ANSI sessions also uncastable
    string timestamps) must fail loudly — silently fitting empty
    boundaries would label every row split_id=NULL downstream."""
    import pytest as pt

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(1.0,), (2.0,)], "v double"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    sp = TemporalSplitter(time_col="ts")
    with pt.raises(ValueError, match="encodes to NULL"):
        sp.fit_time_boundaries(df)
    # the empty table keeps returning empty boundaries (no rows to split)
    p = sp.fit_time_boundaries(df.limit(0))
    assert p.params["boundaries"] == {}


def test_split_counts_negative_ratio_and_over_one_tolerance():
    """Negative ratios must fail loudly (three_way(0.5, 0.6) used to pass
    the sum check with d3 = -0.1 and silently shortchange d2); ratio sums
    inside the constructor's (1.0, 1.001] tolerance must reclaim the
    over-allocated floors instead of dying on a failed total check."""
    import pytest as pt

    from preprocessor_spark.operators.splitter import (
        TemporalSplitter,
        split_counts,
    )

    bad = {"d1": 0.5, "d2": 0.6, "d3": -0.1, "d4": 0.0, "d5": 0.0, "d6": 0.0}
    with pt.raises(ValueError, match="non-negative"):
        split_counts(100, bad)
    with pt.raises(ValueError, match="non-negative"):
        split_counts(100, TemporalSplitter.three_way(0.5, 0.6).ratios)
    # sum 1.0009 — accepted by the 0.001 tolerance; floors can over-allocate
    over = {
        "d1": 0.5002, "d2": 0.1002, "d3": 0.1002,
        "d4": 0.1001, "d5": 0.1001, "d6": 0.1001,
    }
    assert abs(sum(over.values()) - 1.0009) < 1e-12
    for total in (100, 10_000, 1_000_000):
        c = split_counts(total, over)
        assert sum(c.values()) == total
        assert all(v >= 0 for v in c.values())
