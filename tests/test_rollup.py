"""Rollup-tree invariants (SURVEY §5 strategy item c): tier-k aggregates are
re-derivable from tier k−1 and equal a direct aggregate of the raw facts;
gap-fill yields exactly the dense bucket spine; salted == unsalted."""

import pandas as pd
import pytest
from conftest import SHIFT_1969_S, shifted

from preprocessor_spark.rollup.tiers import RollupTree, TierSpec
from preprocessor_spark.synth import token_sequences

TIER_COLS = ["source", "bucket_start", "n_points", "sum_v", "sum_sq", "min_v", "max_v"]


@pytest.fixture(scope="module")
def corpus(spark):
    return token_sequences(spark, 5000).cache()


@pytest.fixture(scope="module")
def tree():
    return RollupTree(
        time_col="ts",
        series_cols=["source"],
        value_col="n_tok",
        tiers=[TierSpec("5m", "5 minutes"), TierSpec("1h", "1 hour"), TierSpec("1d", "1 day")],
    )


def _pd_tier(pdf: pd.DataFrame, freq: str) -> pd.DataFrame:
    g = (
        pdf.assign(bucket_start=pdf["ts"].dt.floor(freq), v=pdf["n_tok"].astype(float))
        .groupby(["source", "bucket_start"])
        .agg(
            n_points=("v", "size"),
            sum_v=("v", "sum"),
            min_v=("v", "min"),
            max_v=("v", "max"),
        )
        .reset_index()
    )
    return g.sort_values(["source", "bucket_start"]).reset_index(drop=True)


def test_tier_chain_matches_direct_pandas_oracle(spark, corpus, tree):
    tiers = tree.build_all(corpus, derived=False)
    pdf = corpus.toPandas()
    for name, freq in (("5m", "5min"), ("1h", "1h"), ("1d", "1D")):
        got = (
            tiers[name]
            .toPandas()
            .sort_values(["source", "bucket_start"])
            .reset_index(drop=True)
        )
        exp = _pd_tier(pdf, freq)
        assert len(got) == len(exp)
        assert (got["n_points"].values == exp["n_points"].values).all()
        assert abs(got["sum_v"].values - exp["sum_v"].values).max() < 1e-6
        assert (got["min_v"].values == exp["min_v"].values).all()
        assert (got["max_v"].values == exp["max_v"].values).all()


def test_reaggregation_equals_direct_base_aggregate(spark, corpus, tree):
    # tier-1d built from tier-5m must equal tier-1d built straight from facts
    t5 = tree.base_aggregate(corpus, TierSpec("5m", "5 minutes"))
    via_chain = (
        tree.reaggregate(t5, TierSpec("1d", "1 day"))
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    direct = (
        tree.base_aggregate(corpus, TierSpec("1d", "1 day"))
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    assert (via_chain["n_points"].values == direct["n_points"].values).all()
    assert abs(via_chain["sum_v"].values - direct["sum_v"].values).max() < 1e-6
    assert abs(via_chain["sum_sq"].values - direct["sum_sq"].values).max() < 1e-3


def test_salted_aggregate_equals_unsalted(spark, corpus, tree):
    t = TierSpec("1h", "1 hour")
    a = (
        tree.base_aggregate(corpus, t)
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    b = (
        tree.salted_aggregate(corpus, t, salt_buckets=8, salt_cols=["doc_id"])
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    assert (a["n_points"].values == b["n_points"].values).all()
    assert abs(a["sum_v"].values - b["sum_v"].values).max() < 1e-6


def test_salted_aggregate_refuses_all_column_salt(spark, corpus, tree):
    # hashing every column into the salt defeats column pruning (VERDICT r2
    # item 5) — the default must refuse, not silently widen the shuffle
    with pytest.raises(ValueError, match="salt_cols"):
        tree.salted_aggregate(corpus, TierSpec("1h", "1 hour"))


def test_gap_fill_dense_and_zero_counts(spark, corpus, tree):
    t = TierSpec("1h", "1 hour")
    tier = tree.base_aggregate(corpus, t)
    filled = tree.gap_fill(tier, t).toPandas()
    for src, grp in filled.groupby("source"):
        expected = pd.date_range(grp["bucket_start"].min(), grp["bucket_start"].max(), freq="1h")
        assert len(grp) == len(expected)
    assert (filled["n_points"] >= 0).all()


def test_synth_determinism_and_invariant(spark):
    import pyspark.sql.functions as F

    a = token_sequences(spark, 2000).orderBy("doc_id").toPandas()
    b = (
        token_sequences(spark, 2000)
        .repartition(13)
        .orderBy("doc_id")
        .toPandas()
    )
    # bit-identical corpus irrespective of partitioning
    assert (a["doc_id"].values == b["doc_id"].values).all()
    assert all((x == y).all() for x, y in zip(a["tokens"], b["tokens"]))
    # n_tok invariant (BASELINE input_hint): n_tok == size(tokens)
    bad = (
        token_sequences(spark, 2000)
        .filter(F.size("tokens") != F.col("n_tok"))
        .count()
    )
    assert bad == 0
    # source skew present: s0 ≳ 25% of rows
    frac = a["source"].value_counts(normalize=True)["s0"]
    assert frac > 0.25


def test_two_parallelism_equivalence(spark, tree):
    """SURVEY §5 strategy (e): identical rolled-up points at different
    partition counts. Counts/min/max are exactly equal; floating sums are
    rounded to 6dp before fingerprinting (summation order differs across
    partitionings — the algebraic values agree to ~1e-10)."""
    import pyspark.sql.functions as F

    from preprocessor_spark.operators.metadata import table_fingerprint

    corpus = token_sequences(spark, 15000)

    def fingerprint(df):
        tier = tree.base_aggregate(df, TierSpec("1h", "1 hour")).select(
            "source",
            "bucket_start",
            "n_points",
            F.round("sum_v", 6).alias("sum_v"),
            F.round("sum_sq", 4).alias("sum_sq"),
            "min_v",
            "max_v",
        )
        return table_fingerprint(tier).collect()[0]

    a = fingerprint(corpus.repartition(3))
    b = fingerprint(corpus.repartition(17))
    c = fingerprint(corpus.coalesce(1))
    assert a["n_rows"] == b["n_rows"] == c["n_rows"]
    assert a["fingerprint"] == b["fingerprint"] == c["fingerprint"]


def _epoch_inputs(spark, corpus, step):
    """(facts with epoch-second ``tss``, dense epoch spine) for the fused
    epoch aggregate, the spine built from the corpus's per-source bounds."""
    from pyspark.sql import functions as F

    from preprocessor_spark.rollup.tiers import spine_from_bounds

    bounds = [
        tuple(r)
        for r in corpus.groupBy("source")
        .agg(
            F.min(F.unix_timestamp("ts")).alias("t0"),
            F.max(F.unix_timestamp("ts")).alias("t1"),
        )
        .collect()
    ]
    facts = corpus.select(
        F.unix_timestamp("ts").alias("tss"), "source", "n_tok"
    )
    return facts, spine_from_bounds(spark, bounds, ["source"], step, as_epoch=True)


def _mismatches(a, b):
    """Buckets present on one side only, or whose count, sum or null-ness
    of the stats differ."""
    from pyspark.sql import functions as F

    j = a.select(TIER_COLS).alias("a").join(
        b.select(TIER_COLS).alias("b"), ["source", "bucket_start"], "full"
    )
    return j.filter(
        (F.col("a.n_points") != F.col("b.n_points"))
        | F.col("a.n_points").isNull()
        | F.col("b.n_points").isNull()
        | (F.abs(F.col("a.sum_v") - F.col("b.sum_v")) > 1e-9)
        | (F.abs(F.col("a.sum_sq") - F.col("b.sum_sq")) > 1e-9)
        | (F.col("a.sum_v").isNull() != F.col("b.sum_v").isNull())
        | (F.col("a.min_v").isNull() != F.col("b.min_v").isNull())
    ).count()


def test_base_aggregate_with_spine_equals_join_gapfill(spark):
    """The fused aggregate+gap-fill (null-valued spine seeds, non-null
    count) must equal gap_fill(base_aggregate) bucket-for-bucket — here on
    the 1h tier, so seeds and facts share buckets at another step than the
    job's 5m."""
    from preprocessor_spark.rollup.tiers import duration_seconds

    corpus = token_sequences(spark, 20_000)
    tree = RollupTree(time_col="ts", series_cols=["source"], value_col="n_tok")
    tier = TierSpec("1h", "1 hour")
    step = duration_seconds(tier.duration)
    ref = tree.gap_fill(tree.base_aggregate(corpus, tier), tier)
    facts, spine = _epoch_inputs(spark, corpus, step)
    got = tree.base_aggregate_with_spine_epoch(facts, step, spine)
    assert _mismatches(ref, got) == 0


def test_epoch_aggregate_equivalence(spark):
    """The epoch-integer hot path (tss ints in, integer-floor buckets,
    post-agg timestamp conversion) must equal the timestamp/F.window
    chain with a spine LEFT JOIN gap fill bucket-for-bucket, at tier 0 and
    through the coarse re-aggregations — pins the
    floor(epoch/step)*step == F.window(ts, d)['start'] alignment the
    10^12-scale job relies on, before 1970 as after."""
    from pyspark.sql import functions as F

    from preprocessor_spark.rollup.tiers import DEFAULT_TIERS, duration_seconds

    tree = RollupTree(time_col="ts", series_cols=["source"], value_col="n_tok")
    tier = DEFAULT_TIERS[0]
    step = duration_seconds(tier.duration)
    corpus = token_sequences(spark, 20_000)
    # as generated, and moved before 1970 off the 5m lattice, where an
    # epoch key that truncates toward zero lands one bucket late
    for name, facts_ts in (("2020", corpus), ("1969", shifted(corpus, SHIFT_1969_S))):
        facts, spine = _epoch_inputs(spark, facts_ts, step)
        # int, not long, epochs in: the aggregate widens them itself
        facts = facts.withColumn("tss", F.col("tss").cast("int"))
        got = tree.base_aggregate_with_spine_epoch(facts, step, spine)
        ref = tree.gap_fill(tree.base_aggregate(facts_ts, tier), tier)
        assert _mismatches(ref, got) == 0, f"{name}: tier {tier.name} diverged"

        # the coarse chain: epoch re-agg of the epoch tier == window re-agg
        for coarse in DEFAULT_TIERS[1:]:
            cstep = duration_seconds(coarse.duration)
            ref = tree.reaggregate(ref, coarse)
            got_c = tree.reaggregate_epoch(
                got.select(
                    "source",
                    F.unix_timestamp("bucket_start").alias("bucket_epoch"),
                    "n_points", "sum_v", "sum_sq", "min_v", "max_v",
                ),
                cstep,
            ).select(
                "source",
                F.timestamp_seconds("bucket_epoch").alias("bucket_start"),
                "n_points", "sum_v", "sum_sq", "min_v", "max_v",
            )
            assert _mismatches(ref, got_c) == 0, f"{name}: tier {coarse.name} diverged"


def test_retention_policy_enforce_and_expiry(spark):
    """Per-tier retention horizons: surviving buckets are exactly those at
    or after now - keep; None keeps forever; expired_before matches."""
    import pandas as pd
    from pyspark.sql import functions as F

    from preprocessor_spark.rollup.tiers import RetentionPolicy

    buckets = pd.date_range("2020-01-01", periods=72, freq="h")
    tier = spark.createDataFrame(
        pd.DataFrame({"bucket_start": buckets, "n_points": 1})
    )
    now_s = int(buckets[-1].timestamp())
    pol = RetentionPolicy({"1h": "1 day", "1d": None})
    kept = pol.enforce(tier, "1h", now_s)
    assert kept.count() == 25  # 24h window inclusive of the cutoff bucket
    assert (
        kept.agg(F.min("bucket_start")).collect()[0][0]
        == (buckets[-1] - pd.Timedelta(hours=24)).to_pydatetime()
    )
    assert pol.enforce(tier, "1d", now_s).count() == 72  # keep-forever
    assert pol.expired_before("1h", now_s) == now_s - 86400
    assert pol.expired_before("1d", now_s) is None


def test_null_valued_facts_do_not_skew_counts_or_derived_stats(spark):
    """n_points counts NON-NULL values on every aggregate path (sums/min/
    max already skip nulls): an all-rows count would divide sum_v by the
    wrong n in the derived mean/std, and the spine-fused and plain paths
    would disagree on the same data."""
    import pyspark.sql.functions as F

    from preprocessor_spark.rollup.tiers import TierSpec

    df = spark.createDataFrame(
        [("s", "2020-01-01 00:10:00", 2.0),
         ("s", "2020-01-01 00:20:00", None),
         ("s", "2020-01-01 00:40:00", 4.0)],
        "source string, ts string, v double",
    ).withColumn("ts", F.to_timestamp("ts"))
    tree = RollupTree(time_col="ts", series_cols=["source"], value_col="v",
                      tiers=[TierSpec("1h", "1 hour")])
    tier = TierSpec("1h", "1 hour")
    base = tree.base_aggregate(df, tier).collect()[0]
    assert base["n_points"] == 2 and base["sum_v"] == 6.0
    derived = tree.build_all(df, derived=True)["1h"].collect()[0]
    assert derived["mean_v"] == 3.0  # sum of non-null / count of non-null
    from preprocessor_spark.rollup.tiers import spine_from_bounds

    spine = spine_from_bounds(
        spark, [("s", 1577836800, 1577836800)], ["source"], 3600, as_epoch=True
    )
    fused = tree.base_aggregate_with_spine_epoch(
        df.withColumn("tss", F.unix_timestamp("ts")), 3600, spine
    ).collect()[0]
    assert fused["n_points"] == base["n_points"] == 2
    assert fused["sum_v"] == base["sum_v"] == 6.0
