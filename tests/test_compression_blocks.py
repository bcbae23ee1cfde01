"""Tier block encode→decode round-trip through Spark (applyInPandas /
mapInPandas) and byte identity of the executor and driver encoders
(SURVEY §5 strategy c). Checkpoint/resume is tested with the build, in
tests/test_rollup_job.py."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from preprocessor_spark.rollup.compression import (
    decode_tier_blocks,
    encode_blocks_local,
    encode_partitioned_blocks,
    encode_tier_blocks,
)
from preprocessor_spark.rollup.tiers import RollupTree, TierSpec
from preprocessor_spark.synth import token_sequences


@pytest.fixture(scope="module")
def tier_1h(spark):
    # rows_per_minute=2 → ~67h of data → enough 1h buckets per source that
    # codec headers amortize (compression needs realistic series length)
    corpus = token_sequences(spark, 8000, rows_per_minute=2)
    tree = RollupTree(value_col="n_tok")
    return tree.base_aggregate(corpus, TierSpec("1h", "1 hour")).cache()


def test_block_roundtrip_identity(spark, tier_1h):
    blocks = encode_tier_blocks(tier_1h, ["source"], block_buckets=32)
    decoded = decode_tier_blocks(blocks, ["source"])
    a = (
        tier_1h.toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    b = (
        decoded.toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    assert len(a) == len(b)
    assert (a["source"].values == b["source"].values).all()
    assert (
        a["bucket_start"].values.astype("datetime64[s]")
        == b["bucket_start"].values.astype("datetime64[s]")
    ).all()
    assert (a["n_points"].values == b["n_points"].values).all()
    for c in ("sum_v", "sum_sq", "min_v", "max_v"):
        # bit-exact float round-trip
        assert np.array_equal(
            a[c].to_numpy(np.float64).view(np.uint64),
            b[c].to_numpy(np.float64).view(np.uint64),
        )


def _adversarial_tier(spark):
    """A 5m tier built to break a second encoder: pre-1970 buckets on both
    sides of a block edge (4-bucket blocks: span 1200 s) and of epoch, a
    1-row and a 2-row block, -0.0 / subnormal / ±inf statistics, n_points
    jumps whose delta-of-delta needs 32- and 64-bit payloads, gap rows,
    and a null series key."""
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    inf, tiny = float("inf"), 5e-324
    rows = []

    def add(src, k, n, v):
        ts = epoch + dt.timedelta(seconds=300 * k)
        if n == 0:
            rows.append((src, ts, 0, None, None, None, None))
        else:
            rows.append((src, ts, n, v, v * v, v, v))

    # source a: blocks -2 (k=-8..-5), -1 (k=-4..-1) and 0 straddle two
    # edges; block -2's n_points deltas 1, 69998, 2**45 - 70000 give
    # delta-of-deltas that need a 32-bit and a 64-bit payload
    for k, n, v in [
        (-8, 1, -0.0), (-7, 2, tiny), (-6, 70_000, -inf), (-5, 2**45, 1.0),
        (-4, 3, inf), (-3, 0, None), (-2, 2**40 + 7, 2.2250738585072014e-308),
        (-1, 1, -tiny), (0, 5, 1.5), (1, 2**33, -0.0), (3, 6, 0.1),
    ]:
        add("a", k, n, v)
    add("a", 9, 4, 2.0)  # block 2: one row
    add("a", 10, 0, None)
    for k, n, v in [(-400, 7, -1e308), (-399, 2**62, 1e-300)]:
        add("b", k, n, v)  # a 2-row block far before epoch
    add(None, -2, 3, 4.0)
    return spark.createDataFrame(
        rows,
        "source string, bucket_start timestamp, n_points long, "
        "sum_v double, sum_sq double, min_v double, max_v double",
    )


def _local_blocks(tier, bucket_s, block_buckets):
    """The driver encoder's blocks of ``tier``: its rows collected as Arrow
    with their epoch seconds, as the refresh holds them."""
    rows = tier.select(
        "source", F.unix_timestamp("bucket_start").alias("bucket_epoch"),
        "n_points", "sum_v", "sum_sq", "min_v", "max_v",
    ).toArrow()
    return encode_blocks_local(rows, ["source"], bucket_s, block_buckets)


def _epochs(pdf_col):
    """Epoch seconds of a column of naive-UTC or UTC-aware times."""
    return [int(t.timestamp()) for t in pdf_col.dt.tz_localize(None).dt.tz_localize("UTC")]


@pytest.mark.parametrize("which", ["tier_1h", "adversarial"])
def test_driver_and_executor_encoders_write_identical_blocks(spark, tier_1h, which):
    """The refresh encodes its touched blocks on the driver, the build on
    the executors: both must write the same blocks, byte for byte, or a
    refreshed tree would differ from a rebuilt one."""
    tier, bucket_s = (tier_1h, 3600) if which == "tier_1h" else (
        _adversarial_tier(spark), 300
    )
    executor = encode_partitioned_blocks(tier, ["source"], 4, bucket_s)
    local = _local_blocks(tier, bucket_s, 4)
    assert local.column_names == executor.columns
    keys = ["source", "block"]
    a = executor.toPandas().sort_values(keys, na_position="first").reset_index(drop=True)
    b = local.to_pandas().sort_values(keys, na_position="first").reset_index(drop=True)
    assert len(b) == len(a)
    if which == "adversarial":
        assert sorted(a["n"].tolist()) == [1, 1, 2, 3, 3, 4]
    assert _epochs(a["block_start"]) == _epochs(b["block_start"])
    for c in a.columns:
        if c != "block_start":
            assert a[c].tolist() == b[c].tolist(), c


def test_blocks_keep_instants_in_a_non_utc_session(spark):
    """Blocks store epoch seconds: under a session zone with DST, both
    encoders write the same blocks and decoding gives back the tier's
    instants, including the hours around the spring-forward gap (naive
    wall-clock times there do not exist)."""
    from preprocessor_spark.session import scoped_conf

    start = dt.datetime(2020, 3, 8, tzinfo=dt.timezone.utc)
    rows = [
        ("s", start + dt.timedelta(hours=k), 1, float(k), 1.0, 1.0, 1.0)
        for k in range(-3, 12)
    ]
    tier = spark.createDataFrame(
        rows,
        "source string, bucket_start timestamp, n_points long, "
        "sum_v double, sum_sq double, min_v double, max_v double",
    )

    def epochs(df, col):
        return sorted(r[0] for r in df.select(F.unix_timestamp(col)).collect())

    with scoped_conf(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        executor = encode_partitioned_blocks(tier, ["source"], 4096, 3600)
        local = _local_blocks(tier, 3600, 4096).to_pylist()
        got = [r.asDict() for r in executor.collect()]
        assert [r.pop("block_start").timestamp() for r in got] == [
            r.pop("block_start").timestamp() for r in local
        ]
        assert got == local
        assert epochs(executor, "block_start") == epochs(tier, "bucket_start")[:1]
        back = decode_tier_blocks(executor, ["source", "block"])
        assert epochs(back, "bucket_start") == epochs(tier, "bucket_start")


def test_blocks_are_bounded_and_compressed(spark, tier_1h):
    blocks = encode_tier_blocks(tier_1h, ["source"], block_buckets=32).toPandas()
    assert (blocks["n"] <= 32).all()
    raw_bytes = int(tier_1h.count()) * (8 + 8 + 8 * 4)  # ts + count + 4 floats
    enc_bytes = int(
        blocks[[c for c in blocks.columns if c.endswith("_blob")]]
        .map(len)
        .sum()
        .sum()
    )
    assert enc_bytes < raw_bytes  # net compression on realistic tier data


def test_gap_rows_roundtrip_null_stats_and_negative_epochs(spark):
    """Compressed blocks must restore the (n_points=0, NULL stats) gap-row
    invariant — the float codec stores nulls as NaN bit patterns, and a
    NaN poisons F.min/F.max and the incremental seed merge downstream.
    Pre-1970 buckets must also land on the floor-based block grid, not a
    truncate-toward-zero one that straddles epoch."""
    import datetime as dt

    from pyspark.sql import functions as F

    rows = []
    for k in range(-3, 3):  # buckets straddling epoch
        t = dt.datetime(1970, 1, 1) + dt.timedelta(hours=k)
        if k == 0:
            rows.append(("s0", t, 0, None, None, None, None))  # gap row
        else:
            rows.append(("s0", t, 2, 4.0, 10.0, 1.0, 3.0))
    tier = spark.createDataFrame(
        rows,
        "source string, bucket_start timestamp, n_points long, "
        "sum_v double, sum_sq double, min_v double, max_v double",
    )
    blocks = encode_tier_blocks(tier, block_buckets=4, bucket_seconds=3600)
    back = decode_tier_blocks(blocks)
    assert back.count() == 6
    gap = back.filter(F.col("n_points") == 0).collect()
    assert len(gap) == 1
    for c in ("sum_v", "sum_sq", "min_v", "max_v"):
        assert gap[0][c] is None  # NULL, not NaN
    # real rows keep exact values
    real = back.filter(F.col("n_points") > 0)
    assert real.filter(F.col("sum_v") != 4.0).count() == 0
    # aggregates are not NaN-poisoned after the roundtrip
    agg = back.agg(F.max("max_v"), F.min("min_v")).collect()[0]
    assert agg[0] == 3.0 and agg[1] == 1.0
