"""Incremental continuous-aggregate refresh invariants (SURVEY §5 strategy
item c, extended): for insert-only deltas, refresh(base tiers, delta) must
equal a full recompute over base ∪ delta — exact for counts/min/max,
float-fold-tolerant for sums — while rewriting ONLY the partitions the
delta touches, and keeping the dense (gap-filled) tiers dense when the
delta extends a series' time range."""

import os

import pytest
from conftest import SHIFT_1969_S
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from preprocessor_spark.rollup.incremental import (
    IncrementalRollup,
    epoch_partials,
    extension_intervals,
    merge_bounds,
    merge_partials,
    read_touched_partitions,
    save_bounds,
)
from preprocessor_spark.rollup.tiers import (
    ALGEBRAIC,
    BLOCK_COL,
    RollupTree,
    TierSpec,
    block_of,
    duration_seconds,
)
from preprocessor_spark.synth import token_sequences

TIERS = [TierSpec("5m", "5 minutes"), TierSpec("1h", "1 hour")]
CUT = "2020-01-01 00:40:00"


@pytest.fixture(scope="module")
def tree():
    return RollupTree(
        time_col="ts", series_cols=["source"], value_col="n_tok", tiers=TIERS
    )


@pytest.fixture(scope="module")
def corpus(spark):
    return token_sequences(spark, 6000).cache()


def _tiers_pdf(df):
    return (
        df.select("source", "bucket_start", *ALGEBRAIC)
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )


def _assert_tier_equal(got, exp):
    assert len(got) == len(exp), f"{len(got)} rows vs {len(exp)}"
    assert (got["source"].values == exp["source"].values).all()
    assert (got["bucket_start"].values == exp["bucket_start"].values).all()
    assert (got["n_points"].values == exp["n_points"].values).all()
    for c in ("min_v", "max_v"):
        a, b = got[c].values, exp[c].values
        mask = ~(pd_isna(a) | pd_isna(b))
        assert (pd_isna(a) == pd_isna(b)).all()
        assert (a[mask] == b[mask]).all()
    for c in ("sum_v", "sum_sq"):
        a, b = got[c].values, exp[c].values
        mask = ~(pd_isna(a) | pd_isna(b))
        assert (pd_isna(a) == pd_isna(b)).all()
        assert abs(a[mask] - b[mask]).max() < 1e-6


def pd_isna(x):
    import pandas as pd

    return pd.isna(x)


def _dense(tree, facts, tier):
    """The reference tier: timestamp aggregate, then spine-join gap fill."""
    return tree.gap_fill(tree.base_aggregate(facts, tier), tier)


def _epoch_bounds(facts):
    """Per-source (source, t0, t1) of the facts' ts, in epoch seconds."""
    return [
        tuple(r)
        for r in facts.groupBy("source")
        .agg(
            F.min(F.unix_timestamp("ts")).cast("long"),
            F.max(F.unix_timestamp("ts")).cast("long"),
        )
        .collect()
    ]


def _write_base_tree(tree, base, root):
    """A base tree stored as plans/rollup_job.py stores it: every tier
    gap-filled dense and partitioned by source and block, next to the
    per-series bounds sidecar."""
    for tier in tree.tiers:
        step = duration_seconds(tier.duration)
        _dense(tree, base, tier).select("source", "bucket_start", *ALGEBRAIC).withColumn(
            BLOCK_COL, block_of(F.unix_timestamp("bucket_start"), step)
        ).write.mode("overwrite").partitionBy("source", BLOCK_COL).parquet(
            os.path.join(root, f"tier_{tier.name}")
        )
    save_bounds(os.path.join(root, "series_bounds.json"), _epoch_bounds(base), ["source"])


def _refresh(spark, tree, root, delta):
    """Refresh ``root`` with the finest-tier partials of the delta in the
    prepared shape (epoch-second ``tss``) under its exact per-source
    bounds."""
    prepared = delta.select(F.unix_timestamp("ts").alias("tss"), "source", "n_tok")
    partials = epoch_partials(tree, prepared, duration_seconds(tree.tiers[0].duration))
    return IncrementalRollup(tree, root).refresh(partials, _epoch_bounds(delta))


def _assert_refreshed(spark, tree, root, facts):
    for tier in tree.tiers:
        got = _tiers_pdf(spark.read.parquet(os.path.join(root, f"tier_{tier.name}")))
        _assert_tier_equal(got, _tiers_pdf(_dense(tree, facts, tier)))


def test_refresh_equals_full_recompute(spark, tree, corpus, tmp_path):
    root = str(tmp_path / "tree")
    base = corpus.filter(F.col("ts") < CUT)
    delta = corpus.filter(F.col("ts") >= CUT)
    assert 0 < delta.count() < corpus.count()
    _write_base_tree(tree, base, root)
    metrics = _refresh(spark, tree, root, delta)
    _assert_refreshed(spark, tree, root, corpus)
    for tier in TIERS:
        assert metrics[tier.name]["partitions_rewritten"] >= 1


def test_refresh_late_interior_data(spark, tree, corpus, tmp_path):
    """Late rows that land INSIDE the existing range (the straggler-ingest
    case) merge into their existing buckets instead of duplicating them."""
    root = str(tmp_path / "tree")
    # delta = a modulus slice across the whole range, base = the rest
    delta = corpus.filter(F.xxhash64("doc_id") % 10 == 0)
    base = corpus.filter(F.xxhash64("doc_id") % 10 != 0)
    _write_base_tree(tree, base, root)
    _refresh(spark, tree, root, delta)
    _assert_refreshed(spark, tree, root, corpus)


def test_dense_refresh_stays_dense_and_matches(spark, tree, corpus, tmp_path):
    """A delta extending every series at BOTH ends: after refresh each tier
    equals gap_fill(full recompute) — the seeds materialize exactly the new
    empty buckets of the prefix and of the suffix."""
    root = str(tmp_path / "tree")
    in_base = (F.col("ts") >= "2020-01-01 00:20:00") & (F.col("ts") < CUT)
    base = corpus.filter(in_base)
    delta = corpus.filter(~in_base)
    _write_base_tree(tree, base, root)
    _refresh(spark, tree, root, delta)
    _assert_refreshed(spark, tree, root, corpus)


def test_refresh_empty_delta_is_noop(spark, tree, corpus, tmp_path):
    root = str(tmp_path / "tree")
    base = corpus.filter(F.col("ts") < CUT)
    _write_base_tree(tree, base, root)
    m = _refresh(spark, tree, root, corpus.filter(F.lit(False)))
    for tier in TIERS:
        assert m[tier.name]["partitions_rewritten"] == 0
    _assert_refreshed(spark, tree, root, base)


def _facts(spark, rows):
    return spark.createDataFrame(rows, "source string, ts string, n_tok int").select(
        "source", F.col("ts").cast("timestamp").alias("ts"), "n_tok"
    )


def test_refresh_into_entirely_new_partitions(spark, tmp_path):
    """A delta whose only series is new reads no existing file: nothing
    merges, the new partition dir appears with its gaps seeded, and the
    old one is untouched."""
    t = RollupTree(
        time_col="ts",
        series_cols=["source"],
        value_col="n_tok",
        tiers=[TierSpec("5m", "5 minutes")],
    )
    base = _facts(spark, [("s0", "2020-01-01 10:00:30", 5)])
    delta = _facts(
        spark, [("s1", "2020-01-02 10:00:30", 7), ("s1", "2020-01-02 10:20:30", 9)]
    )
    root = str(tmp_path / "tree")
    _write_base_tree(t, base, root)
    s0_dir = os.path.join(root, "tier_5m", "source=s0")
    before = {f: os.path.getmtime(os.path.join(s0_dir, f)) for f in os.listdir(s0_dir)}
    m = _refresh(spark, t, root, delta)
    assert m["5m"]["partitions_rewritten"] == 1
    assert {
        f: os.path.getmtime(os.path.join(s0_dir, f)) for f in os.listdir(s0_dir)
    } == before
    _assert_refreshed(spark, t, root, base.unionByName(delta))


def test_refresh_with_hive_unsafe_partition_value(spark, tmp_path):
    """Series keys that are not plain directory names (a space, and
    characters Spark's writer escapes as %XX) are read from and written to
    the directories Spark names for them, and merge correctly."""
    t = RollupTree(
        time_col="ts",
        series_cols=["source"],
        value_col="n_tok",
        tiers=[TierSpec("5m", "5 minutes")],
    )
    df = _facts(
        spark,
        [
            ("src A", "2020-01-01 10:00:30", 5),
            ("src A", "2020-01-01 10:02:30", 7),
            ("a/b=c%", "2020-01-01 10:00:30", 2),
            ("a/b=c%", "2020-01-01 10:03:30", 7),
            ("plain", "2020-01-01 10:01:30", 3),
        ],
    )
    base = df.filter(F.col("n_tok") != 7)
    delta = df.filter(F.col("n_tok") == 7)
    root = str(tmp_path / "tree")
    _write_base_tree(t, base, root)
    before = set(os.listdir(os.path.join(root, "tier_5m")))
    _refresh(spark, t, root, delta)
    assert set(os.listdir(os.path.join(root, "tier_5m"))) == before
    _assert_refreshed(spark, t, root, df)


def test_merge_bounds_and_extension_seeds():
    old = [("s0", 1000, 2000), ("s1", 500, 900)]
    delta = [("s0", 2100, 3000), ("s2", 150, 400)]
    merged = merge_bounds(old, delta)
    assert merged == [("s0", 1000, 3000), ("s1", 500, 900), ("s2", 150, 400)]
    # s0 suffix growth: lattice 2000 already existed → 2100..3000; s1
    # unchanged → nothing; s2 new → its whole floored range 100..400
    assert extension_intervals(old, merged, step_s=100) == [
        ("s0", 2100, 3000),
        ("s2", 100, 400),
    ]
    # prefix growth, floored: before 1970 as after
    assert extension_intervals(
        [("s0", -250, 0)], [("s0", -1001, 0)], step_s=100
    ) == [("s0", -1100, -400)]


def test_fold_partials_keeps_one_group_per_null_series_key():
    """A null series key folds into ONE row per bucket, as in Spark: pyarrow
    16's grouping alone splits such groups when the nullable key comes
    before the bucket key."""
    import numpy as np
    import pyarrow as pa

    from preprocessor_spark.rollup.incremental import EPOCH_ROWS, fold_partials

    rng = np.random.default_rng(0)
    n = 20_000
    source = [None if x == 0 else "abc"[x - 1] * int(x) for x in rng.integers(0, 4, n)]
    epoch = rng.integers(0, 6_000, n) * 300
    v = rng.normal(0, 1, n)
    rows = pa.table(
        {
            "source": pa.array(source, pa.string()),
            "bucket_epoch": epoch,
            "n_points": np.ones(n, np.int64),
            "sum_v": v,
            "sum_sq": v * v,
            "min_v": v,
            "max_v": v,
        },
        schema=pa.schema([pa.field("source", pa.string()), *EPOCH_ROWS]),
    )
    got = fold_partials(rows, ["source", "bucket_epoch"])
    want: dict = {}
    for s, e in zip(source, epoch.tolist()):
        want[(s, e)] = want.get((s, e), 0) + 1
    keys = list(zip(got["source"].to_pylist(), got["bucket_epoch"].to_pylist()))
    assert len(keys) == len(set(keys)) == len(want)
    assert dict(zip(keys, got["n_points"].to_pylist())) == want


def test_merge_partials_is_reaggregation(spark, tree, corpus):
    """merge(base partial, delta partial) == full partial, as DataFrames
    (the library-level identity the path-level tests rely on)."""
    tier = TIERS[0]
    base = corpus.filter(F.xxhash64("doc_id") % 3 != 0)
    delta = corpus.filter(F.xxhash64("doc_id") % 3 == 0)
    merged = merge_partials(
        tree.base_aggregate(base, tier),
        tree.base_aggregate(delta, tier),
        ["source", "bucket_start"],
    )
    _assert_tier_equal(
        _tiers_pdf(merged), _tiers_pdf(tree.base_aggregate(corpus, tier))
    )


def test_fused_refresh_reports_per_tier_rows(spark, tree, corpus, tmp_path):
    """Each tier's rows_written must be THAT tier's merged row count (the
    rows of its touched partitions after the refresh) — not the whole
    one-write tree's total stamped into every tier."""
    root = str(tmp_path / "tree")
    base = corpus.filter(F.col("ts") < CUT)
    delta = corpus.filter(F.col("ts") >= CUT)
    _write_base_tree(tree, base, root)
    touched = [r[0] for r in delta.select("source").distinct().collect()]
    m = _refresh(spark, tree, root, delta)
    for tier in TIERS:
        want = (
            spark.read.parquet(os.path.join(root, f"tier_{tier.name}"))
            .filter(F.col("source").isin(touched))
            .count()
        )
        assert m[tier.name]["rows_written"] == want, (tier.name, m[tier.name])
        assert m[tier.name]["partitions_rewritten"] == len(touched)
    # 5-minute buckets strictly outnumber hourly ones on this corpus
    assert m["5m"]["rows_written"] > m["1h"]["rows_written"] > 0


def test_read_touched_partitions_uri_store_reads_existing_partitions(
    spark, tree, corpus, tmp_path
):
    """The driver's reader of touched (series, block) files takes a URI
    as well as a path: with a file:// tier it reads the files of the
    touched partitions that exist, attaches their partition values, and
    skips the ones that do not exist yet."""
    import pyarrow as pa

    from preprocessor_spark.rollup.incremental import STORED_ROWS

    tier = tree.tiers[0]
    local = str(tmp_path / "tier_5m")
    stored = tree.base_aggregate(corpus, tier).withColumn(
        BLOCK_COL, block_of(F.unix_timestamp("bucket_start"), 300)
    )
    stored.write.partitionBy("source", BLOCK_COL).parquet(local)
    (block,) = {r[0] for r in stored.select(BLOCK_COL).distinct().collect()}
    touched = [("s0", block), ("s3", block), ("s_new", block), ("s0", block + 1)]
    schema = pa.schema(
        [pa.field("source", pa.string()), pa.field(BLOCK_COL, pa.int64()), *STORED_ROWS]
    )
    got = read_touched_partitions("file://" + local, ["source", BLOCK_COL], touched, schema)
    assert got.schema == schema
    want = stored.filter(F.col("source").isin("s0", "s3"))
    assert got.num_rows == want.count() > 0
    got = got.to_pandas()
    # the session is in UTC (session.get_spark): naive times are UTC
    got["bucket_start"] = got["bucket_start"].dt.tz_localize(None)
    _assert_tier_equal(
        got.sort_values(["source", "bucket_start"]).reset_index(drop=True), _tiers_pdf(want)
    )


_FACTS_BASE = dict(seed=0, rows=2_000, sources=3, null_frac=0.3, null_source=True,
                   shift_s=SHIFT_1969_S, sub_second=True)
_facts_cases = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**16),
        "rows": st.integers(1, 3_000),
        "sources": st.integers(1, 4),
        "null_frac": st.sampled_from([0.0, 0.3, 1.0]),
        "null_source": st.booleans(),
        "shift_s": st.sampled_from([0, SHIFT_1969_S]),
        "sub_second": st.booleans(),
    }
)


@settings(max_examples=4, derandomize=True, deadline=None)
@given(case=_facts_cases)
@example(case=_FACTS_BASE)
@example(case={**_FACTS_BASE, "shift_s": 0, "null_source": False, "null_frac": 0.0})
def test_fact_partials_equals_spark_aggregate(spark, case):
    """The driver's fold of prepared rows (``fact_partials``) gives the 5m
    partials Spark's aggregate gives (``algebraic_aggs`` through
    ``base_aggregate_with_spine_epoch`` and ``partial_rows``): the same
    keys, n_points and null places, the float statistics within 1e-12.
    The facts hold null values, a bucket whose values are all null, a
    null source and sub-second times before 1970, each ``tss`` the floor
    of its micros as the refresh stores it."""
    import numpy as np
    import pyarrow as pa

    from preprocessor_spark.rollup.incremental import fact_partials
    from preprocessor_spark.rollup.tiers import epoch_seconds

    rng = np.random.default_rng(case["seed"])
    n = case["rows"]
    us = 1_577_836_800_000_000 - case["shift_s"] * 1_000_000 + rng.integers(0, 86_400, n) * (
        1_000_000
    )
    if case["sub_second"]:
        us = us + rng.integers(0, 1_000_000, n)
    names = [f"s{i}" for i in range(case["sources"])]
    source = [names[k] for k in rng.integers(0, len(names), n)]
    if case["null_source"]:
        source = [None if rng.random() < 0.1 else s for s in source]
    v = [None if rng.random() < case["null_frac"] else float(x) for x in rng.normal(0, 2, n)]
    # a bucket of s0 a day before the rest, with null values only
    lone = int(us.min()) - 86_400_000_000
    rows = list(zip(source, us.tolist(), v)) + [("s0", lone + k, None) for k in (0, 7, 999_999)]
    df = spark.createDataFrame(rows, "source string, us long, n_tok_z double").select(
        "source", epoch_seconds(F.timestamp_micros("us")).alias("tss"), "n_tok_z"
    )
    step = duration_seconds("5 minutes")
    tree = RollupTree(series_cols=["source"], value_col="n_tok_z")
    want = epoch_partials(tree, df, step)
    got = fact_partials(df.toArrow(), ["source"], step)
    assert got.schema == want.schema

    def ordered(t):
        return t.sort_by([("source", "ascending"), ("bucket_epoch", "ascending")]).to_pydict()

    g, w = ordered(got), ordered(want)
    for c in ("source", "bucket_epoch", "n_points"):
        assert g[c] == w[c], c
    assert (lone // 1_000_000 // step * step, 0) in zip(g["bucket_epoch"], g["n_points"])
    for c in ALGEBRAIC[1:]:
        a = np.array(g[c], dtype=float)
        b = np.array(w[c], dtype=float)
        assert (np.isnan(a) == np.isnan(b)).all(), c
        m = ~np.isnan(b)
        assert (np.abs(a[m] - b[m]) <= 1e-12 * np.maximum(1.0, np.abs(b[m]))).all(), c
