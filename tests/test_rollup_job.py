"""End-to-end tests for the spark-submit rollup job (plans/rollup_job.py):
tier outputs match the library gap-fill chain, lineage is emitted per
partition, and a resumed run skips completed partitions while producing an
identical tree (SURVEY §5 strategy d)."""

import json
import os
import shutil

import pandas as pd
import pytest
from conftest import SHIFT_1969_S, no_python_worker, shifted
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from preprocessor_spark.plans import rollup_job
from preprocessor_spark.rollup.tiers import (
    DEFAULT_TIERS,
    RollupTree,
    duration_seconds,
    spine_from_bounds,
)
from preprocessor_spark.synth import token_sequences, write_corpus

TIER_COLS = ["source", "bucket_start", "n_points", "sum_v", "sum_sq", "min_v", "max_v"]


@pytest.fixture(scope="module")
def job_out(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("rollup_job")
    corpus = str(work / "corpus")
    out = str(work / "out")
    write_corpus(spark, corpus, 30_000)
    sc = spark.sparkContext
    sc.setJobGroup("rollup_job", "rollup_job.main")
    try:
        res = rollup_job.main(["--input", corpus, "--output", out])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("rollup_job")
    return corpus, out, res, jobs


# A build of the fixture's corpus costs exactly this many Spark jobs: the
# corpus's schema inference, the profile (one aggregate on the 5m
# lattice), the split fit's edge pass (which also sums n_tok for the
# z-score, ties at split edges included), the unbias chunk broadcast, the
# prepared write and the tier-0 collect. Every tier and the blocks are
# written on the driver from that collect, with no Spark job.
BUILD_SPARK_JOBS = 6


def _close(spark, a, b, tol=1e-9):
    j = a.alias("r").join(b.alias("g"), on=["source", "bucket_start"], how="full")
    return (
        j.filter(
            (F.col("r.n_points") != F.col("g.n_points"))
            | (F.abs(F.col("r.sum_v") - F.col("g.sum_v")) > tol)
            | (F.abs(F.col("r.sum_sq") - F.col("g.sum_sq")) > tol)
            | F.col("r.n_points").isNull()
            | F.col("g.n_points").isNull()
        ).count()
        == 0
    )


def _assert_tiers_match_library_chain(spark, out, res):
    """Every tier of the build at ``out`` equals the library's
    timestamp/F.window chain over its prepared series (epoch seconds,
    decoded back to a timestamp), and has the rows ``res`` reports."""
    prepared = spark.read.parquet(os.path.join(out, "prepared")).withColumn(
        "ts", F.timestamp_seconds("tss")
    )
    coarse_key = "+".join(t.name for t in DEFAULT_TIERS[1:])
    tree = RollupTree(time_col="ts", series_cols=["source"], value_col="n_tok_z")
    cur = tree.base_aggregate(prepared, DEFAULT_TIERS[0])
    for i, tier in enumerate(DEFAULT_TIERS):
        if i > 0:
            cur = tree.reaggregate(cur, tier)
        ref = tree.gap_fill(cur, tier).select(TIER_COLS)
        got = spark.read.parquet(os.path.join(out, f"tier_{tier.name}")).select(
            TIER_COLS
        )
        assert _close(spark, ref, got), f"tier {tier.name} diverged"
        reported = (
            res["tiers"][tier.name]["out_buckets"]
            if i == 0
            else res["tiers"][coarse_key]["out_buckets_by_tier"][tier.name]
        )
        assert reported == got.count()


def test_job_tiers_match_library_chain(spark, job_out):
    """The job's epoch-integer tier 0 and its driver-folded coarse tiers
    must equal the library's chain."""
    _, out, res, _ = job_out
    _assert_tiers_match_library_chain(spark, out, res)


def test_build_with_hive_unsafe_source_value(spark, tmp_path):
    """A source value that Spark's writer escapes in a directory name is
    built like any other: the driver pass finds its tier-0 files under the
    escaped name, every tier equals the library chain, the blocks decode
    to the non-empty 5m rows, and no step starts a Python worker."""
    from preprocessor_spark.rollup.compression import decode_tier_blocks

    raw, corpus, out = (str(tmp_path / n) for n in ("raw", "corpus", "out"))
    write_corpus(spark, raw, 3_000)
    facts = spark.read.parquet(raw)
    first = min(r[0] for r in facts.select("source").distinct().collect())
    unsafe = "a/b=c%"
    facts.withColumn(
        "source", F.when(F.col("source") == first, unsafe).otherwise(F.col("source"))
    ).write.parquet(corpus)
    with no_python_worker(spark):
        res = rollup_job.main(["--input", corpus, "--output", out])
    _assert_tiers_match_library_chain(spark, out, res)
    for tier in DEFAULT_TIERS:
        assert os.path.isdir(os.path.join(out, f"tier_{tier.name}", "source=a%2Fb%3Dc%25"))
    keys = ["source", "bucket_start"]
    decoded = decode_tier_blocks(
        spark.read.parquet(os.path.join(out, "blocks_5m")), ["source"]
    ).toPandas()[TIER_COLS].sort_values(keys).reset_index(drop=True)
    tier = spark.read.parquet(os.path.join(out, "tier_5m")).filter("n_points > 0")
    tier = tier.select(TIER_COLS).toPandas().sort_values(keys).reset_index(drop=True)
    assert unsafe in set(decoded["source"])
    assert res["encode_rows"] == len(tier) == len(decoded)
    blocks = os.path.join(out, "blocks_5m")
    assert res["blocks_written"] == sum(
        len(os.listdir(os.path.join(blocks, d))) for d in os.listdir(blocks)
    )
    for c in TIER_COLS:
        assert (decoded[c].to_numpy() == tier[c].to_numpy()).all(), c


def test_job_lineage_per_partition(spark, job_out):
    _, out, res, _ = job_out
    lineage = [
        json.loads(line)
        for line in open(os.path.join(out, "manifest.jsonl"))
    ]
    sources = {r["source"] for r in spark.read.parquet(
        os.path.join(out, "prepared")).select("source").distinct().collect()}
    for tier in DEFAULT_TIERS:
        done = {r["partition"] for r in lineage if r["stage"] == f"tier_{tier.name}"}
        assert done == sources
        assert all(
            "rows" in r and "seconds" in r
            for r in lineage
            if r["stage"] == f"tier_{tier.name}"
        )


def test_job_resume_skips_completed_and_is_identical(spark, job_out, tmp_path):
    corpus, out, _, _ = job_out
    # simulate a crash in the coarse write: tier_5m is marked, tier_1h only
    # for its first two sources (the other units lost their dirs), tier_1d
    # not at all and gone; then resume
    out2 = str(tmp_path / "out_resumed")
    shutil.copytree(out, out2)
    man = os.path.join(out2, "manifest.jsonl")
    rows = [json.loads(line) for line in open(man)]
    sources = sorted(r["partition"] for r in rows if r["stage"] == "tier_1h")
    kept = [
        r
        for r in rows
        if r["stage"] == "tier_5m"
        or (r["stage"] == "tier_1h" and r["partition"] in sources[:2])
    ]
    with open(man, "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in kept)
    for s in sources[2:]:
        shutil.rmtree(os.path.join(out2, "tier_1h", f"source={s}"))
    shutil.rmtree(os.path.join(out2, "tier_1d"))

    def tier0_files():
        root = os.path.join(out2, "tier_5m")
        return {
            os.path.join(dp, f): os.stat(os.path.join(dp, f)).st_mtime_ns
            for dp, _, fs in os.walk(root)
            for f in fs
        }

    before = tier0_files()
    rollup_job.main(["--input", corpus, "--output", out2, "--resume"])
    # the marked tier-0 units are not rewritten: the same files, untouched
    assert tier0_files() == before
    for tier in DEFAULT_TIERS:
        a = spark.read.parquet(os.path.join(out, f"tier_{tier.name}")).select(
            TIER_COLS
        )
        b = spark.read.parquet(os.path.join(out2, f"tier_{tier.name}")).select(
            TIER_COLS
        )
        assert _close(spark, a, b, tol=1e-12), f"resume diverged at {tier.name}"
    # the resumed run kept the marked units' rows and wrote each unmarked
    # unit once
    lineage = [json.loads(line) for line in open(man)]
    assert lineage[: len(kept)] == kept
    written = [(r["stage"], r["partition"]) for r in lineage[len(kept):]]
    assert sorted(written) == sorted(
        [("tier_1h", s) for s in sources[2:]] + [("tier_1d", s) for s in sources]
    )


def test_build_spark_job_count_is_pinned(job_out):
    """A fixed-cost regression (an extra collect, an unpinned read, AQE
    re-planning) fails here instead of in a benchmark pass."""
    assert len(job_out[3]) == BUILD_SPARK_JOBS


@pytest.mark.parametrize("mode", ["static", "dynamic"])
def test_build_keeps_the_sessions_overwrite_mode_and_replaces_every_block(
    spark, tmp_path, mode
):
    """A build into an old output dir leaves the session's
    partitionOverwriteMode as it found it, and its block write replaces
    every block whatever that mode is: a block dir the new history does not
    have is gone."""
    from preprocessor_spark.session import scoped_conf

    corpus, out = str(tmp_path / "corpus"), str(tmp_path / "out")
    write_corpus(spark, corpus, 3_000)
    stale = os.path.join(out, "blocks_5m", "source=stale", "block=0")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-0.parquet"), "wb") as f:
        f.write(b"not a block")
    key = "spark.sql.sources.partitionOverwriteMode"
    with scoped_conf(spark, {key: mode}):
        rollup_job.main(["--input", corpus, "--output", out])
        assert spark.conf.get(key) == mode
    assert not os.path.exists(os.path.dirname(stale))
    assert spark.read.parquet(os.path.join(out, "blocks_5m")).count() > 0


def test_series_bounds_and_input_rows_match_prepared_and_corpus(spark, tmp_path):
    """The series bounds and the row count come from the corpus profile
    (epoch micros turned into seconds on the driver), not from scans of the
    prepared series and the corpus: they must equal what those scans give,
    also for timestamps before 1970 with sub-second parts, where both
    store the floor of the micros (unix_timestamp would truncate toward
    zero, one second late)."""
    from preprocessor_spark.rollup.incremental import load_bounds

    corpus = str(tmp_path / "corpus_1969")
    shift_us = (1577836800 + 5 * 3600) * 1_000_000  # straddle the epoch
    token_sequences(spark, 3_000).withColumn(
        "ts",
        F.timestamp_micros(
            F.unix_micros("ts") - F.lit(shift_us) + F.abs(F.hash("doc_id")) % 1_000_000
        ),
    ).write.partitionBy("source").parquet(corpus)
    out = str(tmp_path / "out_1969")
    res = rollup_job.main(["--input", corpus, "--output", out])

    facts = spark.read.parquet(corpus)
    assert facts.filter("ts < timestamp'1970-01-01'").count() > 0
    assert facts.filter("unix_micros(ts) % 1000000 != 0").count() > 0
    assert res["input_rows"] == facts.count()
    prepared = spark.read.parquet(os.path.join(out, "prepared"))
    want = sorted(
        tuple(r)
        for r in prepared.groupBy("source").agg(F.min("tss"), F.max("tss")).collect()
    )
    assert sorted(load_bounds(os.path.join(out, "series_bounds.json"))) == want
    assert want[0][1] < 0


def test_spine_from_bounds_equals_dense_spine(spark):
    """The spine of the facts' per-source [min, max] epoch seconds equals
    the gap-fill spine of every tier: the bounds are floored to each tier's
    period, also before 1970 and off the lattice."""
    generated = token_sequences(spark, 5_000)
    tree = RollupTree(time_col="ts", series_cols=["source"], value_col="n_tok")
    for name, corpus in (("2020", generated), ("1969", shifted(generated, SHIFT_1969_S))):
        bounds = [
            tuple(r)
            for r in corpus.groupBy("source")
            .agg(
                F.min(F.unix_timestamp("ts")).alias("t0"),
                F.max(F.unix_timestamp("ts")).alias("t1"),
            )
            .collect()
        ]
        for tier in DEFAULT_TIERS:
            cur = tree.base_aggregate(corpus, tier)
            ref = tree.gap_fill(cur, tier).select("source", "bucket_start")
            spine = spine_from_bounds(
                spark, bounds, ["source"], duration_seconds(tier.duration),
                max_chunk=7,  # force the two-level chunked explode path
            )
            assert (
                spine.exceptAll(ref).count() == 0
                and ref.exceptAll(spine).count() == 0
            ), f"{name}: spine mismatch at {tier.name}"


def test_spine_from_bounds_non_string_series(spark):
    """Series columns keep their real types when a schema source is given —
    an integer series key must join (not silently mismatch) against the
    tier's own rows."""
    tier = spark.createDataFrame(
        pd.DataFrame(
            {
                "sensor": [1, 1, 2],
                "bucket_start": pd.to_datetime(
                    ["2020-01-01 00:00", "2020-01-01 00:10", "2020-01-01 00:00"]
                ),
                "n_points": [3, 4, 5],
            }
        )
    )
    bounds = [
        tuple(r)
        for r in tier.groupBy("sensor")
        .agg(
            F.min(F.unix_timestamp("bucket_start")).alias("t0"),
            F.max(F.unix_timestamp("bucket_start")).alias("t1"),
        )
        .collect()
    ]
    spine = spine_from_bounds(
        spark, bounds, ["sensor"], 300, series_schema=tier
    )
    assert dict(spine.dtypes)["sensor"] == dict(tier.dtypes)["sensor"]
    joined = spine.join(tier, ["sensor", "bucket_start"], "left")
    # sensor 1 spans 3 buckets (2 present, 1 gap), sensor 2 spans 1
    assert joined.count() == 4
    assert joined.filter("n_points is not null").count() == 3


def test_job_epoch_survives_2038(spark, tmp_path):
    """The prepared series stores event time as epoch-seconds LONG — int32
    would wrap negative at/after 2038-01-19 in non-ANSI mode, silently
    corrupting bucket keys (and the epoch floor assumes non-negative
    epochs). Run the job on a post-2038 corpus and check the tier buckets
    land in the right decade."""
    from preprocessor_spark.synth import token_sequences

    corpus = str(tmp_path / "corpus_2040")
    shifted = token_sequences(spark, 3_000).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 20 YEARS")
    )
    shifted.write.mode("overwrite").partitionBy("source").parquet(corpus)
    out = str(tmp_path / "out_2040")
    rollup_job.main(["--input", corpus, "--output", out])
    prepared = spark.read.parquet(os.path.join(out, "prepared"))
    assert dict(prepared.dtypes)["tss"] == "bigint"
    assert prepared.filter("tss < 0").count() == 0
    t5 = spark.read.parquet(os.path.join(out, "tier_5m"))
    years = [
        r[0]
        for r in t5.select(F.year("bucket_start")).distinct().collect()
    ]
    assert all(y >= 2038 for y in years), years


def test_job_rejects_non_nesting_tier(spark, tmp_path, monkeypatch):
    """A coarse tier whose period does not nest in the previous tier's must
    raise (ValueError, not a strippable assert) — the one-job coarse chain
    would otherwise silently misalign buckets."""
    import preprocessor_spark.rollup.tiers as tiers_mod
    from preprocessor_spark.rollup.tiers import TierSpec

    bad = [TierSpec("5m", "5 minutes"), TierSpec("7m", "7 minutes")]
    # rollup_job.main imports DEFAULT_TIERS from the tiers module at call
    # time, so patching the module attribute reaches it
    monkeypatch.setattr(tiers_mod, "DEFAULT_TIERS", bad)
    corpus = str(tmp_path / "corpus_bad")
    write_corpus(spark, corpus, 2_000)
    with pytest.raises(ValueError, match="must nest"):
        rollup_job.main(
            ["--input", corpus, "--output", str(tmp_path / "out_bad")]
        )


def test_bulk_resume_lineage_counts_survive_stringy_partition_values(
    spark, tmp_path
):
    """Partition values whose directory names round-trip through type
    inference differently ('3'→int 3, '03'→int 3 too — a collision!) must
    still get true lineage counts: each unit's rows come from the footers
    of its files, keyed by the unit's escaped directory name, never from a
    read-back lookup of values. A rerun skips every marked unit and leaves
    the tier as it was."""
    from preprocessor_spark.rollup.checkpoint import Manifest, run_resumable_observed

    df = spark.createDataFrame(
        [("3", i) for i in range(7)]
        + [("03", i) for i in range(2)]
        + [("4", i) for i in range(5)],
        "source string, v long",
    )
    out = str(tmp_path / "tier_x")
    manifest = Manifest(str(tmp_path / "manifest.jsonl"))
    values = ["03", "3", "4"]
    written = run_resumable_observed(df, "source", out, manifest, values, 14)
    assert written == {"3": 7, "03": 2, "4": 5}
    assert {r["partition"]: r["rows"] for r in manifest.lineage()} == written
    assert {r["stage"] for r in manifest.lineage()} == {"tier_x"}
    assert sorted(os.listdir(out)) == ["source=03", "source=3", "source=4"]
    assert not os.path.exists(tmp_path / "_units_tmp")

    assert run_resumable_observed(df, "source", out, manifest, values, 14) == {}
    assert len(manifest.lineage()) == 3
    assert spark.read.parquet(out).count() == 14


def test_write_units_replaces_only_its_units_under_two_series_columns(
    spark, tmp_path
):
    """With two series columns a unit is a second-level directory: writing
    (a, 1) replaces a=a/b=1 and leaves its sibling a=a/b=2 in place."""
    from preprocessor_spark.rollup.checkpoint import TIER_COL, Manifest, write_units

    root = str(tmp_path)
    manifest = Manifest(os.path.join(root, "manifest.jsonl"))

    def write(rows, units):
        df = spark.createDataFrame(rows, "a string, b long, v long")
        return write_units(
            df.withColumn(TIER_COL, F.lit("t")), ["a", "b"], units, root, manifest, "s_"
        )

    write([("a", 1, 0), ("a", 2, 0), ("a", 2, 1)], [("t", ("a", 1)), ("t", ("a", 2))])
    assert write([("a", 1, 5), ("a", 1, 6)], [("t", ("a", 1))]) == {("t", "a/1"): 2}
    got = spark.read.parquet(os.path.join(root, "tier_t"))
    assert sorted(tuple(r) for r in got.select("a", "b", "v").collect()) == [
        ("a", 1, 5), ("a", 1, 6), ("a", 2, 0), ("a", 2, 1)
    ]
    assert [(r["stage"], r["partition"], r["rows"]) for r in manifest.lineage()] == [
        ("s_t", "a/1", 1), ("s_t", "a/2", 2), ("s_t", "a/1", 2)
    ]


def test_partition_dir_names_what_sparks_writer_names(spark, tmp_path):
    """The refresh names the unit directories it writes with pyarrow, and
    finds the build's, by ``partition_dir``: it must give the directory
    Spark's partitionBy writer gives, escapes and nulls included."""
    from preprocessor_spark.rollup.checkpoint import partition_dir

    values = [
        "plain", "a b", "x=y%", "b/c", "#?*:", "tab\there", "{[^]}", "\\'\"",
        "ü", "03", "", None,
    ]
    rows = [(v, k, 0) for v in values for k in (-5, 3)]
    out = str(tmp_path / "t")
    spark.createDataFrame(rows, "a string, b long, v long").write.partitionBy(
        "a", "b"
    ).parquet(out)
    written = {
        os.path.relpath(dp, out)
        for dp, _, fs in os.walk(out)
        if any(f.endswith(".parquet") for f in fs)
    }
    # "" and None share Spark's default partition
    assert written == {partition_dir(["a", "b"], (v, k)) for v, k, _ in rows}
    assert len(written) == 2 * (len(values) - 1)


def test_fresh_build_drops_series_the_new_corpus_lacks(spark, tmp_path):
    """A build without --resume into an old output dir leaves no series of
    the old tree in any tier or in the blocks."""
    corpus, out = str(tmp_path / "corpus"), str(tmp_path / "out")
    write_corpus(spark, corpus, 3_000)
    rollup_job.main(["--input", corpus, "--output", out])
    sources = sorted(
        r[0] for r in spark.read.parquet(corpus).select("source").distinct().collect()
    )
    gone = sources[-1]
    fewer = str(tmp_path / "fewer")
    spark.read.parquet(corpus).filter(F.col("source") != gone).write.parquet(fewer)
    rollup_job.main(["--input", fewer, "--output", out])
    for name in [f"tier_{t.name}" for t in DEFAULT_TIERS] + ["blocks_5m"]:
        got = spark.read.parquet(os.path.join(out, name)).select("source").distinct()
        assert sorted(r[0] for r in got.collect()) == sources[:-1], name


def test_manifest_skips_and_cuts_a_torn_last_line(tmp_path):
    """A crash inside Manifest.mark leaves a last line without its newline
    that does not parse. Readers skip it (the unit reads as not done), the
    next mark cuts it off instead of gluing onto it, and the whole file
    parses after. A bad line anywhere else still raises."""
    import json

    import pytest

    from preprocessor_spark.rollup.checkpoint import Manifest

    path = tmp_path / "manifest.jsonl"
    m = Manifest(str(path))
    m.mark("refresh_delta_started", "a", rows=3)
    m.mark("refresh_delta", "a", rows=3)
    m.mark("refresh_delta_started", "b", rows=5)
    whole = path.read_bytes()
    with open(path, "ab") as f:
        f.write(b'{"stage": "refresh_delta", "partition": "b", "sta')
    assert m.completed("refresh_delta") == {"a"}
    assert m.completed("refresh_delta_started") == {"a", "b"}
    assert len(m.lineage()) == 3
    m.mark("refresh_delta", "c")
    lines = path.read_bytes().split(b"\n")
    assert lines.pop() == b"" and path.read_bytes().startswith(whole)
    assert [json.loads(line)["partition"] for line in lines] == ["a", "a", "b", "c"]
    assert m.completed("refresh_delta") == {"a", "c"}
    # a last record that lost only its newline is whole: kept, and the
    # next record starts on a line of its own
    path.write_bytes(whole.rstrip(b"\n"))
    assert m.completed("refresh_delta") == {"a"}
    m.mark("refresh_delta", "b")
    assert [r["partition"] for r in m.lineage()] == ["a", "a", "b", "b"]
    path.write_bytes(b"not json\n" + whole)
    with pytest.raises(ValueError):
        m.completed("refresh_delta")


# -- the build's fit: split and z-score from the lattice profile ---------


def _fit_corpus(spark, case):
    """A small corpus of ``case``'s shape: ``ties`` rows per distinct
    time on average, distinct times ``grain_s`` apart starting ``phase_s``
    into the lattice, optionally a tie run over 45-65% of the rows (it
    swallows d2 whole), a sub-second offset per distinct time, a shift
    before 1970 and null n_tok."""
    import numpy as np

    rng = np.random.default_rng(case["seed"])
    n = case["rows"]
    steps = np.sort(rng.integers(0, max(n // case["ties"], 2), n))
    us = 1_577_836_800_000_000 + (steps * case["grain_s"] + case["phase_s"]) * 1_000_000
    if case["sub_second"]:
        us = us + (steps * 7919) % 1_000_000
    us = us - case["shift_s"] * 1_000_000
    if case["burst"]:
        lo, hi = int(n * 0.45), int(n * 0.65)
        us[lo:hi] = us[lo]
    sources = [f"s{i}" for i in range(case["sources"])]
    n_tok = rng.integers(1, 400, n)
    nulls = rng.random(n) < case["null_frac"]
    rows = [
        (f"d{i}", None if nulls[i] else int(n_tok[i]), sources[int(k)], int(t))
        for i, (k, t) in enumerate(zip(rng.integers(0, len(sources), n), us))
    ]
    df = spark.createDataFrame(rows, "doc_id string, n_tok int, source string, us long")
    return df.select("doc_id", "n_tok", "source", F.timestamp_micros("us").alias("ts"))


_FIT_BASE = dict(
    seed=0, rows=2_000, ties=20, grain_s=60, phase_s=0, sub_second=False,
    shift_s=0, burst=False, sources=3, null_frac=0.0,
)
_fit_cases = st.fixed_dictionaries(
    {
        "seed": st.integers(0, 2**16),
        "rows": st.integers(200, 2_500),
        "ties": st.sampled_from([1, 3, 20, 60]),
        "grain_s": st.sampled_from([1, 60, 300, 7_200]),
        "phase_s": st.sampled_from([0, 59, 240]),
        "sub_second": st.booleans(),
        "shift_s": st.sampled_from([0, SHIFT_1969_S]),
        "burst": st.booleans(),
        "sources": st.integers(1, 4),
        "null_frac": st.sampled_from([0.0, 0.3]),
    }
)


@settings(max_examples=4, derandomize=True, deadline=None)
@given(case=_fit_cases)
@example(case=_FIT_BASE)  # minute-grain ties at the split edges
@example(case={**_FIT_BASE, "burst": True})  # d2 wholly absorbed by a tie run
# one distinct time per 5m bucket, at its last minute: every tie run ends
# its lattice bucket, and the next split starts in the next bucket
@example(case={**_FIT_BASE, "grain_s": 300, "phase_s": 240, "ties": 40})
@example(case={**_FIT_BASE, "shift_s": SHIFT_1969_S, "sub_second": True})
@example(case={**_FIT_BASE, "sources": 1})
@example(case={**_FIT_BASE, "null_frac": 0.3})
def test_build_fit_equals_value_range_fit_and_normalizer_fit(spark, case):
    """The build's fit (a lattice profile with n_tok's moments, the split
    fit's one edge pass, ``Normalizer.fit_moments``) gives the split
    params of a fit over a value-range profile, which are the counts and
    bounds the labels themselves give, and the z-score that
    ``Normalizer.fit`` computes over the d1+d2 labels: the same mean and
    sample count, the std within 1e-12."""
    from preprocessor_spark.operators import Normalizer, TemporalSplitter
    from preprocessor_spark.operators.positions import time_profile

    corpus = _fit_corpus(spark, case).cache()
    prof = time_profile(
        corpus, "ts", ["source"], step_s=duration_seconds(DEFAULT_TIERS[0].duration),
        value_col="n_tok",
    )
    got, got_norm = rollup_job.fit_params(corpus, prof)

    sp = TemporalSplitter(time_col="ts", tiebreak_cols=["doc_id"])
    want = sp.fit_time_boundaries(corpus)
    assert got.params == want.params
    labeled = TemporalSplitter.split_by_time_boundaries(
        corpus, "ts", want.params["boundaries"]
    )
    assert got.params["boundaries"] == sp.params(labeled).params["boundaries"]
    if case["burst"]:
        assert "d2" not in got.params["boundaries"]
    train = labeled.filter(F.col("split_id").isin("d1", "d2"))
    want_norm = Normalizer(method="zscore", columns=["n_tok_z"]).fit(
        train.withColumn("n_tok_z", F.col("n_tok").cast("double"))
    )
    g, w = (p.params["per_column"]["n_tok_z"] for p in (got_norm, want_norm))
    assert g["mean"] == w["mean"]
    assert abs(g["std"] - w["std"]) <= 1e-12 * w["std"]
    assert got_norm.n_samples == want_norm.n_samples
    corpus.unpersist()


def test_build_fit_moments_do_not_overflow_near_2_31(spark):
    """n_tok values near 2^31 square to near 2^62: two of them overflow a
    long sum of squares, which ANSI mode turns into an error. The build's
    moments are exact decimals, and its z-score equals the exact one."""
    from fractions import Fraction
    import math

    from preprocessor_spark.operators import TemporalSplitter
    from preprocessor_spark.operators.positions import time_profile

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    corpus = _fit_corpus(spark, _FIT_BASE).withColumn(
        "n_tok", F.lit(2**31 - 1) - F.col("n_tok")
    )
    with pytest.raises(Exception, match="(?i)overflow"):
        corpus.agg(F.sum(F.col("n_tok").cast("long") * F.col("n_tok").cast("long"))).collect()
    prof = time_profile(corpus, "ts", ["source"], step_s=300, value_col="n_tok")
    split, norm = rollup_job.fit_params(corpus, prof)
    train = TemporalSplitter.split_by_time_boundaries(
        corpus, "ts", split.params["boundaries"]
    ).filter(F.col("split_id").isin("d1", "d2"))
    vals = [r[0] for r in train.select("n_tok").collect()]
    n, s1, s2 = len(vals), sum(vals), sum(v * v for v in vals)
    got = norm.params["per_column"]["n_tok_z"]
    assert max(vals) > 2**31 - 500 and norm.n_samples == n
    assert got["mean"] == s1 / n
    assert got["std"] == math.sqrt((Fraction(s2) * n - Fraction(s1) ** 2) / (n * (n - 1)))


def test_build_refuses_a_null_ts_before_any_write(spark, tmp_path):
    """A corpus with a null ts is refused with the split fit's message, and
    the tree of an earlier build in the output dir is left as it was: no
    file written, moved or removed."""
    corpus, bad, out = (str(tmp_path / n) for n in ("corpus", "bad", "out"))
    write_corpus(spark, corpus, 3_000)
    rollup_job.main(["--input", corpus, "--output", out])
    facts = spark.read.parquet(corpus)
    first = facts.agg(F.min("doc_id")).first()[0]
    facts.withColumn(
        "ts", F.when(F.col("doc_id") == first, None).otherwise(F.col("ts"))
    ).write.parquet(bad)

    def files():
        return {
            os.path.join(dp, f): os.stat(os.path.join(dp, f)).st_mtime_ns
            for dp, _, fs in os.walk(out)
            for f in fs
        }

    before = files()
    with pytest.raises(ValueError, match="contains 1 null values"):
        rollup_job.main(["--input", bad, "--output", out])
    assert files() == before
