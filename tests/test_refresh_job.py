"""End-to-end tests for the incremental refresh job (plans/refresh_job.py):
refreshing a rollup_job output with appended deltas must reproduce the
tiers AND the prepared (z-scored + MA-unbiased) series of a full-corpus
rollup_job run under the same persisted params — the MA seam continuation
carries exactly, two chained refreshes work from the persisted tail, and
interior late data is refused (order-dependent stage). The streaming
refresh (streaming/rollup_stream.py) absorbs each micro-batch through the
same job and must leave the same tree."""

import glob
import json
import os
import shutil
import time

import numpy as np
import pytest
from conftest import no_python_worker
from pyspark.sql import functions as F

from preprocessor_spark.plans import refresh_job, rollup_job
from preprocessor_spark.rollup.checkpoint import Manifest
from preprocessor_spark.rollup.tiers import DEFAULT_TIERS
from preprocessor_spark.session import scoped_conf
from preprocessor_spark.streaming import rollup_stream
from preprocessor_spark.synth import token_sequences

TIER_COLS = ["source", "bucket_start", "n_points", "sum_v", "sum_sq", "min_v", "max_v"]
CUT1 = "2020-01-01 03:00:00"
CUT2 = "2020-01-01 03:40:00"
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    work = tmp_path_factory.mktemp("refresh_job")
    full = token_sequences(spark, 16_000)
    paths = {}
    for name, df in (
        ("full", full),
        ("base", full.filter(F.col("ts") < CUT1)),
        ("delta1", full.filter((F.col("ts") >= CUT1) & (F.col("ts") < CUT2))),
        ("delta2", full.filter(F.col("ts") >= CUT2)),
    ):
        p = str(work / name)
        df.write.parquet(p)
        paths[name] = p
    out = str(work / "out")
    res0 = rollup_job.main(["--input", paths["base"], "--output", out])
    r1 = refresh_job.main(
        [
            "--output",
            out,
            "--delta-input",
            paths["delta1"],
            "--input",
            paths["base"],
        ]
    )
    r2 = refresh_job.main(["--output", out, "--delta-input", paths["delta2"]])
    # truth: a full-corpus run under the SAME persisted params/boundaries
    # (--resume loads them when the files exist)
    truth = str(work / "truth")
    os.makedirs(truth)
    for f in ("split_params.json", "norm_params.json"):
        shutil.copy(os.path.join(out, f), os.path.join(truth, f))
    rollup_job.main(["--input", paths["full"], "--output", truth, "--resume"])
    return paths, out, truth, (res0, r1, r2)


def _tier_pdf(spark, root, name):
    return (
        spark.read.parquet(os.path.join(root, f"tier_{name}"))
        .select(TIER_COLS)
        .toPandas()
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )


def _assert_tiers_equal(spark, root, expected_root):
    for tier in DEFAULT_TIERS:
        got = _tier_pdf(spark, root, tier.name)
        exp = _tier_pdf(spark, expected_root, tier.name)
        assert len(got) == len(exp), f"{tier.name}: {len(got)} vs {len(exp)} rows"
        assert (got["source"].values == exp["source"].values).all()
        assert (got["bucket_start"].values == exp["bucket_start"].values).all()
        assert (got["n_points"].values == exp["n_points"].values).all()
        for c in ("sum_v", "sum_sq", "min_v", "max_v"):
            a = got[c].to_numpy(float)
            b = exp[c].to_numpy(float)
            assert (np.isnan(a) == np.isnan(b)).all(), f"{tier.name}.{c} null drift"
            m = ~np.isnan(a)
            assert np.abs(a[m] - b[m]).max() < 1e-9, f"{tier.name}.{c} diverged"


def _assert_prepared_equal(spark, root, expected_root):
    def prepared(root):
        return (
            spark.read.parquet(os.path.join(root, "prepared"))
            .toPandas()
            .sort_values(["source", "tss", "n_tok_z"])
            .reset_index(drop=True)
        )

    got, exp = prepared(root), prepared(expected_root)
    assert len(got) == len(exp)
    assert (got["source"].values == exp["source"].values).all()
    assert (got["tss"].values == exp["tss"].values).all()
    assert np.abs(got["n_tok_z"].values - exp["n_tok_z"].values).max() < 1e-9


def test_refreshed_tiers_equal_full_run(spark, setup):
    _, out, truth, _ = setup
    _assert_tiers_equal(spark, out, truth)


def test_prepared_series_carries_ma_seam_exactly(spark, setup):
    """The appended prepared rows must equal the full run's prepared rows —
    i.e. the carry tail reproduced each source's trailing window across
    both refresh seams."""
    _, out, truth, _ = setup
    _assert_prepared_equal(spark, out, truth)


def test_refresh_metrics_and_lineage(spark, setup):
    _, out, _, (_, r1, r2) = setup
    assert r1["tail_bootstrap"] is True
    assert r2["tail_bootstrap"] is False
    assert r1["delta_rows"] > 0 and r2["delta_rows"] > 0
    stages = set()
    with open(os.path.join(out, "manifest.jsonl")) as f:
        for line in f:
            stages.add(json.loads(line)["stage"])
    for t in DEFAULT_TIERS:
        assert f"refresh_{t.name}" in stages


def test_double_apply_is_refused(spark, setup):
    """Re-running the job with an already-absorbed delta must be refused
    (prepared append + tier merge are non-idempotent)."""
    paths, out, _, _ = setup
    with pytest.raises(ValueError, match="already absorbed"):
        refresh_job.main(["--output", out, "--delta-input", paths["delta2"]])


def test_interior_late_data_is_refused(spark, setup, tmp_path):
    paths, out, _, _ = setup
    late = str(tmp_path / "late")
    # rows from BEFORE the current series edge
    spark.read.parquet(paths["delta1"]).limit(50).write.parquet(late)
    with pytest.raises(ValueError, match="order-dependent"):
        refresh_job.main(["--output", out, "--delta-input", late])


def test_refresh_requires_prior_run_state(spark, setup, tmp_path):
    paths, _, _, _ = setup
    with pytest.raises(FileNotFoundError, match="rollup_job"):
        refresh_job.main(
            ["--output", str(tmp_path / "nope"), "--delta-input", paths["delta1"]]
        )


def test_fresh_rebuild_rotates_stale_tail(spark, setup, tmp_path):
    """A fresh (non-resume) rollup_job into an output dir that previous
    refreshes left a carry tail in must rotate that tail with the manifest
    — left in place, the next refresh would continue the MA seam from
    pre-rebuild carry rows (silent numeric corruption)."""
    paths, out, _, _ = setup
    rebuilt = str(tmp_path / "rebuilt")
    shutil.copytree(out, rebuilt)
    tail = os.path.join(rebuilt, "unbias_tail.parquet")
    assert os.path.isdir(tail)  # the setup refreshes persisted one
    rollup_job.main(["--input", paths["full"], "--output", rebuilt])
    assert not os.path.exists(tail)
    assert os.path.isdir(tail + ".prev")


def test_tail_off_series_edge_is_refused(spark, setup, tmp_path):
    """A carry tail whose per-source max(ts) is not the stored series edge
    (stale rebuild leftovers, or a bootstrap from a corpus predating
    absorbed deltas) must be refused — it would seed the MA seam with
    wrong predecessors."""
    paths, out, _, _ = setup
    broken = str(tmp_path / "broken")
    shutil.copytree(out, broken)
    # doctor the tail back to the BASE corpus's edge (as if a crashed swap
    # destroyed it and an operator re-bootstrapped from the original input)
    stale = refresh_job.source_tails(
        spark.read.parquet(paths["base"]).select("source", "ts", "doc_id", "n_tok"),
        ["source"],
        "ts",
        ["doc_id"],
        k=4,
    )
    tail = os.path.join(broken, "unbias_tail.parquet")
    shutil.rmtree(tail)
    stale.coalesce(1).write.parquet(tail)
    delta3 = str(tmp_path / "delta3")
    spark.read.parquet(paths["delta2"]).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    ).write.parquet(delta3)
    with pytest.raises(ValueError, match="series edge"):
        refresh_job.main(["--output", broken, "--delta-input", delta3])


# A refresh of the setup's output costs exactly this many Spark jobs: the
# delta's schema inference, the delta profile, the prepared append, the
# carry-tail write, the one tier merge write, and for the blocks a collect
# of the touched tier rows plus the write of the driver-encoded blocks
# (one more than an executor encode, whose shuffle and Python stage ran as
# one job: the cold Python worker cost seconds, a job costs milliseconds).
REFRESH_SPARK_JOBS = 7


def _block_files(root):
    """{path relative to the blocks dir: (bytes, mtime)} of every file."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(), os.path.getmtime(p))
    return out


def _assert_blocks_decode_to_tier(spark, tree):
    from preprocessor_spark.rollup.compression import decode_tier_blocks

    blocks = spark.read.parquet(os.path.join(tree, "blocks_5m"))
    decoded = (
        decode_tier_blocks(blocks, ["source"])
        .toPandas()[TIER_COLS]
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )
    tier = _tier_pdf(spark, tree, "5m")
    tier = tier[tier["n_points"] > 0].reset_index(drop=True)
    assert len(decoded) == len(tier)
    for c in TIER_COLS:
        assert (decoded[c].to_numpy() == tier[c].to_numpy()).all(), c


def _shifted_delta(spark, src, dest, interval):
    spark.read.parquet(src).withColumn(
        "ts", F.col("ts") + F.expr(f"INTERVAL {interval}")
    ).write.parquet(dest)
    return dest


@pytest.fixture(scope="module")
def far_refresh(spark, setup, tmp_path_factory):
    """A copy of the setup's output refreshed by a delta 20 days past the
    series edge: its rows land in the next 14.2-day block of every source,
    so each (source, block) dir the setup wrote is untouched. The refresh
    runs under its own job group so its Spark jobs can be counted, with
    every way of starting a Python worker made to raise, and with the
    session's overwrite mode static, so only the block write's own dynamic
    option can spare the untouched blocks."""
    paths, out, _, _ = setup
    work = tmp_path_factory.mktemp("far_refresh")
    tree = str(work / "tree")
    shutil.copytree(out, tree)
    delta = _shifted_delta(spark, paths["delta2"], str(work / "delta"), "20 DAYS")
    blocks = os.path.join(tree, "blocks_5m")
    before = _block_files(blocks)
    sc = spark.sparkContext
    sc.setJobGroup("far_refresh", "refresh_job.main")
    try:
        with no_python_worker(spark), scoped_conf(spark, {OVERWRITE_MODE: "static"}):
            result = refresh_job.main(["--output", tree, "--delta-input", delta])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("far_refresh")
    return tree, before, _block_files(blocks), jobs, result


def test_refreshed_blocks_decode_to_the_tier_and_spare_untouched_blocks(
    spark, far_refresh
):
    """Decoding every block gives back the non-empty refreshed 5m rows bit
    for bit, and the files of every (source, block) dir the delta did not
    land in are unchanged (perfbench's refresh check reads only tiers)."""
    tree, before, after, _, _ = far_refresh
    _assert_blocks_decode_to_tier(spark, tree)
    # files at the root (the build's _SUCCESS marker) belong to no block
    old_dirs = {os.path.dirname(p) for p in before} - {""}
    new_dirs = {os.path.dirname(p) for p in after} - old_dirs - {""}
    assert old_dirs and all("block=" in d for d in old_dirs)
    assert {d.split(os.sep)[0] for d in new_dirs} == {
        d.split(os.sep)[0] for d in old_dirs
    }
    for path, content in before.items():
        assert after.get(path) == content, f"untouched block file rewritten: {path}"


def test_refresh_spark_job_count_is_pinned(far_refresh):
    """A fixed-cost regression (an extra collect, an unpinned read, AQE
    re-planning) fails here instead of in a benchmark pass."""
    assert len(far_refresh[3]) == REFRESH_SPARK_JOBS


def test_refresh_starts_no_python_worker(spark, far_refresh):
    """The fixture's refresh ran with every Python-worker API refused: the
    refusal must be live (a worker's cold start is seconds of a refresh)."""
    assert far_refresh[4]["delta_rows"] > 0
    with no_python_worker(spark), pytest.raises(AssertionError, match="Python"):
        spark.range(1).groupBy("id").applyInPandas(lambda pdf: pdf, "id long")


def test_refresh_reports_its_block_encode(spark, far_refresh):
    """The JSON line records the driver-side encode: the blocks written
    (one per new (source, block) dir) and the tier rows they hold."""
    tree, before, after, _, result = far_refresh
    new_dirs = {os.path.dirname(p) for p in after} - {
        os.path.dirname(p) for p in before
    }
    assert result["blocks_written"] == len(new_dirs) > 0
    pairs = {tuple(part.split("=", 1)[1] for part in d.split(os.sep)) for d in new_dirs}
    blocks = spark.read.parquet(os.path.join(tree, "blocks_5m")).toPandas()
    assert result["encode_rows"] == sum(
        r.n for r in blocks.itertuples() if (str(r.source), str(r.block)) in pairs
    )


def test_refresh_refuses_source_only_block_layout(spark, setup, tmp_path):
    """Blocks written before the (source, block) layout (files directly
    under source=<s>/) are refused before anything is written: migrating
    them would re-encode the whole history, so the error asks for a
    rebuild, and every file of the tree is left as it was."""
    from preprocessor_spark.rollup.compression import encode_tier_blocks

    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    blocks = os.path.join(tree, "blocks_5m")
    shutil.rmtree(blocks)
    tier0 = spark.read.parquet(os.path.join(tree, "tier_5m"))
    encode_tier_blocks(
        tier0.filter(F.col("n_points") > 0), ["source"], 4096, 300
    ).write.partitionBy("source").parquet(blocks)
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    before = _block_files(tree)
    with pytest.raises(ValueError, match="rebuild with rollup_job"):
        refresh_job.main(["--output", tree, "--delta-input", delta])
    assert _block_files(tree) == before


def _refresh_marks(tree):
    return [
        r["partition"]
        for r in Manifest(os.path.join(tree, "manifest.jsonl")).lineage()
        if r["stage"] == "refresh_delta"
    ]


@pytest.fixture(scope="module")
def streamed(spark, setup, tmp_path_factory):
    """A fresh rollup_job build of the setup's base, refreshed by a stream
    of the setup's two deltas, one file and so one micro-batch each."""
    paths, _, _, _ = setup
    work = str(tmp_path_factory.mktemp("streamed"))
    tree = os.path.join(work, "tree")
    rollup_job.main(["--input", paths["base"], "--output", tree])
    src = os.path.join(work, "src")
    os.makedirs(src)
    now = time.time()
    for i, name in enumerate(("delta1", "delta2")):
        staged = os.path.join(work, name)
        spark.read.parquet(paths[name]).coalesce(1).write.parquet(staged)
        (part,) = glob.glob(os.path.join(staged, "part-*.parquet"))
        dest = os.path.join(src, f"{i}.parquet")
        shutil.move(part, dest)
        # the file source takes files oldest first
        os.utime(dest, (now + i, now + i))
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    checkpoint = os.path.join(work, "checkpoint")
    query = rollup_stream.stream_refresh_tiers(
        stream, tree, checkpoint, corpus=paths["base"]
    )
    try:
        assert query.awaitTermination(300), "the stream did not drain"
    finally:
        query.stop()
    return tree, checkpoint


def test_stream_leaves_the_tree_of_the_refresh_job(spark, setup, streamed):
    """Two micro-batches leave the tree that refresh_job leaves after the
    same two deltas: tiers, blocks, prepared series, carry tail, series
    bounds, and one completion mark per micro-batch."""
    _, out, _, _ = setup
    tree, checkpoint = streamed
    _assert_tiers_equal(spark, tree, out)
    _assert_blocks_decode_to_tier(spark, tree)
    _assert_prepared_equal(spark, tree, out)

    def tail(root):
        return (
            spark.read.parquet(os.path.join(root, refresh_job.TAIL_NAME))
            .toPandas()
            .sort_values(["source", "ts", "doc_id"])
            .reset_index(drop=True)
        )

    assert tail(tree).equals(tail(out))

    def bounds(root):
        with open(os.path.join(root, "series_bounds.json")) as f:
            return json.load(f)

    assert bounds(tree) == bounds(out)
    key = rollup_stream._checkpoint_key(checkpoint)
    assert _refresh_marks(tree) == [f"{key}:0", f"{key}:1"]


def test_stream_replay_of_a_completed_epoch_is_a_no_op(
    spark, setup, streamed, monkeypatch
):
    """foreachBatch is at-least-once: an epoch replayed after its completion
    mark returns without calling the refresh, and changes no file."""
    paths, _, _, _ = setup
    tree, checkpoint = streamed
    calls = []
    monkeypatch.setattr(refresh_job, "absorb", lambda *a, **k: calls.append(a))
    before = _block_files(tree)
    key = rollup_stream._checkpoint_key(checkpoint)
    batch = rollup_stream.make_refresh_batch(tree, key)
    batch(spark.read.parquet(paths["delta2"]), 1)
    assert calls == []
    assert _block_files(tree) == before


def test_stream_late_micro_batch_is_refused(spark, setup, streamed):
    """A micro-batch with rows before the series edge fails with the job's
    late-data refusal before anything is written."""
    paths, _, _, _ = setup
    tree, _ = streamed
    before = _block_files(tree)
    batch = rollup_stream.make_refresh_batch(tree, "late")
    with pytest.raises(ValueError, match="order-dependent"):
        batch(spark.read.parquet(paths["delta1"]).limit(50), 0)
    assert _block_files(tree) == before


def test_stream_epoch_started_but_not_completed_is_refused(spark, setup, tmp_path):
    """An epoch whose refresh started and never completed may be partly in
    the tree: its replay raises through the job's own guard."""
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    manifest = Manifest(os.path.join(tree, "manifest.jsonl"))
    manifest.mark("refresh_delta_started", "run:3")
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    before = _block_files(tree)
    batch = rollup_stream.make_refresh_batch(tree, "run")
    with pytest.raises(ValueError, match="started but did not complete"):
        batch(spark.read.parquet(delta), 3)
    assert _block_files(tree) == before


def test_stream_micro_batch_starts_no_python_worker(spark, setup, tmp_path):
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    batch = rollup_stream.make_refresh_batch(tree, "run")
    with no_python_worker(spark):
        batch(spark.read.parquet(delta), 0)
    assert _refresh_marks(tree)[-1] == "run:0"
