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
from conftest import SHIFT_1969_S, no_python_worker, shifted
import pyarrow as pa
import pyarrow.parquet as pq
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


def _assert_rows_equal(got, exp, name):
    assert len(got) == len(exp), f"{name}: {len(got)} vs {len(exp)} rows"
    assert (got["source"].values == exp["source"].values).all()
    assert (got["bucket_start"].values == exp["bucket_start"].values).all()
    assert (got["n_points"].values == exp["n_points"].values).all()
    for c in ("sum_v", "sum_sq", "min_v", "max_v"):
        a = got[c].to_numpy(float)
        b = exp[c].to_numpy(float)
        assert (np.isnan(a) == np.isnan(b)).all(), f"{name}.{c} null drift"
        m = ~np.isnan(a)
        assert np.abs(a[m] - b[m]).max() < 1e-9, f"{name}.{c} diverged"


def _assert_tiers_equal(spark, root, expected_root):
    for tier in DEFAULT_TIERS:
        _assert_rows_equal(
            _tier_pdf(spark, root, tier.name),
            _tier_pdf(spark, expected_root, tier.name),
            tier.name,
        )


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


def test_resume_reads_the_refreshed_prepared_series(spark, setup, tmp_path):
    """``prepared/`` after two refreshes holds the build's Spark files and
    one pyarrow file per refresh. ``rollup_job --resume`` reads it under
    the build's pinned prepared schema (``tss`` long, ``source``,
    ``n_tok_z`` double) and, with its tier marks rotated away, rebuilds
    from it the tiers and blocks of a full-corpus run."""
    paths, out, truth, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    written = [
        p for p in glob.glob(os.path.join(tree, "prepared", "part-*.parquet"))
        if "-c000" not in p  # Spark's writer names its files part-<n>-<uuid>-c000
    ]
    assert len(written) == 2
    for p in written:
        schema = pq.read_schema(p)
        assert schema.names == ["tss", "source", "n_tok_z"]
        assert schema.types == [pa.int64(), pa.string(), pa.float64()]
    os.replace(os.path.join(tree, "manifest.jsonl"), os.path.join(tree, "manifest.old"))
    res = rollup_job.main(["--input", paths["full"], "--output", tree, "--resume"])
    assert res["prepare_seconds"] is None  # the prepared series was read, not rebuilt
    _assert_tiers_equal(spark, tree, truth)
    _assert_rows_equal(_decoded_blocks(spark, tree), _decoded_blocks(spark, truth), "blocks_5m")


def test_refresh_metrics_and_lineage(spark, setup):
    _, out, _, (_, r1, r2) = setup
    assert r1["tail_bootstrap"] is True
    assert r2["tail_bootstrap"] is False
    assert r1["delta_rows"] > 0 and r2["delta_rows"] > 0
    # each refresh_<tier> mark counts its own (source, block) unit: the
    # last mark of each holds that unit's rows on disk
    last = {}
    for r in Manifest(os.path.join(out, "manifest.jsonl")).lineage():
        last[(r["stage"], r["partition"])] = r["rows"]
    for t in DEFAULT_TIERS:
        on_disk = {
            f"{r['source']}/{r['block']}": r["count"]
            for r in spark.read.parquet(os.path.join(out, f"tier_{t.name}"))
            .groupBy("source", "block")
            .count()
            .collect()
        }
        marked = {p: n for (st, p), n in last.items() if st == f"refresh_{t.name}"}
        assert len(marked) > 1
        assert marked == {p: on_disk[p] for p in marked}, t.name


def _assert_refused_unchanged(tree, before):
    """A refused refresh leaves every file of ``tree`` (prepared series,
    carry tail, manifest, tiers, blocks) as it was: ``prepared/`` byte for
    byte, with no temp file of a prepared write in it."""
    after = _block_files(tree)
    # the same names, bytes and times: no part file and no temp file of a
    # prepared write was added
    assert _in("prepared", after) == _in("prepared", before)
    assert after == before


def test_double_apply_is_refused(spark, setup):
    """Re-running the job with an already-absorbed delta must be refused
    (prepared append + tier merge are non-idempotent)."""
    paths, out, _, _ = setup
    before = _block_files(out)
    with pytest.raises(ValueError, match="already absorbed"):
        refresh_job.main(["--output", out, "--delta-input", paths["delta2"]])
    _assert_refused_unchanged(out, before)


def test_interior_late_data_is_refused(spark, setup, tmp_path):
    paths, out, _, _ = setup
    late = str(tmp_path / "late")
    # rows from BEFORE the current series edge
    spark.read.parquet(paths["delta1"]).limit(50).write.parquet(late)
    before = _block_files(out)
    with pytest.raises(ValueError, match="order-dependent"):
        refresh_job.main(["--output", out, "--delta-input", late])
    _assert_refused_unchanged(out, before)


def test_null_ts_is_refused(spark, setup, tmp_path):
    """A delta row without a time has no bucket and no place in the MA
    order: refused before anything is written."""
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    delta = str(tmp_path / "delta")
    rows = spark.read.parquet(paths["delta2"])
    (first,) = rows.agg(F.min("doc_id")).first()
    rows.withColumn(
        "ts",
        F.when(F.col("doc_id") == first, F.lit(None)).otherwise(
            F.col("ts") + F.expr("INTERVAL 1 DAY")
        ),
    ).write.parquet(delta)
    before = _block_files(tree)
    with pytest.raises(ValueError, match="1 rows with a null ts"):
        refresh_job.main(["--output", tree, "--delta-input", delta])
    _assert_refused_unchanged(tree, before)


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
    before = _block_files(broken)
    with pytest.raises(ValueError, match="series edge"):
        refresh_job.main(["--output", broken, "--delta-input", delta3])
    _assert_refused_unchanged(broken, before)


def test_carry_tail_is_the_last_rows_of_old_tail_and_delta(spark, setup, tmp_path):
    """The carry tail a refresh writes is ``top_rows`` over the old tail ∪
    the delta: also for a source with fewer than w−1 delta rows (s1 keeps
    two old rows), for a source absent from the delta (s2 keeps its old
    tail), and from a tail that Spark wrote with INT96 times, which pyarrow
    reads as timestamp[ns]."""
    import pandas as pd
    from pyspark.sql import Window

    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    tail = os.path.join(tree, refresh_job.TAIL_NAME)
    with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": "INT96"}):
        spark.read.parquet(tail).coalesce(1).write.parquet(tail + ".int96")
    shutil.rmtree(tail)
    os.replace(tail + ".int96", tail)
    (written,) = glob.glob(os.path.join(tail, "part-*.parquet"))
    assert pq.read_schema(written).field("ts").type == pa.timestamp("ns")

    order = Window.partitionBy("source").orderBy("ts", "doc_id")
    delta = str(tmp_path / "delta")
    (
        spark.read.parquet(paths["delta2"])
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn("rn", F.row_number().over(order))
        .filter((F.col("source") != "s2") & ((F.col("source") != "s1") | (F.col("rn") <= 2)))
        .drop("rn")
        .write.parquet(delta)
    )
    counts = dict(spark.read.parquet(delta).groupBy("source").count().collect())
    assert "s2" not in counts and counts["s1"] == 2
    cols = refresh_job.TAIL_COLS

    def frame(df):
        return df.select(cols).toPandas().sort_values(cols).reset_index(drop=True)

    want = frame(
        refresh_job.top_rows(
            spark.read.parquet(tail).select(cols).unionByName(
                spark.read.parquet(delta).select(cols)
            ),
            ["source"],
            "ts",
            ["doc_id"],
            k=rollup_job.MA_WINDOW - 1,
        )
    )
    old_s2 = frame(spark.read.parquet(tail).filter(F.col("source") == "s2"))
    refresh_job.main(["--output", tree, "--delta-input", delta])
    got = frame(spark.read.parquet(tail))
    pd.testing.assert_frame_equal(got, want)
    pd.testing.assert_frame_equal(
        got[got["source"] == "s2"].reset_index(drop=True), old_s2
    )
    assert len(got[got["source"] == "s1"]) == rollup_job.MA_WINDOW - 1


def _sorted_rows(table):
    """``table``'s :data:`refresh_job.TAIL_COLS` in their pinned Arrow types,
    sorted by every column."""
    cols = refresh_job.TAIL_COLS
    rows = table.select(cols).cast(refresh_job.TAIL_SCHEMA)
    return rows.sort_by([(c, "ascending") for c in cols])


def test_delta_input_contract(spark, setup, tmp_path):
    """main reads the delta with pyarrow under the build's input schema:
    what it reads equals Spark's read of the pinned schema row for row,
    for a flat delta, for a source-partitioned one whose keys are not safe
    in a path or are null, and for a delta of INT96 and TIMESTAMP_MICROS
    files. A delta whose footer lacks a column or holds another type is
    refused by name."""
    paths, out, _, _ = setup
    rows = spark.read.parquet(paths["delta2"])
    source = F.col("source")
    unsafe = rows.withColumn(
        "source",
        F.when(source == "s0", "a/b").when(source == "s1", "x%y").when(source == "s2", None)
        .otherwise(source),
    )
    deltas = {"flat": rows, "parted": unsafe}
    for name, df in deltas.items():
        writer = df.write.partitionBy("source") if name == "parted" else df.write
        writer.parquet(str(tmp_path / name))
    times = str(tmp_path / "times")
    for parity, kind in ((0, "INT96"), (1, "TIMESTAMP_MICROS")):
        with scoped_conf(spark, {"spark.sql.parquet.outputTimestampType": kind}):
            half = rows.filter(F.col("n_tok") % 2 == parity).coalesce(1)
            half.write.mode("append").parquet(times)
    files = glob.glob(os.path.join(times, "*.parquet"))
    kinds = {pq.read_schema(p).field("ts").type for p in files}
    assert kinds == {pa.timestamp("ns"), pa.timestamp("us", "UTC")}
    parted = os.listdir(str(tmp_path / "parted"))
    assert {"source=a%2Fb", "source=x%25y", "source=__HIVE_DEFAULT_PARTITION__"} <= set(parted)
    for name in ("flat", "parted", "times"):
        path = str(tmp_path / name)
        got = refresh_job.read_delta(spark, path)
        assert got.schema == refresh_job.TAIL_SCHEMA, name
        want = spark.read.schema(refresh_job.INPUT_SCHEMA).parquet(path).toArrow()
        assert got.num_rows == want.num_rows == rows.count(), name
        assert _sorted_rows(got).equals(_sorted_rows(want)), name
    keys = refresh_job.read_delta(spark, str(tmp_path / "parted"))["source"]
    assert {"a/b", "x%y", None} <= set(keys.to_pylist())
    for name, bad, problem in (
        ("wide", rows.withColumn("n_tok", F.col("n_tok").cast("long")), "n_tok is bigint"),
        ("narrow", rows.drop("tokens"), "no column tokens"),
    ):
        path = str(tmp_path / name)
        bad.write.parquet(path)
        with pytest.raises(ValueError, match=f"input .*{problem}"):
            refresh_job.main(["--output", out, "--delta-input", path])


def test_delta_above_the_driver_bound_is_refused(spark, setup, tmp_path, monkeypatch):
    """Every row of a refresh passes through the driver: a delta whose read
    columns hold more uncompressed bytes than spark.driver.maxResultSize
    (Spark's default, 1g, which the session leaves) is refused from its
    footers, before any row is read, and the tree is left as it was."""
    paths, out, _, _ = setup
    assert refresh_job._result_limit(spark) == 1 << 30
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    monkeypatch.setattr(refresh_job, "_result_limit", lambda spark: 1000)
    before = _block_files(tree)
    with pytest.raises(ValueError, match="maxResultSize .*rebuild with rollup_job"):
        refresh_job.main(["--output", tree, "--delta-input", delta])
    _assert_refused_unchanged(tree, before)


# A refresh of the setup's output, a tree with a carry tail, starts no
# Spark job: the delta is checked against one footer and read with
# pyarrow, the carry tail is read with pyarrow, and the MA-unbias pass over
# carry tail ∪ delta, the profile, the refusals, the prepared write, the
# carry-tail write, the 5m partials, the tier merge, its writes and the
# block encode all run on the driver. Only a first refresh runs Spark jobs,
# to bootstrap its carry tail from the corpus.
REFRESH_SPARK_JOBS = 0


def _block_files(root):
    """{path relative to ``root``: (bytes, mtime)} of every file."""
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(), os.path.getmtime(p))
    return out


def _decoded_blocks(spark, tree):
    from preprocessor_spark.rollup.compression import decode_tier_blocks

    blocks = spark.read.parquet(os.path.join(tree, "blocks_5m"))
    return (
        decode_tier_blocks(blocks, ["source"])
        .toPandas()[TIER_COLS]
        .sort_values(["source", "bucket_start"])
        .reset_index(drop=True)
    )


def _assert_blocks_decode_to_tier(spark, tree):
    decoded = _decoded_blocks(spark, tree)
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
    series edge, which puts rows in the second 14.2-day 5m block of every
    source, then by the measured refresh 40 days past the edge: its rows
    land in the third block, its gap rows in the second, and the first is
    untouched. The measured refresh runs under its own job group so its
    Spark jobs can be counted, with every way of starting a Python worker
    made to raise, and with the session's overwrite mode static."""
    paths, out, _, _ = setup
    work = tmp_path_factory.mktemp("far_refresh")
    tree = str(work / "tree")
    shutil.copytree(out, tree)
    first = _shifted_delta(spark, paths["delta2"], str(work / "first"), "20 DAYS")
    refresh_job.main(["--output", tree, "--delta-input", first])
    delta = _shifted_delta(spark, paths["delta2"], str(work / "delta"), "40 DAYS")
    before = _block_files(tree)
    sc = spark.sparkContext
    sc.setJobGroup("far_refresh", "refresh_job.main")
    try:
        with no_python_worker(spark), scoped_conf(spark, {OVERWRITE_MODE: "static"}):
            result = refresh_job.main(["--output", tree, "--delta-input", delta])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("far_refresh")
    return tree, before, _block_files(tree), jobs, result


def _in(dataset, files):
    """The files of ``files`` under the ``dataset`` dir, relative to it."""
    return {
        os.path.relpath(p, dataset): c
        for p, c in files.items()
        if p.split(os.sep)[0] == dataset
    }


def test_refreshed_blocks_decode_to_the_tier_and_spare_untouched_blocks(
    spark, far_refresh
):
    """Decoding every block gives back the non-empty refreshed 5m rows bit
    for bit, and the files of every (source, block) dir the delta did not
    land in are unchanged (perfbench's refresh check reads only tiers)."""
    tree, before, after, _, _ = far_refresh
    _assert_blocks_decode_to_tier(spark, tree)
    before, after = _in("blocks_5m", before), _in("blocks_5m", after)
    # files at the root (the build's _SUCCESS marker) belong to no block
    old_dirs = {os.path.dirname(p) for p in before} - {""}
    new_dirs = {os.path.dirname(p) for p in after} - old_dirs - {""}
    assert old_dirs and all("block=" in d for d in old_dirs)
    assert {d.split(os.sep)[0] for d in new_dirs} == {
        d.split(os.sep)[0] for d in old_dirs
    }
    for path, content in before.items():
        assert after.get(path) == content, f"untouched block file rewritten: {path}"


def test_refresh_rewrites_only_the_tier_blocks_it_marks(far_refresh):
    """Every tier file of a (source, block) the refresh did not mark is
    byte for byte the file it was, and the first 5m block of every source,
    which neither the delta nor its gap rows reach, is one of them."""
    tree, before, after, _, _ = far_refresh
    earlier = before["manifest.jsonl"][0].count(b"\n")
    stages = {f"refresh_{t.name}": t.name for t in DEFAULT_TIERS}
    marked = {
        (stages[r["stage"]], r["partition"])
        for r in Manifest(os.path.join(tree, "manifest.jsonl")).lineage()[earlier:]
        if r["stage"] in stages
    }
    assert {t for t, _ in marked} == set(stages.values())
    for t in DEFAULT_TIERS:
        old, new = _in(f"tier_{t.name}", before), _in(f"tier_{t.name}", after)
        # the files of (source, block) dirs, not the build's _SUCCESS
        untouched = [
            p for p in old
            if os.sep in p
            and (t.name, "/".join(d.split("=", 1)[1] for d in p.split(os.sep)[:2]))
            not in marked
        ]
        assert all(new.get(p) == old[p] for p in untouched), t.name
        if t.name == "5m":
            assert {p.split(os.sep)[1] for p in untouched} == {"block=1284"}
            assert len({p.split(os.sep)[0] for p in untouched}) > 1


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


# corpus shifts (seconds earlier) of the refresh == rebuild cases
EPOCH_CASES = {
    "2020": 0,
    "1969": SHIFT_1969_S,
    # the 5m block edge at 2020-01-14 13:20:00 (block 1285) falls at 04:00
    # of the shifted corpus, inside the delta: two touched blocks a source
    "block-edge": -(1285 * 4096 * 300 - 1577836800 - 4 * 3600),
    # a source of the delta's rows only (renamed below)
    "new-source": 0,
}


@pytest.mark.parametrize("case", list(EPOCH_CASES))
def test_refresh_equals_rebuild_across_the_epoch(spark, tmp_path, case):
    """A build refreshed with a suffix delta leaves the tiers and blocks
    that a rebuild of base ∪ delta leaves: also for a corpus before 1970
    whose times are off the bucket lattice (there a bucket key that
    truncates toward zero instead of flooring lands one bucket late), for
    a delta that straddles a 5m block edge, and for a source that only the
    delta has."""
    full = shifted(token_sequences(spark, 16_000), EPOCH_CASES[case])
    (cut,) = full.select(F.percentile(F.unix_micros("ts"), 0.8)).first()
    if case == "new-source":
        full = full.withColumn(
            "source",
            F.when(
                (F.unix_micros("ts") >= cut) & (F.col("source") == "s1"), F.lit("s9")
            ).otherwise(F.col("source")),
        )
    paths = {}
    for name, df in (
        ("full", full),
        ("base", full.filter(F.unix_micros("ts") < cut)),
        ("delta", full.filter(F.unix_micros("ts") >= cut)),
    ):
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])
    out, truth = str(tmp_path / "out"), str(tmp_path / "truth")
    rollup_job.main(["--input", paths["base"], "--output", out])
    refresh_job.main(
        ["--output", out, "--delta-input", paths["delta"], "--input", paths["base"]]
    )
    os.makedirs(truth)
    for f in ("split_params.json", "norm_params.json"):
        shutil.copy(os.path.join(out, f), os.path.join(truth, f))
    rollup_job.main(["--input", paths["full"], "--output", truth, "--resume"])

    assert spark.read.parquet(paths["delta"]).count() > 0
    if case == "block-edge":
        sources = glob.glob(os.path.join(out, "tier_5m", "source=*"))
        assert sources and all(
            sorted(os.listdir(d)) == ["block=1284", "block=1285"] for d in sources
        )
    if case == "new-source":
        assert os.path.isdir(os.path.join(out, "tier_5m", "source=s9"))
    _assert_tiers_equal(spark, out, truth)
    _assert_rows_equal(
        _decoded_blocks(spark, out), _decoded_blocks(spark, truth), "blocks_5m"
    )


def test_refresh_reports_its_block_encode(spark, far_refresh):
    """The JSON line records the driver-side encode: the blocks written
    (one per new (source, block) dir) and the tier rows they hold."""
    tree, before, after, _, result = far_refresh
    before, after = _in("blocks_5m", before), _in("blocks_5m", after)
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
    _assert_refused_unchanged(tree, before)


def test_refresh_refuses_source_only_tier_layout(spark, setup, tmp_path):
    """A tree whose tier files sit directly under source=<s>/ (the layout
    before tier blocks) is refused before the refresh marks anything:
    moving it into blocks would rewrite the whole history, so the error
    asks for a rebuild, and the tree and its manifest are left as they
    were."""
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    tier = os.path.join(tree, "tier_1h")
    old = spark.read.parquet(tier).drop("block")
    old.write.partitionBy("source").parquet(tier + ".old")
    shutil.rmtree(tier)
    os.replace(tier + ".old", tier)
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    before = _block_files(tree)
    with pytest.raises(ValueError, match="rebuild with rollup_job"):
        refresh_job.main(["--output", tree, "--delta-input", delta])
    _assert_refused_unchanged(tree, before)


# 1969-12-29 00:00:00 less half a second: every row of the corpus sits 0.5 s
# before a minute, so a row at a 5-minute edge floors to the last second of
# the bucket before it, where a truncation toward zero would put it one
# bucket late. (SHIFT_1969_S leaves every row 7.5 s before a minute, where
# the floor and the truncation give the same bucket.)
SUB_SECOND_1969_US = (SHIFT_1969_S - 7) * 1_000_000 + 500_000


def _reference_tiers(spark, facts_path, norm_params_path):
    """The tiers of a corpus computed in pandas from its raw ``ts``: the
    epoch second is the floor of the micros, each value z-scored under the
    persisted params less its source's trailing 5-row mean in (ts, doc_id)
    order, every tier gap-filled from each source's first to last bucket."""
    import pandas as pd

    from preprocessor_spark.params import load_params
    from preprocessor_spark.rollup.tiers import duration_seconds

    p = load_params(norm_params_path).params["per_column"]["n_tok_z"]
    f = (
        spark.read.parquet(facts_path)
        .select("source", F.unix_micros("ts").alias("us"), "doc_id", "n_tok")
        .toPandas()
        .sort_values(["source", "us", "doc_id"], kind="stable")
    )
    z = (f["n_tok"].astype("float64") - p["mean"]) / p["std"]
    ma = z.groupby(f["source"]).transform(
        lambda x: x.rolling(rollup_job.MA_WINDOW, min_periods=1).mean()
    )
    tss = f["us"].to_numpy() // 1_000_000
    out = {}
    for tier in DEFAULT_TIERS:
        step = duration_seconds(tier.duration)
        g = pd.DataFrame(
            {"source": f["source"].to_numpy(), "b": tss - tss % step, "v": (z - ma).to_numpy()}
        )
        agg = g.assign(sq=g["v"] * g["v"]).groupby(["source", "b"]).agg(
            n_points=("v", "size"), sum_v=("v", "sum"), sum_sq=("sq", "sum"),
            min_v=("v", "min"), max_v=("v", "max"),
        )
        spine = pd.MultiIndex.from_tuples(
            [
                (s, b)
                for s, bs in agg.reset_index().groupby("source")["b"]
                for b in range(bs.min(), bs.max() + step, step)
            ],
            names=["source", "b"],
        )
        t = agg.reindex(spine).reset_index()
        t["n_points"] = t["n_points"].fillna(0).astype("int64")
        t["bucket_start"] = pd.to_datetime(t["b"], unit="s")
        out[tier.name] = t[TIER_COLS]
    return out


def _assert_tiers_match_reference(spark, root, want):
    for name, ref in want.items():
        got = _tier_pdf(spark, root, name)
        assert len(got) == len(ref), name
        for c in ("source", "bucket_start", "n_points"):
            assert (got[c].to_numpy() == ref[c].to_numpy()).all(), (name, c)
        for c in ("sum_v", "sum_sq", "min_v", "max_v"):
            a, b = got[c].to_numpy(float), ref[c].to_numpy(float)
            assert (np.isnan(a) == np.isnan(b)).all(), (name, c)
            m = ~np.isnan(b)
            assert (np.abs(a[m] - b[m]) <= 1e-9 * np.maximum(1.0, np.abs(b[m]))).all(), (
                name, c,
            )


def test_sub_second_times_before_1970_bucket_by_their_floor(spark, tmp_path):
    """Before 1970 a sub-second time is stored, bounded and bucketed by the
    floor of its epoch micros, in the build and in the refresh alike: both
    leave the tiers an independent pandas rebuild from the raw ``ts``
    gives."""
    full = token_sequences(spark, 16_000).withColumn(
        "ts", F.timestamp_micros(F.unix_micros("ts") - F.lit(SUB_SECOND_1969_US))
    )
    (cut,) = full.select(F.percentile(F.unix_micros("ts"), 0.8)).first()
    paths = {}
    for name, df in (
        ("full", full),
        ("base", full.filter(F.unix_micros("ts") < cut)),
        ("delta", full.filter(F.unix_micros("ts") >= cut)),
    ):
        paths[name] = str(tmp_path / name)
        df.write.parquet(paths[name])
    out = str(tmp_path / "out")
    rollup_job.main(["--input", paths["base"], "--output", out])
    params = os.path.join(out, "norm_params.json")
    _assert_tiers_match_reference(spark, out, _reference_tiers(spark, paths["base"], params))
    refresh_job.main(
        ["--output", out, "--delta-input", paths["delta"], "--input", paths["base"]]
    )
    _assert_tiers_match_reference(spark, out, _reference_tiers(spark, paths["full"], params))


def test_late_row_inside_the_edge_second_is_refused(spark, tmp_path):
    """The seam check orders rows by (ts, doc_id), not by epoch second: a
    delta row 0.3 s before a source's last row, in the same second, is
    refused before anything is written, and one 0.3 s after it is
    absorbed into the tiers an independent pandas rebuild gives."""
    half = F.timestamp_micros(F.unix_micros("ts") + F.lit(500_000))
    base = str(tmp_path / "base")
    token_sequences(spark, 16_000).withColumn("ts", half).filter(
        F.col("ts") < CUT1
    ).write.parquet(base)
    out = str(tmp_path / "out")
    rollup_job.main(["--input", base, "--output", out])
    edge = (
        spark.read.parquet(base)
        .filter(F.col("source") == "s0")
        .orderBy(F.col("ts").desc(), F.col("doc_id").desc())
        .limit(1)
    )
    deltas = {}
    for name, shift_us in (("late", -300_000), ("after", 300_000)):
        deltas[name] = str(tmp_path / name)
        edge.withColumn(
            "ts", F.timestamp_micros(F.unix_micros("ts") + F.lit(shift_us))
        ).withColumn("doc_id", F.lit(f"doc-{name}")).write.parquet(deltas[name])
    before = _block_files(out)
    with pytest.raises(ValueError, match="order-dependent"):
        refresh_job.main(
            ["--output", out, "--delta-input", deltas["late"], "--input", base]
        )
    _assert_refused_unchanged(out, before)
    refresh_job.main(["--output", out, "--delta-input", deltas["after"], "--input", base])
    facts = str(tmp_path / "facts")
    spark.read.parquet(base).unionByName(spark.read.parquet(deltas["after"])).write.parquet(
        facts
    )
    params = os.path.join(out, "norm_params.json")
    _assert_tiers_match_reference(spark, out, _reference_tiers(spark, facts, params))


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


def _jobs_of(spark, group, fn):
    """The ids of the Spark jobs ``fn`` starts, run under job group
    ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_stream_epoch_started_but_not_completed_is_refused(spark, setup, tmp_path):
    """An epoch whose refresh started and never completed may be partly in
    the tree: its replay raises through the job's own guard, before any
    Spark job."""
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    manifest = Manifest(os.path.join(tree, "manifest.jsonl"))
    manifest.mark("refresh_delta_started", "run:3")
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    before = _block_files(tree)
    batch = rollup_stream.make_refresh_batch(tree, "run")
    rows = spark.read.parquet(delta)

    def replay():
        with pytest.raises(ValueError, match="started but did not complete"):
            batch(rows, 3)

    assert _jobs_of(spark, "started_replay", replay) == []
    _assert_refused_unchanged(tree, before)


def test_named_absorbed_delta_is_refused_before_any_spark_job(spark, setup, streamed):
    """A delta whose named fingerprint the manifest marks absorbed is
    refused before any Spark job: a refused replay costs none."""
    paths, _, _, _ = setup
    tree, checkpoint = streamed
    key = rollup_stream._checkpoint_key(checkpoint)
    before = _block_files(tree)
    rows = spark.read.parquet(paths["delta2"])

    def replay():
        with pytest.raises(ValueError, match="already absorbed"):
            refresh_job.absorb(spark, tree, rows, fingerprint=f"{key}:1")

    assert _jobs_of(spark, "absorbed_replay", replay) == []
    _assert_refused_unchanged(tree, before)


def test_stream_micro_batch_starts_no_python_worker(spark, setup, tmp_path):
    paths, out, _, _ = setup
    tree = str(tmp_path / "tree")
    shutil.copytree(out, tree)
    delta = _shifted_delta(spark, paths["delta2"], str(tmp_path / "delta"), "1 DAY")
    batch = rollup_stream.make_refresh_batch(tree, "run")
    with no_python_worker(spark):
        batch(spark.read.parquet(delta), 0)
    assert _refresh_marks(tree)[-1] == "run:0"
