"""End-to-end rollup/retention job — the spark-submit entrypoint.

    spark-submit --py-files engine.zip preprocessor_spark/plans/rollup_job.py \
        --input /path/token_sequences --output /path/out --resume

Pipeline (the north-rule composition):
  1. scan the pre-tokenized corpus (doc_id, tokens, n_tok, source, ts);
  2. six-way temporal split boundaries, fitted from the profile plus ONE
     edge pass over the few buckets that hold split edges, and persisted
     (a reader labels rows from them with pure partition-prunable
     predicates, ``TemporalSplitter.split_by_time_boundaries``; the
     prepared series carries no label);
  3. z-score normalize n_tok fit ONLY on d1+d2, from the moments of n_tok
     that the same edge pass sums up to each split edge
     (``Normalizer.fit_moments``: no aggregate of its own); both params are
     persisted as JSON sidecars with checksums, and a resume reuses them
     together or refits both;
  4. MA-unbias the normalized series per source;
  5. rollup tree: 5m → 1h → 1d continuous aggregates of token-length stats,
     gap-filled dense per source at each tier, each tier's files one
     directory per (source, block) (``tiers.block_of``), so a refresh
     rewrites only the blocks its delta lands in. Spark aggregates the
     facts into the non-empty 5m buckets and collects them with
     ``toArrow`` (its last job, ``incremental.epoch_partials``); the
     driver adds each source's gap rows over its floored bounds
     (``incremental.gap_seeds``, as the refresh seeds its extensions),
     writes the dense 5m tier and folds the 1h and 1d tiers from it
     (``incremental.fold_partials``), one source at a time, with no Spark
     job and no Python worker: the 5m tier holds one row per source per
     bucket, so its size follows the history span, not the facts;
  6. Gorilla/delta-of-delta block compression per (source, block), in the
     same driver pass (``compression.encode_blocks_local``), with the
     writers the refresh uses (``incremental.write_tier_blocks`` and
     ``write_series_blocks``);
  7. per-(tier, source) checkpointed writes + lineage manifest: ONE
     ``checkpoint.publish_units`` moves and marks every unit the pass
     wrote (resumable: marked units are skipped, ``blocks_5m`` is replaced
     whole).

Every driver-side fact the stages need — the row count, the split fit's
bucket counts, the unbias chunk cuts, the per-series time bounds behind
``series_bounds.json`` and the gap rows, and, with the edge pass, the
z-score's moments — comes from ONE time profile of the corpus
(``operators.positions.time_profile`` on the 5m lattice: one aggregate per
(source, 5m bucket) of the rows, the min/max ts and the count, sum and sum
of squares of n_tok), not from a scan per stage. Its rows are the non-empty
5m buckets, the rows the driver pass handles anyway. The build runs six
Spark jobs: the corpus's schema inference, the profile, the edge pass, the
unbias chunk broadcast, the prepared write and the tier-0 collect. It runs
with AQE off: every shuffle is sized from the profile, so AQE's re-planning
would only add a job per exchange.

Emits ONE JSON line with per-tier rolled-up points/sec (the BASELINE.json
metric) so the same artifact serves as the scaling-evidence probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import pyarrow as pa

from pyspark.sql import functions as F
from pyspark.sql import types as T

# Scan splits of the rollup phase: ~this many task waves per core (see
# _build). Row groups of the prepared series: small enough that its files
# stay splittable into those waves.
SCAN_WAVES = 4
PREPARE_RG_BYTES = 4 << 20
# What a refresh (plans/refresh_job.py) must continue exactly as the build
# left it: the MA-unbias window and the carry tail's sidecar (the block
# grain of the tiers is tiers.block_of).
MA_WINDOW = 5
TAIL_NAME = "unbias_tail.parquet"


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="token_sequences parquet dir")
    p.add_argument("--output", required=True)
    p.add_argument("--master", default=None)
    p.add_argument("--resume", action="store_true")
    args = p.parse_args(argv)

    from preprocessor_spark import get_spark
    from preprocessor_spark.rollup.checkpoint import Manifest
    from preprocessor_spark.session import class_archive, scoped_conf

    spark = get_spark("rollup_job", master=args.master, batch_committer_v2=True)
    spark.sparkContext.setLogLevel("ERROR")
    out = args.output
    os.makedirs(out, exist_ok=True)
    manifest = Manifest(os.path.join(out, "manifest.jsonl"))
    # a build is a fixed sequence of statically sized stages (sizes below,
    # all from the profile): AQE's per-exchange materialize + re-plan
    # barriers are pure fixed cost here — a job per exchange and idle
    # scheduling gaps that scale with core count, not data (measured
    # ~0.5 s/exchange even warm). The caller's settings come back after.
    # Times are stored as INT64 micros, the type the refresh's pyarrow
    # writes use, with column statistics (INT96 has none).
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        },
    ):
        result = _build(spark, args, out, manifest)
    # whether this run paid the JVM's cold class loading (session.py)
    result["class_archive"] = class_archive(spark)
    print(json.dumps(result))
    return result


def fit_params(corpus, profile) -> tuple:
    """The build's split boundaries and its z-score of n_tok over d1+d2,
    as (split params, z-score params), from ``profile`` (the corpus's
    lattice profile with the moments of n_tok) plus the split fit's ONE
    edge pass. The boundary fit reads the profile's bucket counts, with no
    global row_number shuffle (equivalence with the positional path is
    tested in tests/test_splitter.py); its pass also sums n_tok up to each
    edge, so the z-score needs no pass of its own. n_tok_z is n_tok as a
    double: its moments are n_tok's."""
    from preprocessor_spark.operators import Normalizer, TemporalSplitter

    sp = TemporalSplitter(time_col="ts", tiebreak_cols=["doc_id"])
    split = sp.fit_time_boundaries(corpus, profile=profile)
    train = [k for k in ("d1", "d2") if k in sp.split_moments]
    moments = tuple(sum(sp.split_moments[k][i] for k in train) for i in range(3))
    rows = sum(split.params["boundaries"][k]["sample_count"] for k in train)
    norm = Normalizer(method="zscore", columns=["n_tok_z"])
    return split, norm.fit_moments({"n_tok_z": moments}, n_samples=rows)


def _clear_previous_build(out: str) -> None:
    """Make ``out`` ready for a fresh (not resumed) build: rotate the old
    manifest and carry tail, and remove every tier. Runs after the fits, so
    that a corpus the fit refuses leaves the old tree as it was."""
    from preprocessor_spark.rollup.checkpoint import TIER_PREFIX
    from preprocessor_spark.rollup.tiers import DEFAULT_TIERS

    # a FRESH run into an existing output dir must not inherit the old
    # run's completion marks — they would silently skip every tier
    # recompute and leave stale tier data inconsistent with the newly
    # fitted params/prepared series; rotate, don't delete (audit trail)
    manifest_path = os.path.join(out, "manifest.jsonl")
    if os.path.exists(manifest_path):
        os.replace(manifest_path, manifest_path + ".prev")
    # refresh_job's MA-carry sidecar belongs to the PREVIOUS build's
    # prepared series: left in place, the next refresh would silently
    # continue the unbias seam from stale carry rows (wrong predecessors
    # for the first w-1 delta rows per source). Rotate it with the
    # manifest; a post-rebuild refresh re-bootstraps via --input, whose
    # edge then matches the rebuilt series_bounds.json.
    tail_sidecar = os.path.join(out, TAIL_NAME)
    if os.path.exists(tail_sidecar):
        shutil.rmtree(tail_sidecar + ".prev", ignore_errors=True)
        os.replace(tail_sidecar, tail_sidecar + ".prev")
    for leftover in (tail_sidecar + ".tmp", tail_sidecar + ".bak"):
        shutil.rmtree(leftover, ignore_errors=True)
    # the build replaces only the units of the new corpus's series: a
    # series the old tree had and the new corpus lacks would survive in
    # every tier, and the block encode would carry it into blocks_5m
    for tier in DEFAULT_TIERS:
        shutil.rmtree(os.path.join(out, TIER_PREFIX + tier.name), ignore_errors=True)


def _build(spark, args, out: str, manifest) -> dict:
    from preprocessor_spark.operators import Normalizer, Unbiaser
    from preprocessor_spark.operators.positions import time_profile
    from preprocessor_spark.params import load_params, save_params

    from preprocessor_spark.rollup.checkpoint import (
        TIER_COL,
        TIER_PREFIX,
        UNITS_TMP,
        partition_dir,
        publish_units,
    )
    from preprocessor_spark.rollup.incremental import (
        EPOCH_ROWS,
        by_series,
        epoch_partials,
        fold_partials,
        gap_seeds,
        save_bounds,
        write_series_blocks,
        write_tier_blocks,
    )
    from preprocessor_spark.rollup.tiers import (
        DEFAULT_TIERS,
        RollupTree,
        duration_seconds,
        epoch_seconds,
    )
    from preprocessor_spark.session import scoped_conf

    sc = spark.sparkContext
    cores = sc.defaultParallelism
    t_start = time.perf_counter()
    corpus = spark.read.parquet(args.input)
    source_field = corpus.schema["source"]
    base, coarse = DEFAULT_TIERS[0], DEFAULT_TIERS[1:]
    step0 = duration_seconds(base.duration)
    coarse_steps = [duration_seconds(t.duration) for t in coarse]
    for tier, step in zip(coarse, coarse_steps):
        if step % step0 != 0:
            # Not an assert: the coarse tiers are folded from the finest
            # tier's buckets, which is only valid when each coarse period
            # is a multiple of the finest, and python -O would strip an
            # assert — a custom tier must fail loudly, not misalign buckets
            # silently.
            raise ValueError(
                f"tier {tier.name} period ({step}s) must nest in the finest "
                f"tier's period ({step0}s)"
            )

    # -- profile: the one fact-finding pass over the corpus ----------------
    # one aggregate per (source, 5m bucket): rows, min/max ts and the
    # moments of n_tok. It, the split fit's edge pass and the tier-0
    # aggregate collect a few ten thousand rows at most: one reduce
    # partition for the first two.
    one_part = {"spark.sql.shuffle.partitions": 1}
    sc.setJobDescription("profile")
    with scoped_conf(spark, one_part):
        profile = time_profile(corpus, "ts", ["source"], step_s=step0, value_col="n_tok")
    sc.setLocalProperty("spark.job.description", None)
    n_rows = profile.rows

    # -- split and z-score: one fit, resumed together -------------------
    split_params_path = os.path.join(out, "split_params.json")
    norm_params_path = os.path.join(out, "norm_params.json")
    fitted = not (
        args.resume
        and os.path.exists(split_params_path)
        and os.path.exists(norm_params_path)
    )
    if fitted:
        with scoped_conf(spark, one_part):
            split_params, nparams = fit_params(corpus, profile)
    else:
        split_params, nparams = load_params(split_params_path), load_params(norm_params_path)
    if not args.resume:
        _clear_previous_build(out)
    if fitted:
        save_params(split_params_path, split_params)
        save_params(norm_params_path, nparams)
    # per-series [t0, t1] in epoch SECONDS as the prepared series stores
    # them (tss = tiers.epoch_seconds(ts), the floor of the micros),
    # without reading it back
    bounds_rows = [
        (src, lo // 1_000_000, hi // 1_000_000)
        for src, _n, lo, hi in profile.bounds
        if lo is not None
    ]
    # sidecar consumed by plans/refresh_job.py: the per-series edge state a
    # dense tier needs to seed ONLY its new buckets on an incremental
    # refresh (rollup/incremental.py)
    save_bounds(os.path.join(out, "series_bounds.json"), bounds_rows, ["source"])

    # -- normalize: train-only fit, transform all -------------------------
    # raw n_tok stays for the rollup; n_tok_z is the z-scored series
    with_z = corpus.withColumn("n_tok_z", F.col("n_tok").cast("double"))
    normed = Normalizer().transform(with_z, nparams)

    # -- unbias (MA residual of the z-scored series per source) ----------
    unb = Unbiaser(
        method="ma",
        window_size=MA_WINDOW,
        series_cols=["source"],
        value_cols=["n_tok_z"],
        tiebreak_cols=["doc_id"],
        chunk_rows=100_000,  # scale path: parallelism = sources x chunks
    )
    # Materialize the prepared series once (resumable unit): every tier and
    # the compression read it; recomputing the window chain per consumer
    # would multiply the most shuffle-heavy stage. This is also the honest
    # metric boundary — "rolled-up points/sec per retention tier" measures
    # the rollup, with preprocessing reported as its own stage.
    # The prepared intermediate carries ONLY the columns the rollup tree
    # reads — (ts, source, n_tok_z). Narrower row groups cut tier-0
    # scan/decode (the probe-identified bottleneck of the N→4N scaling
    # measurement); a doc-level normalized corpus with ids/splits is a
    # different sink, written by the CLI pipeline when asked for.
    # sortWithinPartitions keeps each file run-length-friendly (source
    # dictionary runs, near-monotone ts → tight parquet encodings) without
    # an extra shuffle.
    # The event time is stored as epoch SECONDS (long) — the rollup's bucket
    # key is then integer arithmetic per row (tiers.epoch_floor) instead of
    # timestamp/window-struct arithmetic, and the timestamp conversion
    # happens post-aggregate on |buckets| rows, not |facts| rows.
    prepared_path = os.path.join(out, "prepared")
    t0 = time.perf_counter()
    prepare_ran = not (
        args.resume and os.path.exists(os.path.join(prepared_path, "_SUCCESS"))
    )
    if prepare_ran:
        # Prepare-shuffle sizing: the MA-unbias window is a full-width
        # sort, and sort partitions must FIT IN TASK MEMORY — at the tier
        # policy's cores×1 partitions (16 here), 121M rows meant 7.6M-row
        # sorts that spill and external-merge (measured: +25-37% CPU at
        # 4N, 2 ragged task waves, prepare N→4N efficiency 0.52-0.69).
        # ~2M-row partitions eliminate the spill (measured: 8-core prepare
        # wall -34%, CPU below even the 2-core baseline, efficiency 0.86).
        # The tier-0 aggregate below prefers cores×1 (map-side combine
        # collapses it before the shuffle).
        prep_parts = max(cores, n_rows // 2_000_000)
        # Row-group size: parquet scan parallelism is ROW-GROUP-bound — a
        # file with one row group is one indivisible task no matter what
        # maxPartitionBytes says. The unbiaser emits one ~file per
        # (source, chunk), and on a narrow 3-column schema those files
        # compress to ~1-2 bytes/row: a 14 MB single-row-group file is a
        # 6M-row task, and 16 such uneven tasks over 8 cores is 2 ragged
        # waves (measured 66% core utilization at 4N). Small row groups
        # (PREPARE_RG_BYTES) restore splittability while KEEPING each
        # file's (source, ts) clustering, so map-side combine in the
        # tier-0 aggregate still collapses each scan task to its own narrow
        # bucket range. At production file sizes (hundreds of MB) the
        # default 128 MB group already yields many groups per file; this
        # floor only matters when files are small relative to the default.
        sc.setJobDescription("prepare")
        with scoped_conf(spark, {"spark.sql.shuffle.partitions": int(prep_parts)}):
            # the profile was taken over the corpus, whose rows and ts the
            # split and z-score keep: its buckets cut the unbias chunks
            unb.transform(normed, profile=profile).select(
                # long, not int: int32 epochs silently wrap negative at/after
                # 2038-01-19 in non-ANSI mode, corrupting bucket keys. On a
                # sorted column the parquet dictionary/delta encodings make
                # the width difference negligible.
                epoch_seconds("ts").alias("tss"),
                "source",
                "n_tok_z",
            ).sortWithinPartitions(
                "source", "tss"
            ).write.mode("overwrite").option(
                "parquet.block.size", str(PREPARE_RG_BYTES)
            ).parquet(prepared_path)
    prepare_seconds = round(time.perf_counter() - t0, 3) if prepare_ran else None
    # Scan-split policy for the rollup phase: size input splits to
    # ~SCAN_WAVES task waves per core. Spark's default bytesPerCore sizing
    # yields ~1 wave of large uneven tasks, and AQE cannot re-split INPUT
    # partitions — the resulting last-wave stragglers idle most of the
    # cluster (measured 66% core utilization at 4N vs 95% at N:
    # quantization, not bandwidth, capped the scaling efficiency).
    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(prepared_path)
        for f in fs
    )
    split = max(8 << 20, min(128 << 20, total_bytes // (cores * SCAN_WAVES)))
    tier_conf = {
        "spark.sql.files.maxPartitionBytes": int(split),
        "spark.sql.files.openCostInBytes": 1 << 20,
        "spark.sql.shuffle.partitions": cores,
    }
    # pinned schemas: the engine wrote these datasets itself, so reading
    # them needs no footer-inference job
    prepared = spark.read.schema(
        T.StructType(
            [
                T.StructField("tss", T.LongType()),
                source_field,
                T.StructField("n_tok_z", T.DoubleType()),
            ]
        )
    ).parquet(prepared_path)

    # -- rollup tree with gap-fill + compression ---------------------------
    # the rolled-up series is the PREPROCESSED one (z-scored + MA-unbiased
    # token length) — the whole point of the pipeline.
    # tier-0 uses the PLAIN partial+final hash aggregate: map-side combine
    # already collapses each task to ≤ |series × buckets| rows, and the
    # shuffle key (source, bucket) has high cardinality, so the hot source
    # spreads across reducers naturally. Salting an aggregate multiplies
    # the shuffled partial rows by the salt factor for no benefit — the
    # library's salted path (tree.salted_aggregate, which no job calls,
    # kept equivalence-tested) is for single-hot-KEY shapes.
    tree = RollupTree(series_cols=["source"], value_col="n_tok_z")

    # ---- tier 0: facts → the non-empty 5m buckets (one job) -------------
    # Its rows are the profile's, a few per source per hour of history:
    # Spark aggregates the facts and the driver collects the result; gap
    # rows are added below, from the bounds, where a spine in the
    # aggregate would ride the facts' shuffle and a Spark write would be
    # read back. Job descriptions tag each phase for the Spark UI and
    # event-log attribution.
    metrics = {}
    t0 = time.perf_counter()
    sc.setJobDescription(f"tier0_{base.name}")
    with scoped_conf(spark, tier_conf):
        facts = epoch_partials(tree, prepared, step0)
    sc.setLocalProperty("spark.job.description", None)
    # every 5m bucket of each source's floored [t0, t1]: a gap bucket
    # folds to n_points = 0 and null stats, as the refresh's seeds do
    dense = fold_partials(
        pa.concat_tables([facts, gap_seeds(bounds_rows, facts.schema, step0)]),
        ["source", "bucket_epoch"],
    )
    tier0 = {
        key: rows.cast(EPOCH_ROWS).sort_by("bucket_epoch")
        for key, rows in by_series(dense, ["source"])
    }
    tier0_rows = sum(t.num_rows for t in tier0.values())
    dt = time.perf_counter() - t0
    metrics[base.name] = {
        "seconds": round(dt, 3),
        "in_points": n_rows,
        "out_buckets": tier0_rows,
        "points_per_sec": round(n_rows / dt),
    }

    # ---- every tier and the blocks on the driver, one source at a time --
    # Tier 0 is one row per series per 5m bucket: its size follows the
    # history span, not the facts, and a few thousand rows a source cost
    # milliseconds in Arrow where a cold Spark stage (and the encode's
    # Python worker) costs seconds. Because each coarse period is a
    # multiple of the finest, each coarse tier is tier 0's rows floored to
    # its period and folded, gap rows included (sum(n_points) = 0 and
    # null-skipping folds give exactly the gap rows a dense spine would).
    # The rows are folded in time order. Marked (tier, source) units are
    # skipped on resume; blocks_5m is replaced whole, so no block of an
    # older history stays.
    t0 = time.perf_counter()
    tmp = os.path.join(out, UNITS_TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    blocks_tmp = os.path.join(tmp, "blocks")
    os.makedirs(blocks_tmp)
    done = {t.name: manifest.completed(TIER_PREFIX + t.name) for t in DEFAULT_TIERS}
    units, encode_s, encode_rows, blocks_written = [], 0.0, 0, 0
    for src, _lo, _hi in bounds_rows:
        rows = tier0[(src,)]
        unit = partition_dir(["source"], (src,))
        if str(src) not in done[base.name]:
            write_tier_blocks(os.path.join(tmp, f"{TIER_COL}={base.name}", unit), rows, step0)
            units.append((base.name, (src,)))
        t_enc = time.perf_counter()
        ks, n = write_series_blocks(os.path.join(blocks_tmp, unit), rows, step0)
        encode_s += time.perf_counter() - t_enc
        encode_rows += n
        blocks_written += len(ks)
        epochs = rows["bucket_epoch"].to_numpy()
        for tier, step in zip(coarse, coarse_steps):
            if str(src) in done[tier.name]:
                continue
            floored = rows.set_column(0, "bucket_epoch", pa.array(epochs - epochs % step))
            write_tier_blocks(
                os.path.join(tmp, f"{TIER_COL}={tier.name}", unit),
                fold_partials(floored, ["bucket_epoch"]).sort_by("bucket_epoch"),
                step,
            )
            units.append((tier.name, (src,)))
    blocks_path = os.path.join(out, "blocks_" + base.name)
    shutil.rmtree(blocks_path, ignore_errors=True)
    os.replace(blocks_tmp, blocks_path)
    publish_units(out, ["source"], units, manifest, TIER_PREFIX, t0)
    if coarse:
        lineage = manifest.lineage()
        rows_by_tier = {
            t.name: sum(r["rows"] for r in lineage if r["stage"] == TIER_PREFIX + t.name)
            for t in coarse
        }
        dt = time.perf_counter() - t0 - encode_s
        metrics["+".join(t.name for t in coarse)] = {
            "seconds": round(dt, 3),
            "in_points": tier0_rows,
            "out_buckets": sum(rows_by_tier.values()),
            "points_per_sec": round(tier0_rows / dt),
            "out_buckets_by_tier": rows_by_tier,
        }

    total = time.perf_counter() - t_start
    rollup_seconds = sum(m["seconds"] for m in metrics.values())
    return {
        "job": "rollup_job",
        "input_rows": n_rows,
        "total_seconds": round(total, 3),
        "points_per_sec": round(n_rows / total),
        # null, not a nonsense number, when the prepare stage was resumed
        # from a prior run's output (its wall time was ~0 bookkeeping)
        "prepare_seconds": prepare_seconds,
        "prepare_points_per_sec": (
            round(n_rows / max(prepare_seconds, 1e-9)) if prepare_ran else None
        ),
        "rollup_points_per_sec": round(n_rows / max(rollup_seconds, 1e-9)),
        "tiers": metrics,
        "compress_seconds": round(encode_s, 3),
        "encode_rows": encode_rows,
        "blocks_written": blocks_written,
        "lineage_rows": len(manifest.lineage()),
    }


if __name__ == "__main__":
    main(sys.argv[1:])
