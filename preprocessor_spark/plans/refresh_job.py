"""Incremental refresh job — absorb an appended delta corpus into an
existing rollup_job output, touching O(|delta|) data.

    spark-submit --py-files engine.zip preprocessor_spark/plans/refresh_job.py \
        --output /path/out --delta-input /path/new_sequences [--input /path/corpus]

``absorb`` runs the steps below on a delta DataFrame. ``main`` is its
command line; streaming/rollup_stream.py calls it once per micro-batch.

Continues every stage of plans/rollup_job.py on the delta ONLY, under the
original run's persisted decisions (the production contract: params are
fitted once and versioned — a param re-fit is a rebuild event, not a
refresh):

  0. ONE profile aggregate over delta ∪ carry tail gives, per source, the
     delta's row count and exact min/max ts and the tail's max ts. Every
     driver-side decision below comes from it: the double-apply
     fingerprint, the late-data and stale-tail refusals, the bounds the
     tier refresh extends and derives its touched partitions from, and the
     blocks to re-encode;
  1. split labels from the persisted time boundaries (pure predicates);
  2. z-score from the persisted params (no re-fit);
  3. MA-unbias CONTINUATION: the first delta rows' trailing windows span
     the seam, so the job prepends each source's last w−1 historical rows
     (the "carry tail"), runs the identical window, and drops the carried
     rows — residuals equal a full-corpus recompute exactly. The tail is
     persisted per refresh (sources × (w−1) rows — tiny), rebuilt with one
     top-(w−1) window over tail ∪ delta; the FIRST refresh bootstraps it
     from the original corpus (--input) with a max-ts + widening-margin
     scan, the only O(corpus) touch, paid once.
  4. delta prepared rows appended to the prepared store;
  5. every tier refreshed in place via rollup/incremental.py from the
     prepared delta (epoch-second ``tss``, bucketed by the build's epoch
     chain) and the profile's bounds. Spark aggregates the delta to 5m
     partials and collects them as Arrow: its last job. On the driver the
     1h/1d partials are folded from them, the dense tiers' new empty
     buckets are seeded from the bounds' growth, and each touched (tier,
     source) merges its touched (source, block) files with pyarrow and
     publishes them through ``checkpoint.publish_units``;
  6. Gorilla/delta-of-delta blocks re-encoded, inside step 5, only for the
     (source, block) pairs of the 5m files it rewrote, from the merged rows
     it holds (``compression.encode_blocks_local``), and their directories
     replaced. An executor encode would start a Python worker, whose cold
     start costs seconds where the encode costs milliseconds, so no step of
     a refresh starts a Python worker. A tree whose tier files or blocks
     predate the (source, block) layout is refused up front, before any
     mark: migrating it would rewrite the whole history;
  7. lineage rows appended to the same manifest.

The job reads its own datasets (carry tail, tier partitions) with their
schema pinned, and runs with AQE off and shuffles sized from the profile:
a refresh moves O(delta) rows, so schema-inference jobs and AQE's
per-exchange re-planning jobs would be most of its Spark jobs.

Append-only seam contract: the MA continuation is only exact when every
delta row lands at-or-after its source's previous max event time (order-
dependent operators cannot absorb interior late data incrementally — a
late row changes the residuals of rows AFTER it, which are already
written). The job validates this per source and refuses otherwise; the
tier refresh itself (order-free algebra) has no such constraint and is
exercised with late data in tests/test_incremental.py.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import shutil
import sys
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from preprocessor_spark.plans.rollup_job import MA_WINDOW, TAIL_NAME
from preprocessor_spark.rollup.tiers import epoch_seconds

TAIL_COLS = ["source", "ts", "doc_id", "n_tok"]


def top_rows(
    df: DataFrame,
    series_cols: list[str],
    time_col: str,
    tiebreak_cols: list[str],
    k: int,
) -> DataFrame:
    """Last ``k`` rows per series by (time, tiebreaks): one window."""
    w = Window.partitionBy(*series_cols).orderBy(
        *[F.col(c).desc() for c in (time_col, *tiebreak_cols)]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def source_tails(
    corpus: DataFrame,
    series_cols: list[str],
    time_col: str,
    tiebreak_cols: list[str],
    k: int,
    margin_s: int = 3600,
) -> DataFrame:
    """Last ``k`` rows per series of a whole corpus without a global sort:
    one partial-agg pass learns each series' max time and row count, then
    a widening time-margin predicate bounds the candidate set (a
    pushed-down parquet filter) before the small top-k window. Widens ×16
    until every series has min(k, its total) candidates."""
    stats = corpus.groupBy(*series_cols).agg(
        F.max(time_col).alias("__mx"), F.count(F.lit(1)).alias("__tot")
    )
    b = F.broadcast(stats)
    while True:
        # epoch-long arithmetic, not INTERVAL: the widening loop can push
        # the margin past interval bounds, and the predicate compares two
        # columns anyway (no pushdown to lose)
        cand = corpus.join(b, series_cols).filter(
            F.unix_timestamp(F.col(time_col))
            >= F.unix_timestamp(F.col("__mx")) - F.lit(int(margin_s))
        )
        counts = {
            tuple(r[:-2]): (r[-2], r[-1])
            for r in cand.groupBy(*series_cols)
            .agg(F.count(F.lit(1)).alias("__n"), F.first("__tot").alias("__tot"))
            .collect()
        }
        if all(n >= min(k, tot) for n, tot in counts.values()):
            break
        margin_s *= 16
    return top_rows(cand, series_cols, time_col, tiebreak_cols, k).drop(
        "__mx", "__tot"
    )


def delta_profile(delta: DataFrame, tail: DataFrame | None) -> list[tuple]:
    """Per source, sorted by source (nulls first): (source, delta rows,
    delta min ts, delta max ts, tail max ts), times in epoch seconds — one
    aggregate over delta ∪ tail. A source only in the tail has 0 rows and
    null delta times; one only in the delta has a null tail time."""
    carry = F.col("__carry")
    rows = delta.select("source", "ts", F.lit(False).alias("__carry"))
    if tail is not None:
        rows = rows.unionByName(tail.select("source", "ts", F.lit(True).alias("__carry")))

    prof = rows.groupBy("source").agg(
        F.count(F.when(~carry, F.lit(1))).alias("n"),
        epoch_seconds(F.min(F.when(~carry, F.col("ts")))).alias("t0"),
        epoch_seconds(F.max(F.when(~carry, F.col("ts")))).alias("t1"),
        epoch_seconds(F.max(F.when(carry, F.col("ts")))).alias("tail_t1"),
    )
    return sorted(
        (tuple(r) for r in prof.collect()),
        key=lambda r: (r[0] is not None, r[0]),
    )


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser()
    p.add_argument("--output", required=True, help="an existing rollup_job output dir")
    p.add_argument("--delta-input", required=True, help="appended sequences parquet")
    p.add_argument(
        "--input",
        default=None,
        help="original corpus (required only for the FIRST refresh, to "
        "bootstrap the unbias carry tail)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from preprocessor_spark import get_spark

    spark = get_spark("refresh_job", master=args.master, batch_committer_v2=True)
    spark.sparkContext.setLogLevel("ERROR")
    result = absorb(
        spark,
        args.output,
        spark.read.parquet(args.delta_input),
        corpus=args.input,
    )
    print(json.dumps(result))
    return result


def absorb(
    spark,
    out: str,
    delta_df: DataFrame,
    *,
    corpus: str | None = None,
    fingerprint: str | None = None,
) -> dict:
    """Absorb ``delta_df`` into the rollup_job output ``out``: steps 0–7 of
    the module docstring. Returns the job's JSON record.

    ``corpus`` is the original corpus's path, read only by the first
    refresh of ``out`` to bootstrap the carry tail. ``fingerprint`` names
    the delta in the manifest's double-apply guard; by default it is the
    delta's content extent (rows and per-source time bounds)."""
    from preprocessor_spark.rollup.incremental import load_bounds
    from preprocessor_spark.session import scoped_conf

    t_start = time.perf_counter()
    split_params_path = os.path.join(out, "split_params.json")
    norm_params_path = os.path.join(out, "norm_params.json")
    bounds_path = os.path.join(out, "series_bounds.json")
    for path, what in (
        (split_params_path, "split boundaries"),
        (norm_params_path, "normalization params"),
        (bounds_path, "series bounds"),
    ):
        if not os.path.exists(path):
            raise FileNotFoundError(
                f"refresh requires the original run's {what} at {path} — "
                "run plans/rollup_job.py first"
            )
    # a refresh moves O(delta) rows: AQE's re-planning would add a job per
    # exchange to an op whose cost is fixed cost. Shuffles are sized by
    # hand instead — one partition for the profile (one row per source),
    # then from what it reports (see _refresh)
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": 1,
            # INT64 times, as the build and the refresh's pyarrow writes store
            "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
        },
    ):
        return _refresh(
            spark,
            out,
            delta_df,
            corpus,
            fingerprint,
            load_bounds(bounds_path),
            t_start,
        )


def _refresh(
    spark,
    out: str,
    delta: DataFrame,
    corpus: str | None,
    fingerprint: str | None,
    old_bounds: list[tuple],
    t_start: float,
) -> dict:
    from preprocessor_spark.operators import Normalizer, TemporalSplitter, Unbiaser
    from preprocessor_spark.params import load_params
    from preprocessor_spark.rollup.checkpoint import ROWS_PER_WRITE_TASK, Manifest
    from preprocessor_spark.rollup.incremental import IncrementalRollup
    from preprocessor_spark.rollup.tiers import DEFAULT_TIERS, RollupTree
    from preprocessor_spark.session import class_archive

    manifest = Manifest(os.path.join(out, "manifest.jsonl"))
    boundaries = load_params(os.path.join(out, "split_params.json")).params["boundaries"]
    nparams = load_params(os.path.join(out, "norm_params.json"))

    tail_path = os.path.join(out, TAIL_NAME)
    tail_bootstrap = not os.path.exists(tail_path)
    if not tail_bootstrap:
        # the tail holds earlier deltas' rows: the delta's schema is its own
        tail_raw = spark.read.schema(delta.select(*TAIL_COLS).schema).parquet(tail_path)
    elif corpus:
        tail_raw = source_tails(
            spark.read.parquet(corpus).select(*TAIL_COLS),
            ["source"],
            "ts",
            ["doc_id"],
            k=MA_WINDOW - 1,
        )
    else:
        tail_raw = None

    profile = delta_profile(delta, tail_raw)
    extent = [r[:4] for r in profile if r[1] > 0]
    delta_rows = sum(r[1] for r in extent)
    if delta_rows == 0:
        return {
            "job": "refresh_job",
            "delta_rows": 0,
            "total_seconds": 0.0,
            "class_archive": class_archive(spark),
        }

    # Double-apply guard: the prepared append and the tier merge are both
    # non-idempotent, so applying the same delta twice would double-count
    # every touched bucket. The delta is fingerprinted by content-extent
    # (rows + per-source time bounds) unless the caller names it; a
    # `started` mark lands in the manifest before the first write and a
    # `refresh_delta` completion mark after the last — so a rerun is
    # refused BOTH after full success and after a mid-job crash
    # (started-without-completed means partially applied, and unlike the
    # tier jobs there is no per-partition unit to resume idempotently;
    # recovery is restoring the output dir, or rebuilding via rollup_job).
    # At deployment the whole refresh is one Iceberg transaction and this
    # guard becomes the commit's snapshot check. The streaming refresh
    # names each micro-batch by (checkpoint, epoch id) and passes through
    # this same guard.
    if fingerprint is None:
        fingerprint = hashlib.sha256(
            json.dumps(
                [[r[0], int(r[1]), int(r[2]), int(r[3])] for r in extent]
            ).encode()
        ).hexdigest()[:16]
    if fingerprint in manifest.completed("refresh_delta"):
        raise ValueError(
            f"the delta (fingerprint {fingerprint}) was already absorbed "
            "by a previous refresh — re-applying would "
            "double-count every touched bucket"
        )
    if fingerprint in manifest.completed("refresh_delta_started"):
        raise ValueError(
            f"a previous refresh of the delta (fingerprint {fingerprint}) "
            "started but did not complete — the output may "
            "be partially refreshed and a blind rerun would double-apply "
            "the absorbed portion; restore the output dir from before that "
            "run (or rebuild with rollup_job) before retrying"
        )

    # -- append-only seam validation (see module docstring) ---------------
    old_max = {tuple(r[:-2]): int(r[-1]) for r in old_bounds}
    stale = {
        (s,): (t0, old_max[(s,)])
        for s, _n, t0, _t1 in extent
        if (s,) in old_max and t0 < old_max[(s,)]
    }
    if stale:
        raise ValueError(
            "delta contains rows BEFORE the existing series edge for "
            f"{sorted(stale)} (delta min vs stored max epoch: {stale}); the "
            "MA-unbias continuation is order-dependent and cannot absorb "
            "interior late data — re-run rollup_job over the affected range "
            "instead (the tier merge itself would be fine; the prepared "
            "series would not)"
        )
    if tail_raw is None:
        raise FileNotFoundError(
            "first refresh: pass the original corpus (--input, or a "
            "stream's corpus=) to bootstrap "
            f"the unbias carry tail (persisted afterwards at {tail_path})"
        )
    # Tail-at-edge validation: the carry rows MUST be the last rows of the
    # absorbed series, i.e. per-source max(ts) == the stored bounds edge.
    # Catches a tail left stale by a fresh rollup_job rebuild into the same
    # output dir, and a bootstrap from an --input that predates already
    # absorbed deltas (e.g. after a crashed swap destroyed the tail) —
    # either would silently seed the MA seam with wrong predecessors.
    tail_edge = {r[0]: r[4] for r in profile if r[4] is not None}
    edge_mismatch = {
        r[0]: (tail_edge.get(r[0]), int(r[-1]))
        for r in old_bounds
        if tail_edge.get(r[0]) != int(r[-1])
    }
    if edge_mismatch:
        raise ValueError(
            "unbias carry tail does not sit at the stored series edge for "
            f"{sorted(edge_mismatch)} (tail max vs series_bounds.json max "
            f"epoch: {dict(sorted(edge_mismatch.items()))}); the tail is "
            "stale (fresh rebuild into this output dir?) or bootstrapped "
            "from a corpus that predates absorbed deltas — rebuild with "
            "rollup_job, or restore the matching unbias tail, before "
            "refreshing"
        )

    # Block layout: tier files and blocks written before the (source,
    # block) layout sit directly under source=<s>/. Moving them into it
    # would be the refresh's only O(history) step, and the two layouts side
    # by side do not read back.
    for dataset in ["blocks_" + DEFAULT_TIERS[0].name, *(f"tier_{t.name}" for t in DEFAULT_TIERS)]:
        path = os.path.join(out, dataset)
        old_layout = sorted(glob.glob(os.path.join(path, "source=*", "*.parquet")))
        if old_layout:
            raise ValueError(
                f"{path} holds files in the layout before (source, block) "
                f"partitions (e.g. {old_layout[0]}); a refresh rewrites single "
                "blocks and cannot migrate them — rebuild with rollup_job"
            )

    # every later shuffle is keyed by source, the tier partials' included:
    # no wider than the delta's sources, and one task per ROWS_PER_WRITE_TASK
    # rows — a daily delta is one task, and writes one file per dataset
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                len(extent),
                -(-delta_rows // ROWS_PER_WRITE_TASK),
            ),
        ),
    )

    # -- split + normalize under persisted decisions -----------------------
    labeled = TemporalSplitter.split_by_time_boundaries(delta, "ts", boundaries)
    with_z = labeled.withColumn("n_tok_z", F.col("n_tok").cast("double"))
    norm = Normalizer(method="zscore", columns=["n_tok_z"])
    normed = norm.transform(with_z, nparams)

    # -- MA-unbias continuation across the seam ----------------------------
    t0 = time.perf_counter()
    # tails are raw rows: renormalizing them with the SAME params yields
    # exactly the values the original prepared store holds for them
    tail_z = norm.transform(
        tail_raw.withColumn("n_tok_z", F.col("n_tok").cast("double")), nparams
    ).select("source", "ts", "doc_id", "n_tok_z", F.lit(True).alias("__carry"))
    delta_z = normed.select(
        "source", "ts", "doc_id", "n_tok_z", F.lit(False).alias("__carry")
    )
    unb = Unbiaser(
        method="ma",
        window_size=MA_WINDOW,
        series_cols=["source"],
        value_cols=["n_tok_z"],
        tiebreak_cols=["doc_id"],
    )
    prepared_delta = (
        unb.transform(tail_z.unionByName(delta_z))
        .filter(~F.col("__carry"))
        .select(
            epoch_seconds("ts").alias("tss"),
            "source",
            "n_tok_z",
        )
        .cache()  # consumed twice: the prepared append AND the tier refresh
    )
    prepared_path = os.path.join(out, "prepared")
    # first mutation of the output dir — the crash-detection mark goes in
    # immediately before it (see the double-apply guard above)
    manifest.mark("refresh_delta_started", fingerprint, rows=delta_rows)
    prepared_delta.sortWithinPartitions("source", "tss").write.mode(
        "append"
    ).parquet(prepared_path)
    prepare_seconds = round(time.perf_counter() - t0, 3)

    # next refresh's carry tail: last w−1 raw rows per source across
    # (old tail ∪ delta)
    new_tail = top_rows(
        tail_raw.select(*TAIL_COLS).unionByName(delta.select(*TAIL_COLS)),
        ["source"],
        "ts",
        ["doc_id"],
        k=MA_WINDOW - 1,
    )
    # NOTE: only MATERIALIZE the new tail here (the .tmp write) — the swap
    # of tail_path itself must wait until after the tier refresh below:
    # prepared_delta's lineage reads tail_path, and a cache-block loss
    # during the tier refresh would recompute the unbias plan from
    # whatever tail_path then holds. Swapping early would silently seed
    # that recompute with the NEW tail (wrong MA predecessors).
    tmp_tail = tail_path + ".tmp"
    bak_tail = tail_path + ".bak"
    new_tail.coalesce(1).write.mode("overwrite").parquet(tmp_tail)

    # -- tier refresh: the prepared delta, bucketed as the build buckets, --
    # merged on the driver with the touched blocks and their compression
    t0 = time.perf_counter()
    tree = RollupTree(series_cols=["source"], value_col="n_tok_z", tiers=DEFAULT_TIERS)
    bounds = [(s, t0_, t1_) for s, _n, t0_, t1_ in extent]
    tier_metrics = IncrementalRollup(tree, out).refresh(prepared_delta, bounds)
    refresh_seconds = round(time.perf_counter() - t0, 3)

    prepared_delta.unpersist()
    # swap the carry tail into place now that nothing can re-read the old
    # one: two atomic renames, never an unlink of the only copy — a crash
    # in the window between them leaves the old tail intact at .bak (the
    # previous rmtree-then-replace destroyed it before the new one landed)
    shutil.rmtree(bak_tail, ignore_errors=True)
    if os.path.exists(tail_path):
        os.replace(tail_path, bak_tail)
    os.replace(tmp_tail, tail_path)
    shutil.rmtree(bak_tail, ignore_errors=True)
    manifest.mark("refresh_delta", fingerprint, rows=delta_rows)
    total = round(time.perf_counter() - t_start, 3)
    return {
        "job": "refresh_job",
        "delta_rows": delta_rows,
        "tail_bootstrap": tail_bootstrap,
        "prepare_seconds": prepare_seconds,
        "refresh_seconds": refresh_seconds,
        "compress_seconds": tier_metrics.pop("encode_seconds"),
        "encode_rows": tier_metrics.pop("encode_rows"),
        "blocks_written": tier_metrics.pop("blocks_written"),
        "tiers": tier_metrics,
        "total_seconds": total,
        "delta_rows_per_sec": round(delta_rows / max(total, 1e-9)),
        # whether this run paid the JVM's cold class loading (session.py)
        "class_archive": class_archive(spark),
    }


if __name__ == "__main__":
    main(sys.argv[1:])
