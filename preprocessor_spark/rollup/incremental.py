"""Incremental continuous-aggregate refresh — merge a delta of new rows
into an existing rollup tier tree touching only the affected blocks.

This is the half of "continuous aggregates" the batch tree alone doesn't
give you: at 10^12-sequence scale a daily ingest is ~0.1% of the corpus,
and re-running the tier tree over everything to absorb it is a 1000×
overspend. The algebraic tier schema (count/sum/sum_sq/min/max —
rollup/tiers.py) is closed under MERGE for insert-only deltas: every
statistic of (old ∪ delta) is a fold of the old row's statistics with the
delta partial's, per (series, bucket). So a refresh is

    delta facts ──Spark epoch aggregate──▶ finest-tier partials      (O(|delta|))
        one Arrow collect: the refresh's last Spark job
    partials ∪ extension seeds ──floor + fold──▶ every tier's partials (driver)
    per touched (tier, series): its touched block files ──fold──▶ merged
        blocks ──pyarrow──▶ temp dir ──checkpoint.publish_units──▶ tree

and never reads or rewrites a block the delta does not land in. Every tier
file holds one block of its series (``tiers.block_of``: BLOCK_BUCKETS
buckets of the tier's period), so the touched files follow from the
partials' bucket keys on the driver. The delta arrives in the prepared
shape plans/rollup_job.py writes (series, ``tss`` epoch seconds, value),
and its partials come from the build's own epoch chain (every bucket key
the floor of ``tss`` to the tier's period), so every tier refreshes from
ONE scan of the delta facts into the buckets a rebuild would give.

After the collect the refresh runs no Spark job and starts no Python
worker: its work is bounded by the delta and a few blocks per touched
series, which cost milliseconds on the driver where a cold Spark stage
costs seconds. It takes one (tier, series) unit at a time, so the driver
holds the partials plus one unit's touched blocks (at most a few × 4096
rows). The finest tier's compression blocks (``blocks_<tier>``) are
re-encoded from the merged rows of that unit. The merged rows and the
blocks are written by :func:`write_tier_blocks` and
:func:`write_series_blocks`, the writers the build's driver pass uses
(plans/rollup_job.py), so a refreshed tree is laid out as a rebuilt one.

Reference parity: the reference recomputes its per-column statistics from
scratch on every run (app/core/normalization_handler.py:155-174 — whole-
dataset pandas aggregates); incremental maintenance is an engine addition
required by the north rule's continuous-aggregate framing, in the shape
TimescaleDB's continuous aggregates / materialized-view maintenance
literature prescribes (see PAPERS.md: self-maintainable aggregate views).

Deletes/updates are out of scope by design: min/max are mergeable but not
subtractable, so retractions require either tombstone re-aggregation of
the affected buckets from facts, or a full rebuild — `refresh` assumes
it is only ever handed inserts (it cannot see deletes at all; the caller
owns that contract).

The tiers are gap-filled dense and stay dense: a delta that extends a
series' time range implicitly creates empty buckets between the old edge
and the first new point. The refresh derives those tier-0 buckets from the
persisted per-series bounds (:func:`extension_intervals`) and folds them,
floored to each tier's period, into every tier as (n_points=0) rows,
without touching the interior.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.rollup.checkpoint import (
    TIER_COL,
    UNITS_TMP,
    Manifest,
    partition_dir,
    publish_units,
    replace_dirs,
)
from preprocessor_spark.rollup.compression import encode_blocks_local
from preprocessor_spark.rollup.tiers import (
    ALGEBRAIC,
    BLOCK_COL,
    RollupTree,
    TierSpec,
    algebraic_reaggs,
    block_of,
    duration_seconds,
)


def merge_partials(
    existing: DataFrame,
    delta_partial: DataFrame,
    key_cols: list[str],
    hist: tuple[str, int] | None = None,
) -> DataFrame:
    """Fold delta partials into existing tier rows per key, in Spark: union
    + one hash re-aggregation (sums of sums, min of mins, max of maxes —
    the same fold as a tier→tier re-aggregate, so merged == recomputed by
    construction for insert-only deltas). :func:`fold_partials` is the
    same fold on the driver, which the refresh uses.

    Gap rows participate naturally: an existing (n_points=0, null stats)
    seed merged with a delta partial yields the delta's stats; a seed with
    no delta survives unchanged. Both inputs must carry exactly
    key_cols + ALGEBRAIC (+ the histogram column when ``hist`` names one:
    ``(column_name, nbins)`` — element-wise mergeable, tiers.py)."""
    from preprocessor_spark.rollup.tiers import histogram_reagg

    cols = [*key_cols, *ALGEBRAIC, *([hist[0]] if hist else [])]
    aggs = [*algebraic_reaggs(), *([histogram_reagg(hist[1], hist[0])] if hist else [])]
    rows = existing.select(*cols).unionByName(delta_partial.select(*cols))
    return rows.groupBy(*key_cols).agg(*aggs)


_FOLD = (
    ("n_points", "sum"),
    ("sum_v", "sum"),
    ("sum_sq", "sum"),
    ("min_v", "min"),
    ("max_v", "max"),
)
# tier rows on the driver: the bucket as epoch seconds, then the statistics
EPOCH_ROWS = pa.schema(
    [
        pa.field("bucket_epoch", pa.int64()),
        pa.field("n_points", pa.int64()),
        *[pa.field(c, pa.float64()) for c in ALGEBRAIC[1:]],
    ]
)
# the columns of a stored tier file (its partition columns are directories)
STORED_ROWS = pa.schema([pa.field("bucket_start", pa.timestamp("us", "UTC")), *EPOCH_ROWS.remove(0)])


def fold_partials(rows: pa.Table, keys: list[str]) -> pa.Table:
    """:func:`merge_partials`' fold on the driver: per ``keys``, the sum of
    n_points, sum_v and sum_sq, the min of min_v and the max of max_v,
    nulls skipped (a group of nulls folds to null) and null keys kept as a
    group, as Spark's aggregate does. Single-threaded, so that sums are
    folded in one fixed order."""
    out = rows.group_by(keys, use_threads=False).aggregate(list(_FOLD))
    return pa.table({**{k: out[k] for k in keys}, **{c: out[f"{c}_{f}"] for c, f in _FOLD}})


def read_touched_partitions(
    tier_path: str,
    partition_cols: list[str],
    tuples: list[tuple],
    schema: pa.Schema,
) -> pa.Table:
    """Read ONLY the touched partitions of a tier, on the driver with
    pyarrow: for each tuple of ``partition_cols`` values, the parquet files
    of the directory Spark's writer names for it
    (:func:`checkpoint.partition_dir`). Nothing lists the rest of the tier,
    so the read is O(touched) however many partitions the tier holds.
    ``schema`` is the result's: the partition columns, whose values come
    from the tuples, and the stored columns. A directory that does not
    exist yet (a new series or block) adds no rows. A URI
    (``file://...``) is read through pyarrow's filesystem for its
    scheme."""
    if "://" in tier_path:
        fs, base = pafs.FileSystem.from_uri(tier_path)
    else:
        fs, base = pafs.LocalFileSystem(), os.path.abspath(tier_path)
    stored = pa.schema([f for f in schema if f.name not in partition_cols])
    parts = []
    for values in tuples:
        found = fs.get_file_info(
            pafs.FileSelector(
                f"{base}/{partition_dir(partition_cols, values)}", allow_not_found=True
            )
        )
        for info in sorted(found, key=lambda i: i.path):
            name = info.base_name
            if not name.endswith(".parquet") or name.startswith(("_", ".")):
                continue
            t = pq.read_table(info.path, columns=stored.names, filesystem=fs).cast(stored)
            for c, v in zip(partition_cols, values):
                f = schema.field(c)
                t = t.append_column(f, pa.array([v] * t.num_rows, f.type))
            parts.append(t.select(schema.names))
    return pa.concat_tables(parts) if parts else schema.empty_table()


def as_epoch_rows(stored: pa.Table, partition_cols: list[str]) -> pa.Table:
    """Tier rows as :func:`read_touched_partitions` reads them, without
    their ``partition_cols`` and with ``bucket_start`` as epoch seconds:
    :data:`EPOCH_ROWS`."""
    micros = stored["bucket_start"].cast(pa.int64()).to_numpy()
    return (
        stored.drop_columns(partition_cols)
        .set_column(0, "bucket_epoch", pa.array(np.floor_divide(micros, 1_000_000)))
        .cast(EPOCH_ROWS)
    )


# -- per-series bounds sidecar (dense-tier extension bookkeeping) ---------


def save_bounds(path: str, bounds_rows: list[tuple], series_cols: list[str]) -> None:
    """Persist per-series [t0, t1] epoch bounds next to the tier tree (the
    state a dense tier's refresh needs to know WHICH buckets are new).
    Atomic rename so a crashed refresh never leaves half a file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "series_cols": series_cols,
                "bounds": [list(r) for r in bounds_rows],
            },
            f,
        )
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def load_bounds(path: str) -> list[tuple]:
    with open(path) as f:
        return [tuple(r) for r in json.load(f)["bounds"]]


def merge_bounds(
    old: list[tuple], delta: list[tuple]
) -> list[tuple]:
    """Per-series union of [t0, t1] epoch intervals (series key = every
    element but the last two)."""
    acc: dict[tuple, list[int]] = {}
    for rows in (old, delta):
        for r in rows:
            key, t0, t1 = tuple(r[:-2]), int(r[-2]), int(r[-1])
            if key in acc:
                acc[key][0] = min(acc[key][0], t0)
                acc[key][1] = max(acc[key][1], t1)
            else:
                acc[key] = [t0, t1]
    return [(*k, v[0], v[1]) for k, v in sorted(acc.items())]


def extension_intervals(
    old_bounds: list[tuple], new_bounds: list[tuple], step_s: int
) -> list[tuple]:
    """Per-series lattice intervals a dense tier GAINS when the bounds
    grow: [new_t0, new_t1] minus [old_t0, old_t1] — at most two intervals
    per existing series (a prefix and a suffix), the whole range for a
    brand-new series. Interior gaps need no seeds (the old dense tier
    already has them). Rows are (*series, t0, t1), floored to the tier
    lattice; empty when nothing grew."""
    old_by_key = {tuple(r[:-2]): (int(r[-2]), int(r[-1])) for r in old_bounds}
    step = int(step_s)
    intervals: list[tuple] = []
    for r in new_bounds:
        key, n0, n1 = tuple(r[:-2]), int(r[-2]), int(r[-1])
        n0k, n1k = n0 - n0 % step, n1 - n1 % step
        if key not in old_by_key:
            intervals.append((*key, n0k, n1k))
            continue
        o0, o1 = old_by_key[key]
        o0k, o1k = o0 - o0 % step, o1 - o1 % step
        if n0k < o0k:  # prefix growth: [n0k, o0k - step]
            intervals.append((*key, n0k, o0k - step))
        if n1k > o1k:  # suffix growth: [o1k + step, n1k]
            intervals.append((*key, o1k + step, n1k))
    return intervals


def _write_parquet(directory: str, table: pa.Table, **options) -> None:
    os.makedirs(directory, exist_ok=True)
    # no Arrow schema in the footer: it would double the footer of a tier
    # file, which every Spark read of the tier opens
    pq.write_table(
        table,
        os.path.join(directory, f"part-{uuid.uuid4().hex}.parquet"),
        store_schema=False,
        **options,
    )


def write_tier_blocks(unit_dir: str, rows: pa.Table, step: int) -> np.ndarray:
    """Write one series' rows of a tier of period ``step`` (:data:`EPOCH_ROWS`,
    sorted by bucket_epoch) under ``unit_dir``, one parquet file per block
    of the tier (``block=<k>/``, ``tiers.block_of``), with ``bucket_start``
    stored as a UTC timestamp. Returns each row's block."""
    epochs = rows["bucket_epoch"].to_numpy()
    stored = rows.set_column(
        0, "bucket_start", pa.array(epochs * 1_000_000, STORED_ROWS[0].type)
    )
    blocks = block_of(epochs, step)
    for k, a, b in _runs(blocks):
        _write_parquet(os.path.join(unit_dir, f"{BLOCK_COL}={k}"), stored.slice(a, b - a))
    return blocks


def write_series_blocks(unit_dir: str, rows: pa.Table, step: int) -> tuple[list[int], int]:
    """Encode one series' non-empty rows of a tier of period ``step``
    (:data:`EPOCH_ROWS`) into compression blocks
    (``compression.encode_blocks_local``) and write each block's one row
    under ``unit_dir/block=<k>/``. Only ``block_start`` and ``n`` get
    column statistics, and no column a dictionary: either would copy every
    blob into the file's page and chunk metadata. Returns the blocks
    written and the rows they encode."""
    blocks = encode_blocks_local(rows, [], step)
    ks = blocks[BLOCK_COL].to_pylist()
    body = blocks.drop_columns(BLOCK_COL)
    for i, k in enumerate(ks):
        _write_parquet(
            os.path.join(unit_dir, f"{BLOCK_COL}={k}"),
            body.slice(i, 1),
            write_statistics=["block_start", "n"],
            use_dictionary=False,
        )
    return ks, int(pc.sum(blocks["n"]).as_py() or 0)


def _by_series(rows: pa.Table, series_cols: list[str]):
    """(series key, that series' rows without the series columns) per
    series of ``rows``, null keys first."""
    groups = (
        rows.select(series_cols)
        .append_column("__i", pa.array(np.arange(rows.num_rows)))
        .group_by(series_cols, use_threads=False)
        .aggregate([("__i", "list")])
    )
    keys = [tuple(k.values()) for k in groups.select(series_cols).to_pylist()]
    pairs = sorted(
        zip(keys, groups.column("__i_list").to_pylist()),
        key=lambda kv: [(v is not None, v) for v in kv[0]],
    )
    for key, idx in pairs:
        yield key, rows.take(idx).drop_columns(series_cols)


def _runs(sorted_keys: np.ndarray):
    """(key, start, stop) of each run of equal values of a sorted array."""
    cuts = [0, *(np.flatnonzero(np.diff(sorted_keys)) + 1), len(sorted_keys)]
    return [(int(sorted_keys[a]), a, b) for a, b in zip(cuts[:-1], cuts[1:])]


class IncrementalRollup:
    """Tree-level driver: one scan of the delta facts refreshes every tier.

    ``tree`` supplies the tier specs and the series and value columns.
    Tiers live at ``{root}/tier_{name}`` in the layout plans/rollup_job.py
    writes: gap-filled dense, keyed by series_cols + bucket_start and
    partitioned by the series columns and the block
    (:attr:`partition_cols`), with the finest tier's compression blocks at
    ``{root}/blocks_{name}``, the per-series bounds sidecar
    ``{root}/series_bounds.json`` (:func:`save_bounds`) and the lineage
    manifest ``{root}/manifest.jsonl``."""

    def __init__(self, tree: RollupTree, root: str):
        self.tree = tree
        self.root = root
        # one directory, and the refresh's unit, per (series, block)
        self.partition_cols = [*tree.series_cols, BLOCK_COL]
        self.bounds_path = os.path.join(root, "series_bounds.json")
        self.manifest = Manifest(os.path.join(root, "manifest.jsonl"))

    def tier_path(self, tier: TierSpec) -> str:
        return os.path.join(self.root, f"tier_{tier.name}")

    def delta_partials(self, delta_df: DataFrame, seeds: list[tuple]) -> dict[str, pa.Table]:
        """Algebraic partials of the delta at every tier, as Arrow tables of
        series_cols + :data:`EPOCH_ROWS`. Spark aggregates the facts to the
        finest tier with the build's epoch chain, and ``toArrow`` collects
        that: the refresh's last Spark job. ``seeds`` ((*series, t0, t1)
        intervals on the finest lattice, from :func:`extension_intervals`)
        join it as (n_points=0, null stats) rows. Each tier is then that
        table with its bucket keys floored to the tier's period, folded."""
        tree = self.tree
        series = tree.series_cols
        steps = [duration_seconds(t.duration) for t in tree.tiers]
        base = (
            tree.base_aggregate_with_spine_epoch(delta_df, steps[0])
            .select(
                *series,
                F.unix_timestamp("bucket_start").alias("bucket_epoch"),
                *ALGEBRAIC,
            )
            .toArrow()
        )
        schema = pa.schema(
            [*(base.schema.field(c).with_nullable(True) for c in series), *EPOCH_ROWS]
        )
        base = base.cast(schema)
        if seeds:
            lens = np.array([(b - a) // steps[0] + 1 for *_, a, b in seeds])
            at = np.repeat(np.arange(len(seeds)), lens)
            cols = {
                f.name: pa.array([iv[i] for iv in seeds], f.type).take(at)
                for i, f in enumerate(schema.field(c) for c in series)
            }
            cols["bucket_epoch"] = np.concatenate(
                [np.arange(a, b + 1, steps[0], dtype=np.int64) for *_, a, b in seeds]
            )
            cols["n_points"] = np.zeros(len(at), np.int64)
            for c in ALGEBRAIC[1:]:
                cols[c] = pa.nulls(len(at), pa.float64())
            base = pa.concat_tables([base, pa.table(cols, schema=schema)])
        out = {}
        epochs = base["bucket_epoch"].to_numpy()
        for tier, step in zip(tree.tiers, steps):
            floored = base.set_column(
                base.schema.get_field_index("bucket_epoch"),
                "bucket_epoch",
                pa.array(epochs - epochs % step),
            )
            out[tier.name] = fold_partials(floored, [*series, "bucket_epoch"])
        return out

    def refresh(self, delta_df: DataFrame, bounds: list[tuple]) -> dict:
        """Refresh every tier from one delta of NEW facts in the prepared
        shape: series columns, ``tss`` (epoch seconds) and the value column.
        ``bounds`` is the delta's per-series (*series, t0, t1) extent in
        epoch seconds (plans/refresh_job gets it from its delta profile).

        The bounds sidecar is extended by ``bounds``, and the tier-0
        buckets the extension adds become seed rows of every tier's
        partials, so every tier stays gap-filled dense. Then, one (tier,
        series) at a time, the block files the partials land in are read
        and folded with them, and each merged block is written with pyarrow
        into the temp dir of :func:`checkpoint.publish_units`, which moves
        the blocks into the tree and marks each (tier, series, block) as
        ``refresh_<tier>``. The compression blocks of the finest tier that
        the delta's facts land in are re-encoded from the merged rows, and
        replace theirs (a block that gained only gap rows keeps its
        blocks).

        Crash contract: a merge is NOT idempotent. Re-merging a delta into
        a block whose merged rows were already moved in would double-count
        it, so a rerun after a crash is not a recovery. refresh_job marks
        the delta started before its first write and refuses a rerun of a
        delta that started but did not complete."""
        tree = self.tree
        series = tree.series_cols
        t_all = time.perf_counter()
        metrics: dict = {
            t.name: {"partitions_rewritten": 0, "rows_written": 0, "seconds": 0.0}
            for t in tree.tiers
        }
        metrics.update(blocks_written=0, encode_rows=0, encode_seconds=0.0)
        if not bounds:
            metrics["total_seconds"] = round(time.perf_counter() - t_all, 3)
            return metrics
        old_bounds = load_bounds(self.bounds_path)
        new_bounds = merge_bounds(old_bounds, bounds)
        step0 = duration_seconds(tree.tiers[0].duration)
        partials = self.delta_partials(
            delta_df, extension_intervals(old_bounds, new_bounds, step0)
        )

        t0 = time.perf_counter()
        tmp = os.path.join(self.root, UNITS_TMP)
        shutil.rmtree(tmp, ignore_errors=True)
        blocks_tmp = os.path.join(tmp, "blocks")
        units, block_dirs, encode_s = [], [], 0.0
        for tier in tree.tiers:
            step = duration_seconds(tier.duration)
            part = partials[tier.name]
            schema = pa.schema(
                [
                    *(part.schema.field(c) for c in series),
                    pa.field(BLOCK_COL, pa.int64()),
                    *STORED_ROWS,
                ]
            )
            for key, rows in _by_series(part, series):
                touched = np.unique(block_of(rows["bucket_epoch"].to_numpy(), step))
                old = read_touched_partitions(
                    self.tier_path(tier),
                    self.partition_cols,
                    [(*key, int(k)) for k in touched],
                    schema,
                )
                merged = fold_partials(
                    pa.concat_tables(
                        [as_epoch_rows(old, self.partition_cols), rows.cast(EPOCH_ROWS)]
                    ),
                    ["bucket_epoch"],
                ).sort_by("bucket_epoch")
                unit = partition_dir(series, key)
                merged_blocks = write_tier_blocks(
                    os.path.join(tmp, f"{TIER_COL}={tier.name}", unit), merged, step
                )
                units += [(tier.name, (*key, int(k))) for k in np.unique(merged_blocks)]
                if tier is tree.tiers[0]:
                    # a block whose delta rows are all seeds keeps its
                    # non-empty rows, and so its compression block
                    t_enc = time.perf_counter()
                    facts = rows.filter(pc.greater(rows["n_points"], 0))
                    changed = np.isin(
                        merged_blocks, block_of(facts["bucket_epoch"].to_numpy(), step)
                    )
                    ks, n = write_series_blocks(
                        os.path.join(blocks_tmp, unit), merged.filter(changed), step
                    )
                    block_dirs += [partition_dir(self.partition_cols, (*key, k)) for k in ks]
                    metrics["encode_rows"] += n
                    encode_s += time.perf_counter() - t_enc
        replace_dirs(
            blocks_tmp,
            os.path.join(self.root, f"blocks_{tree.tiers[0].name}"),
            block_dirs,
        )
        rows_by_unit = publish_units(
            self.root, self.partition_cols, units, self.manifest, "refresh_", t0
        )
        save_bounds(self.bounds_path, new_bounds, series)
        seconds = round(time.perf_counter() - t0, 3)
        for (tier_name, _p), n in rows_by_unit.items():
            m = metrics[tier_name]
            m["partitions_rewritten"] += 1
            m["rows_written"] += n
            # the merge of every tier is one driver pass: its wall, shared
            m["seconds"] = seconds
        metrics.update(
            blocks_written=len(block_dirs),
            encode_seconds=round(encode_s, 3),
            total_seconds=round(time.perf_counter() - t_all, 3),
        )
        return metrics
