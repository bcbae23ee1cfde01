"""Incremental continuous-aggregate refresh — merge a delta of new rows
into an existing rollup tier tree touching only the affected buckets.

This is the half of "continuous aggregates" the batch tree alone doesn't
give you: at 10^12-sequence scale a daily ingest is ~0.1% of the corpus,
and re-running the tier tree over everything to absorb it is a 1000×
overspend. The algebraic tier schema (count/sum/sum_sq/min/max —
rollup/tiers.py) is closed under MERGE for insert-only deltas: every
statistic of (old ∪ delta) is a fold of the old row's statistics with the
delta partial's, per (series, bucket). So a refresh is

    delta facts ──base_aggregate──▶ delta partials        (O(|delta|))
    touched partitions = f(delta's per-series extent)     (driver-side)
    existing tier ⋈ touched partitions ──union+reagg──▶ merged rows
    one write, then ONLY those partition dirs replaced    (O(touched))

and never reads or rewrites the untouched 99.9% of the tier. The same
delta partial re-aggregates up the tree (5m partial → 1h partial → 1d
partial), so every tier refreshes from ONE scan of the delta facts.

Reference parity: the reference recomputes its per-column statistics from
scratch on every run (app/core/normalization_handler.py:155-174 — whole-
dataset pandas aggregates); incremental maintenance is an engine addition
required by the north rule's continuous-aggregate framing, in the shape
TimescaleDB's continuous aggregates / materialized-view maintenance
literature prescribes (see PAPERS.md: self-maintainable aggregate views).

Deletes/updates are out of scope by design: min/max are mergeable but not
subtractable, so retractions require either tombstone re-aggregation of
the affected buckets from facts, or a full rebuild — `refresh` validates
that it is only ever handed inserts (it cannot see deletes at all; the
caller owns that contract).

Gap-filled (dense) tiers stay dense: a delta that extends a series' time
range implicitly creates empty buckets between the old edge and the first
new point; `extension_seeds` materializes exactly those (n_points=0) rows
from the persisted per-series bounds, without touching the interior.
"""

from __future__ import annotations

import json
import os
import time
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.rollup.tiers import (
    ALGEBRAIC,
    RollupTree,
    TierSpec,
    algebraic_reaggs,
    duration_seconds,
    spine_from_bounds,
)
from preprocessor_spark.session import scoped_conf


def merge_partials(
    existing: DataFrame,
    delta_partial: DataFrame,
    key_cols: list[str],
    hist: tuple[str, int] | None = None,
    cluster_cols: list[str] | None = None,
) -> DataFrame:
    """Fold delta partials into existing tier rows per key: union + one
    hash re-aggregation (sums of sums, min of mins, max of maxes — the
    same fold as a tier→tier re-aggregate, so merged == recomputed by
    construction for insert-only deltas).

    Gap rows participate naturally: an existing (n_points=0, null stats)
    seed merged with a delta partial yields the delta's stats; a seed with
    no delta survives unchanged. Both inputs must carry exactly
    key_cols + ALGEBRAIC (+ the histogram column when ``hist`` names one:
    ``(column_name, nbins)`` — element-wise mergeable, tiers.py).

    ``cluster_cols`` ⊆ ``key_cols`` hash-partitions the fold by those
    columns only (the fold reuses that exchange): pass the tier's partition
    columns, and each output partition directory is written by one task,
    as one file, instead of by every task."""
    from preprocessor_spark.rollup.tiers import histogram_reagg

    cols = [*key_cols, *ALGEBRAIC, *([hist[0]] if hist else [])]
    aggs = [*algebraic_reaggs(), *([histogram_reagg(hist[1], hist[0])] if hist else [])]
    rows = existing.select(*cols).unionByName(delta_partial.select(*cols))
    if cluster_cols:
        rows = rows.repartition(*cluster_cols)
    return rows.groupBy(*key_cols).agg(*aggs)


def with_bucket_day(tier_df: DataFrame) -> DataFrame:
    """Attach the day-level partition key incremental refresh wants the
    tier stored under: partitioning tiers by (series, day(bucket_start))
    bounds each refresh's rewrite to |touched series-days|, independent of
    corpus age — by source alone, one late row rewrites that source's
    whole history."""
    return tier_df.withColumn("bucket_day", F.to_date("bucket_start"))


def _balanced_or(exprs: list):
    """Pairwise (balanced) OR fold: a left-deep reduce() chain of thousands
    of terms is a known driver StackOverflowError shape in Catalyst's
    recursive expression rules; balancing keeps depth at log2(n)."""
    while len(exprs) > 1:
        exprs = [
            exprs[i] | exprs[i + 1] if i + 1 < len(exprs) else exprs[i]
            for i in range(0, len(exprs), 2)
        ]
    return exprs[0]


def _partition_predicate(partition_cols: list[str], tuples: list[tuple]):
    """OR-of-AND equality predicate over the affected partition tuples —
    the shape Spark's parquet partition pruning eliminates directories
    with. Past the inline cap, tuples are grouped by their prefix (all
    columns but the last) into prefix-AND + last-column-isin terms — still
    EXACT (the cross-product per-column isin would inflate both the read
    and the dynamic-overwrite rewrite to |sources|x|days| on a sparse
    touched set, reintroducing the O(corpus-age) rewrite this module
    exists to avoid). Only the extreme case (more distinct prefixes than
    the term budget) degrades to the per-column-isin superset, which stays
    correct because superset rows round-trip unchanged through the
    union+reagg."""
    if len(tuples) > 1024 and len(partition_cols) > 1:
        groups: dict[tuple, list] = {}
        for t in tuples:
            groups.setdefault(tuple(t[:-1]), []).append(t[-1])
        if len(groups) <= 4096:
            last = partition_cols[-1]
            preds = [
                _balanced_or(
                    [
                        reduce(
                            lambda x, y: x & y,
                            [
                                F.col(c) == F.lit(v)
                                for c, v in zip(partition_cols[:-1], pre)
                            ],
                        )
                        & F.col(last).isin(vals)
                        for pre, vals in groups.items()
                    ]
                )
            ]
        else:  # pragma: no cover - >4096 distinct prefixes
            preds = [
                F.col(c).isin(sorted({t[i] for t in tuples}))
                for i, c in enumerate(partition_cols)
            ]
    elif len(tuples) > 1024:
        # single partition column: the isin IS the exact touched set
        preds = [F.col(partition_cols[0]).isin([t[0] for t in tuples])]
    else:
        preds = [
            _balanced_or(
                [
                    reduce(
                        lambda x, y: x & y,
                        [
                            F.col(c) == F.lit(v)
                            for c, v in zip(partition_cols, t)
                        ],
                    )
                    for t in tuples
                ]
            )
        ]
    return reduce(lambda a, b: a & b, preds)


_SAFE_DIR_VALUE_RE = None


def read_touched_partitions(
    spark: SparkSession,
    tier_path: str,
    partition_cols: list[str],
    tuples: list[tuple],
    schema: T.StructType,
) -> DataFrame:
    """Read ONLY the touched partition directories, by explicit path +
    basePath (partition columns recovered from the paths). A plain
    read-then-filter still LISTS the whole tier tree before pruning —
    measured as the dominant refresh cost once a tier carries thousands of
    (source, day) dirs (refresh wall grew with corpus AGE, the opposite of
    the O(delta) contract); explicit paths make discovery O(touched). On a
    cluster store the same listing-avoidance comes from Iceberg partition
    metadata. Dirs that don't exist yet (new day / new series) are
    skipped; if every dir is new, or any partition value needs Hive
    path-escaping beyond plain str(), fall back to the pruned full read
    (correct, just slower).

    ``schema`` (the tier's columns, partition columns included) pins the
    read: an unpinned read runs a Spark job to infer the schema from a
    parquet footer."""
    import re

    global _SAFE_DIR_VALUE_RE
    if _SAFE_DIR_VALUE_RE is None:
        _SAFE_DIR_VALUE_RE = re.compile(r"^[A-Za-z0-9._-]+$")
    reader = spark.read.schema(schema)
    # the explicit-path fast path probes directories with os.path.isdir,
    # which is only meaningful on a LOCAL filesystem: on s3a://hdfs://...
    # every probe would fail and the 'existing' slice would come back
    # empty — the merge would then silently replace accumulated partitions
    # with delta-only statistics. URI stores take the pruned full read
    # (partition-pruned by Spark, still correct).
    if "://" not in tier_path and all(
        _SAFE_DIR_VALUE_RE.match(str(v)) for t in tuples for v in t
    ):
        paths = [
            os.path.join(
                tier_path, *[f"{c}={v}" for c, v in zip(partition_cols, t)]
            )
            for t in tuples
        ]
        existing_paths = [p for p in paths if os.path.isdir(p)]
        if not existing_paths:
            # brand-new partitions only: an empty slice keeps the union
            # schema aligned; nothing merges
            return reader.option("basePath", tier_path).parquet(tier_path).limit(0)
        return reader.option("basePath", tier_path).parquet(*existing_paths)
    return reader.parquet(tier_path).filter(
        _partition_predicate(partition_cols, tuples)
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


def seeds_from_intervals(
    spark: SparkSession,
    intervals: list[tuple],
    series_cols: list[str],
    step_s: int,
    series_schema: DataFrame | None = None,
) -> DataFrame:
    """Empty-bucket (n_points=0, null stats) seed rows covering the given
    lattice intervals — the rows that keep a gap-filled tier dense across
    a bounds extension. The spine is partitioned by its exact row count: a
    daily extension is a few hundred buckets, one task's worth."""
    from preprocessor_spark.rollup.checkpoint import ROWS_PER_WRITE_TASK

    step = int(step_s)
    n_rows = sum((int(iv[-1]) - int(iv[-2])) // step + 1 for iv in intervals)
    spine = spine_from_bounds(
        spark,
        intervals,
        series_cols,
        step,
        num_partitions=max(1, -(-n_rows // ROWS_PER_WRITE_TASK)),
        series_schema=series_schema,
        as_epoch=True,
    )
    return spine.select(
        *series_cols,
        F.timestamp_seconds("bucket_epoch").alias("bucket_start"),
        F.lit(0).cast("long").alias("n_points"),
        *[F.lit(None).cast("double").alias(c) for c in ("sum_v", "sum_sq")],
        *[F.lit(None).cast("double").alias(c) for c in ("min_v", "max_v")],
    )


def extension_seeds(
    spark: SparkSession,
    old_bounds: list[tuple],
    new_bounds: list[tuple],
    series_cols: list[str],
    step_s: int,
    series_schema: DataFrame | None = None,
) -> DataFrame | None:
    """:func:`extension_intervals` → :func:`seeds_from_intervals`; None
    when nothing grew."""
    intervals = extension_intervals(old_bounds, new_bounds, step_s)
    if not intervals:
        return None
    return seeds_from_intervals(
        spark, intervals, series_cols, step_s, series_schema=series_schema
    )


def _epoch_day(e: int):
    from datetime import datetime, timezone

    return datetime.fromtimestamp(int(e), tz=timezone.utc).date()


class IncrementalRollup:
    """Tree-level driver: one scan of the delta facts refreshes every tier.

    ``tree`` supplies tier specs, series/value/time columns; tiers live at
    ``{root}/tier_{name}`` in the layout plans/rollup_job.py writes
    (key = series_cols + bucket_start). ``partition_cols`` defaults to the
    job's source-partitioned layout; pass ``[*series_cols, "bucket_day"]``
    (and store tiers via :func:`with_bucket_day`) for the bounded-rewrite
    production layout."""

    def __init__(
        self,
        tree: RollupTree,
        root: str,
        partition_cols: list[str] | None = None,
        dense: bool = False,
    ):
        self.tree = tree
        self.root = root
        self.partition_cols = partition_cols or list(tree.series_cols)
        self.dense = dense
        self.bounds_path = os.path.join(root, "series_bounds.json")

    def tier_path(self, tier: TierSpec) -> str:
        return os.path.join(self.root, f"tier_{tier.name}")

    def delta_partials(self, delta_df: DataFrame) -> dict[str, DataFrame]:
        """Algebraic partials of the delta at every tier — finest from the
        facts, each coarser tier re-aggregated from the previous partial
        (same chain as the batch tree, so one fact scan serves all)."""
        tree = self.tree
        out: dict[str, DataFrame] = {}
        cur = tree.base_aggregate(delta_df, tree.tiers[0])
        out[tree.tiers[0].name] = cur
        for t in tree.tiers[1:]:
            cur = tree.reaggregate(cur, t)
            out[t.name] = cur
        return out

    def delta_bounds(self, delta_df: DataFrame) -> list[tuple]:
        """Per-series (*series, t0, t1) extent of the delta facts in exact
        epoch seconds, from one aggregate. Exact, not floored to a tier
        lattice: the dense bounds sidecar it extends is also what
        plans/refresh_job's tail-at-edge validation compares against
        per-series max(ts)."""
        tree = self.tree
        return [
            tuple(r)
            for r in delta_df.groupBy(*tree.series_cols)
            .agg(
                F.unix_timestamp(F.min(tree.time_col)).cast("long"),
                F.unix_timestamp(F.max(tree.time_col)).cast("long"),
            )
            .collect()
        ]

    def refresh(
        self,
        spark: SparkSession,
        delta_df: DataFrame,
        manifest=None,
        bounds: list[tuple] | None = None,
    ) -> dict:
        """Refresh every tier from one delta of NEW facts. With
        ``dense=True`` the per-series bounds sidecar is consulted and
        extended, and boundary-growth seed buckets are folded in so each
        tier stays gap-filled dense.

        ``bounds`` is the delta's :meth:`delta_bounds`, when the caller
        already has it (plans/refresh_job gets it from its delta profile);
        without it, the refresh computes it with one aggregate. Every
        tier's touched partitions derive from it on the driver, so the
        only other Spark job is the one tier-tagged write action that lands
        every tier's merged partitions (see :meth:`_refresh_fused`)."""
        tree = self.tree
        t_all = time.perf_counter()
        if bounds is None:
            bounds = self.delta_bounds(delta_df)
        partials = self.delta_partials(delta_df)

        seed_intervals: dict[str, list[tuple]] = {}
        if self.dense:
            old_bounds = (
                load_bounds(self.bounds_path)
                if os.path.exists(self.bounds_path)
                else []
            )
            new_bounds = merge_bounds(old_bounds, bounds)
            for tier in tree.tiers:
                step = duration_seconds(tier.duration)
                ivs = extension_intervals(old_bounds, new_bounds, step)
                if ivs:
                    seed_intervals[tier.name] = ivs

        key_cols = [*tree.series_cols, "bucket_start"]
        merge_keys = [
            *key_cols,
            *[c for c in self.partition_cols if c not in key_cols],
        ]
        parts: dict[str, DataFrame] = {}
        schemas: dict[str, T.StructType] = {}
        touched: dict[str, list[tuple]] = {}
        for tier in tree.tiers:
            step = duration_seconds(tier.duration)
            part = partials[tier.name]
            # the stored tier holds what this aggregate writes: its schema
            # is the read schema of the touched partitions (no inference)
            schemas[tier.name] = self._with_layout(part).select(
                *merge_keys, *ALGEBRAIC
            ).schema
            ivs = seed_intervals.get(tier.name, [])
            if ivs:
                # seed rows are (n_points=0, null) — merging them into a
                # bucket that also has delta facts is a no-op fold; a
                # bucket with only a seed lands dense-empty, as required
                seeds = seeds_from_intervals(
                    spark, ivs, tree.series_cols, step, series_schema=delta_df
                )
                part = part.select(*key_cols, *ALGEBRAIC).unionByName(
                    seeds.select(*key_cols, *ALGEBRAIC)
                )
            parts[tier.name] = self._with_layout(part)
            touched[tier.name] = sorted(
                self._touched_partitions([*bounds, *ivs], step)
            )
        metrics = self._refresh_fused(
            spark, parts, merge_keys, touched, schemas, manifest
        )
        if self.dense:
            save_bounds(self.bounds_path, new_bounds, tree.series_cols)
        metrics["total_seconds"] = round(time.perf_counter() - t_all, 3)
        return metrics

    def _with_layout(self, df: DataFrame) -> DataFrame:
        return with_bucket_day(df) if "bucket_day" in self.partition_cols else df

    def _touched_partitions(self, intervals: list[tuple], step_s: int) -> set[tuple]:
        """Partition tuples that a tier's buckets inside the given
        (*series, t0, t1) epoch intervals land in — from driver-known
        intervals, no Spark job. Exact for the series-only layout; with a
        day column it is every day a bucket of [t0, t1] falls on, a
        superset when the delta skips days (the extra partitions are read
        and rewritten unchanged)."""
        step = int(step_s)
        out: set[tuple] = set()
        for iv in intervals:
            series = dict(zip(self.tree.series_cols, iv[:-2]))
            if "bucket_day" not in self.partition_cols:
                out.add(tuple(series[c] for c in self.partition_cols))
                continue
            a, b = int(iv[-2]), int(iv[-1])
            a, b = a - a % step, b - b % step
            if 86400 % step == 0:
                days = range(a - a % 86400, b - b % 86400 + 1, 86400)
            else:
                days = sorted({e - e % 86400 for e in range(a, b + 1, step)})
            for e in days:
                vals = {**series, "bucket_day": _epoch_day(e)}
                out.add(tuple(vals[c] for c in self.partition_cols))
        return out

    def _refresh_fused(
        self,
        spark: SparkSession,
        parts: dict[str, DataFrame],
        merge_keys: list[str],
        touched: dict[str, list[tuple]],
        schemas: dict[str, T.StructType],
        manifest=None,
    ) -> dict:
        """One write action for the whole tree: each tier's merged rows are
        tier-tagged and Hive-partitioned into a temp dir, then each touched
        partition directory is moved into its tier's layout driver-side.
        Manifest marks land only after the moves. NOTE the crash contract
        differs from run_resumable_observed_tiers: a merge is NOT
        idempotent (re-merging a delta into a partition that was already
        moved would double-count it), so recovery from a crash mid-move
        relies on the caller's double-apply guard (refresh_job's
        started-without-completed mark refuses the rerun), not on
        recomputation."""
        import shutil

        from pyspark.sql import Observation

        t0 = time.perf_counter()
        tiers = self.tree.tiers
        tagged: DataFrame | None = None
        for tier in tiers:
            tup = touched[tier.name]
            if not tup:
                continue
            existing = read_touched_partitions(
                spark, self.tier_path(tier), self.partition_cols, tup,
                schema=schemas[tier.name],
            )
            merged = merge_partials(
                existing, parts[tier.name], merge_keys,
                cluster_cols=self.partition_cols,
            ).withColumn("__tier", F.lit(tier.name))
            tagged = merged if tagged is None else tagged.unionByName(merged)
        if tagged is None:
            return {
                t.name: {"partitions_rewritten": 0, "rows_written": 0, "seconds": 0.0}
                for t in tiers
            }
        tmp = os.path.join(self.root, "__refresh_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        obs = Observation("refresh_rows")
        # per-tier row counts from the ONE observation — stamping the
        # whole-tree total into every tier's metrics/lineage would claim
        # e.g. the 1d tier wrote 5m+1h+1d rows combined
        tagged = tagged.observe(
            obs,
            *[
                F.sum(
                    F.when(F.col("__tier") == t.name, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).alias(t.name)
                for t in tiers
            ],
        )
        # static sizing for the one merge+write action: the shuffled data
        # is bounded by the touched partitions (driver-known), so AQE's
        # per-exchange materialize barriers are pure fixed cost here, and
        # the shuffle width should follow |touched|, not the session default
        # (measured warm at 2M-row/1%-delta: 3.2 s → 2.1 s)
        width = min(spark.sparkContext.defaultParallelism, len(touched[tiers[0].name]))
        with scoped_conf(
            spark,
            {
                "spark.sql.adaptive.enabled": "false",
                "spark.sql.shuffle.partitions": max(1, width),
            },
        ):
            tagged.write.partitionBy("__tier", *self.partition_cols).parquet(tmp)
        tier_rows = {t.name: int(obs.get[t.name] or 0) for t in tiers}
        depth = len(self.partition_cols)
        for tier in tiers:
            src_root = os.path.join(tmp, f"__tier={tier.name}")
            # tmp contents drive the moves: a touched partition with no
            # merged rows (superset edge) simply has no dir here
            if not touched[tier.name] or not os.path.isdir(src_root):
                continue
            dest_root = self.tier_path(tier)
            # move each LEAF partition dir (depth = |partition_cols|) into
            # place, replacing only the partitions this refresh touched
            stack = [()]
            for _ in range(depth):
                stack = [
                    (*rel, child)
                    for rel in stack
                    for child in sorted(
                        os.listdir(os.path.join(src_root, *rel))
                    )
                    if "=" in child
                ]
            for rel in stack:
                target = os.path.join(dest_root, *rel)
                os.makedirs(os.path.dirname(target), exist_ok=True)
                if os.path.isdir(target):
                    shutil.rmtree(target)
                shutil.move(os.path.join(src_root, *rel), target)
        shutil.rmtree(tmp, ignore_errors=True)
        dt = round(time.perf_counter() - t0, 3)
        metrics: dict[str, dict] = {}
        for tier in tiers:
            tup = touched[tier.name]
            if manifest is not None:
                for t in tup:
                    # rows = the TIER's written rows; seconds = the one
                    # write action's shared wall
                    manifest.mark(
                        f"refresh_{tier.name}",
                        "/".join(str(v) for v in t),
                        rows=tier_rows[tier.name],
                        seconds=dt,
                        kind="refresh_fused",
                    )
            metrics[tier.name] = {
                "partitions_rewritten": len(tup),
                "rows_written": tier_rows[tier.name],
                # the whole tree is one write action: this is its wall,
                # shared across tiers, not a per-tier cost
                "seconds": dt,
            }
        return metrics
