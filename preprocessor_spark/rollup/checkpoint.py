"""Checkpoint / resume manifest + per-partition lineage & metrics.

Replaces the reference's in-memory ``processing_history``
(app/core/data_processor.py:447-478) and ``normalization_history``
(app/core/normalization_handler.py:279-297) with a durable, partition-keyed
manifest (north rule: "resumable from per-partition checkpoints with lineage
+ metrics emitted per Iceberg partition").

Model: a stage's output is partitioned by a partition key (e.g. ``source``,
or (source, day)). ``run_resumable`` computes the set of partition values,
skips those already marked complete in the manifest, processes the rest
partition-by-partition (each write is atomic: parquet dir per partition +
manifest row appended after a successful write), and records lineage rows
(stage, partition, rows, wall seconds, input fingerprint).

On a cluster the manifest is itself an Iceberg table and each unit of work
is an Iceberg partition overwrite (idempotent replaceWhere); the sandbox
uses a JSON-lines manifest + Hive-layout parquet, which has the same resume
semantics.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class Manifest:
    """Append-only JSONL manifest of completed (stage, partition) units.

    A crash inside :meth:`mark` can leave a torn last line: no trailing
    newline, and not valid JSON. Readers skip it, so the unit it was
    marking reads as not done, and the next ``mark`` cuts it off before
    appending. An unparseable line anywhere else still raises."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)

    def completed(self, stage: str) -> set[str]:
        return {
            r["partition"]
            for r in self.lineage()
            if r["stage"] == stage and r["status"] == "complete"
        }

    def mark(self, stage: str, partition: str, **metrics) -> None:
        rec = {
            "stage": stage,
            "partition": partition,
            "status": "complete",
            "ts": time.time(),
            **metrics,
        }
        with open(self.path, "ab+") as f:
            end = f.seek(0, os.SEEK_END)
            if end:
                f.seek(end - 1)
                if f.read(1) != b"\n":
                    f.seek(0)
                    _, torn = _parse_lines(f.read())
                    if torn is None:  # a whole record that lost its newline
                        f.write(b"\n")
                    else:
                        f.truncate(torn)
            f.write((json.dumps(rec) + "\n").encode())
            f.flush()
            os.fsync(f.fileno())

    def lineage(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path, "rb") as f:
            return _parse_lines(f.read())[0]


def _parse_lines(data: bytes) -> tuple[list[dict], int | None]:
    """The records of a JSONL file, and the offset where a torn last line
    (no newline, not JSON) starts, or None."""
    lines = data.split(b"\n")
    last = lines.pop()  # empty when the file ends with a newline
    records = [json.loads(line) for line in lines]
    if last:
        try:
            records.append(json.loads(last))
        except ValueError:
            return records, len(data) - len(last)
    return records, None


ROWS_PER_WRITE_TASK = 500_000  # ~25-30 MB of tier rows per output task


def _write_layout(
    df: DataFrame,
    partition_col: str,
    expected_rows: int | None = None,
    n_values: int | None = None,
) -> DataFrame:
    """Shape a Hive-partitioned write: without an explicit repartition, a
    ``partitionBy`` write opens one file per (task, partition value) —
    S×P tiny files plus per-task concurrent-writer sorting, which measured
    ~4x slower than a shaped write at bench scale. Hashing on
    (partition_col, remaining cols' first) bounds tasks to ~|cores| while
    still spreading a hot partition value across tasks (skew-safe, unlike
    repartition(partition_col) alone).

    ``expected_rows`` (when the caller knows the output size — e.g. a
    gap-filled tier is exactly its spine size) sizes the task count to
    ceil(rows / ROWS_PER_WRITE_TASK); ``n_values`` (the known partition-
    value count) keeps at least min(n_values, cores) tasks even for tiny
    outputs — ONE task writing S partition dirs serializes S parquet
    writers (~1.4 s measured per coarse tier regardless of cluster size,
    the residual fixed cost of the tier tree), whereas value-parallel
    tasks write their dirs concurrently."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    nparts = max(cores, 1)
    others = [c for c in df.columns if c != partition_col]
    keys = [partition_col, *others[:1]]
    if expected_rows is not None:
        rows_based = -(-int(expected_rows) // ROWS_PER_WRITE_TASK)
        floor_tasks = min(n_values, cores) if n_values else 1
        if rows_based >= floor_tasks:
            nparts = max(1, min(nparts, rows_based))
        else:
            # tiny output: hash on the partition value ALONE so each task
            # writes its own dir(s) — value-parallel, no file blow-up
            # (skew within a tiny tier is irrelevant)
            nparts = min(nparts, floor_tasks)
            keys = [partition_col]
    return df.repartition(nparts, *keys)


def run_resumable_bulk(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    partition_col: str,
    out_path: str,
    manifest: Manifest,
    values: list | None = None,
) -> list[str]:
    """Bulk variant of :func:`run_resumable`: all pending partitions are
    written in ONE distributed job (``partitionBy`` + dynamic partition
    overwrite), then marked complete with counts from a single aggregate.

    Pass ``values`` (the known partition values, e.g. from the source
    table's partition listing) to skip the distinct scan — otherwise
    discovering them executes the full upstream plan once just to learn
    the keys.

    Same resume contract — completed partitions are never recomputed, a
    crash before the manifest append leaves them unmarked and they are
    rewritten idempotently on rerun (dynamic overwrite replaces only the
    partitions present in the pending set). Unlike the sequential variant
    the upstream plan executes once, not once per partition — this is the
    production path; the sequential variant remains for fine-grained
    backfills of individual partitions.
    """
    done = manifest.completed(stage)
    if values is None:
        values = [
            r[0]
            for r in df.select(partition_col)
            .distinct()
            .orderBy(partition_col)
            .collect()
        ]
    pending = [v for v in sorted(values) if str(v) not in done]
    if not pending:
        return []
    t0 = time.perf_counter()
    sub = df.filter(F.col(partition_col).isin(pending))
    sub = _write_layout(sub, partition_col)
    # lineage counts ride the write itself as conditional aggregates keyed
    # by the ORIGINAL partition values (same pattern as
    # run_resumable_observed). A read-back count was both a second pass
    # over the written tier and brittle: directory names round-trip through
    # partition-column type inference ('3'→int, '03'→int 3, 'true'→bool),
    # so the lookup could miss and record rows=0 for written partitions.
    from pyspark.sql import Observation

    obs = Observation(f"{stage}_bulk_counts")
    sub = sub.observe(
        obs,
        *[
            F.sum(
                F.when(F.col(partition_col) == v, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"c_{i}")
            for i, v in enumerate(pending)
        ],
    )
    sub.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        partition_col
    ).parquet(out_path)
    got = obs.get
    dt = round(time.perf_counter() - t0, 3)
    for i, v in enumerate(pending):
        manifest.mark(stage, str(v), rows=int(got[f"c_{i}"] or 0), seconds=dt)
    return [str(v) for v in pending]


def run_resumable_observed(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    partition_col: str,
    out_path: str,
    manifest: Manifest,
    values: list,
    expected_rows: int | None = None,
) -> dict[str, int]:
    """Like :func:`run_resumable_bulk` (which now counts the same way) but
    takes ``expected_rows`` for data-sized write layout and returns the
    per-value counts: lineage row counts come from an ``Observation``
    attached to the write action itself — zero extra Spark jobs; observed
    metrics ride the write for free.

    ``values`` (known partition values) is required — per-value counts are
    conditional aggregates, which needs the value set up front.
    Returns {value: rows_written} for the partitions written THIS run.
    """
    from pyspark.sql import Observation

    done = manifest.completed(stage)
    pending = [v for v in sorted(values) if str(v) not in done]
    if not pending:
        return {}
    sub = df.filter(F.col(partition_col).isin(pending))
    sub = _write_layout(
        sub, partition_col, expected_rows=expected_rows, n_values=len(pending)
    )
    obs = Observation(f"{stage}_counts")
    sub = sub.observe(
        obs,
        *[
            F.sum(
                F.when(F.col(partition_col) == v, F.lit(1)).otherwise(F.lit(0))
            ).alias(f"c_{i}")
            for i, v in enumerate(pending)
        ],
    )
    t0 = time.perf_counter()
    sub.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        partition_col
    ).parquet(out_path)
    got = obs.get
    dt = round(time.perf_counter() - t0, 3)
    counts = {}
    for i, v in enumerate(pending):
        rows = int(got[f"c_{i}"] or 0)
        manifest.mark(stage, str(v), rows=rows, seconds=dt)
        counts[str(v)] = rows
    return counts


def run_resumable_observed_tiers(
    spark: SparkSession,
    df: DataFrame,
    tier_col: str,
    partition_col: str,
    out_root: str,
    manifest: Manifest,
    tier_names: list[str],
    values: list,
    stage_prefix: str = "tier_",
) -> dict[tuple[str, str], int]:
    """Multi-tier variant of :func:`run_resumable_observed`: ``df`` carries a
    tier tag column and ONE write action lands every pending
    (tier, partition) unit — the whole coarse half of a rollup tree pays a
    single job's fixed cost (scheduling, commit protocol, observation)
    instead of one per tier, which is what capped the coarse tiers'
    N→4N scaling efficiency at ~0.33.

    The write is Hive-partitioned by (tier, partition); afterwards each
    ``tier=X`` directory is moved driver-side into the per-tier layout
    ``out_root/{stage_prefix}X/{partition_col}=v/`` so readers and the
    resume contract see exactly the same layout as per-tier writes.
    Lineage rows are marked per (stage_prefix+tier, partition) with counts
    from the write's own Observation — the existing manifest contract,
    unchanged. A crash between the write and the moves leaves the manifest
    unmarked, so the next run recomputes those units idempotently.
    """
    import shutil

    from pyspark.sql import Observation

    # one manifest read per TIER: calling completed() inside the (t, v)
    # comprehension re-parses the whole JSONL once per pair — O(T·V)
    # full-file scans of prior runs' rows before any Spark work
    done_by_tier = {t: manifest.completed(stage_prefix + t) for t in tier_names}
    pending = [
        (t, v)
        for t in tier_names
        for v in sorted(values)
        if str(v) not in done_by_tier[t]
    ]
    if not pending:
        return {}
    pend_tiers = sorted({t for t, _ in pending})
    if len(pending) == len(pend_tiers) * len(values):
        sub = df.filter(F.col(tier_col).isin(pend_tiers))
    else:  # partially-complete tiers: unit-level predicate
        cond = None
        for t, v in pending:
            c = (F.col(tier_col) == t) & (F.col(partition_col) == v)
            cond = c if cond is None else (cond | c)
        sub = df.filter(cond)
    cores = spark.sparkContext.defaultParallelism
    # value-parallel layout: one task per (tier, partition) unit up to the
    # core budget — coarse tiers are tiny, so file sizing is irrelevant but
    # serializing all parquet writers in one task is not (see _write_layout)
    sub = sub.repartition(
        max(1, min(cores, len(pending))), tier_col, partition_col
    )
    obs = Observation(f"{stage_prefix}coarse_counts")
    sub = sub.observe(
        obs,
        *[
            F.sum(
                F.when(
                    (F.col(tier_col) == t) & (F.col(partition_col) == v),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias(f"c_{i}")
            for i, (t, v) in enumerate(pending)
        ],
    )
    # a fresh directory: the units replace their dirs in the moves below,
    # so the write needs no dynamic overwrite
    tmp = os.path.join(out_root, "__coarse_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    sub.write.mode("overwrite").partitionBy(tier_col, partition_col).parquet(
        tmp
    )
    got = obs.get
    for t in pend_tiers:
        src_t = os.path.join(tmp, f"{tier_col}={t}")
        dest = os.path.join(out_root, stage_prefix + t)
        os.makedirs(dest, exist_ok=True)
        if os.path.isdir(src_t):
            for child in os.listdir(src_t):
                target = os.path.join(dest, child)
                if os.path.isdir(target):
                    shutil.rmtree(target)
                elif os.path.exists(target):
                    os.remove(target)
                shutil.move(os.path.join(src_t, child), target)
        open(os.path.join(dest, "_SUCCESS"), "a").close()
    shutil.rmtree(tmp, ignore_errors=True)
    dt = round(time.perf_counter() - t0, 3)
    counts: dict[tuple[str, str], int] = {}
    for i, (t, v) in enumerate(pending):
        rows = int(got[f"c_{i}"] or 0)
        manifest.mark(stage_prefix + t, str(v), rows=rows, seconds=dt)
        counts[(t, str(v))] = rows
    return counts


def run_resumable(
    spark: SparkSession,
    df: DataFrame,
    stage: str,
    partition_col: str,
    out_path: str,
    manifest: Manifest,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> list[str]:
    """Process ``df`` partition-by-partition with skip-completed resume.

    Returns the list of partition values processed THIS run (skipped ones
    excluded) — rerunning after a partial failure processes only the
    remainder and the final output is identical (SURVEY §5 strategy d).

    Each partition writes to ``out_path/<partition_col>=<value>/`` —
    idempotent overwrite per partition, mirroring Iceberg's
    ``overwritePartitions``. The per-partition filter is partition-pruned
    when ``df`` reads from a table partitioned on ``partition_col``.
    """
    values = [
        r[0] for r in df.select(partition_col).distinct().orderBy(partition_col).collect()
    ]
    done = manifest.completed(stage)
    processed = []
    for v in values:
        key = str(v)
        if key in done:
            continue
        t0 = time.perf_counter()
        part = df.filter(F.col(partition_col) == v)
        if transform is not None:
            part = transform(part)
        target = os.path.join(out_path, f"{partition_col}={key}")
        part.drop(partition_col).write.mode("overwrite").parquet(target)
        rows = spark.read.parquet(target).count()
        manifest.mark(
            stage,
            key,
            rows=rows,
            seconds=round(time.perf_counter() - t0, 3),
        )
        processed.append(key)
    return processed
