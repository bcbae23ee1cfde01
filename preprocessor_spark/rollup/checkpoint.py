"""Checkpoint / resume manifest, per-unit lineage, and the one writer that
replaces units of a rollup tree.

Replaces the reference's in-memory ``processing_history``
(app/core/data_processor.py:447-478) and ``normalization_history``
(app/core/normalization_handler.py:279-297) with a durable, partition-keyed
manifest (north rule: "resumable from per-partition checkpoints with lineage
+ metrics emitted per Iceberg partition").

Model: a rollup tree at ``root`` keeps each tier in ``root/tier_<t>``,
Hive-partitioned by the series columns and then by ``block`` (the tier's
block grain, ``tiers.block_of``). A unit is a (tier, series) partition of
it for the build and a (tier, series, block) partition for the refresh.
:func:`publish_units` is the only code that puts units into the tree: a
writer lands them in a temp dir under ``root``, and the publish counts
each unit's rows from its parquet footers, moves its directory into
``tier_<t>/`` and marks every unit in the manifest with one append. The
build writes every tier with pyarrow on the driver (plans/rollup_job.py)
and publishes them all at once; it skips units already marked, so a rerun
after a crash rewrites exactly the unmarked ones. The Spark writers
:func:`run_resumable_observed` (one tier, via :func:`write_units` and
:func:`_write_layout`) and :func:`run_resumable_observed_tiers` (several
tiers in one job) have no job caller. The refresh (rollup/incremental.py)
writes its merged units with pyarrow on the driver and publishes them the
same way.
It merges into the units it writes, which is not idempotent, so its caller
refuses the rerun instead (plans/refresh_job.py).

On a cluster the manifest is itself an Iceberg table and each unit is an
Iceberg partition overwrite; the sandbox uses a JSON-lines manifest +
Hive-layout parquet, which has the same resume semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.rollup.tiers import BLOCK_COL


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
        self.mark_all([{"stage": stage, "partition": partition, **metrics}])

    def mark_all(self, records: list[dict]) -> None:
        """Mark each record's (``stage``, ``partition``) complete, with the
        rest of the record as its metrics, in ONE append and one fsync: a
        publish of many units pays one sync, not one per unit."""
        if not records:
            return
        head = {"stage": None, "partition": None, "status": "complete", "ts": time.time()}
        lines = "".join(json.dumps({**head, **r}) + "\n" for r in records).encode()
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
            f.write(lines)
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
TIER_PREFIX = "tier_"  # tier t is <root>/tier_<t>, and the build's stage for it
TIER_COL = "__tier"  # the tier tag of a frame handed to write_units
UNITS_TMP = "_units_tmp"  # write_units' temp dir under the tree root


def _write_layout(
    df: DataFrame, partition_col: str, expected_rows: int, n_values: int
) -> DataFrame:
    """Shape a Hive-partitioned write: without an explicit repartition, a
    ``partitionBy`` write opens one file per (task, partition value) —
    S×P tiny files plus per-task concurrent-writer sorting, which measured
    ~4x slower than a shaped write at bench scale. Hashing on
    (partition_col, remaining cols' first) bounds tasks to ~|cores| while
    still spreading a hot partition value across tasks (skew-safe, unlike
    repartition(partition_col) alone).

    ``expected_rows`` (the output size, e.g. a gap-filled tier is exactly
    its spine size) sizes the task count to ceil(rows /
    ROWS_PER_WRITE_TASK); ``n_values`` (the partition-value count) keeps at
    least min(n_values, cores) tasks even for tiny outputs — ONE task
    writing S partition dirs serializes S parquet writers (~1.4 s measured
    per coarse tier regardless of cluster size, the residual fixed cost of
    the tier tree), whereas value-parallel tasks write their dirs
    concurrently."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    nparts = max(cores, 1)
    others = [c for c in df.columns if c != partition_col]
    keys = [partition_col, *others[:1]]
    rows_based = -(-int(expected_rows) // ROWS_PER_WRITE_TASK)
    floor_tasks = min(n_values, cores)
    if rows_based >= floor_tasks:
        nparts = max(1, min(nparts, rows_based))
    else:
        # tiny output: hash on the partition value ALONE so each task
        # writes its own dir(s) — value-parallel, no file blow-up
        # (skew within a tiny tier is irrelevant)
        nparts = min(nparts, floor_tasks)
        keys = [partition_col]
    return df.repartition(nparts, *keys)


def write_units(
    df: DataFrame,
    partition_cols: list[str],
    units: list[tuple[str, tuple]],
    out_root: str,
    manifest: Manifest,
    stage_prefix: str,
) -> dict[tuple[str, str], int]:
    """Replace the ``units`` of the tree at ``out_root`` with the rows of
    ``df`` and mark each unit in ``manifest``: one Spark write into
    :data:`UNITS_TMP`, then :func:`publish_units`.

    A unit is (tier name, values of ``partition_cols``). ``df`` holds the
    rows of ``units`` only, tagged with their tier in :data:`TIER_COL` and
    already in the caller's write layout. A frame that carries the block
    key :data:`~preprocessor_spark.rollup.tiers.BLOCK_COL` (a tier of the
    rollup jobs) is written one directory level deeper, by block, inside
    each unit. Returns {(tier, partition): rows}."""
    tmp = os.path.join(out_root, UNITS_TMP)
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    block = [BLOCK_COL] if BLOCK_COL in df.columns else []
    df.write.partitionBy(TIER_COL, *partition_cols, *block).parquet(tmp)
    return publish_units(out_root, partition_cols, units, manifest, stage_prefix, t0)


# Characters Spark's Hive-style partition writer escapes in a directory
# name (ExternalCatalogUtils.escapePathName on a POSIX host), as %XX.
_ESCAPED = frozenset([*map(chr, range(1, 0x20)), *'"#%\'*/:=?\\\x7f{[]^'])
DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_dir(cols: list[str], values: tuple) -> str:
    """The relative directory Spark's ``partitionBy(*cols)`` writer gives
    the rows with ``values``: ``col=value`` levels, each value escaped as
    ``escapePathName`` escapes it, a null or empty one named
    :data:`DEFAULT_PARTITION`."""
    def name(v):
        if v is None or v == "":
            return DEFAULT_PARTITION
        return "".join(f"%{ord(c):02X}" if c in _ESCAPED else c for c in str(v))

    return os.path.join(*[f"{c}={name(v)}" for c, v in zip(cols, values)])


def parquet_rows(path: str) -> int:
    """Rows of the parquet files under ``path``, from their footers."""
    return sum(
        pq.read_metadata(os.path.join(dp, f)).num_rows
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def replace_dirs(src_root: str, dest_root: str, rels: list[str]) -> None:
    """Move each directory ``src_root/rel`` to ``dest_root/rel``, replacing
    what was there."""
    for rel in rels:
        target = os.path.join(dest_root, rel)
        shutil.rmtree(target, ignore_errors=True)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        os.replace(os.path.join(src_root, rel), target)


def publish_units(
    out_root: str,
    unit_cols: list[str],
    units: list[tuple[str, tuple]],
    manifest: Manifest,
    stage_prefix: str,
    t0: float,
) -> dict[tuple[str, str], int]:
    """Publish the units written under ``out_root/UNITS_TMP`` and mark them:
    the one step that puts tier units into a tree, for the build's Spark
    writes and the refresh's Arrow writes alike.

    A writer lands unit (tier t, values of ``unit_cols``) in
    ``UNITS_TMP/__tier=t/`` under :func:`partition_dir`. Each unit
    directory written there replaces its counterpart in ``tier_<t>/``;
    the temp dir is removed; then each of ``units`` is marked, all in one
    :meth:`Manifest.mark_all`: stage
    ``stage_prefix + t``, partition the values joined by ``/``, ``rows``
    the unit's rows, counted from its files' footers before the move, and
    ``seconds`` the wall since ``t0``. The rows are keyed by the unit's
    directory name, never by a value read back from one ('03' and '3'
    both infer as 3). Returns {(tier, partition): rows}."""
    tmp = os.path.join(out_root, UNITS_TMP)
    rows = {}
    for tier in sorted({t for t, _ in units}):
        src = os.path.join(tmp, f"{TIER_COL}={tier}")
        rels = [""]
        for _ in unit_cols:
            rels = [
                os.path.join(r, c)
                for r in rels
                if os.path.isdir(os.path.join(src, r))
                for c in sorted(os.listdir(os.path.join(src, r)))
                if "=" in c
            ]
        for rel in rels:
            rows[(tier, rel)] = parquet_rows(os.path.join(src, rel))
        replace_dirs(src, os.path.join(out_root, TIER_PREFIX + tier), rels)
    shutil.rmtree(tmp)
    dt = round(time.perf_counter() - t0, 3)
    counts = {
        (tier, "/".join(str(v) for v in values)): rows.get(
            (tier, partition_dir(unit_cols, values)), 0
        )
        for tier, values in units
    }
    manifest.mark_all(
        [
            {"stage": stage_prefix + t, "partition": p, "rows": n, "seconds": dt}
            for (t, p), n in counts.items()
        ]
    )
    return counts


def run_resumable_observed(
    df: DataFrame,
    partition_col: str,
    out_path: str,
    manifest: Manifest,
    values: list,
    expected_rows: int,
) -> dict[str, int]:
    """Write the series units of one tier of the build, ``out_path`` =
    ``<root>/tier_<t>``, through :func:`write_units` under the stage
    ``tier_<t>``, skipping the ``values`` already marked complete. The
    write is laid out by the tier's ``expected_rows``
    (:func:`_write_layout`). Returns {value: rows} for the units written
    this run."""
    root, stage = os.path.split(out_path)
    if not stage.startswith(TIER_PREFIX):
        raise ValueError(f"a tier directory is named {TIER_PREFIX}<tier>: {out_path}")
    done = manifest.completed(stage)
    pending = [v for v in sorted(values) if str(v) not in done]
    if not pending:
        return {}
    tier = stage[len(TIER_PREFIX):]
    sub = _write_layout(
        df.filter(F.col(partition_col).isin(pending)),
        partition_col,
        expected_rows,
        len(pending),
    )
    # tagged AFTER the layout: its hash key is (series, first other column)
    counts = write_units(
        sub.withColumn(TIER_COL, F.lit(tier)),
        [partition_col],
        [(tier, (v,)) for v in pending],
        root,
        manifest,
        TIER_PREFIX,
    )
    return {v: rows for (_t, v), rows in counts.items()}


def run_resumable_observed_tiers(
    df: DataFrame,
    partition_col: str,
    out_root: str,
    manifest: Manifest,
    tier_names: list[str],
    values: list,
) -> dict[tuple[str, str], int]:
    """Multi-tier :func:`run_resumable_observed`: ``df`` carries the tier tag
    :data:`TIER_COL`, and ONE write lands every pending (tier, series) unit
    of ``tier_names`` — the whole coarse half of a rollup tree pays a
    single job's fixed cost (scheduling, commit protocol, observation)
    instead of one per tier, which is what capped the coarse tiers' N→4N
    scaling efficiency at ~0.33. Returns {(tier, value): rows} for the
    units written this run."""
    # one manifest read per TIER: calling completed() inside the (t, v)
    # comprehension re-parses the whole JSONL once per pair — O(T·V)
    # full-file scans of prior runs' rows before any Spark work
    done_by_tier = {t: manifest.completed(TIER_PREFIX + t) for t in tier_names}
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
        sub = df.filter(F.col(TIER_COL).isin(pend_tiers))
    else:  # partially-complete tiers: unit-level predicate
        cond = None
        for t, v in pending:
            c = (F.col(TIER_COL) == t) & (F.col(partition_col) == v)
            cond = c if cond is None else (cond | c)
        sub = df.filter(cond)
    cores = df.sparkSession.sparkContext.defaultParallelism
    # value-parallel layout: one task per (tier, partition) unit up to the
    # core budget — coarse tiers are tiny, so file sizing is irrelevant but
    # serializing all parquet writers in one task is not (see _write_layout)
    sub = sub.repartition(max(1, min(cores, len(pending))), TIER_COL, partition_col)
    return write_units(
        sub,
        [partition_col],
        [(t, (v,)) for t, v in pending],
        out_root,
        manifest,
        TIER_PREFIX,
    )
