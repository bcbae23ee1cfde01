"""Incremental refresh job — absorb an appended delta corpus into an
existing rollup_job output, touching O(|delta|) data.

    spark-submit --py-files engine.zip preprocessor_spark/plans/refresh_job.py \
        --output /path/out --delta-input /path/new_sequences [--input /path/corpus]

``absorb`` runs the steps below on a delta, an Arrow table of its
:data:`TAIL_COLS` (a stream micro-batch, a DataFrame, is collected into
one). ``main`` is its command line: it checks the delta against the
build's input contract (:data:`INPUT_SCHEMA`, one parquet footer) and
reads it with pyarrow on the driver. streaming/rollup_stream.py calls
``absorb`` once per micro-batch.

Continues every stage of plans/rollup_job.py on the delta ONLY, under the
original run's persisted decisions (the production contract: params are
fitted once and versioned — a param re-fit is a rebuild event, not a
refresh). A refresh with a carry tail runs NO Spark job:

  0. refusals that need no data come first: a tree whose tier files or
     blocks predate the (source, block) layout (migrating it would
     rewrite the whole history), a first refresh without the corpus to
     bootstrap its carry tail from, and, when the caller names the
     delta's fingerprint (a stream micro-batch), a delta the manifest
     marks as started or absorbed. A micro-batch is collected after them;
  1. the carry tail read with pyarrow: each source's last w−1 historical
     rows. The FIRST refresh bootstraps it from the original corpus
     (--input) with a max-ts + widening-margin scan in Spark
     (:func:`source_tails`), the only O(corpus) touch, paid once;
  2. ONE MA-unbias pass over carry tail ∪ delta on the driver
     (``Unbiaser.ma_local``, the twin of the Spark window the build
     runs), z-scored under the persisted params. The first delta rows'
     trailing windows span the seam, so the carry rows run through the
     identical window and are dropped after it: residuals equal a
     full-corpus recompute bit for bit. The pass's (source, ts, doc_id)
     order also flags each source's last w−1 rows (the next carry tail)
     and each delta row followed by a carry row of its source (the seam
     flag: a row that sorts before the series edge);
  3. from the delta's rows: the per-source profile (rows and time bounds,
     one Arrow group-by), the double-apply fingerprint and every refusal
     — late data, a stale carry tail, a null ts — before the
     ``refresh_delta_started`` mark. A refusal leaves every file of the
     tree as it was;
  4. the mark; the prepared delta rows ``(tss, source, n_tok_z)`` are
     written into ``prepared/`` as one ``part-<uuid>.parquet``, under a
     name Spark's readers skip and then renamed, and the next carry tail
     is written with pyarrow and swapped in;
  5. the delta's 5m partials folded from its rows
     (``incremental.fact_partials``: per (source, bucket) the non-null
     count, the sum, the sum of squares, the min and the max);
  6. every tier refreshed in place via rollup/incremental.py from those
     partials and the profile's bounds: the 1h/1d partials are folded
     from them, the dense tiers' new empty buckets seeded from the
     bounds' growth, and each touched (tier, source) merges its touched
     (source, block) files with pyarrow and publishes them through
     ``checkpoint.publish_units``. The Gorilla/delta-of-delta blocks of
     the 5m files it rewrote are re-encoded from the merged rows it holds
     (``compression.encode_blocks_local``) and their directories
     replaced. An executor encode would start a Python worker, whose cold
     start costs seconds where the encode costs milliseconds, so no step
     of a refresh starts a Python worker;
  7. lineage rows appended to the same manifest.

Every row of the delta passes through the driver. Before it reads any
row, ``read_delta`` sums the uncompressed bytes of the read columns from
the delta's parquet footers and refuses a delta above
``spark.driver.maxResultSize`` (Spark's default is 1g, which session.py
leaves as it is), the bound a collect of it would hit: a backfill beyond
it is a rebuild (plans/rollup_job.py), not a refresh. A micro-batch's
collect is bounded by the same setting.

Append-only seam contract: the MA continuation is only exact when every
delta row sorts after its source's previous last row in (ts, doc_id)
order (order-dependent operators cannot absorb interior late data — a
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
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.plans.rollup_job import MA_WINDOW, TAIL_NAME

TAIL_COLS = ["source", "ts", "doc_id", "n_tok"]
# the build's input (synth.token_sequences), and so a delta's
INPUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
        T.StructField("n_tok", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
# the carry tail and the delta's read columns on the driver, as Spark's
# toArrow gives them in the session's UTC
TAIL_SCHEMA = pa.schema(
    [
        pa.field("source", pa.string()),
        pa.field("ts", pa.timestamp("us", "UTC")),
        pa.field("doc_id", pa.string()),
        pa.field("n_tok", pa.int32()),
    ]
)
# Spark's default spark.sql.execution.arrow.maxRecordsPerBatch
ARROW_BATCH_ROWS = 10_000
# INT96 times (Spark's legacy timestamp type) read as µs, not pyarrow's ns
PARQUET = ds.ParquetFileFormat(
    read_options=ds.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)


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


def read_delta(spark, path: str) -> pa.Table:
    """The :data:`TAIL_COLS` of the delta at ``path`` as an Arrow table in
    :data:`TAIL_SCHEMA`, read with pyarrow on the driver, equal to what
    ``spark.read.schema(INPUT_SCHEMA).parquet(path)`` reads.

    The footer of its first data file must hold every column of the
    contract as the type Spark reads it as, or the delta is refused: a
    pinned schema would read a missing column as nulls. A column may
    instead be a hive partition directory (``source=<s>/``), read as Spark
    reads it: URI-decoded, ``__HIVE_DEFAULT_PARTITION__`` as null. Before
    any row is read, the uncompressed bytes of the read columns, summed
    from every footer, must fit ``spark.driver.maxResultSize``: every row
    of a refresh passes through the driver."""
    from pyspark.sql.pandas.types import from_arrow_type

    if "://" in path:
        fs, base = pafs.FileSystem.from_uri(path)
    else:
        fs, base = pafs.LocalFileSystem(), os.path.abspath(path)
    files, dirs = [base], []
    if fs.get_file_info(base).type != pafs.FileType.File:
        found = fs.get_file_info(pafs.FileSelector(base, recursive=True))
        # each file as its path's parts under base; Spark's reader skips
        # every part that starts with "_" or "."
        parts = [
            os.path.relpath(i.path, base).split("/")
            for i in found
            if i.type == pafs.FileType.File
        ]
        data = sorted(f for f in parts if not any(p.startswith(("_", ".")) for p in f))
        if not data:
            raise FileNotFoundError(f"no data file in the delta at {path}")
        files, dirs = ["/".join([base, *f]) for f in data], data[0][:-1]
    first = files[0]
    footer = pq.read_schema(first, filesystem=fs)
    partitions = {d.split("=", 1)[0] for d in dirs if "=" in d}
    problems = []
    for field in INPUT_SCHEMA:
        if field.name in partitions:
            continue
        if field.name not in footer.names:
            problems.append(f"no column {field.name}")
            continue
        arrow_type = footer.field(field.name).type
        try:
            got = from_arrow_type(arrow_type).simpleString()
        except TypeError:
            got = str(arrow_type)
        if got != field.dataType.simpleString():
            problems.append(f"{field.name} is {got}")
    if problems:
        contract = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in INPUT_SCHEMA)
        raise ValueError(
            f"the delta at {path} does not match the refresh's input "
            f"({contract}): {'; '.join(problems)} (in {first})"
        )
    hive = [f for f in TAIL_SCHEMA if f.name in partitions]
    delta = ds.dataset(
        files,
        schema=TAIL_SCHEMA,
        format=PARQUET,
        filesystem=fs,
        partitioning=ds.partitioning(pa.schema(hive), flavor="hive") if hive else None,
        partition_base_dir=base,
    )
    size = 0
    for frag in delta.get_fragments():
        for i in range(frag.metadata.num_row_groups):
            group = frag.metadata.row_group(i)
            columns = (group.column(j) for j in range(group.num_columns))
            size += sum(c.total_uncompressed_size for c in columns if c.path_in_schema in TAIL_COLS)
    limit = _result_limit(spark)
    if limit and size > limit:
        raise ValueError(
            f"the delta at {path} holds {size} bytes in its columns "
            f"{TAIL_COLS}, more than spark.driver.maxResultSize ({limit} "
            "bytes): every row of a refresh passes through the driver, so "
            "a backfill this large is a rebuild with rollup_job, not a refresh"
        )
    return delta.to_table(columns=TAIL_COLS)


def _result_limit(spark) -> int:
    """``spark.driver.maxResultSize`` of the session in bytes (0: none)."""
    conf = spark.sparkContext._jsc.sc().conf()
    return conf.getSizeAsBytes("spark.driver.maxResultSize", "1g")


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
        spark, args.output, read_delta(spark, args.delta_input), corpus=args.input
    )
    print(json.dumps(result))
    return result


def absorb(
    spark,
    out: str,
    delta: pa.Table | DataFrame,
    *,
    corpus: str | None = None,
    fingerprint: str | None = None,
) -> dict:
    """Absorb ``delta`` into the rollup_job output ``out``: steps 0–7 of
    the module docstring. Returns the job's JSON record.

    ``delta`` holds :data:`TAIL_COLS` as an Arrow table (:func:`read_delta`)
    or a DataFrame (a stream micro-batch), which is collected once with
    ``toArrow`` after the refusals that need no data.

    ``corpus`` is the original corpus's path, read only by the first
    refresh of ``out`` to bootstrap the carry tail. ``fingerprint`` names
    the delta in the manifest's double-apply guard; by default it is the
    delta's content extent (rows and per-source time bounds)."""
    from preprocessor_spark.rollup.checkpoint import Manifest
    from preprocessor_spark.rollup.incremental import load_bounds

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
    # -- refusals that need no data: a refused replay costs no Spark job --
    manifest = Manifest(os.path.join(out, "manifest.jsonl"))
    if fingerprint is not None:
        _refuse_applied(manifest, fingerprint)
    _refuse_old_layout(out)
    tail_path = os.path.join(out, TAIL_NAME)
    if not corpus and not os.path.exists(tail_path):
        raise FileNotFoundError(
            "first refresh: pass the original corpus (--input, or a "
            "stream's corpus=) to bootstrap "
            f"the unbias carry tail (persisted afterwards at {tail_path})"
        )
    old_bounds = load_bounds(bounds_path)
    if isinstance(delta, DataFrame):
        delta = delta.select(*TAIL_COLS).toArrow()
    delta = delta.select(TAIL_COLS).cast(TAIL_SCHEMA)
    return _refresh(spark, out, delta, corpus, fingerprint, manifest, old_bounds, t_start)


def _refuse_applied(manifest, fingerprint: str) -> None:
    """Double-apply guard: the prepared append and the tier merge are both
    non-idempotent, so applying the same delta twice would double-count
    every touched bucket. A ``refresh_delta_started`` mark lands in the
    manifest before the first write and a ``refresh_delta`` completion
    mark after the last — so a rerun is refused BOTH after full success
    and after a mid-job crash (started-without-completed means partially
    applied, and unlike the tier jobs there is no per-partition unit to
    resume idempotently; recovery is restoring the output dir, or
    rebuilding via rollup_job). At deployment the whole refresh is one
    Iceberg transaction and this guard becomes the commit's snapshot
    check. The streaming refresh names each micro-batch by (checkpoint,
    epoch id) and passes through this same guard."""
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


def _refuse_old_layout(out: str) -> None:
    """Block layout: tier files and blocks written before the (source,
    block) layout sit directly under source=<s>/. Moving them into it would
    be the refresh's only O(history) step, and the two layouts side by
    side do not read back."""
    from preprocessor_spark.rollup.tiers import DEFAULT_TIERS

    for dataset in ["blocks_" + DEFAULT_TIERS[0].name, *(f"tier_{t.name}" for t in DEFAULT_TIERS)]:
        path = os.path.join(out, dataset)
        old_layout = sorted(glob.glob(os.path.join(path, "source=*", "*.parquet")))
        if old_layout:
            raise ValueError(
                f"{path} holds files in the layout before (source, block) "
                f"partitions (e.g. {old_layout[0]}); a refresh rewrites single "
                "blocks and cannot migrate them — rebuild with rollup_job"
            )


def _refresh(
    spark,
    out: str,
    delta: pa.Table,
    corpus: str | None,
    fingerprint: str | None,
    manifest,
    old_bounds: list[tuple],
    t_start: float,
) -> dict:
    from preprocessor_spark.arrowops import group_by
    from preprocessor_spark.operators import Unbiaser
    from preprocessor_spark.operators.unbiaser import series_starts
    from preprocessor_spark.params import load_params
    from preprocessor_spark.rollup.incremental import IncrementalRollup, fact_partials
    from preprocessor_spark.rollup.tiers import DEFAULT_TIERS, RollupTree, duration_seconds
    from preprocessor_spark.session import class_archive, scoped_conf

    z_params = load_params(os.path.join(out, "norm_params.json")).params["per_column"]["n_tok_z"]
    tail_path = os.path.join(out, TAIL_NAME)
    tail_bootstrap = not os.path.exists(tail_path)
    t0 = time.perf_counter()
    if tail_bootstrap:
        # AQE's re-planning would add a job per exchange of the scan
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            tail = source_tails(
                spark.read.parquet(corpus).select(*TAIL_COLS),
                ["source"],
                "ts",
                ["doc_id"],
                k=MA_WINDOW - 1,
            ).toArrow()
    else:
        tail = pq.read_table(tail_path, columns=TAIL_COLS, coerce_int96_timestamp_unit="us")
    tail = tail.select(TAIL_COLS).cast(TAIL_SCHEMA)

    # -- one MA-unbias pass over carry tail ∪ delta -----------------------
    # tails are raw rows: z-scoring them with the SAME params yields exactly
    # the values the original prepared store holds for them (the build's
    # Normalizer.transform: (double(n_tok) − mean) / std)
    rows = pa.concat_tables(
        [
            t.append_column("__carry", pa.array(np.full(t.num_rows, carry)))
            for t, carry in ((tail, True), (delta, False))
        ]
    )
    z = pc.divide(pc.subtract(rows["n_tok"].cast(pa.float64()), z_params["mean"]), z_params["std"])
    unb = Unbiaser(
        method="ma",
        window_size=MA_WINDOW,
        series_cols=["source"],
        value_cols=["n_tok_z"],
        tiebreak_cols=["doc_id"],
    )
    got = unb.ma_local(rows.append_column("n_tok_z", z))
    # Arrow's group-by emits its groups in an order that follows its
    # input's chunks, and the 1h/1d partials are folded from the 5m
    # partials in that order: the rows are cut as a toArrow collect cuts
    # them, so the bits a refresh writes do not depend on how its delta was
    # read (a pyarrow read, a stream micro-batch's collect)
    got = pa.Table.from_batches(got.combine_chunks().to_batches(ARROW_BATCH_ROWS))
    # the pass's order, (source, ts, doc_id), gives the flags: each source's
    # last w−1 rows (the next carry tail), and the seam flag of a delta row
    # followed by a carry row of its source (it sorts before the series'
    # last absorbed row)
    n = got.num_rows
    carry = got["__carry"].to_numpy(zero_copy_only=False)
    starts = series_starts(got, ["source"])
    firsts = np.flatnonzero(starts)
    sizes = np.diff(np.append(firsts, n))
    nxt = np.repeat(firsts + sizes, sizes) - np.arange(n) < MA_WINDOW
    late = ~carry & np.append(carry[1:] & ~starts[1:], False)
    us = got["ts"].cast(pa.int64())
    tss = pa.array(
        pc.fill_null(us, 0).to_numpy() // 1_000_000,
        mask=pc.is_null(us).to_numpy(zero_copy_only=False),
    )
    facts = pa.table(
        {"source": got["source"], "tss": tss, "n_tok_z": got["n_tok_z"], "__late": late}
    ).filter(pa.array(~carry))
    prepare_seconds = round(time.perf_counter() - t0, 3)

    # -- the profile: per source, sorted by source (nulls first), the
    # delta's rows (__late is never null: its count is the rows), its
    # min/max tss and whether a row is behind the seam
    prof = group_by(
        facts, ["source"], [("__late", "count"), ("tss", "min"), ("tss", "max"), ("__late", "any")]
    )
    profile = sorted(
        zip(*(prof[c].to_pylist() for c in prof.column_names)),
        key=lambda r: (r[0] is not None, r[0]),
    )
    delta_rows = facts.num_rows
    if delta_rows == 0:
        return {
            "job": "refresh_job",
            "delta_rows": 0,
            "total_seconds": 0.0,
            "class_archive": class_archive(spark),
        }
    no_ts = facts["tss"].null_count
    if no_ts:
        raise ValueError(
            f"the delta has {no_ts} rows with a null ts: a row without a "
            "time has no bucket and no place in its series' order"
        )
    extent = [r[:4] for r in profile]
    if fingerprint is None:
        fingerprint = hashlib.sha256(
            json.dumps([[s, int(n), int(lo), int(hi)] for s, n, lo, hi in extent]).encode()
        ).hexdigest()[:16]
        _refuse_applied(manifest, fingerprint)

    # -- append-only seam validation (see module docstring) --------------
    old_max = {r[0]: int(r[-1]) for r in old_bounds}
    stale = {
        s: (lo, old_max[s])
        for s, _n, lo, _hi, late in profile
        if s in old_max and (late or lo < old_max[s])
    }
    if stale:
        raise ValueError(
            "delta contains rows that sort BEFORE the existing series "
            f"edge in (ts, doc_id) order for {sorted(stale)} (delta min vs "
            f"stored max epoch: {stale}); the MA-unbias continuation is "
            "order-dependent and cannot absorb interior late data — re-run "
            "rollup_job over the affected range instead (the tier merge "
            "itself would be fine; the prepared series would not)"
        )
    # Tail-at-edge validation: the carry rows MUST be the last rows of the
    # absorbed series, i.e. per-source max(ts) == the stored bounds edge.
    # Catches a tail left stale by a fresh rollup_job rebuild into the same
    # output dir, and a bootstrap from an --input that predates already
    # absorbed deltas (e.g. after a crashed swap destroyed the tail) —
    # either would silently seed the MA seam with wrong predecessors.
    edge = group_by(
        pa.table({"source": tail["source"], "us": tail["ts"].cast(pa.int64())}),
        ["source"],
        [("us", "max")],
    )
    tail_edge = {
        s: us // 1_000_000
        for s, us in zip(edge["source"].to_pylist(), edge["us_max"].to_pylist())
    }
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

    # first mutation of the output dir — the crash-detection mark goes in
    # immediately before it (see _refuse_applied)
    manifest.mark("refresh_delta_started", fingerprint, rows=delta_rows)
    # the prepared delta: one file, written under a name that Spark's
    # readers skip ("."), then renamed into place. The unbias pass left
    # each source's rows contiguous and sorted by (ts, doc_id), and so by
    # tss.
    prepared_path = os.path.join(out, "prepared")
    os.makedirs(prepared_path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    pq.write_table(
        facts.select(["tss", "source", "n_tok_z"]),
        os.path.join(prepared_path, "." + name),
        store_schema=False,
    )
    os.replace(os.path.join(prepared_path, "." + name), os.path.join(prepared_path, name))

    # next refresh's carry tail: the last w−1 raw rows per source across
    # (old tail ∪ delta), swapped in with two atomic renames, never an
    # unlink of the only copy — a crash between them leaves the old tail
    # intact at .bak
    new_tail = got.filter(pa.array(nxt)).select(TAIL_COLS)
    tmp_tail, bak_tail = tail_path + ".tmp", tail_path + ".bak"
    shutil.rmtree(tmp_tail, ignore_errors=True)
    os.makedirs(tmp_tail)
    pq.write_table(
        new_tail.sort_by([(c, "ascending") for c in ("source", "ts", "doc_id")]),
        os.path.join(tmp_tail, "part-00000.parquet"),
    )
    shutil.rmtree(bak_tail, ignore_errors=True)
    if os.path.exists(tail_path):
        os.replace(tail_path, bak_tail)
    os.replace(tmp_tail, tail_path)
    shutil.rmtree(bak_tail, ignore_errors=True)

    # -- tier refresh: the delta's 5m partials, merged on the driver with
    # the touched blocks and their compression
    t0 = time.perf_counter()
    tree = RollupTree(series_cols=["source"], value_col="n_tok_z", tiers=DEFAULT_TIERS)
    bounds = [(s, lo, hi) for s, _n, lo, hi in extent]
    step0 = duration_seconds(DEFAULT_TIERS[0].duration)
    partials = fact_partials(facts, ["source"], step0)
    tier_metrics = IncrementalRollup(tree, out).refresh(partials, bounds)
    refresh_seconds = round(time.perf_counter() - t0, 3)
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
