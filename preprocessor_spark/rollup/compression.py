"""Block-compressed retention-tier storage.

Each retention tier's (series, bucket_start, stats...) rows are packed into
bounded blocks of ≤ ``block_size`` consecutive buckets per series (SURVEY §7
risk 4: bounded blocks parallelize and resume cleanly), encoded with the
codecs in ``codec.py``:

  * bucket timestamps → delta-of-delta (regular spacing → ~0 bits/point);
  * n_points (int) → delta-of-delta;
  * sum/min/max/mean float series → Gorilla-style XOR.

One function, ``encode_block``, encodes one (series, block) group —
numpy-vectorized, no per-row Python — and runs where the group's rows
are:

  * ``encode_blocks_local`` runs it on the driver over tier rows already
    held there as Arrow. Both rollup jobs encode this way: the build
    encodes each series' blocks from its finest tier's rows, read back on
    the driver after the tier-0 write, and a refresh re-encodes only the
    blocks its delta lands in, from the merged 5m rows it has just
    written. A tier of the finest period holds one row per series per
    bucket (its size follows the history span, not the facts), and a
    Python worker's cold start (seconds) would cost more than encoding it;
  * ``encode_tier_blocks`` runs it on the executors inside Arrow
    ``applyInPandas``, for any tier DataFrame (the driver contract's
    query and the benchmark's reads use it).

Both take the bucket times as epoch seconds, so the two write identical
bytes, and decode (``mapInPandas``) returns UTC instants: blocks read back
the same under any session time zone. Blocks are rows of a normal
DataFrame (binary columns), so they write to any partitioned sink and are
pruned by (series, block_start) predicates at read time.

On disk (``blocks_<tier>`` of the rollup jobs) the blocks are partitioned
by ``(source, block)``, where ``block`` is the tier files' block rule
(``tiers.block_of``: floor(epoch / (block_buckets × bucket_seconds)),
4096 × 300 s ≈ 14.2 days for the 5m tier): one directory per block,
holding that block's one row, over the same span as the tier's own
``block`` directory, written by ``incremental.write_series_blocks``. A
refresh re-encodes only the blocks its delta lands in and replaces those
directories; every other block's files stay as they are.
``encode_blocks_local`` returns the ``block`` key; the executor encoder's
output schema does not carry it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.rollup.codec import (
    dod_decode,
    dod_encode,
    xor_decode,
    xor_encode,
)
from preprocessor_spark.rollup.tiers import BLOCK_BUCKETS, BLOCK_COL, block_of

INT_STATS = ("n_points",)
FLOAT_STATS = ("sum_v", "sum_sq", "min_v", "max_v")


def _block_schema(series_cols: list[str], df: DataFrame) -> T.StructType:
    fields = [df.schema[c] for c in series_cols]
    fields += [
        T.StructField("block_start", T.TimestampType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("ts_blob", T.BinaryType()),
    ]
    fields += [T.StructField(f"{c}_blob", T.BinaryType()) for c in INT_STATS]
    fields += [T.StructField(f"{c}_blob", T.BinaryType()) for c in FLOAT_STATS]
    return T.StructType(fields)


def block_index(ts, bucket_seconds: int, block_buckets: int = BLOCK_BUCKETS):
    """Block of a bucket timestamp: the tier files' block rule
    (``tiers.block_of``), so a block of the finest tier's files and its
    compression block cover the same span."""
    return block_of(F.unix_timestamp(ts), bucket_seconds, block_buckets)


def encode_block(tss: np.ndarray, stats) -> dict[str, object]:
    """Encode one (series, block) group: its row count ``n``, ``ts_blob``
    and one ``<stat>_blob`` per statistic. ``tss`` holds the buckets'
    epoch seconds and ``stats`` maps each statistic to its values (a
    pandas frame or a dict of arrays), in any row order: rows are encoded
    in time order. The executor encoder and the driver encoder both call
    this, so both write the same bytes."""
    order = np.argsort(tss, kind="stable")
    out = {"n": len(order), "ts_blob": dod_encode(np.asarray(tss, "int64")[order])}
    for c in INT_STATS:
        out[f"{c}_blob"] = dod_encode(np.asarray(stats[c], "int64")[order])
    for c in FLOAT_STATS:
        out[f"{c}_blob"] = xor_encode(np.asarray(stats[c], "float64")[order])
    return out


def encode_blocks_local(
    rows: pa.Table,
    series_cols: list[str],
    bucket_seconds: int,
    block_buckets: int = BLOCK_BUCKETS,
) -> pa.Table:
    """The blocks of tier rows held on the driver as Arrow:
    ``series_cols``, ``bucket_epoch`` (epoch seconds) and the statistics.
    Returns one row per (series, block) of the non-empty rows, keyed by
    ``series_cols`` and :data:`~preprocessor_spark.rollup.tiers.BLOCK_COL`
    (``block_start`` in UTC), with the bytes ``encode_tier_blocks`` gives
    the same rows. No Spark job and no Python worker."""
    rows = rows.filter(pc.greater(rows["n_points"], 0))
    tss = rows["bucket_epoch"].to_numpy()
    keys = [*series_cols, BLOCK_COL]
    stat_cols = [*INT_STATS, *FLOAT_STATS]
    cols = {c: rows[c].to_numpy() for c in stat_cols}
    # Arrow's hash grouping keeps null keys as a group, as Spark's does
    groups = (
        rows.select(series_cols)
        .append_column(BLOCK_COL, pa.array(block_of(tss, bucket_seconds, block_buckets)))
        .append_column("__i", pa.array(np.arange(rows.num_rows)))
        .group_by(keys, use_threads=False)
        .aggregate([("__i", "list")])
    )
    out: dict[str, list] = {c: [] for c in (*keys, "block_start")}
    for key, idx in zip(
        groups.select(keys).to_pylist(), groups.column("__i_list").to_pylist()
    ):
        idx = np.asarray(idx)
        for c, v in key.items():
            out[c].append(v)
        out["block_start"].append(int(tss[idx].min()) * 1_000_000)
        for c, v in encode_block(tss[idx], {c: cols[c][idx] for c in stat_cols}).items():
            out.setdefault(c, []).append(v)
    fields = [rows.schema.field(c) for c in series_cols]
    fields += [pa.field(BLOCK_COL, pa.int64()), pa.field("block_start", pa.timestamp("us", "UTC"))]
    fields += [pa.field("n", pa.int32()), pa.field("ts_blob", pa.binary())]
    fields += [pa.field(f"{c}_blob", pa.binary()) for c in stat_cols]
    schema = pa.schema(fields)
    return pa.table({f.name: out.get(f.name, []) for f in fields}, schema=schema)


def encode_tier_blocks(
    tier_df: DataFrame,
    series_cols: list[str] | None = None,
    block_buckets: int = BLOCK_BUCKETS,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Pack a tier (series, bucket_start, n_points, sum_v, sum_sq, min_v,
    max_v) into compressed blocks. Block key = floor(epoch / (block_buckets ·
    bucket_seconds)) so block membership is a pure expression (no global
    sort) and any block re-encodes independently (checkpoint/resume unit)."""
    series_cols = series_cols if series_cols is not None else ["source"]
    df = tier_df.withColumn(
        "__block", block_index("bucket_start", bucket_seconds, block_buckets)
    ).withColumn("__tss", F.unix_timestamp("bucket_start"))
    schema = _block_schema(series_cols, tier_df)
    scols = list(series_cols)

    def encode(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        row = dict(zip(scols, keys))
        row["block_start"] = pdf["bucket_start"].min()
        row.update(encode_block(pdf["__tss"].to_numpy(), pdf))
        return pd.DataFrame({c: [v] for c, v in row.items()})

    return df.groupBy(*series_cols, "__block").applyInPandas(encode, schema)


def decode_tier_blocks(
    blocks_df: DataFrame, series_cols: list[str] | None = None
) -> DataFrame:
    """Inverse of encode_tier_blocks: explode blocks back into tier rows.
    Runs as mapInPandas (one pass, no shuffle — blocks are self-contained)."""
    series_cols = series_cols if series_cols is not None else ["source"]
    scols = list(series_cols)
    out_schema = T.StructType(
        [blocks_df.schema[c] for c in scols]
        + [
            T.StructField("bucket_start", T.TimestampType()),
            T.StructField("n_points", T.LongType()),
        ]
        + [T.StructField(c, T.DoubleType()) for c in FLOAT_STATS]
    )

    blob_cols = [*scols, "ts_blob", "n_points_blob"] + [
        f"{c}_blob" for c in FLOAT_STATS
    ]

    def decode(iterator):
        for pdf in iterator:
            frames = []
            for vals in zip(*(pdf[c] for c in blob_cols)):
                r = dict(zip(blob_cols, vals))
                ts = pd.to_datetime(dod_decode(r["ts_blob"]), unit="s", utc=True)
                d = {c: r[c] for c in scols}
                d["bucket_start"] = ts
                npts = dod_decode(r["n_points_blob"])
                d["n_points"] = npts
                # restore the (n_points=0, NULL stats) gap-row invariant:
                # the float codec stores nulls as NaN bit patterns (Arrow
                # has no null lane in a float64 numpy array), and a NaN
                # poisons downstream F.min/F.max and the seed-row merge.
                # n_points counts NON-NULL values (tiers.py), so
                # n_points==0 identifies the null stats exactly.
                for c in FLOAT_STATS:
                    vals = pd.array(xor_decode(r[f"{c}_blob"]), dtype="Float64")
                    vals[npts == 0] = pd.NA
                    d[c] = vals
                frames.append(pd.DataFrame(d))
            yield pd.concat(frames) if frames else pd.DataFrame(
                {f.name: [] for f in out_schema.fields}
            )

    return blocks_df.mapInPandas(decode, out_schema)
