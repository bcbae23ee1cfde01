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

  * ``encode_tier_blocks`` / ``encode_partitioned_blocks`` run it on the
    executors inside Arrow ``applyInPandas``: a full build encodes every
    block of the history, which grows with the corpus;
  * ``encode_partitioned_blocks_local`` runs it on the driver over an
    Arrow collect: a refresh re-encodes only the blocks its delta lands in
    (at most ``block_buckets`` rows each), and a Python worker's start
    (seconds, cold) would cost far more than encoding them.

Both take the bucket times as epoch seconds computed in Spark, so the two
write identical bytes, and decode (``mapInPandas``) returns UTC instants:
blocks read back the same under any session time zone. Blocks are rows of
a normal DataFrame (binary columns), so they write to any partitioned sink
and are pruned by (series, block_start) predicates at read time.

On disk (``blocks_<tier>`` of the rollup jobs) the blocks are partitioned
by ``(source, block)``, where ``block`` = floor(epoch(block_start) / span)
and span = block_buckets × bucket_seconds (4096 × 300 s ≈ 14.2 days for
the 5m tier): one directory per block, holding that block's one row. A
refresh re-encodes only the blocks its delta lands in and replaces them
with a dynamic partition overwrite at that grain; every other block's
files stay as they are. ``encode_partitioned_blocks`` adds the ``block``
key; the encoder's own output schema does not carry it.
"""

from __future__ import annotations

import datetime as dt
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.rollup.codec import (
    dod_decode,
    dod_encode,
    xor_decode,
    xor_encode,
)
from preprocessor_spark.session import local_frame

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


BLOCK_COL = "block"


def block_index(ts, span_seconds: int):
    """Block of a timestamp: floor(epoch / span). Floor, not
    cast('long'): the cast truncates toward zero, so pre-1970
    (negative-epoch) buckets would straddle epoch in one double-width block
    and every historical block would sit off the floor-based grid."""
    return F.floor(F.unix_timestamp(ts) / F.lit(int(span_seconds))).cast("long")


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


def _keyed_for_blocks(
    tier_df: DataFrame, block_buckets: int, bucket_seconds: int
) -> DataFrame:
    return tier_df.filter(F.col("n_points") > 0).withColumn(
        BLOCK_COL, block_index("bucket_start", block_buckets * bucket_seconds)
    )


def encode_partitioned_blocks(
    tier_df: DataFrame,
    series_cols: list[str],
    block_buckets: int,
    bucket_seconds: int,
) -> DataFrame:
    """Blocks of the tier's non-empty rows, keyed for the on-disk
    ``(*series_cols, block)`` layout: write them with
    ``partitionBy(*series_cols, BLOCK_COL)``. ``block`` is computed from
    each bucket, which gives the block of its ``block_start``."""
    return encode_tier_blocks(
        _keyed_for_blocks(tier_df, block_buckets, bucket_seconds),
        [*series_cols, BLOCK_COL],
        block_buckets,
        bucket_seconds,
    )


class LocalBlocks(NamedTuple):
    """Blocks encoded on the driver: the frame to write, how many blocks
    it holds and how many tier rows they encode."""

    frame: DataFrame
    blocks: int
    rows: int


def encode_partitioned_blocks_local(
    tier_df: DataFrame,
    series_cols: list[str],
    block_buckets: int,
    bucket_seconds: int,
) -> LocalBlocks:
    """``encode_partitioned_blocks`` with the encode on the driver: one
    Arrow collect of the non-empty rows (epoch seconds computed in Spark),
    ``encode_block`` per (series, block), and a frame built from an Arrow
    table (``session.local_frame``) — no Python worker starts. For input
    bounded by a refresh's delta; the collected rows must fit the
    driver."""
    keyed = _keyed_for_blocks(tier_df, block_buckets, bucket_seconds)
    keys = [*series_cols, BLOCK_COL]
    stat_cols = [*INT_STATS, *FLOAT_STATS]
    table = keyed.select(
        *keys, F.unix_timestamp("bucket_start").alias("__tss"), *stat_cols
    ).toArrow()
    cols = {c: table.column(c).to_numpy() for c in ("__tss", *stat_cols)}
    # Arrow's hash grouping keeps null keys as a group, as Spark's does
    groups = (
        table.select(keys)
        .append_column("__i", pa.array(np.arange(table.num_rows)))
        .group_by(keys, use_threads=False)
        .aggregate([("__i", "list")])
    )
    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for key, idx in zip(
        groups.select(keys).to_pylist(), groups.column("__i_list").to_pylist()
    ):
        idx = np.asarray(idx)
        tss = cols["__tss"][idx]
        blobs = encode_block(tss, {c: cols[c][idx] for c in stat_cols})
        block_start = epoch + dt.timedelta(seconds=int(tss.min()))
        rows.append((*key.values(), block_start, *blobs.values()))
    frame = local_frame(keyed.sparkSession, rows, _block_schema(keys, keyed))
    return LocalBlocks(frame, len(rows), table.num_rows)


def encode_tier_blocks(
    tier_df: DataFrame,
    series_cols: list[str] | None = None,
    block_buckets: int = 4096,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Pack a tier (series, bucket_start, n_points, sum_v, sum_sq, min_v,
    max_v) into compressed blocks. Block key = floor(epoch / (block_buckets ·
    bucket_seconds)) so block membership is a pure expression (no global
    sort) and any block re-encodes independently (checkpoint/resume unit)."""
    series_cols = series_cols if series_cols is not None else ["source"]
    df = tier_df.withColumn(
        "__block", block_index("bucket_start", block_buckets * bucket_seconds)
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
