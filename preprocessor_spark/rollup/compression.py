"""Block-compressed retention-tier storage.

Each retention tier's (series, bucket_start, stats...) rows are packed into
bounded blocks of ≤ ``block_size`` consecutive buckets per series (SURVEY §7
risk 4: bounded blocks parallelize and resume cleanly), encoded with the
codecs in ``codec.py``:

  * bucket timestamps → delta-of-delta (regular spacing → ~0 bits/point);
  * n_points (int) → delta-of-delta;
  * sum/min/max/mean float series → Gorilla-style XOR.

The encode/decode runs per (series, block) group inside Arrow
``applyInPandas`` — numpy-vectorized, no per-row Python. Blocks are rows of
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

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.rollup.codec import (
    dod_decode,
    dod_encode,
    xor_decode,
    xor_encode,
)

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
    keyed = tier_df.filter(F.col("n_points") > 0).withColumn(
        BLOCK_COL, block_index("bucket_start", block_buckets * bucket_seconds)
    )
    return encode_tier_blocks(
        keyed, [*series_cols, BLOCK_COL], block_buckets, bucket_seconds
    )


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
    )
    schema = _block_schema(series_cols, tier_df)
    scols = list(series_cols)

    def encode(keys, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bucket_start")
        ts = pdf["bucket_start"].astype("datetime64[ns]").astype("int64") // 10**9
        row = {c: [k] for c, k in zip([*scols, "__block"], keys)}
        del row["__block"]
        row["block_start"] = [pdf["bucket_start"].iloc[0]]
        row["n"] = [len(pdf)]
        row["ts_blob"] = [dod_encode(ts.to_numpy())]
        for c in INT_STATS:
            row[f"{c}_blob"] = [dod_encode(pdf[c].to_numpy("int64"))]
        for c in FLOAT_STATS:
            row[f"{c}_blob"] = [xor_encode(pdf[c].to_numpy("float64"))]
        return pd.DataFrame(row)

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
                ts = pd.to_datetime(dod_decode(r["ts_blob"]), unit="s")
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
