"""Deterministic distributed row positions.

``grouped_positions`` assigns exact, dense, 0-based positions per group
under ``ORDER BY order_cols`` without any single-partition window:

  1. derive a deterministic range bucket from the leading order column's
     VALUE (never from physical partitioning — range-partitioner sampling
     is not guaranteed stable across plan executions);
  2. one small aggregate → per-(group, bucket) counts → driver-side offsets
     (|groups| × |buckets| rows — tiny);
  3. ``row_number`` windowed by (group, bucket) + broadcast offset.

Both passes are pure functions of the data ⇒ identical results at any
parallelism (the engine's determinism invariant). This machinery backs the
exact-count splitter (W6) and the chunked window unbiaser (W1 at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.session import local_frame


# dtypes whose values _encode_lead can turn into a bucketable double —
# the gate callers (Trimmer positional drops, the ACF lag screen) use to
# choose between this machinery and a single-partition ordered window.
# NOTE: "interval day to second" also startswith("int"), but intervals are
# NOT castable to double — is_bucketable_dtype below excludes them; use it
# rather than a raw startswith against this tuple.
BUCKETABLE_DTYPE_PREFIXES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "decimal", "timestamp", "date",
)


def is_bucketable_dtype(dtype: str) -> bool:
    """True when _encode_lead can turn this Spark simpleString dtype into a
    bucketable double (plain startswith would wrongly admit interval types
    via the "int" prefix)."""
    return not dtype.startswith("interval") and dtype.startswith(
        BUCKETABLE_DTYPE_PREFIXES
    )


def _encode_lead(df: DataFrame, lead: str):
    dtype = dict(df.dtypes)[lead]
    if dtype.startswith("timestamp"):
        return F.unix_micros(F.col(lead).cast("timestamp"))
    if dtype == "date":
        return F.unix_date(F.col(lead)).cast("double")
    return F.col(lead).cast("double")


def grouped_positions(
    df: DataFrame,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    pos_col: str = "__pos",
    buckets_per_core: int = 4,
) -> DataFrame:
    """Dense 0-based positions within each group (empty group_cols = global)."""
    return grouped_positions_and_totals(
        df, order_cols, group_cols, pos_col, buckets_per_core
    )[0]


def grouped_positions_and_totals(
    df: DataFrame,
    order_cols: list[str],
    group_cols: list[str] | None = None,
    pos_col: str = "__pos",
    buckets_per_core: int = 4,
) -> tuple[DataFrame, dict[tuple, int]]:
    """Like :func:`grouped_positions` but also returns the exact per-group
    row totals (key = tuple of group values; global grouping → key ``()``).
    The totals fall out of the bucket-count aggregate this machinery already
    runs — callers that need counts (the exact-count splitter) get them
    WITHOUT a second full pass over the positioned plan."""
    group_cols = group_cols or []
    lead = order_cols[0]
    if not is_bucketable_dtype(dict(df.dtypes)[lead]):
        # a non-bucketable lead (e.g. string keys) cannot take the
        # value-bucketed scale path: cast('double') would bucket
        # numeric-looking strings NUMERICALLY while the in-bucket window
        # sorts them LEXICALLY ('10' < '2'), scattering positions. Fall
        # back to one ordered window per group — correct at any dtype,
        # single-task per group (callers with bucketable keys never pay
        # this; time/hash leads all bucket).
        w = Window.partitionBy(*group_cols).orderBy(*order_cols)
        positioned = df.withColumn(pos_col, F.row_number().over(w) - 1)
        totals = {
            tuple(r[c] for c in group_cols): r["count"]
            for r in df.groupBy(*group_cols).count().collect()
        }
        return positioned, totals
    enc = _encode_lead(df, lead)
    lo, hi = df.agg(F.min(enc), F.max(enc)).collect()[0]
    if lo is None:
        # no non-null keys: empty table (harmless), or every key null —
        # fall through with a degenerate [0,1) range so ALL rows take the
        # null branch below and still receive DENSE, DISTINCT positions
        # (an early "every position = 0" return made a positional filter
        # like rows=[0] silently drop the whole table)
        lo, hi = 0.0, 1.0
    n_buckets = max(
        df.sparkSession.sparkContext.defaultParallelism * buckets_per_core, 8
    )
    span = max(float(hi) - float(lo), 1.0)
    # null keys bucket BEFORE every value bucket (-1): ORDER BY ... ASC is
    # NULLS FIRST in Spark, and these positions must match that total order
    # (F.least would otherwise skip the null operand and send null keys to
    # the LAST bucket — the opposite end)
    bucket = F.when(enc.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((enc - F.lit(float(lo))) / F.lit(span / n_buckets)),
            F.lit(n_buckets - 1),
        )
    ).cast("int")
    with_b = df.withColumn("__bkt", bucket)
    counts = (
        with_b.groupBy(*group_cols, "__bkt")
        .count()
        .orderBy(*group_cols, "__bkt")
        .collect()
    )
    # running offsets per group, in bucket order — shipped back as a tiny
    # broadcast-joined DataFrame (a giant literal create_map would be
    # re-evaluated per row and its size grows with parallelism)
    acc: dict[tuple, int] = {}
    rows = []
    for r in counts:
        g = tuple(r[c] for c in group_cols)
        rows.append((*g, r["__bkt"], acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + r["count"]
    totals = dict(acc) if acc else {(): 0}
    spark = df.sparkSession
    off_schema = (
        df.select(*group_cols, bucket.alias("__bkt"))
        .schema.add("__off", "long")
    )
    offsets_df = local_frame(spark, rows, off_schema)
    w = Window.partitionBy(*group_cols, "__bkt").orderBy(*order_cols)
    # null-safe equality on the group columns: a null group is a legitimate
    # stratum — a name-based equi-join would silently drop its rows
    cond = [with_b["__bkt"] == offsets_df["__bkt"]] + [
        with_b[c].eqNullSafe(offsets_df[c]) for c in group_cols
    ]
    positioned = (
        with_b.join(F.broadcast(offsets_df), cond)
        .drop(offsets_df["__bkt"], *[offsets_df[c] for c in group_cols])
        .withColumn(
            pos_col, (F.row_number().over(w) - 1 + F.col("__off")).cast("long")
        )
        .drop("__bkt", "__off")
    )
    return positioned, totals


def chunked_assignment(
    df: DataFrame,
    order_col: str,
    series_cols: list[str] | None = None,
    chunk_rows: int | None = 1_000_000,
    carry_rows: int = 0,
) -> DataFrame:
    """Assign each row of a (series, time)-ordered table to a ~chunk_rows-row
    chunk (``chunk_rows=None`` auto-sizes from the collected bucket counts:
    ~4 chunks per core for the largest series, capped at 1M rows/chunk),
    optionally feeding each chunk's trailing ``carry_rows`` rows to the
    NEXT chunk as flagged duplicates — the shared scale machinery behind every
    sequential-window operator (MA unbias W1, the ACF lag screen W14): a
    window partitioned by (series, ``__chunk``) then has parallelism
    series × chunks instead of being capped at |series|, while carried tails
    give every chunk head its true trailing context.

    ONE light aggregate (per-(series, value-bucket) counts — |series| ×
    |buckets| rows, collected driver-side) packs contiguous value-range
    buckets of the ``order_col`` ENCODING into ≥chunk_rows chunks; rows get
    their chunk id via a broadcast join, so no full-width positions shuffle
    is spent deriving chunk ids. Bucket boundaries are pure value cuts on the
    order key, so cross-chunk order matches ``ORDER BY order_col`` exactly,
    including at gaps; equal key values always share a bucket (floor of the
    same encoding), so ties never straddle chunks.

    Returns ``df`` plus two columns: ``__chunk`` (long) and ``__aug`` (bool —
    True on carried tail duplicates, which consumers must drop AFTER their
    window: ``out.filter(~F.col("__aug")).drop("__chunk", "__aug")``).
    """
    series_cols = list(series_cols or [])
    spark = df.sparkSession
    enc = _encode_lead(df, order_col)
    lo, hi = df.agg(F.min(enc), F.max(enc)).collect()[0]
    if lo is None:
        # empty table or all-null keys: degenerate range; the null branch
        # of the bucket expression covers every row (see grouped_positions)
        lo, hi = 0.0, 1.0
    cores = spark.sparkContext.defaultParallelism
    n_buckets = max(cores * 16, 64)
    span = max(float(hi) - float(lo), 1.0)
    # null keys bucket FIRST (-1), matching ORDER BY ASC NULLS FIRST — the
    # consumers' chunk windows order by the same key, so carried tails and
    # lag pairs stay exact when the key column contains nulls
    bucket = F.when(enc.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((enc - F.lit(float(lo))) / F.lit(span / n_buckets)),
            F.lit(n_buckets - 1),
        )
    ).cast("int")
    counts = df.groupBy(*series_cols, bucket.alias("__bkt")).count().collect()
    by_series: dict[tuple, list] = {}
    for r in counts:
        by_series.setdefault(tuple(r[c] for c in series_cols), []).append(
            (r["__bkt"], r["count"])
        )
    if chunk_rows is None:
        # auto: size chunks so the LARGEST series yields ~4 window tasks
        # per core (measured: a 5M-row single-series lag pass is ~2x faster
        # at 64-128 chunks than at the 5 the 1M default gives — and flat
        # across that band), capped at the 1M manual default so huge inputs
        # keep bounded per-task sorts. The counts are already driver-side,
        # so this costs nothing extra.
        biggest = max(
            (sum(cnt for _, cnt in bl) for bl in by_series.values()),
            default=1,
        )
        chunk_rows = min(1_000_000, max(biggest // (cores * 4), 16_384))
    # every chunk must hold at least carry_rows rows so a successor's head
    # context is fully covered by ONE predecessor's tail
    chunk_rows = max(chunk_rows, carry_rows, 1)
    assign_rows = []  # (*series, bkt, chunk, feeds-next-chunk tail flag)
    for key, bl in by_series.items():
        bl.sort()
        chunks: list[list] = []
        cur_ch: list = []
        acc = 0
        for bkt, cnt in bl:
            cur_ch.append((bkt, cnt))
            acc += cnt
            if acc >= chunk_rows:
                chunks.append(cur_ch)
                cur_ch, acc = [], 0
        if cur_ch:
            if chunks:
                chunks[-1].extend(cur_ch)  # fold remainder into the last
            else:
                chunks.append(cur_ch)
        for ci, ch in enumerate(chunks):
            # minimal trailing-bucket suffix covering ≥ carry_rows rows
            tail: set = set()
            need = carry_rows
            for bkt, cnt in reversed(ch):
                if need <= 0:
                    break
                tail.add(bkt)
                need -= cnt
            is_last = ci == len(chunks) - 1
            for bkt, _cnt in ch:
                assign_rows.append(
                    (*key, bkt, ci, (bkt in tail) and not is_last)
                )
    aschema = T.StructType(
        [df.schema[c] for c in series_cols]
        + [
            T.StructField("__bkt", T.IntegerType()),
            T.StructField("__chunk", T.LongType()),
            T.StructField("__tail", T.BooleanType()),
        ]
    )
    adf = local_frame(spark, assign_rows, aschema)
    with_b = df.withColumn("__bkt", bucket)
    cond = [with_b["__bkt"] == adf["__bkt"]] + [
        with_b[c].eqNullSafe(adf[c]) for c in series_cols
    ]
    joined = with_b.join(F.broadcast(adf), cond).drop(
        adf["__bkt"], *[adf[c] for c in series_cols]
    )
    cur = joined.withColumn("__aug", F.lit(False))
    if carry_rows <= 0:
        # no carry context wanted: every __tail flag is False by
        # construction, so skip the provably-empty tail scan + union
        return cur.drop("__bkt", "__tail")
    tails = (
        joined.filter(F.col("__tail"))
        .withColumn("__chunk", F.col("__chunk") + 1)
        .withColumn("__aug", F.lit(True))
    )
    return cur.unionByName(tails).drop("__bkt", "__tail")
