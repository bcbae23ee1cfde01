"""Deterministic distributed row positions, and the time profile they
start from.

:func:`time_profile` is the one fact-finding pass behind every
value-bucketed operator here: two small aggregates over the leading order
key give, per series, the row count and the min/max of the key's encoding,
and per (series, value bucket) the row count. Buckets are cut from the
key's VALUE (never from physical partitioning — range-partitioner sampling
is not guaranteed stable across plan executions), so its consumers are pure
functions of the data ⇒ identical results at any parallelism (the engine's
determinism invariant):

  * ``grouped_positions`` — exact, dense, 0-based positions per group under
    ``ORDER BY order_cols`` without any single-partition window: running
    offsets per (group, bucket) on the driver, then ``row_number`` windowed
    by (group, bucket) + the broadcast offset;
  * ``chunked_assignment`` — contiguous buckets packed into ~chunk_rows-row
    chunks for the sequential-window operators (chunked MA unbias W1, the
    ACF lag screen W14);
  * ``TemporalSplitter.fit_time_boundaries`` — the exact-count splitter's
    quantile lookup (W6).

A job that needs several of these (``plans/rollup_job.py``) builds one
profile and passes it to each; called without one, a consumer builds its
own.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
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


@dataclass(frozen=True)
class TimeProfile:
    """What :func:`time_profile` learned about one table.

    ``bounds``: one row per series, ``(*series, rows, lo, hi)``, where lo
    and hi are the min and max of the order key's encoding (null when the
    series has no non-null key). ``counts``: one row per non-empty
    (series, bucket), ``(*series, bucket, rows)``. Both are sorted by series
    (nulls first), ``counts`` then by bucket. ``bucket`` is the integer
    bucket-id column over any frame with the profiled order column: -1 for a
    null key (ORDER BY ASC is NULLS FIRST), else 0 … n_buckets−1 in value
    order, equal keys always in one bucket."""

    series_cols: list[str]
    bounds: list[tuple]
    counts: list[tuple]
    bucket: Column
    n_buckets: int

    @property
    def rows(self) -> int:
        return sum(b[-3] for b in self.bounds)

    def totals(self) -> dict[tuple, int]:
        """Exact row count per series key tuple (``()`` for no series)."""
        return {tuple(b[:-3]): b[-3] for b in self.bounds}


def _collect_sorted(df: DataFrame, n_keys: int) -> list[tuple]:
    """Collect a small aggregate as Arrow batches (no per-row ``Row``
    objects) and sort it on the driver by its first ``n_keys`` columns,
    nulls first — an ``orderBy`` in the query would cost a range-partitioner
    sampling job of its own."""
    table = df.toArrow()
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    return sorted(rows, key=lambda r: [(v is not None, v) for v in r[:n_keys]])


def time_profile(
    df: DataFrame,
    order_col: str,
    series_cols: list[str] | None = None,
    n_buckets: int = 4096,
) -> TimeProfile:
    """Profile ``df`` along ``order_col`` (any bucketable dtype, see
    :func:`is_bucketable_dtype`) per ``series_cols``: two small aggregates,
    the per-series one first because the bucket cuts need the global key
    range. Each collects |series| resp. |series| × |buckets| rows."""
    series_cols = list(series_cols or [])
    enc = _encode_lead(df, order_col)
    bounds = _collect_sorted(
        df.groupBy(*series_cols).agg(
            F.count(F.lit(1)).alias("__n"),
            F.min(enc).alias("__lo"),
            F.max(enc).alias("__hi"),
        ),
        len(series_cols),
    )
    los = [b[-2] for b in bounds if b[-2] is not None]
    his = [b[-1] for b in bounds if b[-1] is not None]
    # no non-null keys: empty table, or every key null — a degenerate [0,1)
    # range sends ALL rows down the null branch of the bucket expression
    lo, hi = (min(los), max(his)) if los else (0.0, 1.0)
    span = max(float(hi) - float(lo), 1.0)
    # null keys bucket BEFORE every value bucket (-1): ORDER BY ... ASC is
    # NULLS FIRST in Spark, and every consumer's window orders by the same
    # key (F.least would otherwise skip the null operand and send null keys
    # to the LAST bucket — the opposite end)
    bucket = F.when(enc.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor((enc - F.lit(float(lo))) / F.lit(span / n_buckets)),
            F.lit(n_buckets - 1),
        )
    ).cast("int")
    counts = _collect_sorted(
        df.groupBy(*series_cols, bucket.alias("__bkt")).count(),
        len(series_cols) + 1,
    )
    return TimeProfile(series_cols, bounds, counts, bucket, n_buckets)


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
    The totals fall out of the time profile this machinery already runs —
    callers that need counts (the exact-count splitter) get them WITHOUT a
    second full pass over the positioned plan."""
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
    n_buckets = max(
        df.sparkSession.sparkContext.defaultParallelism * buckets_per_core, 8
    )
    prof = time_profile(df, lead, group_cols, n_buckets)
    bucket = prof.bucket
    # running offsets per group, in bucket order — shipped back as a tiny
    # broadcast-joined DataFrame (a giant literal create_map would be
    # re-evaluated per row and its size grows with parallelism)
    acc: dict[tuple, int] = {}
    rows = []
    for *g, bkt, cnt in prof.counts:
        g = tuple(g)
        rows.append((*g, bkt, acc.get(g, 0)))
        acc[g] = acc.get(g, 0) + cnt
    totals = prof.totals() or {(): 0}
    spark = df.sparkSession
    off_schema = (
        df.select(*group_cols, bucket.alias("__bkt"))
        .schema.add("__off", "long")
    )
    offsets_df = local_frame(spark, rows, off_schema)
    with_b = df.withColumn("__bkt", bucket)
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
    profile: TimeProfile | None = None,
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

    The per-(series, value-bucket) counts of a :func:`time_profile`
    (``profile``, or one built here) pack contiguous value-range buckets of
    the ``order_col`` ENCODING into ≥chunk_rows chunks; rows get their chunk
    id via a broadcast join, so no full-width positions shuffle is spent
    deriving chunk ids. Bucket boundaries are pure value cuts on the order
    key, so cross-chunk order matches ``ORDER BY order_col`` exactly,
    including at gaps; equal key values always share a bucket (floor of the
    same encoding), so ties never straddle chunks. A passed profile must
    describe ``df``'s rows along ``order_col`` per ``series_cols``; its
    buckets are coarsened to ~16 per core by integer division of the bucket
    id, so coarse buckets nest exactly in the profile's.

    Returns ``df`` plus two columns: ``__chunk`` (long) and ``__aug`` (bool —
    True on carried tail duplicates, which consumers must drop AFTER their
    window: ``out.filter(~F.col("__aug")).drop("__chunk", "__aug")``).
    """
    series_cols = list(series_cols or [])
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    n_buckets = max(cores * 16, 64)
    if profile is None:
        profile = time_profile(df, order_col, series_cols, n_buckets)
    elif profile.series_cols != series_cols:
        raise ValueError(
            f"profile is per {profile.series_cols}, chunks per {series_cols}"
        )
    # the assignment frame has |series| × |buckets| rows: a fine profile is
    # coarsened by integer division of its OWN bucket id (a float bucket
    # recomputed at another width need not nest in the profile's); floor
    # keeps the null bucket at -1
    factor = max(1, profile.n_buckets // n_buckets)
    bucket = profile.bucket
    if factor > 1:
        bucket = F.floor(bucket / F.lit(factor)).cast("int")
    by_series: dict[tuple, list] = {}
    for *key, bkt, cnt in profile.counts:
        bl = by_series.setdefault(tuple(key), [])
        bkt //= factor
        if bl and bl[-1][0] == bkt:
            bl[-1] = (bkt, bl[-1][1] + cnt)
        else:
            bl.append((bkt, cnt))
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
