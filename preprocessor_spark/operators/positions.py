"""Deterministic distributed row positions, and the time profile they
start from.

:func:`time_profile` is the one fact-finding pass behind every
value-bucketed operator here. Per (series, bucket of the leading order
key) it counts the rows and takes the key's min, and optionally the count,
sum and sum of squares of a value column; the per-series row counts and
key ranges come with it. Buckets are cut from the key's VALUE (never from
physical partitioning — range-partitioner sampling is not guaranteed
stable across plan executions), so its consumers are pure functions of the
data ⇒ identical results at any parallelism (the engine's determinism
invariant). There are two bucket schemes:

  * value-range buckets (the default): ``n_buckets`` equal slices of the
    key's global range, for any bucketable key. The slices need the range
    first, so this profile is two small aggregates: per series, then per
    (series, bucket);
  * lattice buckets (``step_s``, timestamp keys only): the key's epoch
    micros floored to a ``step_s``-second lattice, as a rollup tier floors
    them. That needs no range first, so the profile is ONE aggregate, and
    each series' bounds are folded from its bucket rows on the driver. A
    job that rolls up at that step (plans/rollup_job.py) profiles on its
    finest tier's lattice.

Either way the bucket ids are dense from 0 in key order (-1 for a null
key), so every consumer takes either profile:

  * ``grouped_positions`` — exact, dense, 0-based positions per group under
    ``ORDER BY order_cols`` without any single-partition window: running
    offsets per (group, bucket) on the driver, then ``row_number`` windowed
    by (group, bucket) + the broadcast offset;
  * ``chunked_assignment`` — contiguous buckets packed into ~chunk_rows-row
    chunks for the sequential-window operators (chunked MA unbias W1, the
    ACF lag screen W14);
  * ``TemporalSplitter.fit_time_boundaries`` — the exact-count splitter's
    quantile lookup (W6), and the split moments of the profile's value
    column (the build's z-score fit).

A job that needs several of these (``plans/rollup_job.py``) builds one
profile and passes it to each; called without one, a consumer builds its
own. The profile is collected as Arrow and kept as an Arrow table: the
driver side is vectorized, so a profile of tens of thousands of lattice
buckets costs milliseconds.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.arrowops import group_by
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

# columns of TimeProfile.counts after the series columns
BKT, ROWS, T0 = "__bkt", "__n", "__t0"
# and, for a profile of a value column: the count, sum and sum of squares
# of its non-null values
MOMENTS = ("__vn", "__vs", "__vss")


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


def value_moments(df: DataFrame, value_col: str) -> list[Column]:
    """Count, sum and sum of squares of ``value_col``'s non-null values, as
    aggregates (unaliased: a caller may take them over a window). An
    integral column sums as ``decimal(38,0)``: exact, where a ``long`` sum
    of squares overflows (an error under ANSI mode) once values near 2^31
    meet. Other columns sum as doubles."""
    exact = isinstance(df.schema[value_col].dataType, T.IntegralType)
    v = F.col(value_col).cast("decimal(38,0)" if exact else "double")
    return [F.count(value_col), F.sum(v), F.sum(v * v)]


@dataclass(frozen=True)
class TimeProfile:
    """What :func:`time_profile` learned about one table.

    ``bounds``: one row per series, ``(*series, rows, lo, hi)``, where lo
    and hi are the min and max of the order key's encoding (epoch micros
    for a timestamp; null when the series has no non-null key), sorted by
    series, nulls first. ``counts``: an Arrow table with one row per
    non-empty (series, bucket): the series columns, then :data:`BKT`,
    :data:`ROWS` (its rows), :data:`T0` (its least key, in the key's type)
    and, when ``value_col`` is set, the :data:`MOMENTS` of that column,
    sorted by series (nulls first) and bucket. ``bucket`` is the integer
    bucket-id column over any frame with the profiled order column: -1 for
    a null key (ORDER BY ASC is NULLS FIRST), else 0 … n_buckets−1 in key
    order, equal keys always in one bucket."""

    series_cols: list[str]
    bounds: list[tuple]
    counts: pa.Table
    bucket: Column
    n_buckets: int
    value_col: str | None = None

    @property
    def rows(self) -> int:
        return sum(b[-3] for b in self.bounds)

    def totals(self) -> dict[tuple, int]:
        """Exact row count per series key tuple (``()`` for no series)."""
        return {tuple(b[:-3]): b[-3] for b in self.bounds}


def _collect_sorted(df: DataFrame, keys: list[str]) -> pa.Table:
    """Collect a small aggregate as Arrow and sort it on the driver by
    ``keys``, nulls first — an ``orderBy`` in the query would cost a
    range-partitioner sampling job of its own."""
    return _sorted(df.toArrow(), keys)


def _sorted(table: pa.Table, keys: list[str]) -> pa.Table:
    if not keys:
        return table
    return table.sort_by([(k, "ascending") for k in keys], null_placement="at_start")


def _tuples(table: pa.Table) -> list[tuple]:
    return list(zip(*(c.to_pylist() for c in table.columns)))


def time_profile(
    df: DataFrame,
    order_col: str,
    series_cols: list[str] | None = None,
    n_buckets: int = 4096,
    step_s: int | None = None,
    value_col: str | None = None,
) -> TimeProfile:
    """Profile ``df`` along ``order_col`` per ``series_cols``.

    Without ``step_s``: ``n_buckets`` value-range buckets of any bucketable
    key (:func:`is_bucketable_dtype`), in two small aggregates, the
    per-series one first because the bucket cuts need the global key
    range. With ``step_s``: buckets of the ``step_s``-second lattice of a
    timestamp key, in ONE aggregate, each non-empty lattice bucket's rows
    and min/max key; the series bounds are folded from those rows, and the
    bucket ids are relative to the lowest non-empty one. ``value_col``
    adds its :func:`value_moments` per bucket."""
    series_cols = list(series_cols or [])
    enc = _encode_lead(df, order_col)
    moments = (
        [m.alias(n) for m, n in zip(value_moments(df, value_col), MOMENTS)]
        if value_col
        else []
    )
    if step_s is not None:
        return _lattice_profile(df, order_col, series_cols, int(step_s), moments, value_col)
    bounds = _tuples(
        _collect_sorted(
            df.groupBy(*series_cols).agg(
                F.count(F.lit(1)).alias("__n"),
                F.min(enc).alias("__lo"),
                F.max(enc).alias("__hi"),
            ),
            series_cols,
        )
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
        df.groupBy(*series_cols, bucket.alias(BKT)).agg(
            F.count(F.lit(1)).alias(ROWS), F.min(order_col).alias(T0), *moments
        ),
        [*series_cols, BKT],
    )
    return TimeProfile(series_cols, bounds, counts, bucket, n_buckets, value_col)


def _lattice_profile(
    df: DataFrame,
    order_col: str,
    series_cols: list[str],
    step_s: int,
    moments: list[Column],
    value_col: str | None,
) -> TimeProfile:
    if not dict(df.dtypes)[order_col].startswith("timestamp"):
        raise ValueError(
            f"a lattice profile needs a timestamp key, got {order_col!r} "
            f"({dict(df.dtypes)[order_col]}): profile it without step_s"
        )
    enc = _encode_lead(df, order_col)
    step_us = step_s * 1_000_000
    # the floor to the lattice (pmod, as tiers.epoch_floor), then an exact
    # integral division: a double division could round a bucket's last
    # micro into the next bucket
    lattice = F.call_function("div", enc - F.pmod(enc, F.lit(step_us)), F.lit(step_us))
    raw = df.groupBy(*series_cols, lattice.alias(BKT)).agg(
        F.count(F.lit(1)).alias(ROWS),
        F.min(order_col).alias(T0),
        F.max(order_col).alias("__t1"),
        *moments,
    ).toArrow()
    ids = raw[BKT]
    first = pc.min(ids).as_py()
    first = 0 if first is None else first
    rel = pc.fill_null(pc.subtract(ids, first), -1)
    n_buckets = max(pc.max(rel).as_py() or 0, 0) + 1
    if n_buckets > np.iinfo(np.int32).max:
        raise ValueError(
            f"{order_col!r} spans {n_buckets} buckets of {step_s}s: more than "
            "an int bucket id holds"
        )
    raw = raw.set_column(raw.schema.get_field_index(BKT), BKT, rel.cast(pa.int32()))
    per_series = _sorted(
        group_by(raw, series_cols, [(ROWS, "sum"), (T0, "min"), ("__t1", "max")]),
        series_cols,
    )
    bounds = _tuples(
        pa.table(
            [
                *(per_series[c] for c in series_cols),
                pc.fill_null(per_series[f"{ROWS}_sum"], 0),
                per_series[f"{T0}_min"].cast(pa.int64()),
                per_series["__t1_max"].cast(pa.int64()),
            ],
            names=[*series_cols, "__n", "__lo", "__hi"],
        )
    )
    bucket = F.when(enc.isNull(), F.lit(-1)).otherwise(lattice - F.lit(first)).cast("int")
    counts = _sorted(raw.drop_columns("__t1"), [*series_cols, BKT])
    return TimeProfile(series_cols, bounds, counts, bucket, n_buckets, value_col)


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
    for *g, bkt, cnt in _tuples(prof.counts.select([*group_cols, BKT, ROWS])):
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

    The per-(series, bucket) counts of a :func:`time_profile` (``profile``,
    in either bucket scheme, or a value-range one built here) pack
    contiguous buckets of the ``order_col`` ENCODING into ≥chunk_rows
    chunks, on the driver with Arrow; rows get their chunk
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
    coarse = profile.counts.select([*series_cols, ROWS]).append_column(
        BKT, pa.array(np.floor_divide(profile.counts[BKT].to_numpy(), factor))
    )
    coarse = _sorted(group_by(coarse, [*series_cols, BKT], [(ROWS, "sum")]), [*series_cols, BKT])
    by_series: dict[tuple, list] = {}
    for *key, bkt, cnt in _tuples(coarse):
        by_series.setdefault(tuple(key), []).append((bkt, cnt))
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
