"""Continuous-aggregate rollup / downsample / retention tree.

The retention tree is literally a rollup tree (SURVEY §2.4): tier k is a
``groupBy(series, window(t, tier_k))`` RE-AGGREGATION of tier k−1, never of
the raw facts — so a 1d tier aggregates the 1h tier (24 rows/bucket), not
10^12 raw rows. To make every statistic re-aggregable, each tier stores the
ALGEBRAIC form (count, sum, sum_sq, min, max); mean/std are derived views.

Aggregate set mirrors the reference's per-column statistics (SURVEY §2.4
A1-A3: mean/std/min/max — app/plugins/plugin_normalizer.py:150-157,
app/core/normalization_handler.py:155-174) turned into keyed windowed
aggregates per the north rule.

Scale notes:
  * tier-0 aggregate is one partial+final hash agg over the facts (map-side
    combine collapses each input partition to ≤ |series × buckets| rows
    before the shuffle);
  * tier k→k+1 re-aggs shuffle only tier-k rows (tiny);
  * a skewed source (s0 ≈ 30% of rows) is handled by two-phase salted
    aggregation: ``salted_aggregate`` pre-aggregates on (series, bucket,
    salt) then folds partials — same shape as Spark's own partial/final agg
    but with an explicit intermediate key for pathological single-key skew;
  * buckets are tumbling and floor the time to the tier period
    (``F.window(ts, d)``, or :func:`epoch_floor` on epoch seconds);
    bucket_start is the tier's time key, so re-aggregation windows nest
    exactly (5m ⊂ 1h ⊂ 1d).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.session import local_frame

ALGEBRAIC = ("n_points", "sum_v", "sum_sq", "min_v", "max_v")


def algebraic_aggs(value_col):
    """The five partial-aggregable statistics over raw facts — THE single
    definition shared by every aggregate here, so the tiers and the
    incremental refresh's partials cannot drift on a missed edit.
    ``n_points`` counts NON-NULL values (the
    pandas/reference semantic): sum_v/sum_sq/min/max already skip nulls,
    so an all-rows count would silently skew the derived mean/std whenever
    the value column has nulls, and would disagree with the spine-fused
    variants, which seed every expected bucket with a null-valued row that
    must register the bucket without inflating n_points."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    return [
        F.count(v).alias("n_points"),
        F.sum(v).alias("sum_v"),
        F.sum(v * v).alias("sum_sq"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    ]


def epoch_floor(e, step_s: int):
    """Start of the ``step_s``-second bucket holding epoch second ``e`` (a
    long column): ``e - pmod(e, step)``. That is the floor ``F.window``
    takes and Python's ``%`` computes on the driver, before 1970 as after;
    Spark's ``%`` truncates toward zero and would put a negative epoch one
    bucket late."""
    return e - F.pmod(e, F.lit(int(step_s)))


def epoch_seconds(ts):
    """Epoch second of a timestamp column, floored: ``unix_seconds`` floors
    the micros, where ``unix_timestamp`` truncates toward zero and would
    put a sub-second time before 1970 one second late. Every stored epoch
    second of the rollup jobs (the prepared ``tss``, the series bounds and
    the refresh's delta profile) is this floor, as ``F.window`` takes it."""
    return F.unix_seconds(ts)


# The block grain of every tier file and of the finest tier's compression
# blocks: a block holds BLOCK_BUCKETS consecutive buckets of its tier
# (4096 x 300 s ~ 14.2 days at 5m, ~171 days at 1h, ~11.2 years at 1d).
BLOCK_BUCKETS = 4096
BLOCK_COL = "block"


def block_of(epoch, step_s: int, buckets: int = BLOCK_BUCKETS):
    """Block of epoch second ``epoch`` in a tier of period ``step_s``:
    ``floor(epoch / (buckets x step_s))``, floored as :func:`epoch_floor`
    floors, before 1970 as after. ``epoch`` is a long column (Spark) or an
    int64 numpy array (the driver); both give the same block."""
    span = int(buckets) * int(step_s)
    if isinstance(epoch, Column):
        return (epoch_floor(epoch, span) / F.lit(span)).cast("long")
    return np.floor_divide(epoch, span)


def algebraic_reaggs():
    """Fold of already-aggregated tier rows into a coarser tier (sums of
    sums; min of mins; max of maxes)."""
    return [
        F.sum("n_points").alias("n_points"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    ]


def histogram_agg(value_col, lo: float, hi: float, nbins: int, name: str = "hist_v"):
    """Mergeable fixed-bin histogram of the raw values — the tier statistic
    that unlocks percentiles at every retention tier (mean/std/min/max
    alone can't answer "p95 token length per hour"). One conditional-sum
    lane per bin, all inside whole-stage codegen (the same N-lane
    aggregate shape as the simhash bit votes) — no sketch UDF, no second
    shuffle. Values below/above [lo, hi) clamp to the edge bins; nulls
    count nowhere. Mergeable by construction: the fold is element-wise sum
    (:func:`histogram_reagg`), so histograms re-aggregate up the tree and
    fold in incremental refreshes exactly like count/sum/min/max."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    w = (float(hi) - float(lo)) / int(nbins)
    idx = F.least(
        F.greatest(F.floor((v - F.lit(float(lo))) / F.lit(w)), F.lit(0)),
        F.lit(int(nbins) - 1),
    )
    return F.array(
        *[
            F.sum(
                F.when(v.isNotNull() & (idx == i), F.lit(1)).otherwise(F.lit(0))
            ).cast("long")
            for i in range(int(nbins))
        ]
    ).alias(name)


def histogram_reagg(nbins: int, name: str = "hist_v"):
    """Element-wise fold of already-aggregated histogram arrays (tier k →
    k+1, or incremental merge): nbins native sums over element_at — coarse
    tiers are small, so the lane count is codegen breadth, not data."""
    return F.array(
        *[
            F.sum(F.element_at(F.col(name), i + 1)).cast("long")
            for i in range(int(nbins))
        ]
    ).alias(name)


def hist_percentile(hist, q: float, lo: float, hi: float, nbins: int):
    """Percentile estimate from a histogram array — linear interpolation
    within the bin containing the q-th point, pure column expressions
    (aggregate fold for the cumulative scan, no UDF). Returns null for an
    empty histogram."""
    h = F.col(hist) if isinstance(hist, str) else hist
    w = (float(hi) - float(lo)) / int(nbins)
    total = F.aggregate(h, F.lit(0).cast("long"), lambda a, x: a + x)
    target = F.lit(float(q)) * total.cast("double")
    # fold state: (cum, found_bin, cum_before) — first bin where the
    # running total reaches the target wins
    state = F.aggregate(
        F.zip_with(
            h, F.sequence(F.lit(0), F.lit(int(nbins) - 1)),
            lambda c, i: F.struct(c.alias("c"), i.alias("i")),
        ),
        F.struct(
            F.lit(0.0).alias("cum"),
            F.lit(-1).alias("bin"),
            F.lit(0.0).alias("before"),
        ),
        lambda acc, x: F.struct(
            (acc["cum"] + x["c"]).alias("cum"),
            F.when(
                (acc["bin"] < 0) & (acc["cum"] + x["c"] >= target) & (x["c"] > 0),
                x["i"],
            ).otherwise(acc["bin"]).alias("bin"),
            F.when(
                (acc["bin"] < 0) & (acc["cum"] + x["c"] >= target) & (x["c"] > 0),
                acc["cum"],
            ).otherwise(acc["before"]).alias("before"),
        ),
    )
    in_bin = F.greatest(
        F.element_at(h, state["bin"] + 1).cast("double"), F.lit(1.0)
    )
    frac = (target - state["before"]) / in_bin
    est = F.lit(float(lo)) + (state["bin"] + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))) * F.lit(w)
    return F.when((total > 0) & (state["bin"] >= 0), est)


@dataclass(frozen=True)
class TierSpec:
    name: str  # e.g. "5m", "1h", "1d"
    duration: str  # Spark window duration, e.g. "5 minutes"


DEFAULT_TIERS = [
    TierSpec("5m", "5 minutes"),
    TierSpec("1h", "1 hour"),
    TierSpec("1d", "1 day"),
]


def _derived(df: DataFrame) -> DataFrame:
    """Attach derived mean/std views (sample std, ddof=1 — matching the
    reference's pandas default, app/plugins/plugin_normalizer.py:150-152)."""
    n, s, ss = F.col("n_points"), F.col("sum_v"), F.col("sum_sq")
    var = (ss - s * s / n) / (n - 1)
    return df.withColumn("mean_v", s / n).withColumn(
        "std_v",
        F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(None)),
    )


class RollupTree:
    def __init__(
        self,
        time_col: str = "ts",
        series_cols: list[str] | None = None,
        value_col: str = "n_tok",
        tiers: list[TierSpec] | None = None,
    ):
        self.time_col = time_col
        self.series_cols = series_cols if series_cols is not None else ["source"]
        self.value_col = value_col
        self.tiers = tiers or DEFAULT_TIERS

    # -- tier 0: facts → finest tier ------------------------------------
    def base_aggregate(self, df: DataFrame, tier: TierSpec) -> DataFrame:
        v = F.col(self.value_col).cast("double")
        return (
            df.groupBy(
                *self.series_cols,
                F.window(self.time_col, tier.duration)["start"].alias("bucket_start"),
            )
            .agg(*algebraic_aggs(v))
        )

    def base_aggregate_with_spine_epoch(
        self,
        df: DataFrame,
        step_s: int,
        spine: DataFrame | None = None,
        epoch_col: str = "tss",
    ) -> DataFrame:
        """Tier-0 aggregate + gap fill fused into ONE aggregation — the
        10^12-scale hot path. Facts are unioned with null-valued seed rows
        (one per spine bucket) and ``n_points`` counts NON-NULL values:
        seed rows materialize their bucket with n_points=0 and null stats,
        exactly what ``gap_fill(base_aggregate(...))``'s spine LEFT JOIN
        yields, without the join's exchange and sort. The seeds are
        ≤ |buckets| rows riding a |facts|-row shuffle: free. (Facts with a
        null value contribute to no statistic, the count included — as on
        every aggregate path.)

        ``df`` carries the event time as epoch SECONDS (``epoch_col``,
        int/long) instead of a timestamp, so the per-row bucket key is
        integer arithmetic (:func:`epoch_floor`) rather than the
        timestamp/window-struct arithmetic of ``F.window`` — and the
        conversion back to a ``bucket_start`` timestamp happens AFTER the
        aggregate, on |buckets| rows instead of |facts| rows.
        ``F.window(ts, d)["start"]`` epoch-aligns tumbling windows to
        ``floor(epoch/step)*step``, which is exactly this integer floor —
        equivalence with the gap-filled F.window chain is pinned by
        tests/test_rollup.py::test_epoch_aggregate_equivalence.

        ``spine``: dense (series, bucket_epoch:long) seed rows (e.g. from
        :func:`spine_from_bounds` with ``as_epoch=True``). Without it the
        aggregate fills no gaps: the incremental refresh adds its seeds
        on the driver, after it collects the aggregate."""
        v = F.col(self.value_col).cast("double")
        facts = df.select(
            *self.series_cols,
            F.col(epoch_col).cast("long").alias(epoch_col),
            self.value_col,
        )
        if spine is not None:
            facts = facts.unionByName(
                spine.select(
                    *self.series_cols,
                    F.col("bucket_epoch").cast("long").alias(epoch_col),
                    F.lit(None).cast("double").alias(self.value_col),
                )
            )
        return (
            facts.groupBy(
                *self.series_cols,
                epoch_floor(F.col(epoch_col), step_s).alias("bucket_epoch"),
            )
            .agg(*algebraic_aggs(v))
            .select(
                *self.series_cols,
                F.timestamp_seconds("bucket_epoch").alias("bucket_start"),
                *ALGEBRAIC,
            )
        )

    # -- tier k → tier k+1 ----------------------------------------------
    def reaggregate(self, tier_df: DataFrame, to_tier: TierSpec) -> DataFrame:
        return (
            tier_df.groupBy(
                *self.series_cols,
                F.window("bucket_start", to_tier.duration)["start"].alias(
                    "bucket_start"
                ),
            )
            .agg(*algebraic_reaggs())
        )

    def reaggregate_epoch(self, tier_df: DataFrame, to_step_s: int) -> DataFrame:
        """Epoch-integer twin of :meth:`reaggregate`: the input carries its
        bucket as epoch seconds (``bucket_epoch`` long) and the output
        stays in epoch space, so a chain of coarse tiers composes in ONE
        Spark plan with integer arithmetic per row and no timestamp
        arithmetic. ``F.window`` equivalence as in
        :meth:`base_aggregate_with_spine_epoch`."""
        return (
            tier_df.groupBy(
                *self.series_cols,
                epoch_floor(F.col("bucket_epoch"), to_step_s).alias("bucket_epoch"),
            )
            .agg(*algebraic_reaggs())
        )

    def build_all(self, df: DataFrame, derived: bool = True) -> dict[str, DataFrame]:
        """Materialize the full tree lazily: tier[0] from facts, tier[k] from
        tier[k−1]."""
        out: dict[str, DataFrame] = {}
        cur = self.base_aggregate(df, self.tiers[0])
        out[self.tiers[0].name] = _derived(cur) if derived else cur
        for t in self.tiers[1:]:
            cur = self.reaggregate(cur, t)
            out[t.name] = _derived(cur) if derived else cur
        return out

    # -- gap fill at a tier ----------------------------------------------
    def gap_fill(self, tier_df: DataFrame, tier: TierSpec) -> DataFrame:
        """Dense per-series bucket spine LEFT JOIN the tier (SURVEY §2.3 J1):
        missing buckets appear with n_points=0 and null stats. The spine is
        built from a 1-row-per-series bounds aggregate → broadcast join."""
        from preprocessor_spark.operators.cleaner import dense_spine

        secs = duration_seconds(tier.duration)
        spine = dense_spine(
            tier_df, "bucket_start", None, self.series_cols, period_seconds=secs
        )
        joined = spine.join(
            tier_df, on=[*self.series_cols, "bucket_start"], how="left"
        )
        return joined.withColumn("n_points", F.coalesce("n_points", F.lit(0)))

    def salted_aggregate(
        self,
        df: DataFrame,
        tier: TierSpec,
        salt_buckets: int = 16,
        salt_cols: list[str] | None = None,
    ) -> DataFrame:
        """Two-phase skew-safe tier-0 aggregate: partial agg on
        (series, bucket, salt) → final fold without salt. Identical result
        to base_aggregate; bounds any single (series, bucket) hot key to B
        parallel partials (north rule skew handling).

        ``salt_cols`` names the columns hashed into the salt (an id column
        like doc_id) and is REQUIRED: hashing every column would force ALL
        columns (token arrays included) through the shuffle and defeat
        column pruning, so that foot-gun is refused rather than defaulted.
        Pass a cheap high-cardinality column — the id column if one exists,
        else the raw time column (finer than the bucket, so hot buckets
        still spread across salts)."""
        if not salt_cols:
            raise ValueError(
                "salted_aggregate requires explicit salt_cols (e.g. an id "
                "column, or the raw time column); hashing all columns into "
                "the salt defeats column pruning and is refused"
            )
        v = F.col(self.value_col).cast("double")
        salt = (F.abs(F.xxhash64(*salt_cols)) % salt_buckets).alias("__salt")
        partial = (
            df.groupBy(
                *self.series_cols,
                F.window(self.time_col, tier.duration)["start"].alias("bucket_start"),
                salt,
            )
            .agg(*algebraic_aggs(v))
        )
        return (
            partial.groupBy(*self.series_cols, "bucket_start")
            .agg(*algebraic_reaggs())
        )


class RetentionPolicy:
    """Per-tier retention horizons — the policy half of the downsample/
    retention tree: fine tiers keep a short window, coarse tiers keep
    progressively longer (or forever), so storage stays bounded while
    every horizon remains queryable at SOME resolution.

    ``specs`` maps tier name → keep duration ("2 days", "12 hours", …) or
    None for keep-forever. ``enforce`` is a pure bucket_start predicate —
    partition-prunable when the tier table is partitioned on
    days(bucket_start), which is how a 10^12-point deployment expires data
    (whole-partition drops via ``expired_before``, never row deletes)."""

    def __init__(self, specs: dict[str, str | None]):
        self.specs = dict(specs)

    def cutoff_epoch(self, tier_name: str, now_epoch_s: int) -> int | None:
        keep = self.specs.get(tier_name)
        if keep is None:
            return None
        return int(now_epoch_s) - duration_seconds(keep)

    def enforce(
        self, tier_df: DataFrame, tier_name: str, now_epoch_s: int
    ) -> DataFrame:
        """Rows surviving the policy at ``now`` (bucket_start ≥ cutoff)."""
        cut = self.cutoff_epoch(tier_name, now_epoch_s)
        if cut is None:
            return tier_df
        return tier_df.filter(
            F.unix_timestamp("bucket_start") >= F.lit(cut)
        )

    def expired_before(self, tier_name: str, now_epoch_s: int) -> int | None:
        """Partition-drop boundary: every day-partition strictly before
        this epoch second is fully expired and can be dropped whole."""
        return self.cutoff_epoch(tier_name, now_epoch_s)


def duration_seconds(duration: str) -> int:
    """Parse an F.window-style duration ('30 seconds', '5 minutes', ...)
    to seconds — seconds included, so a sub-minute finest tier works in the
    gap-fill/retention path, not only in the aggregates."""
    qty, unit = duration.split()
    unit = unit.rstrip("s")
    factor = {
        "second": 1, "minute": 60, "hour": 3600, "day": 86400,
        "week": 604800,
    }
    if unit not in factor:
        raise ValueError(f"unsupported tier duration unit: {duration!r}")
    return int(qty) * factor[unit]


def spine_from_bounds(
    spark,
    bounds_rows,
    series_cols: list[str],
    period_seconds: int,
    time_col: str = "bucket_start",
    max_chunk: int = 8192,
    num_partitions: int | None = None,
    series_schema: DataFrame | None = None,
    as_epoch: bool = False,
) -> DataFrame:
    """Dense bucket spine built from per-series [t0, t1] epoch bounds that
    were collected ONCE (e.g. from the finest-tier aggregate) — no extra
    job over the facts per tier. Bounds are floored to the tier period
    (:func:`epoch_floor`), matching ``F.window``'s epoch alignment, so the
    same bounds serve every tier of the tree.

    The explode is two-level (chunks of ``max_chunk`` buckets) so a series
    spanning years at a fine tier never materializes one giant array per
    row — the scale path for 10^12-sequence spans.

    ``bounds_rows``: rows/tuples of (*series values, t0_epoch_s, t1_epoch_s).

    ``series_schema``: a DataFrame carrying the series columns (e.g. the
    tier itself) — their exact types are copied into the spine so the
    gap-fill join keys match for non-string series columns; without it the
    series columns default to string.

    ``as_epoch``: keep the bucket as epoch seconds (``bucket_epoch`` long)
    instead of converting to a timestamp — the seed shape
    :meth:`RollupTree.base_aggregate_with_spine_epoch` consumes.
    """
    from pyspark.sql import types as T

    step = int(period_seconds)
    if series_schema is not None:
        fields = [series_schema.schema[c] for c in series_cols]
    else:
        fields = [T.StructField(c, T.StringType()) for c in series_cols]
    schema = T.StructType(
        [
            *fields,
            T.StructField("__t0s", T.LongType()),
            T.StructField("__t1s", T.LongType()),
        ]
    )
    sdf = local_frame(spark, bounds_rows, schema)
    t0k = epoch_floor(F.col("__t0s"), step).alias("__t0k")
    t1k = epoch_floor(F.col("__t1s"), step).alias("__t1k")
    chunk = step * max_chunk
    chunked = sdf.select(*series_cols, t0k, t1k).select(
        *series_cols,
        "__t1k",
        F.explode(
            F.sequence(F.col("__t0k"), F.col("__t1k"), F.lit(chunk))
        ).alias("__c0"),
    )
    # spread chunk rows across the cluster BEFORE the big inner explode:
    # without this the spine inherits ≤|series| partitions, so the hot
    # series' millions of buckets explode + sort for the gap-fill join in
    # ONE task (measured as the dominant serial cost of the tier write).
    # ``num_partitions`` lets the caller size this to the known spine row
    # count — a few-thousand-bucket coarse tier needs 1 partition, not
    # 2x|cores| near-empty ones (fixed scheduling cost on small tiers).
    cores = spark.sparkContext.defaultParallelism
    chunked = chunked.repartition(num_partitions or max(cores * 2, 8))
    exploded = chunked.select(
        *series_cols,
        F.explode(
            F.sequence(
                F.col("__c0"),
                F.least(F.col("__c0") + F.lit(chunk - step), F.col("__t1k")),
                F.lit(step),
            )
        ).alias("__es"),
    )
    if as_epoch:
        return exploded.select(
            *series_cols, F.col("__es").alias("bucket_epoch")
        )
    return exploded.select(
        *series_cols, F.timestamp_seconds(F.col("__es")).alias(time_col)
    )
