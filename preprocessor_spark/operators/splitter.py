"""Six-way dataset splitter — exact-count positional split with the
reference's remainder rule, expressed as a ``split_id`` LABEL COLUMN on one
distributed DataFrame (never six driver-side objects; SURVEY §1.5).

Reference semantics (app/core/data_processor.py):
  * temporal sort before split (``:242-243``);
  * per-split counts: ``int(n·ratio)`` then the remainder distributed one
    sample at a time to the LARGEST ratios (stable d1..d6 order on ties)
    (``:313-350``, remainder rule ``:338-345``);
  * contiguous positional slices in order d1..d6 (``:262-272``);
  * default ratios d1=0.5, d2..d6=0.1 (``:108-109``);
  * shuffled (non-temporal) variant: seeded permutation (``:248-253``);
  * per-split temporal boundary metadata (``:352-389``).

Spark mapping (SURVEY §2.5 W6/W7/W8): two passes —
  1. ``count()`` on the driver → compute exact boundaries with the
     reference's remainder arithmetic (driver-side, O(1));
  2. global ``row_number() OVER (ORDER BY t)`` → bucket by boundary.
A naive ntile(6) does NOT reproduce the counts. The global row_number is a
single range-partitioned sort (Spark samples boundaries, so it is NOT a
one-task bottleneck); at 10^12 scale positional splits are replaced by the
time-boundary splits this module also emits (``boundaries`` →
``split_by_time_boundaries`` = pure partition-pruning predicates).
"""

from __future__ import annotations

from decimal import Decimal
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from preprocessor_spark.arrowops import group_by
from preprocessor_spark.params import StageParams

if TYPE_CHECKING:
    from preprocessor_spark.operators.positions import TimeProfile

SPLIT_KEYS = ["d1", "d2", "d3", "d4", "d5", "d6"]
DEFAULT_RATIOS = {"d1": 0.5, "d2": 0.1, "d3": 0.1, "d4": 0.1, "d5": 0.1, "d6": 0.1}


def split_counts(total: int, ratios: dict[str, float]) -> dict[str, int]:
    """Exact per-split counts — bit-identical to the reference's
    _calculate_split_indices (app/core/data_processor.py:313-350):
    floor allocation, remainder round-robin over ratio-descending keys
    (Python stable sort ⇒ d1..d6 insertion order breaks ties)."""
    missing = [k for k in SPLIT_KEYS if k not in ratios]
    if missing:
        raise ValueError(
            f"ratios must provide all six split keys; missing {missing}"
        )
    negative = {k: ratios[k] for k in SPLIT_KEYS if ratios[k] < 0}
    if negative:
        # the constructor's sum-to-1 tolerance alone admits these (e.g.
        # three_way(0.5, 0.6) → d3 = -0.1, sum exactly 1.0) and a negative
        # count would silently shortchange the splits before it
        raise ValueError(f"split ratios must be non-negative, got {negative}")
    counts = {k: int(total * ratios[k]) for k in SPLIT_KEYS}
    remainder = total - sum(counts.values())
    # sort over SPLIT_KEYS (not ratios.keys()): the stable sort then
    # breaks ratio ties in canonical d1..d6 order regardless of the
    # caller's dict insertion order — the rule the oracles hardcode
    sorted_keys = sorted(SPLIT_KEYS, key=lambda k: ratios[k], reverse=True)
    i = 0
    while remainder > 0:
        counts[sorted_keys[i % len(sorted_keys)]] += 1
        remainder -= 1
        i += 1
    while remainder < 0:
        # ratio sums in (1.0, 1.001] — inside the constructor's documented
        # tolerance — can over-allocate the floors; take the excess back
        # round-robin from the largest ratios (never below zero)
        k = sorted_keys[i % len(sorted_keys)]
        if counts[k] > 0:
            counts[k] -= 1
            remainder += 1
        i += 1
    if sum(counts.values()) != total:  # explicit: survives python -O
        raise RuntimeError(
            f"split allocation failed: {counts} does not sum to {total}"
        )
    return counts


def _exact(v):
    """A moment sum as an exact Python number: a ``decimal(38,0)`` sum
    becomes an int (a null, an empty sum, 0)."""
    if v is None:
        return 0
    return int(v) if isinstance(v, Decimal) else v


def _collected(value: pa.Scalar, dtype: T.DataType):
    """The Python value ``collect()`` gives for a value of a Spark column of
    ``dtype``, collected as Arrow: timestamps and dates through the type's
    own conversion of its internal int, so that its ``str`` is the one the
    rows of a ``collect()`` give."""
    if value.is_valid and dtype.needConversion():
        unit = pa.int64() if pa.types.is_timestamp(value.type) else pa.int32()
        return dtype.fromInternal(value.cast(unit).as_py())
    return value.as_py()


def split_boundaries(total: int, ratios: dict[str, float]) -> list[tuple[str, int, int]]:
    """Contiguous [start, end) row-position slices in d1..d6 order."""
    counts = split_counts(total, ratios)
    out, cur = [], 0
    for k in SPLIT_KEYS:
        out.append((k, cur, cur + counts[k]))
        cur += counts[k]
    return out


class TemporalSplitter:
    name = "splitter"

    def __init__(
        self,
        ratios: dict[str, float] | None = None,
        time_col: str = "ts",
        tiebreak_cols: list[str] | None = None,
        shuffle: bool = False,
        seed: int | None = 42,
    ):
        self.ratios = dict(ratios or DEFAULT_RATIOS)
        s = sum(self.ratios.values())
        if abs(s - 1.0) > 0.001:  # reference tolerance data_processor.py:44
            raise ValueError(f"split ratios must sum to 1.0, got {s}")
        self.time_col = time_col
        self.tiebreak_cols = tiebreak_cols or []
        self.shuffle = shuffle
        self.seed = seed
        # set by fit_time_boundaries: each split's (count, sum, sum of
        # squares) of its profile's value column, or None
        self.split_moments: dict[str, tuple] | None = None

    def transform(self, df: DataFrame) -> DataFrame:
        """Label every row with split_id ∈ d1..d6 (exact reference counts).

        Global positions come from
        :func:`preprocessor_spark.operators.positions.grouped_positions` —
        range-partitioned sort + per-partition offsets — NOT a
        single-partition ``row_number() OVER (ORDER BY …)`` window, so the
        labeling stage scales with the cluster instead of serializing on
        one task (SURVEY §7 risk 2)."""
        from preprocessor_spark.operators.positions import (
            grouped_positions_and_totals,
        )

        if self.shuffle:
            # W8: seeded permutation via hash ordering (not F.rand) so the
            # assignment is stable across partition counts (SURVEY §7 risk 5)
            hashed = df.withColumn(
                "__ord", F.xxhash64(F.lit(self.seed or 0), F.struct(*df.columns))
            )
            positioned, totals = grouped_positions_and_totals(
                hashed, ["__ord", *df.columns]
            )
            positioned = positioned.drop("__ord")
        else:
            positioned, totals = grouped_positions_and_totals(
                df, [self.time_col, *self.tiebreak_cols]
            )
        # exact total falls out of the positions machinery's bucket-count
        # aggregate — no second pass over the windowed plan
        total = totals.get((), 0)
        bounds = split_boundaries(total, self.ratios)
        pos = F.col("__pos")
        expr = F.lit(None).cast("string")
        for k, start, end in reversed(bounds):
            expr = F.when((pos >= start) & (pos < end), F.lit(k)).otherwise(expr)
        return positioned.withColumn("split_id", expr).drop("__pos")

    def fit_time_boundaries(
        self,
        df: DataFrame,
        n_buckets: int = 4096,
        profile: TimeProfile | None = None,
    ) -> StageParams:
        """Exact per-split time boundaries WITHOUT positioning every row.

        The positional path (transform → boundaries) shuffles the whole
        table through a row_number window just to read 12 timestamps back.
        This fit instead treats the problem as an exact quantile lookup:

          1. a :func:`~preprocessor_spark.operators.positions.time_profile`
             of the time key (``profile``, in either bucket scheme and per
             any series split — its counts are summed over series — or one
             built here with ``n_buckets`` value-range buckets): bucket
             counts → the global position offsets of every bucket + the
             exact total → the reference's remainder rule gives the split
             edge positions;
          2. the row AT each edge position lives in a known bucket at a
             known within-bucket rank — ONE edge pass sorts only the few
             edge buckets (≤ 2 per split) by time and, from range frames,
             reads for each edge timestamp the bucket's rows up to it, the
             rows tied at it and the next distinct timestamp (a tie run
             that ends its bucket continues into the next non-empty
             bucket, whose least time the profile holds).

        Labels then come from :meth:`split_by_time_boundaries` (pure
        predicates), whose inclusive ranges give every row tied at an
        edge to the EARLIER split. The counts and start times recorded are
        the ones those labels give, read from the same pass: a split
        wholly absorbed by a tie run is dropped, and ``boundary_ties``
        records that an edge timestamp continued across a boundary.

        When the profile carries a value column's moments, the pass also
        sums that column up to each edge, and :attr:`split_moments` holds
        each split's (count, sum, sum of squares) of its non-null values
        under those labels — what a job needs to fit a z-score on some
        splits (``Normalizer.fit_moments``) without another pass; else it
        is None."""
        from preprocessor_spark.operators.positions import (
            BKT,
            MOMENTS,
            ROWS,
            T0,
            time_profile,
            value_moments,
        )

        if profile is None:
            profile = time_profile(df, self.time_col, [], n_buckets)
        value_col = profile.value_col
        self.split_moments = None
        total = profile.rows
        if all(b[-2] is None for b in profile.bounds):
            # all-null encodings: only legitimate for an EMPTY table — a
            # non-castable time column (e.g. string timestamps) would
            # otherwise silently fit empty boundaries and label every row
            # split_id=NULL downstream
            if total:
                dtype = dict(df.dtypes)[self.time_col]
                raise ValueError(
                    f"fit_time_boundaries: time column '{self.time_col}' "
                    f"(dtype {dtype}) encodes to NULL for every row — cast "
                    "it to a timestamp/numeric type before fitting"
                )
            if value_col:
                self.split_moments = {}
            return StageParams(
                stage=self.name, method="temporal",
                params={"ratios": self.ratios, "boundaries": {}},
            )
        sums = [(ROWS, "sum"), (T0, "min")]
        if value_col:
            sums += [(m, "sum") for m in MOMENTS]
        # the profile's buckets summed over series, in bucket order
        per = group_by(profile.counts, [BKT], sums).sort_by(BKT)
        bkts = per[BKT].to_numpy()
        sizes = per[f"{ROWS}_sum"].to_numpy()
        # null keys are detectable here for free but they cannot be
        # expressed in the time-range predicates this fit exists to
        # produce: fail fast
        if bkts[0] == -1:
            raise ValueError(
                f"time column '{self.time_col}' contains "
                f"{sizes[0]} null values: time-boundary splits "
                "are range predicates and cannot route null timestamps — "
                "drop/fill them first, or use the positional transform() "
                "path (which places nulls in the first split)"
            )
        off = np.concatenate([[0], np.cumsum(sizes)[:-1]])
        bounds = split_boundaries(total, self.ratios)
        edges = sorted({p for _, s, e in bounds if e > s for p in (s, e - 1)})
        # each edge position's bucket (the rightmost with offset <= p)
        at = dict(zip(edges, np.searchsorted(off, edges, side="right") - 1))
        edge_pred = None
        for p, i in at.items():
            r = int(p - off[i])
            c = (
                (F.col("__bkt") == int(bkts[i]))
                & (F.col("__le") - F.col("__tie") <= r)
                & (F.col("__le") > r)
            )
            edge_pred = c if edge_pred is None else (edge_pred | c)
        # every position of a tie run has the run's timestamp, so the order
        # needs no tiebreak, and one row per run (its last) carries it
        w = Window.partitionBy("__bkt").orderBy(self.time_col)
        upto = w.rangeBetween(Window.unboundedPreceding, Window.currentRow)
        cum = (
            [m.over(upto).alias(n) for m, n in zip(value_moments(df, value_col), MOMENTS)]
            if value_col
            else []
        )
        hit = (
            df.select(
                self.time_col,
                *([value_col] if value_col else []),
                profile.bucket.alias("__bkt"),
            )
            .filter(F.col("__bkt").isin([int(bkts[i]) for i in set(at.values())]))
            .select(
                "__bkt",
                self.time_col,
                F.count(F.lit(1)).over(upto).alias("__le"),
                F.count(F.lit(1))
                .over(w.rangeBetween(Window.currentRow, Window.currentRow))
                .alias("__tie"),
                F.row_number().over(w).alias("__rn"),
                F.lead(self.time_col).over(w).alias("__next"),
                *cum,
            )
            .filter((F.col("__rn") == F.col("__le")) & edge_pred)
            .collect()
        )
        moment_cols = [f"{m}_sum" for m in MOMENTS] if value_col else []
        # per edge position: its timestamp, the rows up to and including
        # it (all ties), the next distinct timestamp, and the moments of
        # the rows up to it
        ts_at, upto_at, next_at, m_at = {}, {}, {}, {}
        for p, i in at.items():
            r = p - off[i]
            (h,) = [
                h for h in hit
                if h["__bkt"] == bkts[i] and h["__le"] - h["__tie"] <= r < h["__le"]
            ]
            ts_at[p] = h[self.time_col]
            upto_at[p] = int(off[i]) + h["__le"]
            nxt = h["__next"]
            if nxt is None and i + 1 < len(bkts):
                nxt = _collected(per[f"{T0}_min"][i + 1], df.schema[self.time_col].dataType)
            next_at[p] = nxt
            m_at[p] = tuple(
                _exact(pc.sum(per[c].slice(0, i)).as_py()) + _exact(h[m])
                for c, m in zip(moment_cols, MOMENTS)
            )
        rows, moments, tied = {}, {}, False
        last = None  # the end position of the previous non-empty split
        for k, s, e in bounds:
            if e <= s:
                continue
            if last is None:
                start, n0, m0 = ts_at[s], 0, (0,) * len(moment_cols)
            else:
                tied = tied or ts_at[last] == ts_at[s]
                n0, m0 = upto_at[last], m_at[last]
                # ties at the previous end were labeled with it: this
                # split starts at the next distinct time
                start = ts_at[s] if n0 == s else next_at[last]
            last = e - 1
            if upto_at[last] == n0:  # wholly absorbed by a tie run
                continue
            rows[k] = {
                "split_id": k,
                "start_time": str(start),
                "end_time": str(ts_at[last]),
                "sample_count": upto_at[last] - n0,
            }
            moments[k] = tuple(a - b for a, b in zip(m_at[last], m0))
        if value_col:
            self.split_moments = moments
        return StageParams(
            stage=self.name,
            method="temporal",
            params={
                "ratios": self.ratios,
                "boundaries": rows,
                "boundary_ties": tied,
            },
        )

    def stratified(self, df: DataFrame, strat_col: str) -> DataFrame:
        """W9 stratified split — the reference VALIDATES a ``stratify_column``
        config (feasibility: ≤10% unique values,
        app/core/data_processor.py:29,188-198) but ships no execution path;
        this is the execution the validation implies: per-stratum exact
        proportional allocation with the same remainder rule as W6.

        Mechanics: rows are ordered within each stratum by a seeded stable
        hash (deterministic at any parallelism — the W8 principle), given
        dense per-stratum positions, and bucketed by per-stratum boundaries
        computed on the driver from the exact stratum totals (which fall
        out of the positions machinery's count aggregate). Boundaries ship
        back as a broadcast range table — no global sort, no skew on a hot
        stratum (positions machinery buckets within each stratum)."""
        from preprocessor_spark.operators.positions import (
            grouped_positions_and_totals,
        )

        # one pass for the feasibility guard (was distinct().count() PLUS
        # count() — two full scans); runs before the positions machinery so
        # a non-categorical column fails here, not as a driver-side OOM on
        # the |strata|x|buckets| counts collect
        n_unique, total = df.agg(
            F.count_distinct(F.col(strat_col)), F.count(F.lit(1))
        ).collect()[0]
        if total and n_unique > max(total * 0.1, 1):
            raise ValueError(
                f"stratify column {strat_col!r} has {n_unique} unique values "
                f"(> 10% of {total} rows) — not a categorical stratum "
                "(reference feasibility rule, app/core/data_processor.py:188-198)"
            )
        hashed = df.withColumn(
            "__ord", F.xxhash64(F.lit(self.seed or 0), F.struct(*df.columns))
        )
        # full-row tiebreaks after the hash, same as transform()'s shuffle
        # path: a 64-bit hash collision between two distinct rows in one
        # stratum would otherwise leave their relative order (and so their
        # split) partition-order-dependent
        positioned, totals = grouped_positions_and_totals(
            hashed, ["__ord", *df.columns], group_cols=[strat_col]
        )
        rows = []
        for key, n in totals.items():
            g = key[0] if key else None
            for k, s, e in split_boundaries(n, self.ratios):
                if e > s:
                    rows.append((g, k, s, e))
        spark = df.sparkSession
        strat_field = df.schema[strat_col]
        bschema = T.StructType(
            [
                strat_field,
                T.StructField("split_id", T.StringType()),
                T.StructField("__s", T.LongType()),
                T.StructField("__e", T.LongType()),
            ]
        )
        bdf = spark.createDataFrame(rows, bschema)
        joined = positioned.join(
            F.broadcast(bdf),
            on=[
                # null-safe: a null stratum is a legitimate group — plain
                # equality would silently drop those rows from the output
                positioned[strat_col].eqNullSafe(bdf[strat_col]),
                positioned["__pos"] >= bdf["__s"],
                positioned["__pos"] < bdf["__e"],
            ],
        )
        return joined.drop(bdf[strat_col]).drop("__pos", "__ord", "__s", "__e")

    def boundaries(self, labeled: DataFrame) -> DataFrame:
        """W7 temporal-boundaries metadata: per split start/end time + count
        (reference app/core/data_processor.py:352-389). These time bounds are
        the scale-path split predicates (partition pruning)."""
        return labeled.groupBy("split_id").agg(
            F.min(self.time_col).alias("start_time"),
            F.max(self.time_col).alias("end_time"),
            F.count(F.lit(1)).alias("sample_count"),
        )

    def params(self, labeled: DataFrame) -> StageParams:
        rows = {r["split_id"]: r.asDict() for r in self.boundaries(labeled).collect()}
        for v in rows.values():
            for c in ("start_time", "end_time"):
                v[c] = str(v[c])
        return StageParams(
            stage=self.name,
            method="temporal" if not self.shuffle else "shuffle",
            params={"ratios": self.ratios, "boundaries": rows},
        )

    @classmethod
    def three_way(
        cls,
        d1_proportion: float = 0.2,
        d2_proportion: float = 0.6,
        time_col: str = "ts",
        tiebreak_cols: list[str] | None = None,
    ) -> "TemporalSplitter":
        """W10 default-plugin three-way split (reference
        app/plugins/plugin_default.py:120-127): positional slices at
        d1/d2 proportions; remaining mass goes to d3, the other three
        splits get ratio 0 (and therefore 0 rows — same machinery)."""
        d3 = 1.0 - d1_proportion - d2_proportion
        return cls(
            ratios={
                "d1": d1_proportion,
                "d2": d2_proportion,
                "d3": d3,
                "d4": 0.0,
                "d5": 0.0,
                "d6": 0.0,
            },
            time_col=time_col,
            tiebreak_cols=tiebreak_cols,
        )

    @staticmethod
    def split_by_time_boundaries(
        df: DataFrame, time_col: str, boundaries: dict[str, dict]
    ) -> DataFrame:
        """Scale path: assign split_id from persisted time boundaries — a pure
        predicate (partition-prunable), no global sort, no row_number."""
        # boundaries are persisted as strings; cast them to the time
        # column's ACTUAL type — a hard cast("timestamp") turns an epoch
        # int/double key like '1700000000' into null, which nulls every
        # predicate and silently leaves all rows unlabeled
        dt = df.schema[time_col].dataType.simpleString()
        expr = F.lit(None).cast("string")
        for k in reversed(SPLIT_KEYS):
            if k not in boundaries:
                continue
            b = boundaries[k]
            expr = F.when(
                (F.col(time_col) >= F.lit(b["start_time"]).cast(dt))
                & (F.col(time_col) <= F.lit(b["end_time"]).cast(dt)),
                F.lit(k),
            ).otherwise(expr)
        return df.withColumn("split_id", expr)
