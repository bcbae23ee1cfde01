"""Unbiaser — moving-average and EMA detrending of time-ordered series.

Reference semantics (app/plugins/plugin_unbiaser.py):
  * MA  (``:89-110``): ``out[i] = x[i] − mean(x[max(0, i−w+1) .. i])`` — a
    trailing window of size ``w`` INCLUDING the current row, with partial
    windows at the series head. The reference runs an O(n·w) Python loop;
    here it is one native window expression
    ``avg(c) OVER (PARTITION BY series ORDER BY t ROWS BETWEEN w-1 PRECEDING
    AND CURRENT ROW)`` — exact match including partial leading windows,
    fully codegen'd, no Python. ``Unbiaser.ma_local`` is the same window
    over an Arrow table on the driver, bit for bit: the incremental refresh
    (plans/refresh_job.py) runs it over a delta and its carry rows.
  * EMA (``:112-129``): ``out = x − x.ewm(alpha=α, adjust=True).mean()``.
    The adjust=True recurrence has no native Spark expression, and partial
    finite-window approximations are not bit-exact — so the EMA runs pandas'
    own ``ewm`` inside an Arrow-vectorized ``applyInPandas`` per series
    group (no per-row Python; bit-for-bit equal to the reference).

Scale notes: MA is a single shuffle on the series key (sort within
partition). EMA is inherently sequential per series — one task per series
key, which parallelizes across the (many) sources of the corpus; for a
single huge series, chunk-and-carry state would be needed (documented
limitation, SURVEY §7 risk 3).
"""

from __future__ import annotations

import math
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from preprocessor_spark.operators.positions import TimeProfile


def series_starts(table: pa.Table, series_cols: list[str]) -> np.ndarray:
    """Whether each row of ``table``, sorted by ``series_cols``, is the
    first of its series; a null key is one series, as in a Spark window."""
    n = table.num_rows
    starts = np.zeros(n, bool)
    starts[:1] = True
    for c in series_cols:
        prev, cur = table[c][:-1], table[c][1:]
        same = pc.fill_null(pc.equal(prev, cur), False)
        same = pc.or_(same, pc.and_(pc.is_null(prev), pc.is_null(cur)))
        starts[1:] |= ~same.to_numpy(zero_copy_only=False)
    return starts


def ewm_carry_sums(x, mask, beta, cin_num, cin_den):
    """Unnormalized EWM numerator/denominator with carry-in: the kernel of
    the chunked batch EMA (:meth:`Unbiaser._ema_chunked`), carried from one
    chunk to the next.

    Computed in sub-blocks: the scaled-cumsum trick factors β^t out of the
    prefix sum, so β^-t must stay finite WITHIN a block. The block size is
    derived from β (β^-B ≤ e^600, leaving ~e^48 of float64 headroom for the
    values being summed): strong decay (α→1, β→0) gives small blocks, weak
    decay (α→0, β→1) allows large ones, capped at 4096. A fixed block of 256
    would overflow β^-t for β ≲ 0.065 (α ≳ 0.94). Each block restarts the
    scaling with the previous block's end state as its carry. Vectorized
    within blocks, ~n/B python iterations."""
    n = len(x)
    num = np.empty(n)
    den = np.empty(n)
    cn, cd = float(cin_num), float(cin_den)
    if 0.0 < beta < 1.0:
        B = max(1, min(4096, int(600.0 / -math.log(beta))))
    elif beta <= 0.0:
        B = 1  # β^-t undefined past t=0; degenerate "no memory" case
    else:
        B = 4096  # β = 1: no decay, scaling is exact at any block size
    for s in range(0, n, B):
        e = min(s + B, n)
        t = np.arange(e - s, dtype=np.float64)
        m = mask[s:e]
        xz = np.where(m, x[s:e], 0.0)
        inv = beta ** -t
        scale = beta**t
        num[s:e] = np.cumsum(xz * inv) * scale + (beta ** (t + 1)) * cn
        den[s:e] = (
            np.cumsum(m.astype(np.float64) * inv) * scale
            + (beta ** (t + 1)) * cd
        )
        cn, cd = num[e - 1], den[e - 1]
    return num, den


class Unbiaser:
    name = "unbiaser"

    def __init__(
        self,
        method: str = "ma",
        window_size: int = 5,
        ema_alpha: float = 0.1,
        time_col: str = "ts",
        series_cols: list[str] | None = None,
        value_cols: list[str] | None = None,
        tiebreak_cols: list[str] | None = None,
        chunk_rows: int | None = None,
    ):
        if method not in {"ma", "ema"}:
            raise ValueError(f"unknown unbias method: {method}")
        self.method = method
        self.window_size = window_size
        self.ema_alpha = ema_alpha
        self.time_col = time_col
        self.series_cols = series_cols or []
        self.value_cols = value_cols
        self.tiebreak_cols = tiebreak_cols or []
        # MA scale path: split each series into chunk_rows-row chunks with
        # w-1 overlap so window parallelism is series x chunks (exact)
        self.chunk_rows = chunk_rows

    def _values(self, df: DataFrame) -> list[str]:
        if self.value_cols:
            return self.value_cols
        skip = set(self.series_cols) | {self.time_col} | set(self.tiebreak_cols)
        return [
            c
            for c, t in df.dtypes
            if c not in skip and t in ("double", "float", "int", "bigint")
        ]

    @staticmethod
    def _promote_values(df: DataFrame, vals: list[str]) -> DataFrame:
        """Cast integer value columns to double before a pandas residual
        path whose output schema mirrors the input: fractional residuals in
        an int column are an Arrow unsafe cast (error or truncation)."""
        dtypes = dict(df.dtypes)
        for c in vals:
            if dtypes[c] not in ("double", "float"):
                df = df.withColumn(c, F.col(c).cast("double"))
        return df

    def transform(
        self, df: DataFrame, profile: TimeProfile | None = None
    ) -> DataFrame:
        """``profile``: a :func:`~preprocessor_spark.operators.positions.time_profile`
        of ``df`` along ``time_col`` per ``series_cols``, reused by the
        chunked MA path for its chunk cuts instead of profiling ``df``
        again; the other paths need none and ignore it."""
        if self.method == "ma":
            if self.chunk_rows:
                return self._ma_chunked(df, profile)
            return self._ma(df)
        return self._ema(df)

    def _ma(self, df: DataFrame) -> DataFrame:
        w = (
            Window.partitionBy(*self.series_cols)
            .orderBy(self.time_col, *self.tiebreak_cols)
            .rowsBetween(-(self.window_size - 1), 0)
        )
        out = df
        for c in self._values(df):
            out = out.withColumn(c, F.col(c) - F.avg(c).over(w))
        return out

    def ma_local(self, table: pa.Table) -> pa.Table:
        """:meth:`_ma` on the driver, over an Arrow table: its rows sorted
        in the window's order, (series, time, tiebreaks) ascending with
        nulls first as Spark sorts them, each of ``value_cols`` (which must
        be named) replaced by its residual as float64.

        Bit-identical to Spark's window: Spark's sliding ``avg`` frame sums
        its rows oldest first from 0.0, a null adding 0.0, and divides by
        the non-null count (null when there is none), and so does this; a
        row's window holds at most the last ``window_size`` rows of its
        series."""
        keys = [*self.series_cols, self.time_col, *self.tiebreak_cols]
        table = table.take(
            pc.sort_indices(
                table, [(k, "ascending") for k in keys], null_placement="at_start"
            )
        )
        n = table.num_rows
        at = np.arange(n)
        starts = series_starts(table, self.series_cols)
        first = np.maximum.accumulate(np.where(starts, at, 0))
        for c in self.value_cols:
            v = table[c].cast(pa.float64())
            valid = pc.is_valid(v).to_numpy(zero_copy_only=False)
            x = pc.fill_null(v, 0.0).to_numpy(zero_copy_only=False)
            total, count = np.zeros(n), np.zeros(n, np.int64)
            for back in range(self.window_size - 1, -1, -1):
                j = at - back
                take = (j >= first) & valid[np.maximum(j, 0)]
                total = total + np.where(take, x[np.maximum(j, 0)], 0.0)
                count += take
            resid = x - total / np.maximum(count, 1)
            table = table.set_column(
                table.schema.get_field_index(c),
                pa.field(c, pa.float64()),
                pa.array(resid, mask=~valid),
            )
        return table

    def _ma_chunked(
        self, df: DataFrame, profile: TimeProfile | None = None
    ) -> DataFrame:
        """Scale path for W1: identical output to :meth:`_ma`, but the window
        runs per (series, chunk) so parallelism = series × chunks instead of
        being capped at |series| (a per-source window serializes each source
        into one task — the bottleneck at corpus scale).

        ONE full-width shuffle: chunk ids come from
        :func:`preprocessor_spark.operators.positions.chunked_assignment`
        (driver-side bucket packing + broadcast join, carry = w−1 rows so
        every chunk head sees its true trailing window); carried duplicates
        are dropped after the window. Cross-bucket order matches
        (time, tiebreaks) exactly — the semantics of :meth:`_ma` including
        at time gaps."""
        from preprocessor_spark.operators.positions import chunked_assignment

        w_size = self.window_size
        vals = self._values(df)
        scols = list(self.series_cols)
        unioned = chunked_assignment(
            df,
            self.time_col,
            series_cols=scols,
            chunk_rows=self.chunk_rows,
            carry_rows=w_size - 1,
            profile=profile,
        )
        w = (
            Window.partitionBy(*scols, "__chunk")
            .orderBy(self.time_col, *self.tiebreak_cols)
            .rowsBetween(-(w_size - 1), 0)
        )
        out = unioned
        for c in vals:
            out = out.withColumn(c, F.col(c) - F.avg(c).over(w))
        return out.filter(~F.col("__aug")).drop("__chunk", "__aug")

    def _ema(self, df: DataFrame) -> DataFrame:
        if self.chunk_rows:
            return self._ema_chunked(df)
        vals = self._values(df)
        alpha = self.ema_alpha
        tcol, tie = self.time_col, self.tiebreak_cols
        # residuals are fractional: integer value columns must come back as
        # doubles (reusing the input schema raises an Arrow unsafe-cast
        # error — or silently truncates with safe checks off — and would
        # disagree with the MA path, which yields doubles via withColumn)
        df = self._promote_values(df, vals)
        schema = df.schema

        def ewm_unbias(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values([tcol, *tie], kind="mergesort")
            for c in vals:
                # pandas ewm(adjust=True) — identical recurrence to the
                # reference (app/plugins/plugin_unbiaser.py:124-125)
                pdf[c] = pdf[c] - pdf[c].ewm(alpha=alpha, adjust=True).mean()
            return pdf

        if self.series_cols:
            return df.groupBy(*self.series_cols).applyInPandas(ewm_unbias, schema)
        # Single global series: one group. Valid only for driver-scale data;
        # callers at scale must provide series_cols.
        return (
            df.withColumn("__g", F.lit(0))
            .groupBy("__g")
            .applyInPandas(
                lambda pdf: ewm_unbias(pdf.drop(columns="__g")), schema
            )
        )

    def _ema_chunked(self, df: DataFrame) -> DataFrame:
        """Scale path for W2 (SURVEY §7 risk 3: EMA is sequential per
        series). The adjust=True EMA is a ratio of two exponential sums,

            y_t = num_t / den_t,   num_t = Σ_{i≤t} (1−α)^{t−i} x_i,
                                   den_t = Σ_{i≤t} (1−α)^{t−i},

        both of which satisfy s_t = local_t + (1−α)^{t_local+1} · carry, so
        a chunk only needs the (num, den) carry from its predecessor.
        Chunks run as one applyInPandas wave; the carries are combined on
        the driver (|series| × |chunks| scalars — tiny) with the same
        left-to-right recurrence, then a second wave applies the carry
        correction. Numerically ≈ the single-pass pandas ewm to ~1e-12
        relative (summation order differs at chunk seams), NOT bit-exact —
        use the default per-series path when bit-exactness vs the reference
        is required and series fit one task."""
        from pyspark.sql import types as T

        from preprocessor_spark.operators.positions import grouped_positions

        vals = self._values(df)
        df = self._promote_values(df, vals)  # see _ema: int residuals
        alpha = self.ema_alpha
        beta = 1.0 - alpha
        pos = grouped_positions(
            df,
            [self.time_col, *self.tiebreak_cols],
            group_cols=self.series_cols,
            pos_col="__pos",
        )
        chunked = pos.withColumn(
            "__chunk", (F.col("__pos") / self.chunk_rows).cast("long")
        )
        scols = list(self.series_cols)

        # wave 1: per-chunk local ewm sums + per-chunk totals for the carry
        state_schema = T.StructType(
            [df.schema[c] for c in scols]
            + [T.StructField("__chunk", T.LongType())]
            + [
                T.StructField(f"__{nm}_{c}", T.DoubleType())
                for c in vals
                for nm in ("num", "den")
            ]
            + [T.StructField("__n", T.LongType())]
        )

        def chunk_totals(keys: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__pos")
            n = len(pdf)
            row = {c: [k] for c, k in zip([*scols, "__chunk"], keys)}
            w = beta ** np.arange(n - 1, -1, -1)
            for c in vals:
                x = pdf[c].to_numpy(np.float64)
                mask = ~np.isnan(x)
                row[f"__num_{c}"] = [float(np.sum(w[mask] * x[mask]))]
                row[f"__den_{c}"] = [float(np.sum(w[mask]))]
            row["__n"] = [n]
            return pd.DataFrame(row)

        # `chunked` is deliberately NOT persisted between the two waves:
        # wave 2 reuses wave 1's shuffle files (the exchange in the shared
        # plan prefix is the same RDD, so its map stage is skipped), and a
        # measured A/B at 2M rows showed MEMORY_AND_DISK persistence ~35%
        # SLOWER (13.5 s vs 9.8 s steady-state) — serialization cost with
        # no recompute to save.
        totals = (
            chunked.groupBy(*scols, "__chunk")
            .applyInPandas(chunk_totals, state_schema)
            .collect()
        )
        # driver: fold carries left-to-right per series (tiny)
        by_series: dict[tuple, list] = {}
        for r in totals:
            by_series.setdefault(tuple(r[c] for c in scols), []).append(r)
        carries: dict[tuple, dict[str, float]] = {}
        for key, rows in by_series.items():
            rows.sort(key=lambda r: r["__chunk"])
            num = {c: 0.0 for c in vals}
            den = {c: 0.0 for c in vals}
            for r in rows:
                carries[(key, r["__chunk"])] = {
                    f"{nm}_{c}": (num if nm == "num" else den)[c]
                    for c in vals
                    for nm in ("num", "den")
                }
                decay = beta ** r["__n"]
                for c in vals:
                    num[c] = r[f"__num_{c}"] + decay * num[c]
                    den[c] = r[f"__den_{c}"] + decay * den[c]

        spark = df.sparkSession
        carry_rows = [
            (*key, chunk, *(cd[f"{nm}_{c}"] for c in vals for nm in ("num", "den")))
            for (key, chunk), cd in carries.items()
        ]
        carry_schema = T.StructType(
            [df.schema[c] for c in scols]
            + [T.StructField("__chunk", T.LongType())]
            + [
                T.StructField(f"__cin_{nm}_{c}", T.DoubleType())
                for c in vals
                for nm in ("num", "den")
            ]
        )
        carry_df = spark.createDataFrame(carry_rows, carry_schema)

        # wave 2: apply local ewm + carry correction per chunk
        out_schema = T.StructType(
            [f for f in chunked.schema.fields if f.name not in ("__pos", "__chunk")]
        )
        carry_cols = [f.name for f in carry_schema.fields]

        def apply_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values("__pos")
            for c in vals:
                x = pdf[c].to_numpy(np.float64)
                mask = ~np.isnan(x)
                num, den = ewm_carry_sums(
                    x,
                    mask,
                    beta,
                    pdf[f"__cin_num_{c}"].iloc[0],
                    pdf[f"__cin_den_{c}"].iloc[0],
                )
                with np.errstate(invalid="ignore", divide="ignore"):
                    ema = num / den
                pdf[c] = x - ema
            return pdf[[f.name for f in out_schema.fields]]

        # eqNullSafe on the series keys: a null stratum is a legitimate
        # group (grouped_positions and the unchunked path both keep it);
        # a name-based equi-join would evaluate NULL==NULL as NULL and
        # silently drop every null-keyed row from the scale path only
        cd = carry_df
        for c in [*scols, "__chunk"]:
            cd = cd.withColumnRenamed(c, f"__carry_{c}")
        cond = [chunked[c].eqNullSafe(cd[f"__carry_{c}"]) for c in scols]
        cond.append(chunked["__chunk"] == cd["__carry___chunk"])
        joined = chunked.join(F.broadcast(cd), cond).drop(
            *[f"__carry_{c}" for c in [*scols, "__chunk"]]
        )
        grouped = joined.groupBy(*scols, "__chunk")
        return grouped.applyInPandas(
            lambda keys, pdf: apply_chunk(pdf), out_schema
        )
