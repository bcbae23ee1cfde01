"""Normalizer / standardizer — two-phase z-score & min-max over numeric columns.

Re-expresses the reference's normalization stack
(app/plugins/plugin_normalizer.py:122-175, app/core/normalization_handler.py:155-174,
app/plugins/plugin_default.py:157-176) as one Spark aggregate for the fit and
pure column arithmetic (whole-stage codegen) for the transform.

Exact-semantics edges replicated (SURVEY §4 item 6):
  * sample std (pandas default ddof=1) → ``stddev_samp``
    (reference app/plugins/plugin_normalizer.py:150-152);
  * zero-variance / single-value features: std := 1.0
    (reference app/core/normalization_handler.py:160-165);
  * min-max denominator epsilon ``+1e-8`` in the "default-plugin" variant
    (reference app/plugins/plugin_default.py:174-176), no epsilon but
    equal-min-max → 0 guard in the plain variant;
  * fit is computed only on the training slice (d1+d2) and applied to all
    splits (reference app/core/preprocessor_core.py:433-494).

Scale notes: the fit is a single partial+final hash aggregate over the fact
table (one pass, no shuffle beyond the final 1-row reduce); params are a
handful of scalars collected to the driver and injected as literals — the
transform adds zero shuffles and stays inside one codegen stage with the
surrounding plan. A job whose earlier pass already summed the training
rows (the rollup build's split fit) takes the z-score params from those
moments (:meth:`Normalizer.fit_moments`) and runs no fit aggregate.
"""

from __future__ import annotations

import math
from fractions import Fraction

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.params import StageParams

NUMERIC_TYPES = {"int", "bigint", "smallint", "tinyint", "double", "float", "decimal"}


def numeric_columns(df: DataFrame, exclude: list[str] | None = None) -> list[str]:
    """Numeric-dtype projection (reference select_dtypes(include=[np.number]),
    app/plugins/plugin_normalizer.py:142) minus excluded passthrough features
    (app/core/normalization_handler.py:101-114)."""
    ex = set(exclude or [])
    return [
        c
        for c, t in df.dtypes
        if c not in ex and (t in NUMERIC_TYPES or t.startswith("decimal"))
    ]


class Normalizer:
    name = "normalizer"

    def __init__(
        self,
        method: str = "zscore",
        columns: list[str] | None = None,
        exclude: list[str] | None = None,
        feature_range: tuple[float, float] = (-1.0, 1.0),
        epsilon: float = 0.0,
    ):
        if method not in {"zscore", "minmax"}:
            raise ValueError(f"unknown normalization method: {method}")
        self.method = method
        self.columns = columns
        self.exclude = exclude or []
        self.feature_range = feature_range
        self.epsilon = epsilon

    def _cols(self, df: DataFrame) -> list[str]:
        return self.columns or numeric_columns(df, self.exclude)

    def fit(self, df: DataFrame) -> StageParams:
        cols = self._cols(df)
        if self.method == "zscore":
            aggs = []
            for c in cols:
                aggs += [
                    F.mean(c).alias(f"{c}__mean"),
                    # zero-variance → 1.0, exactly as the reference
                    F.coalesce(
                        F.when(F.stddev_samp(c) == 0.0, F.lit(1.0)).otherwise(
                            F.stddev_samp(c)
                        ),
                        F.lit(1.0),
                    ).alias(f"{c}__std"),
                ]
            row = df.agg(*aggs, F.count(F.lit(1)).alias("__n")).collect()[0]
            params = {
                c: {"mean": row[f"{c}__mean"], "std": row[f"{c}__std"]} for c in cols
            }
        else:
            aggs = []
            for c in cols:
                aggs += [F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max")]
            row = df.agg(*aggs, F.count(F.lit(1)).alias("__n")).collect()[0]
            params = {
                c: {"min": row[f"{c}__min"], "max": row[f"{c}__max"]} for c in cols
            }
        return self._stage_params(cols, params, row["__n"])

    def fit_moments(self, moments: dict[str, tuple], n_samples: int) -> StageParams:
        """z-score params from each column's (count, sum, sum of squares)
        of its non-null values, gathered by a pass that already ran (the
        build's split fit, ``TemporalSplitter.split_moments``) instead of
        an aggregate of its own. ``n_samples`` is the rows they describe,
        nulls included, as :meth:`fit` counts them.

        Equal to :meth:`fit` over those rows: the mean is the sum over the
        count, as Spark's average of the column; the sample std is
        computed exactly from integer moments and rounded once, where
        Spark's streaming update rounds at every row (they agree to about
        1e-15 relative). The same edges hold: no values → null mean, fewer
        than two values or zero variance → std 1.0."""
        if self.method != "zscore":
            raise ValueError(f"moments fit a zscore, not {self.method}")
        cols = self.columns or list(moments)
        per_column = {}
        for c in cols:
            n, s1, s2 = moments[c]
            std = 1.0
            if n > 1:
                var = (Fraction(s2) * n - Fraction(s1) ** 2) / (n * (n - 1))
                std = math.sqrt(max(var, 0)) or 1.0
            per_column[c] = {"mean": s1 / n if n else None, "std": std}
        return self._stage_params(cols, per_column, n_samples)

    def _stage_params(self, cols: list[str], per_column: dict, n_samples: int) -> StageParams:
        return StageParams(
            stage=self.name,
            method=self.method,
            params={
                "columns": cols,
                "per_column": per_column,
                "feature_range": list(self.feature_range),
                "epsilon": self.epsilon,
            },
            n_samples=n_samples,
        )

    def transform(self, df: DataFrame, params: StageParams) -> DataFrame:
        p = params.params
        lo, hi = p["feature_range"]
        eps = p.get("epsilon", 0.0)
        out = df
        for c in p["columns"]:
            s = p["per_column"][c]
            if params.method == "zscore":
                expr = (F.col(c) - F.lit(s["mean"])) / F.lit(s["std"])
            else:
                denom = F.lit(s["max"]) - F.lit(s["min"]) + F.lit(eps)
                if eps == 0.0:
                    denom = F.when(denom == 0.0, F.lit(1.0)).otherwise(denom)
                expr = (F.col(c) - F.lit(s["min"])) / denom * F.lit(hi - lo) + F.lit(lo)
            out = out.withColumn(c, expr.cast("double"))
        return out

    @staticmethod
    def pip_mae_diagnostics(params: StageParams, pips: float = 10.0) -> dict:
        """M5 pip-scale error diagnostics (reference
        app/plugins/plugin_normalizer.py:75-120): what a ``pips``·1e-4 price
        error maps to in normalized units, per feature. Driver-side scalar
        math on the fitted params."""
        out = {}
        for c, s in params.params["per_column"].items():
            if params.method == "zscore":
                out[c] = pips * 1e-4 / s["std"]
            else:
                # an all-null training column stores min=max=None: no pip
                # scale exists for it (mirror the rng==0 convention) rather
                # than TypeError on None - None
                if s["max"] is None or s["min"] is None:
                    out[c] = None
                    continue
                rng = s["max"] - s["min"]
                lo, hi = params.params["feature_range"]
                out[c] = pips * 1e-4 * (hi - lo) / rng if rng else None
        return out

    def inverse_transform(self, df: DataFrame, params: StageParams) -> DataFrame:
        """Denormalize (reference app/core/normalization_handler.py:595-618)."""
        p = params.params
        lo, hi = p["feature_range"]
        eps = p.get("epsilon", 0.0)
        out = df
        for c in p["columns"]:
            s = p["per_column"][c]
            if params.method == "zscore":
                expr = F.col(c) * F.lit(s["std"]) + F.lit(s["mean"])
            else:
                denom = F.lit(s["max"]) - F.lit(s["min"]) + F.lit(eps)
                expr = (F.col(c) - F.lit(lo)) / F.lit(hi - lo) * denom + F.lit(s["min"])
            out = out.withColumn(c, expr.cast("double"))
        return out
