"""Dataset metadata, quality metrics and validation — the DataMetadata /
quality-report surface of the reference re-expressed as aggregates.

Reference parity (SURVEY §2.4):
  * A5 null counts / completeness % (app/core/data_handler.py:407-411);
  * A6 duplicate-row count + % (app/core/data_handler.py:413-415);
  * A7 describe()-style stats (app/core/data_handler.py:422-425);
  * A8 IQR outlier counts, 1.5·IQR beyond Q1/Q3 (app/core/data_handler.py:428-435);
  * A9 text-column stats: nunique, mode, avg length (app/core/data_handler.py:438-447);
  * A10 per-split size stats (app/core/data_processor.py:419-431);
  * A11 normalized-output validation: per split mean≈0±0.1, std≈1±0.1
    (app/core/normalization_handler.py:674-726, tolerances :701-705);
  * A12 integrity checksum (app/core/data_handler.py:451-474) — here an
    ORDER-INSENSITIVE distributed fingerprint: bit_xor(xxhash64(struct(*)))
    so it is stable across partitionings (the driver-side MD5-of-CSV of the
    reference is order-dependent and single-node by construction).

Everything is one or two aggregate passes; all quality metrics for a table
come back as a single row (fan-out agg, partial+final).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preprocessor_spark.operators.normalizer import numeric_columns


DEFAULT_VALIDATION_RULES = {
    # reference default rule set, app/core/data_handler.py:83-92
    "min_rows": 10,
    "min_columns": 1,
    "max_missing_percentage": 50.0,
    "required_numeric_features": 0,
    # Spark typeName whitelist; None = any type allowed (the reference's
    # pandas default effectively allows everything via 'object')
    "allowed_data_types": None,
    "check_duplicates": True,
    # reference hardcodes 25% (data_handler.py:526-529); here it's a rule
    "max_duplicate_percentage": 25.0,
}


def validate_dataset(
    df: DataFrame, rules: dict | None = None
) -> list[str]:
    """Apply the reference's load-time validation-rule set
    (app/core/data_handler.py:492-539) and return the list of violations
    (empty = valid).

    Cost: schema checks are free; the data checks are ONE aggregate pass
    (count + per-column null counts + distinct row-hash count), partial+
    final — no payload shuffle (duplicates are counted on xxhash64 of the
    row, 8 bytes each through the count-distinct)."""
    merged = dict(DEFAULT_VALIDATION_RULES)
    merged.update(rules or {})
    errors: list[str] = []

    if len(df.columns) < merged["min_columns"]:
        errors.append(
            f"Insufficient columns: {len(df.columns)} < {merged['min_columns']}"
        )
    allowed = merged["allowed_data_types"]
    if allowed is not None:
        for f_ in df.schema.fields:
            if f_.dataType.typeName() not in allowed:
                errors.append(
                    f"Invalid data type for column {f_.name}: "
                    f"{f_.dataType.typeName()}"
                )
    n_numeric = len(numeric_columns(df))
    if n_numeric < merged["required_numeric_features"]:
        errors.append(
            f"Insufficient numeric features: {n_numeric} < "
            f"{merged['required_numeric_features']}"
        )

    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.isnull(c).cast("bigint")).alias(f"__nulls_{i}")
        for i, c in enumerate(df.columns)
    ]
    if merged["check_duplicates"]:
        aggs.append(
            F.count_distinct(F.xxhash64(*df.columns)).alias("__distinct")
        )
    row = df.agg(*aggs).collect()[0]
    n = row["__n"]
    if n < merged["min_rows"]:
        errors.append(f"Insufficient rows: {n} < {merged['min_rows']}")
    # F.sum over ZERO rows is SQL NULL → Python None: guard so an empty
    # dataset reports its min_rows violation instead of a TypeError
    total_nulls = sum(
        row[f"__nulls_{i}"] or 0 for i in range(len(df.columns))
    )
    missing_pct = (
        100.0 * total_nulls / (n * len(df.columns)) if n else 0.0
    )
    if missing_pct > merged["max_missing_percentage"]:
        errors.append(
            f"Too much missing data: {missing_pct:.2f}% > "
            f"{merged['max_missing_percentage']}%"
        )
    if merged["check_duplicates"] and n:
        dup_pct = 100.0 * (n - row["__distinct"]) / n
        if dup_pct > merged["max_duplicate_percentage"]:
            errors.append(
                f"Excessive duplicate rows: {dup_pct:.2f}% > "
                f"{merged['max_duplicate_percentage']}%"
            )
    return errors


def null_report(df: DataFrame) -> DataFrame:
    """Per-column null counts + overall completeness (A5)."""
    n = F.count(F.lit(1))
    aggs = [n.alias("n_rows")] + [
        F.sum(F.isnull(c).cast("bigint")).alias(f"nulls_{c}") for c in df.columns
    ]
    out = df.agg(*aggs)
    total_cells = F.col("n_rows") * len(df.columns)
    total_nulls = sum(F.col(f"nulls_{c}") for c in df.columns)
    return out.withColumn(
        "completeness_pct",
        F.round((1 - total_nulls / F.greatest(total_cells, F.lit(1))) * 100, 6),
    )


def duplicate_row_stats(df: DataFrame) -> DataFrame:
    """Whole-row duplicate count + percentage (A6)."""
    per = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("copies"))
    return per.agg(
        F.sum("copies").cast("bigint").alias("n_rows"),
        F.sum(F.col("copies") - 1).cast("bigint").alias("duplicate_rows"),
        F.round(
            F.sum(F.col("copies") - 1) * 100.0 / F.sum("copies"), 6
        ).alias("duplicate_pct"),
    )


def describe_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A7: count/mean/std/min/quartiles/max per numeric column, long format
    (column, stat, value). Quartiles via exact `percentile` at fit scale;
    swap to percentile_approx for the streaming/huge-table path."""
    cols = columns or numeric_columns(df)
    if not cols:
        # no numeric columns: an empty contract-schema result, not an
        # invalid empty agg + stack(0)
        return df.sparkSession.createDataFrame(
            [], "column string, stat string, value double"
        )
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).cast("double").alias(f"{c}||count"),
            F.mean(c).alias(f"{c}||mean"),
            F.stddev_samp(c).alias(f"{c}||std"),
            F.min(c).cast("double").alias(f"{c}||min"),
            F.expr(f"percentile({c}, 0.25)").alias(f"{c}||q1"),
            F.expr(f"percentile({c}, 0.5)").alias(f"{c}||median"),
            F.expr(f"percentile({c}, 0.75)").alias(f"{c}||q3"),
            F.max(c).cast("double").alias(f"{c}||max"),
        ]
    row = df.agg(*aggs)
    stack_args = []
    stats = ["count", "mean", "std", "min", "q1", "median", "q3", "max"]
    for c in cols:
        for s in stats:
            stack_args.append(f"'{c}', '{s}', `{c}||{s}`")
    n = len(cols) * len(stats)
    return row.select(
        F.expr(f"stack({n}, {', '.join(stack_args)}) as (column, stat, value)")
    )


def iqr_outlier_counts(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A8: rows outside [Q1 − 1.5·IQR, Q3 + 1.5·IQR] per column."""
    cols = columns or numeric_columns(df)
    if not cols:
        # no numeric columns: df.agg() with zero expressions raises; one
        # row with no outlier columns
        return df.sparkSession.range(1).select()
    q = df.agg(
        *[F.expr(f"percentile({c}, 0.25)").alias(f"{c}__q1") for c in cols],
        *[F.expr(f"percentile({c}, 0.75)").alias(f"{c}__q3") for c in cols],
    ).collect()[0]
    aggs = []
    for c in cols:
        q1, q3 = q[f"{c}__q1"], q[f"{c}__q3"]
        if q1 is None:
            # empty table / all-null column: no quantiles, so no outliers —
            # the column keeps its outliers_<col> slot in the result
            aggs.append(F.lit(0).cast("bigint").alias(f"outliers_{c}"))
            continue
        iqr = q3 - q1
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        aggs.append(
            F.sum(
                ((F.col(c) < F.lit(lo)) | (F.col(c) > F.lit(hi))).cast("bigint")
            ).alias(f"outliers_{c}")
        )
    return df.agg(*aggs)


def text_column_stats(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """A9: per text column — distinct count, mode, avg length (long format).
    ``mode`` is the DETERMINISTIC variant (smallest value on frequency
    ties) so results are engine- and parallelism-stable."""
    cols = columns or [c for c, t in df.dtypes if t == "string"]
    if not cols:
        # no string columns: an empty result with the contract schema, not
        # an IndexError from rows[0]
        return df.sparkSession.createDataFrame(
            [],
            "column string, n_unique bigint, mode_value string, "
            "avg_length double",
        )
    rows = []
    for c in cols:
        rows.append(
            df.agg(
                F.lit(c).alias("column"),
                F.countDistinct(c).alias("n_unique"),
                F.mode(c, True).alias("mode_value"),
                F.round(F.avg(F.length(c)), 6).alias("avg_length"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def split_size_stats(labeled: DataFrame, ratios: dict[str, float]) -> DataFrame:
    """A10: per-split counts + actual-vs-expected ratio deviation."""
    total = labeled.count()
    per = labeled.groupBy("split_id").agg(F.count(F.lit(1)).alias("sample_count"))
    ratio_map = F.create_map(
        *[x for k, v in ratios.items() for x in (F.lit(k), F.lit(v))]
    )
    return per.select(
        "split_id",
        "sample_count",
        F.round(F.col("sample_count") / total, 6).alias("actual_ratio"),
        F.round(ratio_map[F.col("split_id")], 6).alias("expected_ratio"),
        F.round(
            F.abs(F.col("sample_count") / total - ratio_map[F.col("split_id")]), 6
        ).alias("deviation"),
    )


def validate_normalization(
    normed: DataFrame,
    columns: list[str],
    by: str = "split_id",
    mean_tol: float = 0.1,
    std_tol: float = 0.1,
) -> DataFrame:
    """A11: recompute mean/std per feature per split and flag violations of
    mean≈0±tol, std≈1±tol (reference tolerances
    app/core/normalization_handler.py:701-705). Training splits are expected
    to pass; evaluation splits may drift — report, don't fail."""
    aggs = []
    for c in columns:
        aggs += [
            F.round(F.mean(c), 6).alias(f"mean_{c}"),
            F.round(F.stddev_samp(c), 6).alias(f"std_{c}"),
        ]
    out = normed.groupBy(by).agg(*aggs)
    ok = F.lit(True)
    for c in columns:
        ok = (
            ok
            & (F.abs(F.col(f"mean_{c}")) <= mean_tol)
            & (F.abs(F.col(f"std_{c}") - 1.0) <= std_tol)
        )
    return out.withColumn("within_tolerance", ok)


def row_quality_flag(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """M7 per-row quality flag: 1 iff no value column is null (reference
    tests/acceptance_tests/test_acceptance_plugins.py:102)."""
    cols = columns or df.columns
    any_null = None
    for c in cols:
        expr = F.isnull(c)
        any_null = expr if any_null is None else (any_null | expr)
    return df.withColumn(
        "quality_flag", F.when(any_null, 0).otherwise(1).cast("int")
    )


def table_fingerprint(df: DataFrame) -> DataFrame:
    """A12 integrity checksum, distribution-safe: XOR-fold of per-row
    xxhash64 over all columns. Order-insensitive ⇒ identical at any
    partition count / parallelism — this is the engine's cross-run
    equality invariant hook (also used for token-array equality when the
    row contains the tokens column)."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "bit_xor(xxhash64(struct(" + ", ".join(f"`{c}`" for c in df.columns) + ")))"
        ).alias("fingerprint"),
    )
