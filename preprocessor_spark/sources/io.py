"""Sources & sinks — multi-format scan with extension mapping + CSV
separator sniffing, the legacy timestamp-first CSV loader, and per-split
partitioned sinks.

Reference semantics re-expressed:
  * S1 legacy CSV scan (app/data_handler.py:4-29): parse column 0 as a
    (dayfirst) timestamp renamed DATE_TIME, coerce all others to numeric
    with errors='coerce' → here ``to_timestamp`` + ``cast('double')``
    (cast yields null on parse failure — same contract);
  * S2 multi-format scan (app/core/data_handler.py:113-171, ext map
    :190-199): csv/tsv/txt/parquet/pq/json/jsonl by extension;
  * S3 separator sniffing (app/core/data_handler.py:308-343): count
    candidate separators in the first 10 lines, pick the max — done on the
    driver from ``spark.read.text(...).limit(10)``;
  * S4 per-dataset sink (app/core/data_processor.py:628-700): one labeled
    DataFrame partitioned by split_id instead of six files — at scale the
    labels are Iceberg partition values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EXTENSION_FORMATS = {
    ".csv": "csv",
    ".tsv": "csv",
    ".txt": "csv",
    ".parquet": "parquet",
    ".pq": "parquet",
    ".json": "json",
    ".jsonl": "json",
}

_SEP_CANDIDATES = [",", ";", "\t", "|"]


def sniff_format_by_content(path: str, spark: SparkSession | None = None) -> str | None:
    """Content-based format detection (reference
    app/core/data_handler.py:212-244): examine the first lines — JSON if
    the file opens with ``{``/``[``, CSV if a separator appears; plus a
    parquet magic-bytes check the reference's text-only sniffer can't do.
    Local files are read driver-side (a few bytes); anything else falls
    back to a limited ``spark.read.text`` scan of one partition head."""
    lines: list[str] = []
    if os.path.isfile(path):
        with open(path, "rb") as fb:
            if fb.read(4) == b"PAR1":
                return "parquet"
        with open(path, errors="ignore") as f:
            lines = [f.readline().strip() for _ in range(5)]
    elif os.path.isdir(path):
        # a parquet DATASET is a directory: check the magic bytes of the
        # first data file inside (the text sniffer below would read
        # compressed binary as 'lines' and could mis-sniff it as CSV).
        # WALK, don't listdir: hive-partitioned datasets (this repo's own
        # write_split_datasets outputs and rollup tiers) have only
        # _SUCCESS and key=value/ subdirs at the top level — the data
        # files live one or more levels down.
        found_data_file = False
        for sub_root, dirs, files in os.walk(path):
            dirs.sort()
            for entry in sorted(files):
                if entry.endswith(".parquet") or entry.startswith("part-"):
                    with open(os.path.join(sub_root, entry), "rb") as fb:
                        if fb.read(4) == b"PAR1":
                            return "parquet"
                    found_data_file = True
                    break  # first data file is representative
            if found_data_file:
                break
        if spark is not None:
            try:
                lines = [
                    (r[0] or "").strip()
                    for r in spark.read.text(path).limit(5).collect()
                ]
            except Exception:  # noqa: BLE001
                return None
    elif spark is not None:
        try:
            lines = [
                (r[0] or "").strip()
                for r in spark.read.text(path).limit(5).collect()
            ]
        except Exception:  # noqa: BLE001 — unreadable as text ⇒ undetectable
            return None
    first = lines[0] if lines else ""
    if first.startswith("{") or first.startswith("["):
        return "json"
    if any(s in first for s in _SEP_CANDIDATES):
        return "csv"
    return None


def detect_format(path: str, spark: SparkSession | None = None) -> str:
    """Extension mapping first (S2), content sniffing for ambiguous or
    unknown extensions (reference data_handler.py:200-210: .txt/.dat and
    unmapped suffixes fall through to content detection)."""
    ext = os.path.splitext(path)[1].lower()
    if ext in (".txt", ".dat") or ext not in EXTENSION_FORMATS:
        sniffed = sniff_format_by_content(path, spark)
        if sniffed is not None:
            return sniffed
    if ext not in EXTENSION_FORMATS:
        raise ValueError(f"unsupported extension: {ext} ({path})")
    return EXTENSION_FORMATS[ext]


def sniff_csv_separator(spark: SparkSession, path: str, n_lines: int = 10) -> str:
    """Count candidate separators over the first n_lines (driver-side on a
    limited scan — reads one partition's head, not the file)."""
    lines = [r[0] for r in spark.read.text(path).limit(n_lines).collect()]
    counts = {s: sum(line.count(s) for line in lines) for s in _SEP_CANDIDATES}
    best = max(counts, key=counts.get)
    return best if counts[best] > 0 else ","


def load_data(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    header: bool = True,
    infer_schema: bool = True,
    sep: str | None = None,
    **options,
) -> DataFrame:
    fmt = fmt or detect_format(path, spark)
    reader = spark.read.options(**options)
    if fmt == "csv":
        if sep is None:
            ext = os.path.splitext(path)[1].lower()
            sep = "\t" if ext == ".tsv" else sniff_csv_separator(spark, path)
        return reader.csv(path, header=header, inferSchema=infer_schema, sep=sep)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"unsupported format: {fmt}")


def load_timeseries_csv(
    spark: SparkSession,
    path: str,
    ts_format: str | None = "d/M/yyyy H:mm",
    sep: str | None = None,
) -> DataFrame:
    """Legacy loader: first column → DATE_TIME timestamp (dayfirst), every
    other column → double with null on parse failure."""
    raw = load_data(spark, path, fmt="csv", infer_schema=False, sep=sep)
    first, rest = raw.columns[0], raw.columns[1:]
    ts = (
        F.try_to_timestamp(F.col(first), F.lit(ts_format))
        if ts_format
        else F.try_to_timestamp(F.col(first))
    )
    # null-on-failure semantics (pandas errors='coerce'): try_to_timestamp /
    # try_cast — Spark 4 ANSI mode would otherwise raise on malformed input
    return raw.select(
        F.coalesce(ts, F.try_to_timestamp(F.col(first))).alias("DATE_TIME"),
        *[F.col(c).try_cast("double").alias(c) for c in rest],
    )


def write_data(df: DataFrame, path: str, fmt: str | None = None, **options) -> None:
    fmt = fmt or detect_format(path)
    writer = df.write.mode(options.pop("mode", "overwrite")).options(**options)
    if fmt == "csv":
        writer.option("header", True).csv(path)
    elif fmt == "parquet":
        writer.parquet(path)
    elif fmt == "json":
        writer.json(path)
    else:
        raise ValueError(f"unsupported format: {fmt}")


def write_split_datasets(
    labeled: DataFrame, out_dir: str, fmt: str = "parquet", **options
) -> None:
    """S4: the six splits written as one partitioned dataset
    (…/split_id=d1/ …); Iceberg equivalent: writeTo(...).append() on a table
    partitioned by split_id."""
    (
        labeled.write.mode(options.pop("mode", "overwrite"))
        .options(**options)
        .partitionBy("split_id")
        .format(fmt)
        .save(out_dir)
    )
