"""preprocessor_spark — a from-scratch PySpark-native time-series rollup engine.

Re-expresses the capabilities of harveybc/preprocessor (normalizer/standardizer,
unbiaser, trimmer, feature selector, cleaner, six-way splitter) as idiomatic,
vectorized Spark DataFrame stages, and extends them into a continuous-aggregate
rollup / downsample / retention tree (gap-fill, Gorilla XOR + delta-of-delta
compression) over tables of pre-tokenized training sequences
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.

Design tenets (see SURVEY.md):
  * DataFrame / SQL first — Catalyst plans everything; no RDDs.
  * No per-row Python. Sequential-scan semantics (EMA, per-series interpolation)
    run as Arrow-vectorized ``applyInPandas`` stages; the rollup jobs encode
    their Gorilla blocks on the driver, from the 5m tier rows as Arrow, with
    the same numpy code.
  * Two-phase fit/transform with JSON param sidecars (atomic write + checksum),
    mirroring the reference's persisted-parameter model
    (reference: app/core/normalization_handler.py:299-404).
  * Scale posture: broadcast tiny sides (time spines, params), salted
    repartition on (source, time-bucket) for skew, AQE on, partial+final aggs.
"""

__version__ = "0.1.0"


def __getattr__(name: str):
    # lazy, so that importing a submodule does not import pyspark: the
    # worker daemon (``_daemon``) must choose where pyspark comes from
    # before anything imports it
    if name == "get_spark":
        from preprocessor_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
