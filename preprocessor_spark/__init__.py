"""preprocessor_spark — a from-scratch PySpark-native time-series rollup engine.

Re-expresses the capabilities of harveybc/preprocessor (normalizer/standardizer,
unbiaser, trimmer, feature selector, cleaner, six-way splitter) as idiomatic,
vectorized Spark DataFrame stages, and extends them into a continuous-aggregate
rollup / downsample / retention tree (gap-fill, Gorilla XOR + delta-of-delta
compression) over tables of pre-tokenized training sequences
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``.

Design tenets (see SURVEY.md):
  * DataFrame / SQL first — Catalyst plans everything; no RDDs.
  * No per-row Python. Sequential-scan semantics (EMA, per-series interpolation,
    Gorilla block encode) run as Arrow-vectorized ``applyInPandas`` stages; a
    refresh's few touched blocks encode on the driver with the same numpy code.
  * Two-phase fit/transform with JSON param sidecars (atomic write + checksum),
    mirroring the reference's persisted-parameter model
    (reference: app/core/normalization_handler.py:299-404).
  * Scale posture: broadcast tiny sides (time spines, params), salted
    repartition on (source, time-bucket) for skew, AQE on, partial+final aggs.
"""

__version__ = "0.1.0"

from preprocessor_spark.session import get_spark  # noqa: F401
