"""SparkSession factory with the engine's standard configuration.

Arrow on (all pandas-UDF stages are Arrow-vectorized), AQE on (runtime
re-planning + skew-join handling), shuffle partitions sized for the local
test harness but overridable for cluster runs.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Defaults tuned for the local[32] sandbox; on a real cluster these are
# overridden via spark-submit --conf. shuffle.partitions is intentionally
# modest locally — AQE coalesces further.
_DEFAULT_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # coalesce post-shuffle partitions to size targets, not to cluster
    # parallelism — with parallelismFirst (the default) AQE keeps tiny
    # partitions alive on small tier re-aggregations, turning them into
    # task-scheduling overhead
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "33554432",
    # let AQE coalesce the plans that FEED a cache too — otherwise a tiny
    # aggregate persisted at shuffle.partitions granularity (e.g. a 46k-row
    # tier cached as 128 near-empty blocks) makes every downstream scan pay
    # 128 tasks of scheduling overhead
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Parquet scans: keep row groups aligned with partition sizing at scale.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Decode parquet column batches into off-heap buffers: the scan-heavy
    # tier-0 aggregate is GC-sensitive at high parallelism (measured as
    # part of the N→4N efficiency gap); off-heap vectors take the decode
    # path out of the young-gen churn.
    "spark.sql.columnVector.offheap.enabled": "true",
    # Whole-stage codegen bails out above this many fields (default 100),
    # silently dropping wide fused aggregates (cols×stats describe lanes,
    # cols×lags corr screens, Granger Gram sums) onto the interpreted
    # path — measured 6x slower on a 230-expression sum-of-products agg at
    # 5M rows. The engine's wide plans are many SMALL expressions, which
    # compile fine (verified to 351); janino's 64KB method limit still
    # guards the giant-single-expression case independently.
    "spark.sql.codegen.maxFields": "400",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def _shuffle_partitions(master: str) -> str:
    """Initial shuffle partitions = total cores (floor 16). Oversizing to
    cores×4 measured as pure map-side + scheduling overhead at every scale
    tried (32-core tier-0 agg: 1.1 s → 0.4 s at cores×1; the multi-stage
    minhash pipeline: 4.5 s → 2.3 s); skew is handled by AQE's skew-join
    splitting and the high-cardinality (series, bucket) keys, not by extra
    reduce partitions. Cluster submits override via --conf."""
    import re

    m = re.search(r"local\[(\d+)\]", master or "")
    if m:
        cores = int(m.group(1))
    else:
        # non-local master (standalone/yarn): size from the submitted core
        # budget, exported by the launcher
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return str(max(16, cores))


def get_spark(
    app_name: str = "preprocessor_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
    batch_committer_v2: bool = False,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the identical entrypoint can be launched at two parallelism levels for
    the N-vs-4N scaling evidence required by BASELINE.md.

    ``batch_committer_v2`` opts the session into the task-side (v2) file
    output committer. v2 commit is non-atomic at JOB level — a mid-job
    crash leaves partially-committed task files visible — so it is only
    safe for jobs whose consumers gate on ``_SUCCESS`` / the run manifest
    (the rollup job and benches do: ``rollup_job.py`` resume checks
    ``_SUCCESS``, ``checkpoint.run_resumable*`` record completed stages in
    the manifest before readers trust them). Interactive / library
    sessions keep the default v1 driver-side atomic commit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    builder = builder.config(
        "spark.sql.shuffle.partitions", _shuffle_partitions(master)
    )
    for k, v in _DEFAULT_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" overrides everything above — the
    # escape hatch for conf experiments under spark-submit, where a plain
    # submit-line --conf of a SQL conf would be clobbered by the builder
    # defaults here (builder configs apply on top of the submit conf).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    if batch_committer_v2:
        # task-side (v2) output commit: job commit renames every task's
        # files from the DRIVER in v1 — a serial segment that idles the
        # whole cluster at the end of each write (cost grows with cores
        # held, not with data). Opt-in only: v2 is non-atomic at job level
        # (see docstring). Hadoop confs don't apply through builder.config
        # once the context exists (the spark-submit path), so set it on
        # the live hadoopConf.
        spark.sparkContext._jsc.hadoopConfiguration().set(
            "mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, object]):
    """Set session confs for the body of a ``with`` block and restore the
    previous values on every exit, including a raise: in-process callers
    (tests, notebooks, a driver running several jobs) share the session,
    and a job's tuning must not leak into the next one. A conf that was
    unset before is unset again."""
    before = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, str(v))
        yield
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def local_frame(spark: SparkSession, rows, schema: T.StructType) -> DataFrame:
    """A DataFrame of driver-side rows, shipped to the JVM as Arrow
    batches. ``createDataFrame`` of a list of tuples goes through a Python
    RDD instead, so the first action over it starts a Python worker (about
    a second the first time, a few hundred ms after) — a fixed cost paid by
    every spine and offset frame a job builds on the driver."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    rows = [tuple(r) for r in rows]
    arrays = []
    for i, f in enumerate(arrow):
        vals = [r[i] for r in rows]
        if pa.types.is_timestamp(f.type):
            # collected timestamps are naive local times (pyspark's Row
            # convention); Arrow would read naive values as UTC
            vals = [v if v is None or v.tzinfo else v.astimezone() for v in vals]
        arrays.append(pa.array(vals, type=f.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), schema)
