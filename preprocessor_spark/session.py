"""SparkSession factory with the engine's standard configuration, and the
helpers every job shares.

``get_spark`` sets Arrow on and the SQL defaults below; each job scopes its
own tuning on top with ``scoped_conf`` (both jobs run with AQE off and size
their shuffles themselves). When ``get_spark`` launches the JVM itself (a
``python -m`` run, a test or notebook session, not ``spark-submit``), it also
cuts the process's cold start (``_launch_plan``): the driver JVM maps a
class-data archive of the classes an earlier session on this host loaded,
and the Python workers import the installed pyspark instead of compiling
``pyspark.zip``.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import subprocess
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Defaults for a local session; on a cluster they are overridden with
# spark-submit --conf (or SPARK_GRAFT_EXTRA_CONF, see get_spark). AQE is on
# for library and interactive use; the jobs turn it off for their own body.
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

    When the call launches the JVM (no ``spark-submit``), the launch maps
    this host's class-data archive, or trains it, and the Python workers
    import the installed pyspark: see ``_launch_plan``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    conf = {"spark.sql.shuffle.partitions": _shuffle_partitions(master)}
    conf.update(_DEFAULT_CONFS)
    conf.update(extra_conf or {})
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" overrides everything above — the
    # escape hatch for conf experiments under spark-submit, where a plain
    # submit-line --conf of a SQL conf would be clobbered by the builder
    # defaults here (builder configs apply on top of the submit conf).
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            conf[k.strip()] = v.strip()
    _promote_dumps()
    plan = _launch_plan(conf, master)
    conf.update(plan.confs)
    if plan.conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = plan.conf_dir
    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if plan.dump is not None:
            plan.dump.release()
        raise
    if plan.dump is not None:
        # kept here: a caller may clear SparkContext._gateway before the
        # JVM has exited and written the dump
        from pyspark import SparkContext

        plan.dump.proc = SparkContext._gateway.proc
        _DUMPS.append(plan.dump)
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


# -- cold start: a class-data archive per host, a worker daemon -------------
#
# Every job is the first job of its JVM. About 3 s of its session start is
# the JVM loading and verifying the same classes as every run before it,
# and about 1 s of its first Python stage is the workers compiling pyspark
# from pyspark.zip.
#
# * Class data (JDK 17 dynamic CDS, JEP 350). The first session on a host
#   runs with -XX:ArchiveClassesAtExit and dumps the classes it loaded when
#   its JVM exits; later sessions map that archive with
#   -XX:SharedArchiveFile. The archive lives under
#   $XDG_CACHE_HOME/preprocessor_spark/cds/<key>.jsa, keyed by the JDK
#   build, the Spark version and the classpath; the JVM itself checks the
#   classpath again and, on a mismatch, warns once and runs without it.
#   A dump is written to <key>.<pid>.part and renamed into place only after
#   its JVM exited with status 0: a torn archive crashes the JVM that maps
#   it (SIGBUS), and the training JVM writes for seconds after Python
#   exits.
# * The worker daemon: see preprocessor_spark/_daemon.py.
#
# Both apply only when get_spark launches the JVM: under spark-submit the
# JVM runs before Python starts (README: the submit-line flags), and the
# worker would add --py-files only after the daemon module was imported.

_DAEMON_MODULE = "preprocessor_spark._daemon"
# JVM warnings (e.g. an archive that does not match) go to stderr: a job's
# stdout is its one JSON line. A dump also warns once per class it cannot
# archive (~1k lines for a build); those are errors-only.
_JVM_LOG = "-Xlog:disable -Xlog:all=warning:stderr"
_DUMP_LOG = "-Xlog:disable -Xlog:all=warning,cds=error:stderr"
_DUMP_WAIT_S = 600


@dataclass
class _Dump:
    """A class-data dump in progress: the JVM writing it, its part file,
    the archive it becomes and the lock that keeps a second process from
    training at the same time."""

    part: str
    final: str
    lock: str
    proc: subprocess.Popen | None = None

    def release(self) -> None:
        for path in (self.part, self.lock):
            try:
                os.remove(path)
            except FileNotFoundError:
                pass


@dataclass
class _LaunchPlan:
    confs: dict[str, str] = field(default_factory=dict)
    conf_dir: str | None = None  # SPARK_CONF_DIR for the launch
    dump: _Dump | None = None


# dumps of the JVMs this process launched: per process, like the gateway
# (SparkContext._gateway) they belong to
_DUMPS: list[_Dump] = []


def cache_dir() -> str:
    """Where the class-data archives of this host live."""
    root = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(root, "preprocessor_spark", "cds")


def _java_home() -> str | None:
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    import shutil

    java = shutil.which("java")  # what spark-class runs without JAVA_HOME
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _stat_entry(h, path: str) -> None:
    h.update(path.encode() + b"\0")
    try:
        st = os.stat(path)
        h.update(f"{st.st_size} {st.st_mtime_ns}\n".encode())
    except OSError:
        h.update(b"-\n")


def archive_key(
    spark_home: str, java_home: str, extra_class_path: str = "", conf_dir: str = ""
) -> str | None:
    """The cache key of a driver JVM's archive: the JDK build (its
    ``release`` file), the Spark version (``$SPARK_HOME/RELEASE``, when
    the distribution has one) and the classpath: the name, size and mtime
    of each ``$SPARK_HOME/jars`` jar and each ``extraClassPath`` entry, and
    the conf dir. None without a JDK ``release`` file."""
    h = hashlib.sha256()
    try:
        with open(os.path.join(java_home, "release"), "rb") as f:
            h.update(f.read())
    except OSError:
        return None
    try:
        with open(os.path.join(spark_home, "RELEASE"), "rb") as f:
            h.update(f.read())
    except OSError:
        pass
    for entry in extra_class_path.split(os.pathsep) if extra_class_path else []:
        _stat_entry(h, entry)
    h.update(conf_dir.encode() + b"\0")
    for jar in sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar"))):
        _stat_entry(h, jar)
    return h.hexdigest()[:20]


def _conf_dir(spark_home: str, cache: str) -> str | None:
    """The conf dir a launch uses, or None when the helper must stay off.
    JDK 17 refuses to dump while a non-empty directory is on the classpath,
    and Spark puts the conf dir there. A conf dir of templates only is
    replaced by an empty one in the cache; a real file (settings of the
    caller's) keeps the helper off, as does a chosen SPARK_CONF_DIR that is
    not empty."""
    given = os.environ.get("SPARK_CONF_DIR")
    conf = given or os.path.join(spark_home, "conf")
    try:
        entries = os.listdir(conf)
    except FileNotFoundError:
        entries = []
    except OSError:
        return None
    if any(not e.endswith(".template") for e in entries):
        return None
    if given:
        return None if entries else given
    empty = os.path.join(cache, "conf")
    os.makedirs(empty, exist_ok=True)
    return None if os.listdir(empty) else empty


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # someone else's live process
    return True


def _lock_holder(lock: str) -> int | None:
    try:
        with open(lock) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def take_lock(lock: str) -> bool:
    """Take the training lock: a file holding the holder's pid, created
    whole with a hard link, so no reader sees it empty. A lock whose holder
    is dead is stale and is taken over; a live holder keeps it."""
    tmp = f"{lock}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(str(os.getpid()))
    try:
        for _ in range(2):
            try:
                os.link(tmp, lock)
                return True
            except FileExistsError:
                holder = _lock_holder(lock)
                if holder is not None and _pid_alive(holder):
                    return False
                try:
                    os.remove(lock)
                except FileNotFoundError:
                    pass
        return False
    finally:
        os.remove(tmp)


def _workers_import_engine() -> bool:
    """Whether a Python worker of a local JVM launched now can import this
    package: the worker runs ``python -m <daemon module>`` in the JVM's
    working directory (this process's), with this process's PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if not os.environ.get("PYTHONSAFEPATH"):
        paths.append(os.getcwd())
    return any(p and os.path.realpath(p) == os.path.realpath(root) for p in paths)


def _launches_jvm() -> bool:
    from pyspark import SparkContext

    return "PYSPARK_GATEWAY_PORT" not in os.environ and SparkContext._gateway is None


def _launch_plan(conf: dict[str, str], master: str) -> _LaunchPlan:
    """The confs (and SPARK_CONF_DIR) that cut the cold start of a JVM
    that ``get_spark`` is about to launch; an empty plan when it launches
    none, or when the cache or the conf dir rule the helper out. Takes the
    training lock when it plans a dump."""
    off = _LaunchPlan()
    if not _launches_jvm():
        return off
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java_home = _java_home()
    cache = cache_dir()
    try:
        os.makedirs(cache, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return off
        conf_dir = _conf_dir(spark_home, cache)
    except OSError:
        return off
    if conf_dir is None or java_home is None:
        return off
    plan = _LaunchPlan(conf_dir=conf_dir)
    if (
        master.startswith("local")
        and "spark.python.daemon.module" not in conf
        and _workers_import_engine()
    ):
        plan.confs["spark.python.daemon.module"] = _DAEMON_MODULE
    key = archive_key(
        spark_home, java_home, conf.get("spark.driver.extraClassPath", ""), conf_dir
    )
    if key is None or "spark.driver.defaultJavaOptions" in conf:
        return plan
    final = os.path.join(cache, f"{key}.jsa")
    if os.path.isfile(final):
        plan.confs["spark.driver.defaultJavaOptions"] = (
            f"{_JVM_LOG} -XX:SharedArchiveFile={final}"
        )
        return plan
    lock = os.path.join(cache, f"{key}.lock")
    if not take_lock(lock):
        return plan  # another live process is training
    # parts of trainers that died before promoting are never promoted
    for part in glob.glob(os.path.join(cache, f"{key}.*.part")):
        try:
            os.remove(part)
        except FileNotFoundError:
            pass
    plan.dump = _Dump(os.path.join(cache, f"{key}.{os.getpid()}.part"), final, lock)
    plan.confs["spark.driver.defaultJavaOptions"] = (
        f"{_DUMP_LOG} -XX:ArchiveClassesAtExit={plan.dump.part}"
    )
    return plan


def promote(dump: _Dump, returncode: int) -> bool:
    """Move a finished dump into place: only a JVM that exited with status
    0 wrote its archive whole. Releases the lock either way."""
    try:
        if returncode == 0 and os.path.isfile(dump.part):
            os.replace(dump.part, dump.final)
            return True
        return False
    finally:
        dump.release()


def _promote_dumps(wait: bool = False) -> None:
    """Promote the dumps of JVMs that have exited. ``wait`` (at exit):
    close each gateway's stdin — the JVM exits on its EOF — and wait for
    the dump to be written."""
    for dump in list(_DUMPS):
        if wait:
            try:
                dump.proc.stdin.close()
                dump.proc.wait(timeout=_DUMP_WAIT_S)
            except (OSError, ValueError, subprocess.TimeoutExpired):
                pass
        status = dump.proc.poll()
        if status is not None:
            _DUMPS.remove(dump)
            promote(dump, status)


atexit.register(_promote_dumps, wait=True)


def class_archive(spark: SparkSession) -> str:
    """How the session's driver JVM uses a class-data archive: "used"
    (started from one), "training" (dumps one at exit) or "off" — read from
    the JVM's own arguments, so a spark-submit run with the archive flag on
    its submit line reports it too. An archive that does not match the
    classpath still reads "used"; the JVM warned on stderr at start."""
    args = str(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
        .toString()
    )
    if "-XX:ArchiveClassesAtExit" in args:
        return "training"
    return "used" if "-XX:SharedArchiveFile" in args else "off"
