"""Session helpers: conf scoping that survives a raising body, driver-side
frames built through Arrow, and the launch helper that pays the JVM's and
the Python worker's cold start once per host."""

import datetime
import os
import shutil

import pytest
from pyspark.sql import types as T

from preprocessor_spark import session
from preprocessor_spark._daemon import worker_path
from preprocessor_spark.session import (
    _launch_plan,
    archive_key,
    get_spark,
    local_frame,
    promote,
    scoped_conf,
    take_lock,
)


def test_scoped_conf_restores_confs_when_the_body_raises(spark):
    mode_before = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    parts_before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(RuntimeError):
        with scoped_conf(
            spark,
            {
                "spark.sql.shuffle.partitions": 3,
                "spark.sql.sources.partitionOverwriteMode": "dynamic",
                "spark.preprocessor.test.unset": "x",
            },
        ):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
            assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
            raise RuntimeError("body failed")
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts_before
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode") == mode_before
    assert spark.conf.get("spark.preprocessor.test.unset", None) is None


def test_local_frame_round_trips_rows(spark):
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("t", T.TimestampType()),
            T.StructField("f", T.BooleanType()),
        ]
    )
    rows = [
        ("a", 1, datetime.datetime(2020, 1, 1, 3, 0, 5), True),
        (None, None, None, None),
    ]
    df = local_frame(spark, rows, schema)
    assert df.schema == schema
    assert [tuple(r) for r in df.collect()] == rows
    assert local_frame(spark, [], schema).count() == 0


# -- cold start: class-data archive and worker daemon ---------------------

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAEMON = "preprocessor_spark._daemon"
JAVA_OPTS = "spark.driver.defaultJavaOptions"


@pytest.fixture
def launch_env(tmp_path, monkeypatch):
    """A Spark home (templates-only conf dir, two jars), a JDK home with a
    ``release`` file and an empty cache, with ``get_spark`` about to launch
    its own JVM from the root of the checkout."""
    from pyspark import SparkContext

    home, jdk = tmp_path / "spark", tmp_path / "jdk"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    for jar in ("a.jar", "b.jar"):
        (home / "jars" / jar).write_bytes(b"jar")
    jdk.mkdir()
    (jdk / "release").write_text('JAVA_VERSION="17"\n')
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "_DUMPS", [])  # not this session's own dump
    monkeypatch.chdir(REPO)
    conf_dir = os.environ.pop("SPARK_CONF_DIR", None)
    try:
        yield home, tmp_path / "cache" / "preprocessor_spark" / "cds"
    finally:
        os.environ.pop("SPARK_CONF_DIR", None)
        if conf_dir is not None:
            os.environ["SPARK_CONF_DIR"] = conf_dir


def _plan(conf=None):
    return _launch_plan(dict(conf or {}), "local[2]")


class _Proc:
    """A JVM that is still running (None) or exited with a status."""

    def __init__(self, status):
        self.status = status

    def poll(self):
        return self.status


def test_launch_plan_trains_once_then_maps_the_archive(launch_env):
    home, cache = launch_env
    plan = _plan()
    assert plan.conf_dir == str(cache / "conf") and not os.listdir(plan.conf_dir)
    assert plan.confs["spark.python.daemon.module"] == DAEMON
    opts = plan.confs[JAVA_OPTS]
    assert f"-XX:ArchiveClassesAtExit={plan.dump.part}" in opts
    assert opts.startswith("-Xlog:disable -Xlog:all=warning") and ":stderr " in opts
    assert plan.dump.part.endswith(f".{os.getpid()}.part")
    with open(plan.dump.lock) as f:
        assert f.read() == str(os.getpid())
    open(plan.dump.part, "wb").close()
    assert promote(plan.dump, 0)
    assert not os.path.exists(plan.dump.lock)
    assert f"-XX:SharedArchiveFile={plan.dump.final}" in _plan().confs[JAVA_OPTS]
    # a caller's own java options are left alone
    assert JAVA_OPTS not in _plan({JAVA_OPTS: "-Dx=1"}).confs


def test_a_part_is_promoted_only_after_its_jvm_exited_with_status_0(launch_env):
    dump = _plan().dump
    open(dump.part, "wb").close()
    dump.proc = _Proc(None)  # still dumping: the part and the lock stay
    session._DUMPS.append(dump)
    session._promote_dumps()
    assert session._DUMPS == [dump] and os.path.exists(dump.part)
    dump.proc.status = 1  # failed: nothing is promoted, part and lock go
    session._promote_dumps()
    assert session._DUMPS == []
    assert not any(os.path.exists(p) for p in (dump.part, dump.lock, dump.final))
    # the part of a trainer that died before promoting it is removed, not
    # promoted, by the next trainer
    orphan = dump.part.replace(f".{os.getpid()}.part", ".999999999.part")
    open(orphan, "wb").close()
    again = _plan().dump
    assert not os.path.exists(orphan) and not os.path.exists(again.final)
    again.release()


def test_a_live_lock_holder_means_no_second_training(launch_env):
    lock = _plan().dump.lock
    with open(lock, "w") as f:
        f.write(str(os.getppid()))  # held by a live process
    plan = _plan()
    assert plan.dump is None and JAVA_OPTS not in plan.confs
    assert plan.confs["spark.python.daemon.module"] == DAEMON
    with open(lock, "w") as f:
        f.write("999999999")  # its holder is gone: the lock is stale
    assert take_lock(lock)
    assert not take_lock(lock)  # held by this live process now
    os.remove(lock)


def test_archive_key_follows_the_jdk_and_the_classpath(launch_env):
    home, _ = launch_env
    jdk = os.environ["JAVA_HOME"]
    key = archive_key(str(home), jdk)
    assert key == archive_key(str(home), jdk)
    assert archive_key(str(home), jdk, str(home / "jars" / "a.jar")) != key
    os.utime(home / "jars" / "b.jar", ns=(1, 1))
    assert archive_key(str(home), jdk) != key
    assert archive_key(str(home), str(home)) is None  # no JDK release file


class _Builder:
    """Records the confs ``get_spark`` sets instead of starting Spark."""

    def __init__(self, on_create):
        self.conf, self.on_create = {}, on_create

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        self.on_create()
        return self


@pytest.mark.parametrize("case", ["launch", "gateway", "conf_file", "chosen_conf_dir"])
def test_get_spark_sets_launch_confs_only_when_it_launches_the_jvm(
    launch_env, monkeypatch, case
):
    """Under spark-submit (the gateway port is set) or with a real file in
    the conf dir, get_spark sets no java option and no daemon module, and
    leaves SPARK_CONF_DIR as it was."""
    from types import SimpleNamespace

    from pyspark import SparkContext

    home, cache = launch_env
    if case == "gateway":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    elif case == "conf_file":
        (home / "conf" / "spark-defaults.conf").write_text("spark.a 1\n")
    elif case == "chosen_conf_dir":
        os.environ["SPARK_CONF_DIR"] = str(home / "conf")  # templates: not empty
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    gateway = SimpleNamespace(proc=_Proc(1))
    builder = _Builder(lambda: monkeypatch.setattr(SparkContext, "_gateway", gateway))
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    get_spark("t", master="local[2]")
    launched = {k: builder.conf.get(k) for k in (JAVA_OPTS, "spark.python.daemon.module")}
    if case == "launch":
        assert "-XX:ArchiveClassesAtExit=" in launched[JAVA_OPTS]
        assert launched["spark.python.daemon.module"] == DAEMON
        assert os.environ["SPARK_CONF_DIR"] == str(cache / "conf")
        assert session._DUMPS and session._DUMPS[-1].proc is gateway.proc
        session._promote_dumps()  # its "JVM" failed: the dump is dropped
        assert not session._DUMPS and not list(cache.glob("*.lock"))
    else:
        assert launched == {JAVA_OPTS: None, "spark.python.daemon.module": None}
        assert os.environ.get("SPARK_CONF_DIR") == conf_dir


def _spark_zips(root, pyspark_version, py4j_version):
    import zipfile

    root.mkdir()
    z, p = root / "pyspark.zip", root / f"py4j-{py4j_version}-src.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("pyspark/version.py", f'__version__: str = "{pyspark_version}"\n')
    with zipfile.ZipFile(p, "w") as f:
        f.writestr("py4j/__init__.py", "")
    return str(z), str(p)


def test_daemon_picks_the_installed_pyspark_only_when_versions_match(tmp_path):
    installed = {"pyspark": "4.1.2", "py4j": "0.10.9.9"}.get
    z, p = _spark_zips(tmp_path / "same", "4.1.2", "0.10.9.9")
    assert worker_path(["", z, p, "/lib", "/site"], installed) == ["", "/lib", "/site", z, p]
    z, p = _spark_zips(tmp_path / "older", "4.0.0", "0.10.9.9")
    assert worker_path(["", z, p, "/site"], installed) == ["", z, p, "/site"]
    # a py4j zip of another version stays in front of the installed py4j
    z, p = _spark_zips(tmp_path / "py4j", "4.1.2", "0.10.9.7")
    assert worker_path(["", z, p, "/site"], installed) == ["", p, "/site", z]
    assert worker_path(["", "/site"], installed) == ["", "/site"]


def test_test_session_workers_import_the_installed_pyspark(spark):
    import pandas as pd
    import pyspark

    def files(batches):
        import pyspark

        for b in batches:
            yield pd.DataFrame({"f": [pyspark.__file__] * len(b)})

    got = {r.f for r in spark.range(4).mapInPandas(files, "f string").collect()}
    assert got == {pyspark.__file__}
    assert "site-packages" in pyspark.__file__


LAUNCHES = r"""
import json, os, shutil, sys, zipfile

import preprocessor_spark._daemon  # must not import pyspark

print(json.dumps({"pyspark_imported": "pyspark" in sys.modules}), flush=True)
import pandas as pd
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from preprocessor_spark import get_spark, session


def files(batches):
    import pyspark

    for b in batches:
        yield pd.DataFrame({"id": b["id"], "f": [pyspark.__file__] * len(b)})


def run(extra=None):
    spark = get_spark("launches", master="local[2]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    rows = spark.range(40).mapInPandas(files, "id long, f string").collect()
    print(json.dumps({
        "archive": session.class_archive(spark),
        "ids": sorted(r.id for r in rows),
        "files": sorted({r.f for r in rows}),
    }), flush=True)
    gateway = SparkContext._gateway  # a new JVM for the next run
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=600)
    SparkContext._gateway = SparkContext._jvm = None


run()  # trains: the archive lands once its JVM has exited
run()  # promotes it and maps it
# a jar in front of the classpath the archive was dumped with
jar = sys.argv[1]
with zipfile.ZipFile(jar, "w") as z:
    z.writestr("x.txt", "x")
cache = session.cache_dir()
(archive,) = [f for f in os.listdir(cache) if f.endswith(".jsa")]
key = session.archive_key(
    _find_spark_home(), session._java_home(), jar, os.environ["SPARK_CONF_DIR"]
)
shutil.copy(os.path.join(cache, archive), os.path.join(cache, key + ".jsa"))
print("-- mismatched archive --", file=sys.stderr, flush=True)
run({"spark.driver.extraClassPath": jar})
"""


def test_launches_train_map_and_survive_a_mismatched_archive(tmp_path):
    """Three JVM launches in one fresh process and a fresh cache: the first
    trains the archive, the second maps it, and the third, whose classpath
    starts with an extra jar, gets an archive of the old classpath. It
    computes the same rows and prints one JVM warning, on stderr; stdout
    holds only the script's JSON lines. Every worker imports the installed
    pyspark."""
    import json
    import subprocess
    import sys

    import pyspark

    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "cache"))
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT"):
        env.pop(var, None)
    try:
        proc = subprocess.run(
            [sys.executable, "-c", LAUNCHES, str(tmp_path / "extra.jar")],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=900,
        )
    finally:
        shutil.rmtree(tmp_path / "cache", ignore_errors=True)  # ~150 MB archives
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = [json.loads(line) for line in proc.stdout.splitlines()]
    assert lines[0] == {"pyspark_imported": False}
    runs = lines[1:]
    assert [r["archive"] for r in runs] == ["training", "used", "used"]
    assert all(r["ids"] == list(range(40)) for r in runs)
    assert all(r["files"] == [pyspark.__file__] for r in runs)
    mismatched = proc.stderr.split("-- mismatched archive --")[1]
    warnings = [line for line in mismatched.splitlines() if "[warning]" in line]
    assert len(warnings) == 1 and "Unable to use shared archive" in warnings[0]
