import contextlib

import pytest

from preprocessor_spark.session import get_spark


# 2020-01-01 00:00:00 minus this is 1969-12-28 23:59:53: before 1970, and
# off the 300 s lattice of the finest tier
SHIFT_1969_S = 1577836800 + 3 * 86400 + 7


def shifted(df, seconds: int):
    """``df`` with its ``ts`` moved ``seconds`` earlier, to the microsecond."""
    from pyspark.sql import functions as F

    return df.withColumn(
        "ts", F.timestamp_micros(F.unix_micros("ts") - F.lit(seconds * 1_000_000))
    )


@pytest.fixture(scope="session")
def spark():
    s = get_spark("preprocessor_spark_tests", master="local[4]")
    yield s
    s.stop()


@contextlib.contextmanager
def no_python_worker(spark):
    """Make every API that runs Python on the executors raise: grouped and
    mapped pandas/Arrow functions, Python RDDs and Python UDFs."""
    from pyspark import SparkContext
    from pyspark.sql import functions
    from pyspark.sql.group import GroupedData

    def refuse(name):
        def raiser(*_a, **_k):
            raise AssertionError(f"the refresh started a Python worker via {name}")

        return raiser

    frame_cls = type(spark.range(0))
    with pytest.MonkeyPatch.context() as mp:
        for owner, names in (
            (GroupedData, ("applyInPandas", "applyInArrow")),
            (frame_cls, ("mapInPandas", "mapInArrow")),
            (SparkContext, ("parallelize",)),
            (functions, ("udf", "pandas_udf")),
        ):
            for name in names:
                mp.setattr(owner, name, refuse(f"{owner.__name__}.{name}"))
        yield
