import contextlib

import pytest

from preprocessor_spark.session import get_spark


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
