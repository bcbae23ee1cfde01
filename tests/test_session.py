"""Session helpers: conf scoping that survives a raising body, and
driver-side frames built through Arrow."""

import datetime

import pytest
from pyspark.sql import types as T

from preprocessor_spark.session import local_frame, scoped_conf


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
