"""storage.local_frame: driver rows as a JVM LocalRelation that equals
createDataFrame(list, schema) row for row and field for field."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from youtube_analytics_lakehouse_databricks_spark import contract
from youtube_analytics_lakehouse_databricks_spark.storage import local_frame

SCHEMA = T.StructType(
    [
        T.StructField("d", T.DateType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("s", T.StringType(), True),
        T.StructField("n", T.LongType(), False),
    ]
)

ROWS = [
    (dt.date(2025, 8, 3), dt.datetime(2025, 8, 3, 12, 30, 1, 250), "Zürich — 東京 ✓", 1),
    (dt.date(1970, 1, 1), None, None, -2),
    (dt.date(2024, 2, 29), dt.datetime(1999, 12, 31, 23, 59, 59, 999999), "", 3),
]


def _plan_class(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
def test_local_frame_equals_create_dataframe(spark, rows):
    got = local_frame(spark, rows, SCHEMA)
    want = spark.createDataFrame(rows, SCHEMA)
    assert got.schema == want.schema  # nullability included
    assert got.collect() == want.collect()
    assert _plan_class(got) == "LocalRelation"


def test_local_frame_bronze_envelope_and_ddl_schema(spark):
    row = (dt.date(2025, 6, 1), dt.datetime(2025, 6, 1, 12), "youtube", "r", "v1", "run", '{"t":"ü"}')
    got = local_frame(spark, [row], contract.BRONZE_SCHEMA)
    assert got.schema == spark.createDataFrame([row], contract.BRONZE_SCHEMA).schema
    assert got.collect()[0]["payload"] == '{"t":"ü"}'
    ddl = local_frame(spark, [("a", None)], "k string, ts timestamp")
    assert ddl.collect() == spark.createDataFrame([("a", None)], "k string, ts timestamp").collect()


def test_local_frame_rejects_null_in_non_nullable_field(spark):
    with pytest.raises(ValueError, match="field n"):
        local_frame(spark, [(dt.date(2025, 1, 1), None, None, None)], SCHEMA)
