"""run_pipeline's bronze contract gate: drift injected into a bronze table
the run touches fails the run through ops.contract_check, with the errors
in the report, and the run log still finalizes the run as failed."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import contract
from youtube_analytics_lakehouse_databricks_spark.ops.run_log import RUN_LOG_FQN
from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.runner import run_pipeline
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import RunContext
from youtube_analytics_lakehouse_databricks_spark.storage import local_frame

TABLE = "drift_probe_raw"  # not one of the pipeline's bronze tables


class OnePayload:
    def fetch(self, ctx):
        yield TABLE, {"id": "x"}


def test_contract_drift_fails_run_and_finalizes_failed(spark):
    ensure_schemas(spark)
    fqn = f"bronze.{TABLE}"
    ctx = RunContext.new()
    row = (ctx.snapshot_date, ctx.ingest_ts_utc, "youtube", "r0", "v1", "earlier-run", "{}")
    # drift: ingest_ts_utc stored as STRING instead of TIMESTAMP
    drifted = local_frame(spark, [row], contract.BRONZE_SCHEMA).withColumn(
        "ingest_ts_utc", F.col("ingest_ts_utc").cast("string")
    )
    drifted.write.mode("overwrite").partitionBy("snapshot_date").saveAsTable(fqn)
    try:
        with pytest.raises(
            RuntimeError,
            match=rf"Bronze contract validation failed:\n - Type mismatch for {fqn}\.ingest_ts_utc "
            r"\(expected=timestamp, actual=string\)",
        ):
            run_pipeline(spark, OnePayload(), ctx)
        status = (
            spark.table(RUN_LOG_FQN).filter(F.col("run_id") == ctx.run_id).select("run_status").collect()
        )
        assert [r["run_status"] for r in status] == ["failed"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {fqn}")
