"""Run-context log: create/append, finalize UPDATE, schema evolution.

Mirrors the reference's ops tables (reference:
job_tasks/bronze/init_run_context.py:104-158 create+append;
job_tasks/ops/finalize_run_log.py:82-93 ALTER TABLE ADD COLUMNS,
:191-202 UPDATE terminal status). On parquet (no Delta in this
environment) the in-place UPDATE is emulated as read-modify-overwrite;
on Delta it would be `DeltaTable.update` — the call sites are identical.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from youtube_analytics_lakehouse_databricks_spark import storage
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import RunContext

RUN_LOG_FQN = "ops.run_context_log"

RUN_LOG_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("request_id", T.StringType(), False),
        T.StructField("snapshot_date", T.DateType(), False),
        T.StructField("ingest_ts_utc", T.TimestampType(), False),
        T.StructField("source_system", T.StringType(), False),
        T.StructField("schema_version", T.StringType(), False),
        T.StructField("job_id", T.StringType(), True),
        T.StructField("job_run_id", T.StringType(), True),
        T.StructField("task_run_id", T.StringType(), True),
        T.StructField("created_by", T.StringType(), True),
        T.StructField("context_json", T.StringType(), True),
    ]
)

# Columns added lazily by finalize (finalize_run_log.py:84-90).
FINALIZE_COLUMNS = [
    ("run_status", "string"),
    ("finished_ts_utc", "timestamp"),
    ("finalized_ts_utc", "timestamp"),
    ("finalize_task_run_id", "string"),
    ("finalize_note", "string"),
]


def init_run_log(spark: SparkSession, ctx: RunContext, **extra: str) -> None:
    """Append the run's context row (init_run_context.py:104-158) in one
    job: the finalize columns are already there as NULLs, and
    ``created_by`` defaults to ``current_user()`` (init_run_context.py:69),
    evaluated inside the write."""
    spark.sql("CREATE DATABASE IF NOT EXISTS ops")
    import uuid

    row = (
        ctx.run_id,
        str(uuid.uuid4()),
        ctx.snapshot_date,
        ctx.ingest_ts_utc,
        ctx.source_system,
        ctx.schema_version,
        extra.get("job_id"),
        extra.get("job_run_id"),
        extra.get("task_run_id"),
        extra.get("created_by"),
        extra.get("context_json"),
    )
    df = storage.local_frame(spark, [row], RUN_LOG_SCHEMA).withColumn(
        "created_by", F.coalesce(F.col("created_by"), F.expr("current_user()"))
    )
    for c, t in FINALIZE_COLUMNS:
        df = df.withColumn(c, F.lit(None).cast(t))
    if spark.catalog.tableExists(RUN_LOG_FQN):
        # One layout everywhere (create/append/rewrite all partition by
        # snapshot_date, the reference's declared layout —
        # init_run_context.py:123): a partitioned append against the
        # bootstrap-created table must match or Spark rejects it. A table
        # written before finalize existed lacks its columns until
        # finalize_run adds them, so the append keeps to its columns.
        existing_cols = [f.name for f in spark.table(RUN_LOG_FQN).schema]
        storage.write_table(df.select(*existing_cols), RUN_LOG_FQN, "append", ("snapshot_date",))
    else:
        storage.write_table(df, RUN_LOG_FQN, "overwrite", ("snapshot_date",))


def _ensure_finalize_columns(spark: SparkSession) -> None:
    """Schema evolution: add missing finalize columns
    (finalize_run_log.py:82-93 DESCRIBE + ALTER TABLE ADD COLUMNS)."""
    existing = {f.name for f in spark.table(RUN_LOG_FQN).schema}
    missing = [(c, t) for c, t in FINALIZE_COLUMNS if c not in existing]
    if not missing:
        return
    df = spark.table(RUN_LOG_FQN)
    for c, t in missing:
        df = df.withColumn(c, F.lit(None).cast(t))
    _overwrite_run_log(spark, df)


def finalize_run(
    spark: SparkSession,
    run_id: str,
    run_status: str,
    finished_ts_utc: dt.datetime | None = None,
    note: str | None = None,
) -> None:
    """Set terminal status on the run's row (finalize_run_log.py:191-202)."""
    _ensure_finalize_columns(spark)
    df = spark.table(RUN_LOG_FQN)
    is_target = F.col("run_id") == F.lit(run_id)
    updated = (
        df.withColumn("run_status", F.when(is_target, F.lit(run_status)).otherwise(F.col("run_status")))
        .withColumn(
            "finished_ts_utc",
            F.when(is_target, F.lit(finished_ts_utc).cast("timestamp")).otherwise(
                F.col("finished_ts_utc")
            ),
        )
        .withColumn(
            "finalized_ts_utc",
            F.when(is_target, F.current_timestamp()).otherwise(F.col("finalized_ts_utc")),
        )
        .withColumn("finalize_note", F.when(is_target, F.lit(note)).otherwise(F.col("finalize_note")))
    )
    _overwrite_run_log(spark, updated)


def latest_run_status(spark: SparkSession) -> str | None:
    """(post_deploy_smoke_checks.py:240-245): latest row by
    COALESCE(finalized_ts_utc, ingest_ts_utc)."""
    if not spark.catalog.tableExists(RUN_LOG_FQN):
        return None
    df = spark.table(RUN_LOG_FQN)
    if "run_status" not in df.columns:
        return None
    rows = (
        df.orderBy(F.coalesce(F.col("finalized_ts_utc"), F.col("ingest_ts_utc")).desc())
        .limit(1)
        .select("run_status")
        .collect()
    )
    return rows[0][0] if rows else None


def _overwrite_run_log(spark: SparkSession, df) -> None:
    rows = df.collect()  # run log is O(runs) tiny — driver-side rewrite is fine
    storage.write_table(
        storage.local_frame(spark, rows, df.schema), RUN_LOG_FQN, "overwrite", ("snapshot_date",)
    )
