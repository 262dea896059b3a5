"""Refresh watermarks: per-view high-water mark of processed envelopes.

A tiny ops table (O(views) rows) read once per incremental refresh; the
same role Delta's MV refresh metadata plays in the reference's managed
runtime.

Concurrency contract: the refresh pipeline is a SINGLE WRITER PROCESS
(the reference's job orchestration runs one pipeline refresh at a time —
databricks.yml triggered jobs). Within that process, independent views
refresh on a thread pool, so ``set_watermark``'s read-modify-write of the
whole table is serialized with an in-process lock (losing a concurrent
update would drop ANOTHER view's fresh watermark row, forcing it into a
harmless but wasteful re-merge). Do not run two refreshes of the same
warehouse from different processes.
"""

from __future__ import annotations

import datetime as dt
import threading

_WRITE_LOCK = threading.Lock()

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

WATERMARKS_FQN = "ops.refresh_watermarks"


def get_watermark(spark: SparkSession, view_fqn: str) -> dt.datetime | None:
    # Reads take the same lock as set_watermark: the overwrite saveAsTable in
    # write_table is drop-and-rewrite (not atomic), so an unlocked read racing
    # a concurrent view's set_watermark could hit a transient missing-table
    # window and silently return None, forcing a spurious full re-merge. The
    # table is O(views) rows, so serializing reads costs nothing.
    with _WRITE_LOCK:
        if not spark.catalog.tableExists(WATERMARKS_FQN):
            return None
        rows = (
            spark.table(WATERMARKS_FQN)
            .filter(F.col("view_fqn") == F.lit(view_fqn))  # Column predicate: no string interpolation
            .select("high_water_ts")
            .collect()
        )
    return rows[0][0] if rows else None


def set_watermark(spark: SparkSession, view_fqn: str, ts: dt.datetime | None) -> None:
    if ts is None:
        return
    with _WRITE_LOCK:
        spark.sql("CREATE DATABASE IF NOT EXISTS ops")
        current: dict[str, dt.datetime] = {}
        if spark.catalog.tableExists(WATERMARKS_FQN):
            current = {
                r["view_fqn"]: r["high_water_ts"] for r in spark.table(WATERMARKS_FQN).collect()
            }
        current[view_fqn] = ts
        from youtube_analytics_lakehouse_databricks_spark import storage

        storage.write_table(
            storage.local_frame(
                spark, list(current.items()), "view_fqn string, high_water_ts timestamp"
            ),
            WATERMARKS_FQN,
            "overwrite",
        )
