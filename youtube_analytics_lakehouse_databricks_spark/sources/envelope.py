"""Bronze envelope ingestion: pluggable fetcher -> idempotent append sink.

Mirrors the reference's write path (reference:
job_tasks/bronze/ingest_data_api_to_bronze.py:185-200 `_write_payload`,
:91-93 `_delete_existing_run_rows`): build 7-column envelope rows, delete
any prior rows for the run_id (re-run safety), append. One probe job
finds which touched tables hold such rows; the tables are then appended
one after another, each from a JVM `LocalRelation` (storage.local_frame),
so no ingest job runs Python workers.

The HTTP client sits behind the PayloadSource protocol so tests inject
fixture payloads (SURVEY §7.1 `ingest/`); a real deployment plugs an
OAuth'd REST fetcher with pagination/fallback policy — driver-side Python,
exactly like the reference.

Storage note: on Delta, delete-by-run_id is a metadata-only `DELETE FROM`;
this OSS-parquet build rewrites the non-matching rows (read-filter-
overwrite), correct at any scale but O(table). Bronze tables are
partitioned by snapshot_date so the rewrite prunes to the affected
partitions.
"""

from __future__ import annotations

import datetime as dt
import functools
import json
import uuid
from collections.abc import Iterable
from dataclasses import dataclass
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import contract, storage


@dataclass(frozen=True)
class RunContext:
    """Per-run metadata flowing through every task
    (reference: job_tasks/bronze/init_run_context.py:161-178 task values)."""

    run_id: str
    snapshot_date: dt.date
    ingest_ts_utc: dt.datetime
    source_system: str = contract.SOURCE_SYSTEM
    schema_version: str = contract.SCHEMA_VERSION

    @staticmethod
    def new(snapshot_date: dt.date | None = None) -> "RunContext":
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        return RunContext(
            run_id=str(uuid.uuid4()),
            snapshot_date=snapshot_date or now.date(),
            ingest_ts_utc=now,
        )


class PayloadSource(Protocol):
    """A source yields (table_name, payload_dict) pairs for one run."""

    def fetch(self, ctx: RunContext) -> Iterable[tuple[str, dict]]: ...


def envelope_rows(ctx: RunContext, payloads: Iterable[tuple[str, dict]]) -> dict[str, list[tuple]]:
    """Group payloads into per-table envelope rows (one request_id each)."""
    out: dict[str, list[tuple]] = {}
    for table, payload in payloads:
        out.setdefault(table, []).append(
            (
                ctx.snapshot_date,
                ctx.ingest_ts_utc,
                ctx.source_system,
                str(uuid.uuid4()),
                ctx.schema_version,
                ctx.run_id,
                json.dumps(payload, separators=(",", ":")),
            )
        )
    return out


def tables_with_run(spark: SparkSession, fqns: list[str], run_id: str) -> set[str]:
    """The tables among ``fqns`` holding rows a prior attempt of this run
    wrote (reference: ingest_data_api_to_bronze.py:91-93), found in one
    job: the per-table ``run_id = ?`` probes are unioned and collected
    once. Each probe returns only its table's name, one row per prior
    row, so a first attempt brings back nothing. Parameterized to avoid
    the reference's string-escaping dance (SURVEY §4 last row)."""
    probes = [
        spark.table(fqn).filter(F.col("run_id") == F.lit(run_id)).select(F.lit(fqn).alias("fqn"))
        for fqn in fqns
        if spark.catalog.tableExists(fqn)
    ]
    if not probes:
        return set()
    return {r["fqn"] for r in functools.reduce(DataFrame.unionAll, probes).collect()}


def append_envelopes(spark: SparkSession, table: str, rows: list[tuple]) -> None:
    fqn = f"bronze.{table}"
    df = storage.local_frame(spark, rows, contract.BRONZE_SCHEMA)
    mode = "append" if spark.catalog.tableExists(fqn) else "overwrite"
    # Bronze layout: partitioned by snapshot_date so downstream date
    # predicates prune files (bootstrap_unity_catalog.sql:26 et al.).
    storage.write_table(df, fqn, mode, ("snapshot_date",))


def ingest(spark: SparkSession, source: PayloadSource, ctx: RunContext) -> dict[str, int]:
    """Full ingestion pass: fetch -> delete prior run rows -> append.
    Returns rows written per table."""
    grouped = envelope_rows(ctx, source.fetch(ctx))
    rerun = tables_with_run(spark, [f"bronze.{t}" for t in grouped], ctx.run_id)
    written: dict[str, int] = {}
    for table, rows in grouped.items():
        fqn = f"bronze.{table}"
        if fqn in rerun:
            # On Delta a metadata-level DELETE; on parquet a staged rewrite
            # of the complement, pruned to the affected snapshot_date
            # partitions.
            sanitized = ctx.run_id.replace("'", "''")
            storage.delete_where(spark, fqn, f"run_id = '{sanitized}'")
        append_envelopes(spark, table, rows)
        written[table] = len(rows)
    return written
