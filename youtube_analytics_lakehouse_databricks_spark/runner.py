"""End-to-end job runner: the reference's orchestration DAG as plain Python.

Stage order (reference: databricks.yml:34-155):
init_run_context -> ingest -> contract gate -> silver+gold refresh
(Lakeflow + dbt stand-in; each gold table's quality tests run in the same
walk as soon as that table is written, like dbt `build`) -> optimize ->
smoke checks -> finalize (run_if ALL_DONE = a finally block).
"""

from __future__ import annotations

import contextlib
import dataclasses
import datetime as dt
import functools
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from youtube_analytics_lakehouse_databricks_spark import contract
from youtube_analytics_lakehouse_databricks_spark.models.pipeline import build_graph
from youtube_analytics_lakehouse_databricks_spark.ops.contract_check import (
    raise_on_contract_errors,
    validate_bronze_contract,
)
from youtube_analytics_lakehouse_databricks_spark.ops.maintenance import ZORDER_DEFAULTS, optimize_tables
from youtube_analytics_lakehouse_databricks_spark.ops.run_log import finalize_run, init_run_log
from youtube_analytics_lakehouse_databricks_spark.ops.smoke import smoke_checks
from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.quality import checks as q
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import PayloadSource, RunContext, ingest


GCD = "gold.gold_channel_daily_summary"
GVD = "gold.gold_video_daily_summary"
GVC = "gold.gold_video_country_daily_summary"
GVDEV = "gold.gold_video_device_daily_summary"
GVT = "gold.gold_video_traffic_source_daily_summary"


def gold_check_specs(
    today: str | None = None,
) -> list[tuple[str, tuple[str, ...], Callable[..., q.CheckResult]]]:
    """The dbt test suite (reference: dbt/models/schema.yml:18-126 +
    dbt/tests/*.sql) in report order: (check name, the tables it reads —
    its gold table first, then an FK parent — and a build over their
    frames)."""
    metrics = ["views", "estimated_minutes_watched"]
    metrics_comments = ["views", "comments", "estimated_minutes_watched"]
    return [
        # uniqueness at grain (test_gold_*_unique.sql)
        ("gold_channel_daily_unique", (GCD,), lambda d: q.unique_grain(d, ["channel_id", "date"])),
        ("gold_video_daily_unique", (GVD,), lambda d: q.unique_grain(d, ["video_id", "date"])),
        (
            "gold_video_country_unique",
            (GVC,),
            lambda d: q.unique_grain(d, ["video_id", "date", "country_code"]),
        ),
        (
            "gold_video_device_unique",
            (GVDEV,),
            lambda d: q.unique_grain(d, ["video_id", "date", "device_type"]),
        ),
        (
            "gold_video_traffic_unique",
            (GVT,),
            lambda d: q.unique_grain(d, ["video_id", "date", "source_id"]),
        ),
        # not_null keys (schema.yml)
        ("gold_channel_daily_not_null", (GCD,), lambda d: q.not_null(d, ["channel_id", "date", "views"])),
        ("gold_video_daily_not_null", (GVD,), lambda d: q.not_null(d, ["video_id", "channel_id", "date"])),
        ("gold_video_country_not_null", (GVC,), lambda d: q.not_null(d, ["video_id", "date", "country_code"])),
        ("gold_video_device_not_null", (GVDEV,), lambda d: q.not_null(d, ["video_id", "date", "device_type"])),
        ("gold_video_traffic_not_null", (GVT,), lambda d: q.not_null(d, ["video_id", "date", "source_id"])),
        # relationships (schema.yml:48-53, 69-74, 99-104, 120-125)
        (
            "gold_video_daily_fk_videos",
            (GVD, "silver.silver_videos"),
            lambda d, p: q.relationships(d, p, "video_id"),
        ),
        (
            "gold_video_country_fk_dim",
            (GVC, "silver.dim_country"),
            lambda d, p: q.relationships(d, p, "country_code"),
        ),
        (
            "gold_video_device_fk_dim",
            (GVDEV, "silver.dim_device"),
            lambda d, p: q.relationships(d, p, "device_type"),
        ),
        (
            "gold_video_traffic_fk_dim",
            (GVT, "silver.dim_traffic_source"),
            lambda d, p: q.relationships(d, p, "source_id"),
        ),
        # accepted device values (schema.yml:90-98)
        (
            "device_enum",
            (GVDEV,),
            lambda d: q.accepted_values(d, "device_type", contract.ACCEPTED_DEVICE_TYPES),
        ),
        # non-negative metrics (test_gold_metrics_non_negative.sql)
        ("gcd_non_negative", (GCD,), lambda d: q.non_negative(d, metrics_comments)),
        ("gvd_non_negative", (GVD,), lambda d: q.non_negative(d, metrics_comments)),
        ("gvc_non_negative", (GVC,), lambda d: q.non_negative(d, metrics)),
        ("gvdev_non_negative", (GVDEV,), lambda d: q.non_negative(d, metrics)),
        ("gvt_non_negative", (GVT,), lambda d: q.non_negative(d, metrics)),
        # freshness (test_gold_freshness_recency.sql; injectable today)
        ("gcd_freshness", (GCD,), lambda d: q.freshness(d, "date", 7, today)),
        ("gvd_freshness", (GVD,), lambda d: q.freshness(d, "date", 7, today)),
        # warn-only traffic source monitor (warn_new_traffic_source_ids.sql)
        (
            "warn_new_traffic_sources",
            (GVT,),
            lambda d: q.warn_unknown_values(d, "source_id", contract.KNOWN_TRAFFIC_SOURCES),
        ),
    ]


def gold_quality_checks(
    spark: SparkSession, today: str | None = None, table: str | None = None
) -> list[q.CheckResult]:
    """The dbt test suite as DataFrame checks, in report order. ``table``
    keeps only the checks on that gold table; only the tables the kept
    checks read are resolved, so the others need not exist yet. Checks on
    one table share one frame, so run_checks fuses them."""
    frames: dict[str, DataFrame] = {}
    out = []
    for name, reads, build in gold_check_specs(today):
        if table not in (None, reads[0]):
            continue
        for fqn in reads:
            if fqn not in frames:
                frames[fqn] = spark.table(fqn)
        out.append(dataclasses.replace(build(*(frames[f] for f in reads)), name=name))
    return out


def _check_tasks(spark: SparkSession, today: str | None, results: dict) -> dict:
    """One refresh-walk task per checked gold table: run_checks over its
    checks once the table and its FK parent are written; writes nothing,
    puts the counts into ``results``."""
    reads: dict[str, set[str]] = {}
    for _, tables, _ in gold_check_specs(today):
        reads.setdefault(tables[0], set()).update(tables)

    def check(table: str) -> None:
        results.update(q.run_checks(gold_quality_checks(spark, today, table=table)))

    return {f"checks:{t}": (deps, functools.partial(check, t)) for t, deps in reads.items()}


@contextlib.contextmanager
def _stage(report: dict, name: str, next_job_id: Callable[[], int]):
    """Record the stage's wall time and Spark jobs in report["stages"].
    Jobs are the growth of the scheduler's next job id, which runs no job
    and also sees jobs the refresh pool's threads submit."""
    t0, j0 = time.perf_counter(), next_job_id()
    try:
        yield
    finally:
        report["stages"][name] = {
            "wall_s": round(time.perf_counter() - t0, 3),
            "jobs": next_job_id() - j0,
        }


def run_pipeline(
    spark: SparkSession,
    source: PayloadSource,
    ctx: RunContext | None = None,
    today: str | None = None,
    optimize: bool = False,
) -> dict:
    """One full run. Returns a structured report; raises on hard failures
    after finalizing the run log (run_if: ALL_DONE semantics).
    ``report["stages"]`` holds each stage's ``wall_s`` and ``jobs``."""
    ctx = ctx or RunContext.new()
    report: dict = {"run_id": ctx.run_id, "stages": {}}
    next_job_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    with _stage(report, "init", next_job_id):
        ensure_schemas(spark)
        init_run_log(spark, ctx)
    status = "success"
    try:
        with _stage(report, "ingest", next_job_id):
            report["ingested"] = ingest(spark, source, ctx)
        # Catalog contract gate (unity_catalog_setup.py:195-236): only the
        # tables this run touched — a fresh warehouse may not have all 8.
        with _stage(report, "contract", next_job_id):
            report["contract_errors"] = validate_bronze_contract(
                spark, tables=sorted(report["ingested"])
            )
            raise_on_contract_errors(report["contract_errors"])
        # The gold checks run inside the refresh walk, each table's as soon
        # as it and its FK parent are written (dbt `build` order).
        quality: dict[str, dict] = {}
        with _stage(report, "refresh", next_job_id):
            report["refreshed"] = build_graph().refresh(spark, tasks=_check_tasks(spark, today, quality))
        report["quality"] = {name: quality[name] for name, _, _ in gold_check_specs(today)}
        hard_failures = [
            name
            for name, r in report["quality"].items()
            if not r["passed"] and r["severity"] == "error"
        ]
        if hard_failures:
            status = "failed"
            report["failed_checks"] = hard_failures
        if optimize:
            # Bronze: plain small-file compaction. Gold facts: ZORDER on
            # (date, dimension key) so per-file min/max stats prune scans
            # for either predicate family (ZORDER_DEFAULTS).
            with _stage(report, "optimize", next_job_id):
                report["optimize"] = optimize_tables(
                    spark,
                    [f"bronze.{t}" for t in contract.BRONZE_TABLES] + sorted(ZORDER_DEFAULTS),
                    zorder_cols=ZORDER_DEFAULTS,
                )
        with _stage(report, "smoke", next_job_id):
            report["smoke"] = smoke_checks(spark, today=today)
    except Exception:
        status = "failed"
        raise
    finally:
        with _stage(report, "finalize", next_job_id):
            finalize_run(spark, ctx.run_id, status, dt.datetime.now(dt.timezone.utc).replace(tzinfo=None))
        report["status"] = status
    return report


def main() -> None:
    """CLI: run the full pipeline on the deterministic fixture source
    (three generations) and print the structured report as JSON."""
    import json

    from youtube_analytics_lakehouse_databricks_spark.session import get_spark
    from youtube_analytics_lakehouse_databricks_spark.sources.envelope import ingest as _ingest
    from youtube_analytics_lakehouse_databricks_spark.sources.fixtures import FixtureSource, run_contexts

    spark = get_spark(app_name="youtube_analytics_lakehouse_databricks_spark-runner")
    ctxs = run_contexts(3)
    ensure_schemas(spark)
    _ingest(spark, FixtureSource(gen=1), ctxs[0])
    _ingest(spark, FixtureSource(gen=2), ctxs[1])
    report = run_pipeline(spark, FixtureSource(gen=3), ctxs[2], today="2025-08-04", optimize=True)
    print(json.dumps(report, default=str, indent=2))


if __name__ == "__main__":
    main()
