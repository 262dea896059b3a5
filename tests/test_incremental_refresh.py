"""Incremental (merge) refresh must be indistinguishable from a full
recompute at every point in time."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import contract
from youtube_analytics_lakehouse_databricks_spark.models.pipeline import build_graph
from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import ingest
from youtube_analytics_lakehouse_databricks_spark.sources.fixtures import FixtureSource, run_contexts

MERGE_VIEWS = [
    "silver.silver_channels",
    "silver.silver_video_stats_snapshot",
    "silver.fact_video_daily_metrics",
    "silver.fact_video_traffic_source_metrics",
    "silver.fact_video_country_metrics",
    "silver.fact_video_device_metrics",
]


def _snapshot(spark, fqn):
    df = spark.table(fqn)
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())


def test_incremental_equals_full(spark):
    ensure_schemas(spark)
    graph = build_graph()
    ctxs = run_contexts(3)

    # isolate from tables earlier tests may have left behind: with bronze
    # already holding generations 2-3, the bootstrap would cover them and
    # the merge below would find nothing new
    for fqn in [
        *MERGE_VIEWS,
        "ops.refresh_watermarks",
        *(f"bronze.{t}" for t in contract.BRONZE_TABLES),
        "silver.video_metadata_typed",
        "silver.silver_video_metadata_scd2",
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {fqn}")

    # bootstrap on generation 1
    ingest(spark, FixtureSource(gen=1), ctxs[0])
    modes = graph.refresh_incremental(spark)
    assert all(m in ("bootstrap", "full") for m in modes.values())

    # generations 2 and 3 arrive; merge only the delta
    ingest(spark, FixtureSource(gen=2), ctxs[1])
    ingest(spark, FixtureSource(gen=3), ctxs[2])
    modes = graph.refresh_incremental(spark)
    for fqn in MERGE_VIEWS:
        assert modes[fqn] == "merged", (fqn, modes[fqn])
    incr = {fqn: _snapshot(spark, fqn) for fqn in MERGE_VIEWS}

    # a from-scratch full recompute over the same bronze must agree exactly
    graph.refresh(spark)
    full = {fqn: _snapshot(spark, fqn) for fqn in MERGE_VIEWS}
    assert incr == full

    # nothing new -> no-op, and tables unchanged
    modes = graph.refresh_incremental(spark)
    for fqn in MERGE_VIEWS:
        assert modes[fqn] == "noop", (fqn, modes[fqn])
    assert _snapshot(spark, MERGE_VIEWS[0]) == full[MERGE_VIEWS[0]]


def test_incremental_delta_scan_is_pruned(spark):
    """The delta build must read only new envelopes (watermark pushdown)."""
    import io
    from contextlib import redirect_stdout

    from youtube_analytics_lakehouse_databricks_spark.models import silver
    from youtube_analytics_lakehouse_databricks_spark.plans.watermarks import get_watermark

    since = get_watermark(spark, "silver.fact_video_daily_metrics")
    assert since is not None
    df = silver.fact_video_daily_metrics(spark, since)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThan(ingest_ts_utc" in plan, plan
    assert df.limit(1).count() == 0  # everything already processed


def test_backfill_of_older_snapshot_is_merged(spark):
    """A late re-ingest carrying an OLDER snapshot_date but a newer
    ingest_ts (the reference's rolling-lookback pattern) must still flow
    through the incremental merge — the snapshot predicate is pruning
    with a margin, not a correctness filter."""
    import datetime as dt

    from youtube_analytics_lakehouse_databricks_spark.sources.envelope import RunContext

    ensure_schemas(spark)
    graph = build_graph()
    # this test owns the full bronze + silver state
    for fqn in [
        *MERGE_VIEWS,
        "ops.refresh_watermarks",
        *[f"bronze.{t}" for t in contract.BRONZE_TABLES],
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {fqn}")
    ctxs = run_contexts(2)
    ingest(spark, FixtureSource(gen=1), ctxs[0])
    ingest(spark, FixtureSource(gen=2), ctxs[1])
    graph.refresh_incremental(spark)
    before = spark.table("silver.silver_channels").collect()[0]
    assert before["channel_title"] == "Test Channel v2"

    # backfill: snapshot_date DAY 1 (older than the watermark's day 2)
    # but ingested now — under latest-wins it must lose to gen2's newer
    # snapshot, and crucially it must be *seen* by the merge (not dropped)
    backfill = RunContext(
        run_id="run-backfill",
        snapshot_date=dt.date(2025, 8, 1),
        ingest_ts_utc=dt.datetime(2025, 8, 2, 23, 0, 0),
    )
    ingest(spark, FixtureSource(gen=9), backfill)
    modes = graph.refresh_incremental(spark)
    assert modes["silver.silver_channels"] == "merged"
    after = spark.table("silver.silver_channels").collect()[0]
    # gen2's snapshot_date (day 2) still wins the recency order
    assert after["channel_title"] == "Test Channel v2"
    # but the backfill's stats rows landed in the per-fetch snapshot table
    stats = spark.table("silver.silver_video_stats_snapshot")
    assert stats.filter("run_id = 'run-backfill'").count() > 0


def test_scd2_incremental_equals_full(spark):
    """The SCD2 splice (typed-stage append + affected-key rebuild) must be
    indistinguishable from a full recompute, including version windows."""
    from youtube_analytics_lakehouse_databricks_spark.models import silver

    ensure_schemas(spark)
    for fqn in [
        "silver.video_metadata_typed",
        "silver.silver_video_metadata_scd2",
        "ops.refresh_watermarks",
        "bronze.videos_raw",  # this test owns the full bronze history
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {fqn}")
    ctxs = run_contexts(3)
    ingest(spark, FixtureSource(gen=1), ctxs[0])
    assert silver.scd2_incremental_refresh(spark, "auto") == "bootstrap"
    ingest(spark, FixtureSource(gen=2), ctxs[1])
    assert silver.scd2_incremental_refresh(spark, "auto") == "merged"
    ingest(spark, FixtureSource(gen=3), ctxs[2])
    assert silver.scd2_incremental_refresh(spark, "auto") == "merged"
    incr = _snapshot(spark, "silver.silver_video_metadata_scd2")

    full = silver.silver_video_metadata_scd2(spark)
    cols = sorted(full.columns)
    full_rows = sorted(tuple(str(v) for v in r) for r in full.select(*cols).collect())
    assert incr == full_rows

    # idempotent: nothing new -> noop
    assert silver.scd2_incremental_refresh(spark, "auto") == "noop"
