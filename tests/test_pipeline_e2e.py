"""End-to-end medallion pipeline test over the FIXTURES.md payload families.

Three ingest generations with overlapping business keys, then one full
runner pass. Asserts golden values + the invariant suite from SURVEY §5:
latest-wins dedup, SCD2 version windows, FK closure, grain uniqueness,
dimension normalization, gold NULL policy.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.runner import run_pipeline
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import ingest
from youtube_analytics_lakehouse_databricks_spark.sources.fixtures import CHANNEL_ID, FixtureSource, run_contexts

TODAY = "2025-08-04"


# Spark jobs the fixture's run_pipeline call submitted, in total.
RUN_JOBS: dict[str, int] = {}


@pytest.fixture(scope="module", autouse=True)
def pipeline_run(spark):
    ensure_schemas(spark)
    ctxs = run_contexts(3)
    ingest(spark, FixtureSource(gen=1), ctxs[0])
    ingest(spark, FixtureSource(gen=2), ctxs[1])
    next_job_id = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    start = next_job_id()
    report = run_pipeline(spark, FixtureSource(gen=3), ctxs[2], today=TODAY, optimize=True)
    RUN_JOBS["total"] = next_job_id() - start
    return report


def test_runner_reports_success(pipeline_run):
    assert pipeline_run["status"] == "success"
    assert len(pipeline_run["refreshed"]) == 19  # 14 silver + 5 gold
    assert pipeline_run["ingested"]["videos_raw"] == 1


def test_runner_reports_every_stage(pipeline_run):
    """Each stage reports its wall time and jobs; the stages cover the
    whole run, so their jobs add up to every job the run submitted."""
    stages = pipeline_run["stages"]
    assert list(stages) == ["init", "ingest", "contract", "refresh", "optimize", "smoke", "finalize"]
    assert all(s["wall_s"] >= 0 and s["jobs"] >= 0 for s in stages.values())
    assert stages["refresh"]["jobs"] > 0 and stages["ingest"]["jobs"] > 0
    assert sum(s["jobs"] for s in stages.values()) == RUN_JOBS["total"]


def test_runner_optimize_zorders_gold_facts(pipeline_run, spark):
    """The optimize stage compacts bronze and ZORDERs every gold fact on
    its (date, dimension key) defaults; tables stay readable after."""
    opt = pipeline_run["optimize"]
    from youtube_analytics_lakehouse_databricks_spark.ops.maintenance import ZORDER_DEFAULTS

    for fqn in ZORDER_DEFAULTS:
        assert opt[fqn] == "optimized_zorder", (fqn, opt[fqn])
        assert spark.table(fqn).count() > 0
    assert all(v.startswith(("optimized", "skipped")) for v in opt.values()), opt


def test_silver_channels_latest_wins(spark):
    rows = spark.table("silver.silver_channels").collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["channel_id"] == CHANNEL_ID
    assert r["channel_title"] == "Test Channel v3"  # gen3 snapshot wins
    assert r["channel_view_count"] == 103000
    assert r["snapshot_date"] == dt.date(2025, 8, 3)


def test_scd2_versions(spark):
    scd2 = spark.table("silver.silver_video_metadata_scd2")
    by_vid = {
        r["video_id"]: r
        for r in scd2.groupBy("video_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # vid_001 title changed at gen2 -> 2 versions
    assert by_vid["vid_001"]["n"] == 2
    # vid_002 flips description NULL<->'' -> hash collapse -> 1 version
    assert by_vid["vid_002"]["n"] == 1
    # vid_003 unchanged -> 1 version
    assert by_vid["vid_003"]["n"] == 1

    # exactly one is_current per video
    cur = scd2.filter("is_current").groupBy("video_id").count().collect()
    assert all(r["count"] == 1 for r in cur)

    # closed version: valid_to = next valid_from - 1 microsecond
    v1 = scd2.filter("video_id = 'vid_001'").orderBy("valid_from_utc").collect()
    closed, current = v1[0], v1[1]
    assert not closed["is_current"] and current["is_current"]
    assert closed["valid_to_utc"] == current["valid_from_utc"] - dt.timedelta(microseconds=1)
    assert current["valid_to_utc"] == dt.datetime(9999, 12, 31, 23, 59, 59, 999999)


def test_silver_videos_fk_to_current_version(spark):
    videos = spark.table("silver.silver_videos")
    assert videos.count() == 3
    scd2_current = spark.table("silver.silver_video_metadata_scd2").filter("is_current")
    joined = videos.join(
        scd2_current.select("video_meta_sk"),
        videos.current_video_meta_sk == scd2_current.video_meta_sk,
    )
    assert joined.count() == 3  # every FK resolves to a current version


def test_fact_channel_daily_grain_and_values(spark):
    f = spark.table("silver.fact_channel_daily_metrics")
    rows = {str(r["date"]): r for r in f.collect()}
    assert set(rows) == {"2025-08-01", "2025-08-02"}
    r = rows["2025-08-01"]
    assert r["channel_id"] == CHANNEL_ID
    assert r["views"] == 103  # gen3 wins
    assert r["subscribers_gained"] == 5 and r["subscribers_lost"] == 1


def test_fact_traffic_source_normalization(spark):
    f = spark.table("silver.fact_video_traffic_source_metrics")
    sources = {r["source_id"] for r in f.select("source_id").distinct().collect()}
    # lowercase 'ext_url' uppercased; '' filtered out; unknown kept
    assert "EXT_URL" in sources and "" not in sources and "MYSTERY_SOURCE" in sources
    # gen2 had no 'day' header -> date fell back to snapshot_date 2025-08-02.
    # NOTIFICATION rows exist only in gen2, so they survive dedup and show
    # the fallback; all other gen2 rows were superseded by gen3 (latest wins).
    gen2_only = f.filter(F.col("source_id") == "NOTIFICATION").collect()
    assert gen2_only
    assert all(
        r["date"] == r["snapshot_date"] == dt.date(2025, 8, 2) for r in gen2_only
    )
    # and for contested keys, the gen3 snapshot won
    contested = f.filter((F.col("source_id") == "YT_SEARCH") & (F.col("date") == "2025-08-02"))
    assert all(r["snapshot_date"] == dt.date(2025, 8, 3) for r in contested.collect())


def test_dim_country_reference_enrichment(spark):
    d = {r["country_code"]: r["country_name"] for r in spark.table("silver.dim_country").collect()}
    assert d["US"] == "United States of America"
    assert d["DE"] == "Germany"  # lowercase 'de' normalized then matched
    assert d["XX"] == "XX"  # not in reference -> code fallback


def test_dim_date_weekend_convention(spark):
    d = {str(r["date"]): r for r in spark.table("silver.dim_date").collect()}
    # 2025-08-02 is a Saturday (Spark dayofweek=7), 2025-08-01 a Friday (6)
    assert d["2025-08-02"]["day_of_week"] == 7 and d["2025-08-02"]["is_weekend"]
    assert d["2025-08-01"]["day_of_week"] == 6 and not d["2025-08-01"]["is_weekend"]


def test_gold_channel_net_subscribers(spark):
    g = spark.table("gold.gold_channel_daily_summary").collect()
    assert all(r["net_subscribers"] == r["subscribers_gained"] - r["subscribers_lost"] for r in g)


def test_gold_country_coalesce_and_name(spark):
    g = spark.table("gold.gold_video_country_daily_summary")
    # per-dimension marts coalesce emw to 0 — never NULL
    assert g.filter(F.col("estimated_minutes_watched").isNull()).count() == 0
    assert g.filter((F.col("country_code") == "US") & (F.col("country_name") != "United States of America")).count() == 0


def test_gold_video_daily_no_coalesce_policy(spark):
    # gold_video_daily_summary does NOT coalesce emw (SURVEY §7.4.10);
    # fixture always supplies emw so values are non-null here, but the
    # channel_id join must resolve for every video.
    g = spark.table("gold.gold_video_daily_summary")
    assert g.filter(F.col("channel_id").isNull()).count() == 0


def test_quality_suite_green(pipeline_run):
    failed = {
        name: r
        for name, r in pipeline_run["quality"].items()
        if not r["passed"] and r["severity"] == "error"
    }
    assert not failed
    # the unknown traffic source trips the warn-only monitor by design
    assert pipeline_run["quality"]["warn_new_traffic_sources"]["count"] == 1


def test_smoke_checks(spark, pipeline_run):
    # In-run smoke (reference order: smoke before finalize_run_log) sees the
    # run log before this run's terminal status lands.
    smoke = pipeline_run["smoke"]
    assert smoke["objects_exist"]["passed"], smoke["objects_exist"]
    assert smoke["core_gold_nonempty"]["passed"]
    assert smoke["gold_recency"]["passed"]
    # Post-run (the reference's standalone post-deploy script): the finalized
    # status is now visible.
    from youtube_analytics_lakehouse_databricks_spark.ops.smoke import smoke_checks

    post = smoke_checks(spark, today=TODAY)
    assert post["latest_run_success"]["passed"], post["latest_run_success"]
