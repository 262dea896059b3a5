"""The full medallion pipeline graph: 14 silver + 5 gold view definitions
wired with their dependencies (reference DAG per SURVEY §3.1 step 3:
silver_videos <- scd2; dim_country <- dim_country_reference;
dim_date <- 5 facts; fact_channel_daily_metrics <- silver_channels;
gold <- silver)."""

from __future__ import annotations

from youtube_analytics_lakehouse_databricks_spark.models import gold, reference_data, silver
from youtube_analytics_lakehouse_databricks_spark.plans import PipelineGraph, ViewDef


def build_graph() -> PipelineGraph:
    g = PipelineGraph()
    s = [
        ViewDef("dim_country_reference", "silver", (), reference_data.dim_country_reference),
        ViewDef(
            "silver_channels",
            "silver",
            (),
            silver.silver_channels,
            merge_keys=("channel_id",),
        ),
        ViewDef(
            "silver_video_stats_snapshot",
            "silver",
            (),
            silver.silver_video_stats_snapshot,
            merge_keys=("video_id", "fetched_at_utc"),
            merge_order=("request_id",),
        ),
        ViewDef(
            "silver_video_metadata_scd2",
            "silver",
            (),
            silver.silver_video_metadata_scd2,
            custom_incremental=lambda spark: silver.scd2_incremental_refresh(spark, "auto"),
        ),
        ViewDef("silver_videos", "silver", ("silver_video_metadata_scd2",), silver.silver_videos),
        ViewDef(
            "fact_channel_daily_metrics",
            "silver",
            ("silver_channels",),
            silver.fact_channel_daily_metrics,
        ),
        ViewDef(
            "fact_video_daily_metrics",
            "silver",
            (),
            silver.fact_video_daily_metrics,
            partition_by=("date",),
            merge_keys=("video_id", "date"),
        ),
        ViewDef(
            "fact_video_traffic_source_metrics",
            "silver",
            (),
            silver.fact_video_traffic_source_metrics,
            partition_by=("date",),
            merge_keys=("video_id", "date", "source_id"),
        ),
        ViewDef(
            "fact_video_country_metrics",
            "silver",
            (),
            silver.fact_video_country_metrics,
            partition_by=("date",),
            merge_keys=("video_id", "date", "country_code"),
        ),
        ViewDef(
            "fact_video_device_metrics",
            "silver",
            (),
            silver.fact_video_device_metrics,
            partition_by=("date",),
            merge_keys=("video_id", "date", "device_type"),
        ),
        ViewDef("dim_traffic_source", "silver", (), silver.dim_traffic_source),
        ViewDef("dim_country", "silver", ("dim_country_reference",), silver.dim_country),
        ViewDef("dim_device", "silver", (), silver.dim_device),
        ViewDef(
            "dim_date",
            "silver",
            (
                "fact_channel_daily_metrics",
                "fact_video_daily_metrics",
                "fact_video_traffic_source_metrics",
                "fact_video_country_metrics",
                "fact_video_device_metrics",
            ),
            silver.dim_date,
        ),
    ]
    gl = [
        ViewDef(
            "gold_channel_daily_summary",
            "gold",
            ("fact_channel_daily_metrics",),
            gold.gold_channel_daily_summary,
        ),
        ViewDef(
            "gold_video_daily_summary",
            "gold",
            ("fact_video_daily_metrics", "silver_videos"),
            gold.gold_video_daily_summary,
        ),
        ViewDef(
            "gold_video_country_daily_summary",
            "gold",
            ("fact_video_country_metrics", "silver_videos", "dim_country"),
            gold.gold_video_country_daily_summary,
        ),
        ViewDef(
            "gold_video_device_daily_summary",
            "gold",
            ("fact_video_device_metrics", "silver_videos", "dim_device"),
            gold.gold_video_device_daily_summary,
        ),
        ViewDef(
            "gold_video_traffic_source_daily_summary",
            "gold",
            ("fact_video_traffic_source_metrics", "silver_videos", "dim_traffic_source"),
            gold.gold_video_traffic_source_daily_summary,
        ),
    ]
    for v in s + gl:
        g.register(v)
    return g
