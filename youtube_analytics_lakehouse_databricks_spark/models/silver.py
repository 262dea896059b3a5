"""Silver layer: 13 view builders + the country reference (14 MVs total).

Each builder re-expresses one reference materialized view in the DataFrame
API (reference: lakeflow/bronze_to_silver_pipeline.sql, cited per builder
as P:<lines>). Semantics preserved exactly per SURVEY.md §7.4:
- latest-wins dedup ordering `snapshot_date DESC, ingest_ts_utc DESC,
  request_id DESC` (request_id UUID lexicographic tiebreak);
- SCD2 NULL-vs-'' hash collapse via coalesce(x,'') and '||' separators;
- non-ANSI element_at/array_position NULL-and-0 behavior;
- primitivesAsString on the analytics matrix parse;
- dayofweek 1=Sunday, weekend = {1,7}.

Scale notes: every dedup window shuffles on its business key (the natural
partitioning); the analytics parse chains are narrow (parse -> explode ->
project) so Catalyst collapses them into one stage; `current_channel` is a
1-row broadcast cross join; the dim_country reference join broadcasts the
249-row side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import contract

ENVELOPE_META = ["snapshot_date", "ingest_ts_utc", "request_id", "run_id", "schema_version"]

def _recency_order() -> list[Column]:
    """snapshot_date DESC, ingest_ts_utc DESC, request_id DESC — the
    latest-wins ordering used at all 11 dedup sites (P:48-51)."""
    return [
        F.col("snapshot_date").desc(),
        F.col("ingest_ts_utc").desc(),
        F.col("request_id").desc(),
    ]


# Partition-pruning margin for incremental scans: new envelopes may carry
# snapshot_dates up to this many days older than their ingest time (the
# reference re-ingests a rolling lookback window, default 7 days —
# ingest_analytics_api_to_bronze.py:46; 30 gives ample slack for backfills).
# It must be >= the source's actual re-ingest window or incremental refresh
# silently diverges from a full recompute.
BACKFILL_LOOKBACK_DAYS = 30


def _bronze(spark: SparkSession, table: str, since=None) -> DataFrame:
    """Bronze scan, optionally restricted to envelopes newer than a
    watermark. Correctness comes from the exact ingest_ts predicate; the
    snapshot_date predicate only prunes partitions and keeps a lookback
    margin so late backfills of older snapshots are still picked up."""
    raw = spark.table(table)
    if since is not None:
        since_date = since.date() if hasattr(since, "date") else since
        raw = raw.filter(
            (F.col("snapshot_date") >= F.date_sub(F.lit(since_date), BACKFILL_LOOKBACK_DAYS))
            & (F.col("ingest_ts_utc") > F.lit(since))
        )
    return raw


def _parse_items(spark: SparkSession, table: str, schema: str, since=None) -> DataFrame:
    """Envelope -> explode_outer(from_json(payload).items) AS item (P:10-23)."""
    raw = _bronze(spark, table, since)
    return raw.select(
        *ENVELOPE_META,
        F.explode_outer(F.from_json("payload", schema).getField("items")).alias("item"),
    )


def _latest_wins(df: DataFrame, keys: list[str], order: list[Column] | None = None) -> DataFrame:
    """row_number() latest-wins dedup (P:45-53 et al., 11 sites)."""
    w = Window.partitionBy(*keys).orderBy(*(order or _recency_order()))
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")


# --------------------------------------------------------------------------
# Data-API entities
# --------------------------------------------------------------------------


def silver_channels(spark: SparkSession, since=None) -> DataFrame:
    """Latest channel snapshot per channel_id (P:8-71)."""
    parsed = _parse_items(spark, "bronze.channels_raw", contract.CHANNELS_SCHEMA, since)
    typed = parsed.filter(F.col("item.id").isNotNull()).select(
        F.col("item.id").alias("channel_id"),
        F.col("item.snippet.title").alias("channel_title"),
        F.col("item.snippet.description").alias("channel_description"),
        F.col("item.snippet.customUrl").alias("custom_url"),
        F.col("item.snippet.country").alias("channel_country_code"),
        F.to_timestamp("item.snippet.publishedAt").alias("channel_published_at_utc"),
        F.col("item.statistics.viewCount").cast("bigint").alias("channel_view_count"),
        F.col("item.statistics.subscriberCount").cast("bigint").alias("channel_subscriber_count"),
        F.col("item.statistics.hiddenSubscriberCount").alias("hidden_subscriber_count"),
        F.col("item.statistics.videoCount").cast("bigint").alias("channel_video_count"),
        *ENVELOPE_META,
    )
    return _latest_wins(typed, ["channel_id"])


def silver_video_stats_snapshot(spark: SparkSession, since=None) -> DataFrame:
    """Per-fetch video statistics, dedup key (video_id, fetched_at_utc),
    max request_id wins (P:73-130)."""
    parsed = _parse_items(spark, "bronze.videos_raw", contract.VIDEO_STATS_SCHEMA, since)
    typed = parsed.filter(F.col("item.id").isNotNull()).select(
        F.col("item.id").alias("video_id"),
        F.col("item.snippet.channelId").alias("channel_id"),
        F.col("ingest_ts_utc").alias("fetched_at_utc"),
        F.col("snapshot_date"),
        F.col("item.statistics.viewCount").cast("bigint").alias("view_count"),
        F.col("item.statistics.likeCount").cast("bigint").alias("like_count"),
        F.col("item.statistics.favoriteCount").cast("bigint").alias("favorite_count"),
        F.col("item.statistics.commentCount").cast("bigint").alias("comment_count"),
        F.col("ingest_ts_utc"),
        F.col("request_id"),
        F.col("run_id"),
        F.col("schema_version"),
    )
    return _latest_wins(
        typed, ["video_id", "fetched_at_utc"], order=[F.col("request_id").desc()]
    )


_SCD2_HASH_FIELDS = [
    "channel_id",
    "video_title",
    "video_description",
    "video_published_at_utc",
    "default_language",
    "default_audio_language",
    "duration_iso8601",
    "video_dimension",
    "video_definition",
    "caption_status",
    "licensed_content",
    "projection_type",
    "upload_status",
    "privacy_status",
    "embeddable",
    "public_stats_viewable",
    "made_for_kids",
    "self_declared_made_for_kids",
    "topic_categories_csv",
]


def video_metadata_typed(spark: SparkSession, since=None) -> DataFrame:
    """The typed+hashed pre-window stage of the SCD2 build (P:134-208):
    parse -> flat projection -> metadata_hash. Persisting this stage
    append-only is what makes SCD2 incrementally refreshable — history
    rebuilds read typed rows, never re-parse JSON."""
    parsed = _parse_items(spark, "bronze.videos_raw", contract.VIDEO_METADATA_SCHEMA, since)
    typed = parsed.filter(F.col("item.id").isNotNull()).select(
        F.col("item.id").alias("video_id"),
        F.col("item.snippet.channelId").alias("channel_id"),
        F.col("item.snippet.title").alias("video_title"),
        F.col("item.snippet.description").alias("video_description"),
        F.to_timestamp("item.snippet.publishedAt").alias("video_published_at_utc"),
        F.col("item.snippet.defaultLanguage").alias("default_language"),
        F.col("item.snippet.defaultAudioLanguage").alias("default_audio_language"),
        F.col("item.contentDetails.duration").alias("duration_iso8601"),
        F.col("item.contentDetails.dimension").alias("video_dimension"),
        F.col("item.contentDetails.definition").alias("video_definition"),
        F.col("item.contentDetails.caption").alias("caption_status"),
        F.col("item.contentDetails.licensedContent").alias("licensed_content"),
        F.col("item.contentDetails.projection").alias("projection_type"),
        F.col("item.status.uploadStatus").alias("upload_status"),
        F.col("item.status.privacyStatus").alias("privacy_status"),
        F.col("item.status.embeddable").alias("embeddable"),
        F.col("item.status.publicStatsViewable").alias("public_stats_viewable"),
        F.col("item.status.madeForKids").alias("made_for_kids"),
        F.col("item.status.selfDeclaredMadeForKids").alias("self_declared_made_for_kids"),
        F.concat_ws("|", F.col("item.topicDetails.topicCategories")).alias("topic_categories_csv"),
        F.col("ingest_ts_utc").alias("observed_at_utc"),
        *ENVELOPE_META,
    )
    return typed.withColumn(
        "metadata_hash",
        F.sha2(
            F.concat_ws(
                "||", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in _SCD2_HASH_FIELDS]
            ),
            256,
        ),
    )


def scd2_from_typed(hashed: DataFrame) -> DataFrame:
    """The window stage of the SCD2 build over typed+hashed rows
    (P:210-297): lag change detection, lead validity windows, -1µs close,
    sentinel open row, surrogate key."""
    w = Window.partitionBy("video_id").orderBy(
        F.col("observed_at_utc").asc(), F.col("request_id").asc()
    )
    version_starts = hashed.withColumn(
        "previous_metadata_hash", F.lag("metadata_hash").over(w)
    ).filter(
        F.col("previous_metadata_hash").isNull()
        | (F.col("previous_metadata_hash") != F.col("metadata_hash"))
    )
    windowed = version_starts.select(
        "video_id",
        *_SCD2_HASH_FIELDS,
        "metadata_hash",
        F.col("observed_at_utc").alias("valid_from_utc"),
        F.lead("observed_at_utc").over(w).alias("next_valid_from_utc"),
        *ENVELOPE_META,
    )
    return windowed.select(
        F.sha2(
            F.concat_ws("||", F.col("video_id"), F.col("valid_from_utc").cast("string")), 256
        ).alias("video_meta_sk"),
        "video_id",
        *_SCD2_HASH_FIELDS,
        "metadata_hash",
        "valid_from_utc",
        F.when(
            F.col("next_valid_from_utc").isNull(),
            F.lit("9999-12-31 23:59:59.999999").cast("timestamp"),
        )
        .otherwise(F.expr("next_valid_from_utc - INTERVAL 1 MICROSECOND"))
        .alias("valid_to_utc"),
        F.col("next_valid_from_utc").isNull().alias("is_current"),
        *ENVELOPE_META,
    )


def silver_video_metadata_scd2(spark: SparkSession) -> DataFrame:
    """SCD2 video metadata history (P:132-297), full recompute.

    Change detection: sha2 over coalesce(CAST(col AS STRING),'') joined
    with '||' (NULL and '' intentionally collapse, P:183-207); a new
    version starts when the hash differs from lag() (P:210-224); validity
    windows via lead(): valid_to = next_valid_from - 1 microsecond, open
    version gets the 9999-12-31 sentinel and is_current=TRUE (P:249-291).
    """
    return scd2_from_typed(video_metadata_typed(spark))


def scd2_incremental_refresh(
    spark: SparkSession,
    since,
    typed_fqn: str = "silver.video_metadata_typed",
    target_fqn: str = "silver.silver_video_metadata_scd2",
) -> str:
    """Incremental SCD2: O(new envelopes) parse + O(affected history) rebuild.

    1. Parse only envelopes newer than the watermark, append to the
       persisted typed stage (JSON parsed exactly once per envelope, ever).
    2. Affected keys = distinct video_id in the new typed rows.
    3. Rebuild the SCD2 windows for affected keys from the typed stage
       (no JSON re-parse) and splice: untouched keys keep their rows.

    Duplicate typed rows from watermark replays are harmless: the lag
    change-detection drops a row whose hash equals its predecessor, so the
    rebuild is idempotent.

    Returns 'bootstrap' | 'noop' | 'merged'. Manages its own watermark
    when ``since`` is the sentinel "auto".
    """
    from youtube_analytics_lakehouse_databricks_spark import storage
    from youtube_analytics_lakehouse_databricks_spark.plans.watermarks import get_watermark, set_watermark

    auto = since == "auto"
    if auto:
        since = get_watermark(spark, target_fqn)
    if not spark.catalog.tableExists(typed_fqn) or not spark.catalog.tableExists(target_fqn):
        storage.write_table(video_metadata_typed(spark), typed_fqn)
        storage.write_table(scd2_from_typed(spark.table(typed_fqn)), target_fqn)
        if auto:
            set_watermark(
                spark,
                target_fqn,
                spark.table(typed_fqn).agg(F.max("ingest_ts_utc")).collect()[0][0],
            )
        return "bootstrap"
    delta = video_metadata_typed(spark, since)
    if delta.limit(1).count() == 0:
        return "noop"
    delta.write.mode("append").format(storage.TABLE_FORMAT).saveAsTable(typed_fqn)
    affected = delta.select("video_id").distinct()
    rebuilt = scd2_from_typed(
        spark.table(typed_fqn).join(F.broadcast(affected), "video_id", "left_semi")
    )
    untouched = spark.table(target_fqn).join(F.broadcast(affected), "video_id", "left_anti")
    storage.swap_overwrite(spark, untouched.unionByName(rebuilt), target_fqn)
    if auto:
        set_watermark(
            spark,
            target_fqn,
            spark.table(typed_fqn).agg(F.max("ingest_ts_utc")).collect()[0][0],
        )
    return "merged"


def silver_videos(spark: SparkSession) -> DataFrame:
    """Latest video core record + FK to the current SCD2 version (P:299-364)."""
    parsed = _parse_items(spark, "bronze.videos_raw", contract.VIDEO_CORE_SCHEMA)
    typed = parsed.filter(F.col("item.id").isNotNull()).select(
        F.col("item.id").alias("video_id"),
        F.col("item.snippet.channelId").alias("channel_id"),
        F.col("item.snippet.title").alias("latest_video_title"),
        F.to_timestamp("item.snippet.publishedAt").alias("video_published_at_utc"),
        F.col("item.status.privacyStatus").alias("latest_privacy_status"),
        F.col("item.status.uploadStatus").alias("latest_upload_status"),
        *ENVELOPE_META,
    )
    latest = _latest_wins(typed, ["video_id"])
    current_meta = (
        spark.table("silver.silver_video_metadata_scd2")
        .filter(F.col("is_current"))
        .select("video_id", F.col("video_meta_sk").alias("current_video_meta_sk"))
    )
    return latest.join(current_meta, "video_id", "left").select(
        "video_id",
        "channel_id",
        "current_video_meta_sk",
        "latest_video_title",
        "video_published_at_utc",
        "latest_privacy_status",
        "latest_upload_status",
        *ENVELOPE_META,
    )


# --------------------------------------------------------------------------
# Analytics matrix parsing (header-positional extraction)
# --------------------------------------------------------------------------


def _parse_matrix(spark: SparkSession, table: str, since=None) -> DataFrame:
    """Envelope -> (header_names, row_values) exploded matrix rows
    (P:374-399). primitivesAsString keeps every cell a string; the typed
    projections below own all casting (SURVEY §7.4.5)."""
    raw = _bronze(spark, table, since)
    parsed = raw.select(
        *ENVELOPE_META,
        F.from_json(
            "payload", contract.ANALYTICS_MATRIX_SCHEMA, {"primitivesAsString": "true"}
        ).alias("parsed"),
    )
    return parsed.select(
        *ENVELOPE_META,
        F.expr("transform(parsed.columnHeaders, x -> x.name)").alias("header_names"),
        F.explode_outer("parsed.rows").alias("row_values"),
    )


def _cell(header: str) -> Column:
    """element_at(row_values, array_position(header_names, header)) —
    assumes the header exists (P:404-410); non-ANSI: position 0 -> error
    avoided because the reference tables always carry these headers, NULL
    headers list -> NULL."""
    return F.element_at(
        "row_values", F.array_position("header_names", header).cast("int")
    )


def _cell_if_present(header: str) -> Column:
    """CASE-guarded variant for optional headers (P:543-570)."""
    return F.when(F.array_position("header_names", header) > 0, _cell(header))


def _date_or_snapshot() -> Column:
    """'day' header if present (falling back to snapshot_date when the cell
    doesn't parse), else snapshot_date (P:548-555)."""
    return F.when(
        F.array_position("header_names", "day") > 0,
        F.coalesce(F.to_date(_cell("day")), F.col("snapshot_date")),
    ).otherwise(F.col("snapshot_date"))


def fact_channel_daily_metrics(spark: SparkSession) -> DataFrame:
    """Channel-day analytics attributed to the current channel (P:366-443).

    The 1-row `current_channel` subquery (ORDER BY recency LIMIT 1) rides a
    broadcast cross join — the reference's single-channel assumption is
    preserved and documented (SURVEY §7.4.3).
    """
    current_channel = (
        spark.table("silver.silver_channels")
        .orderBy(F.col("ingest_ts_utc").desc(), F.col("request_id").desc())
        .limit(1)
        .select("channel_id")
    )
    rows = _parse_matrix(spark, "bronze.analytics_channel_daily_raw").crossJoin(
        F.broadcast(current_channel)
    )
    typed = rows.select(
        "channel_id",
        F.to_date(_cell("day")).alias("date"),
        _cell("views").cast("bigint").alias("views"),
        _cell("likes").cast("bigint").alias("likes"),
        _cell("comments").cast("bigint").alias("comments"),
        _cell("estimatedMinutesWatched").cast("bigint").alias("estimated_minutes_watched"),
        _cell("subscribersGained").cast("bigint").alias("subscribers_gained"),
        _cell("subscribersLost").cast("bigint").alias("subscribers_lost"),
        *ENVELOPE_META,
    ).filter(F.col("channel_id").isNotNull() & F.col("date").isNotNull())
    return _latest_wins(typed, ["channel_id", "date"])


def fact_video_daily_metrics(spark: SparkSession, since=None) -> DataFrame:
    """Video-day analytics (P:445-512)."""
    rows = _parse_matrix(spark, "bronze.analytics_video_daily_raw", since)
    typed = rows.select(
        _cell("video").alias("video_id"),
        F.to_date(_cell("day")).alias("date"),
        _cell("views").cast("bigint").alias("views"),
        _cell("likes").cast("bigint").alias("likes"),
        _cell("comments").cast("bigint").alias("comments"),
        _cell("estimatedMinutesWatched").cast("bigint").alias("estimated_minutes_watched"),
        _cell("averageViewDuration").cast("double").alias("average_view_duration_seconds"),
        *ENVELOPE_META,
    ).filter(F.col("video_id").isNotNull() & F.col("date").isNotNull())
    return _latest_wins(typed, ["video_id", "date"])


def _fact_video_dimension(spark: SparkSession, table: str, header: str, dim_col: str, since=None) -> DataFrame:
    """Shared shape of the three per-dimension facts (P:514-785): optional
    video/day/metric headers CASE-guarded, dimension value upper()ed,
    non-empty key filter, latest-wins on (video_id, date, dim)."""
    rows = _parse_matrix(spark, table, since)
    typed = rows.select(
        _cell_if_present("video").alias("video_id"),
        _date_or_snapshot().alias("date"),
        F.upper(_cell(header)).alias(dim_col),
        _cell_if_present("views").cast("bigint").alias("views"),
        _cell_if_present("estimatedMinutesWatched")
        .cast("bigint")
        .alias("estimated_minutes_watched"),
        *ENVELOPE_META,
    ).filter(
        F.col("video_id").isNotNull()
        & F.col("date").isNotNull()
        & F.col(dim_col).isNotNull()
        & (F.col(dim_col) != "")
    )
    return _latest_wins(typed, ["video_id", "date", dim_col])


def fact_video_traffic_source_metrics(spark: SparkSession, since=None) -> DataFrame:
    """(P:514-603)"""
    return _fact_video_dimension(
        spark, "bronze.analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", "source_id", since
    )


def fact_video_country_metrics(spark: SparkSession, since=None) -> DataFrame:
    """(P:605-694)"""
    return _fact_video_dimension(
        spark, "bronze.analytics_video_country_daily_raw", "country", "country_code", since
    )


def fact_video_device_metrics(spark: SparkSession, since=None) -> DataFrame:
    """(P:696-785)"""
    return _fact_video_dimension(
        spark, "bronze.analytics_video_device_daily_raw", "deviceType", "device_type", since
    )


# --------------------------------------------------------------------------
# Dimensions
# --------------------------------------------------------------------------


def _dim_from_matrix(spark: SparkSession, table: str, header: str, dim_col: str) -> DataFrame:
    """Distinct dimension values observed in a raw analytics table, latest
    envelope metadata per value (P:787-842 shape)."""
    rows = _parse_matrix(spark, table)
    typed = rows.select(
        F.upper(_cell(header)).alias(dim_col), *ENVELOPE_META
    ).filter(F.col(dim_col).isNotNull() & (F.col(dim_col) != ""))
    return _latest_wins(typed, [dim_col])


def dim_traffic_source(spark: SparkSession) -> DataFrame:
    """(P:787-842): source_name = source_id (identity naming)."""
    d = _dim_from_matrix(
        spark, "bronze.analytics_video_traffic_source_daily_raw", "insightTrafficSourceType", "source_id"
    )
    return d.select(
        "source_id", F.col("source_id").alias("source_name"), *ENVELOPE_META
    )


def dim_country(spark: SparkSession) -> DataFrame:
    """(P:844-901): enrich with the ISO reference, fall back to the code."""
    d = _dim_from_matrix(
        spark, "bronze.analytics_video_country_daily_raw", "country", "country_code"
    )
    ref = spark.table("silver.dim_country_reference")
    return (
        d.join(F.broadcast(ref), "country_code", "left")
        .select(
            "country_code",
            F.coalesce(F.col("country_name"), F.col("country_code")).alias("country_name"),
            *ENVELOPE_META,
        )
    )


def dim_device(spark: SparkSession) -> DataFrame:
    """(P:903-958): device_name = device_type (identity naming)."""
    d = _dim_from_matrix(
        spark, "bronze.analytics_video_device_daily_raw", "deviceType", "device_type"
    )
    return d.select(
        "device_type", F.col("device_type").alias("device_name"), *ENVELOPE_META
    )


_FACT_TABLES_FOR_DATES = [
    "silver.fact_channel_daily_metrics",
    "silver.fact_video_daily_metrics",
    "silver.fact_video_traffic_source_metrics",
    "silver.fact_video_country_metrics",
    "silver.fact_video_device_metrics",
]


def dim_date(spark: SparkSession) -> DataFrame:
    """Deduplicating UNION of fact dates + calendar attributes (P:960-983);
    dayofweek is 1=Sunday, weekend = {1,7} (SURVEY §7.4.6)."""
    spine = reduce(
        DataFrame.union,
        [
            spark.table(t).filter(F.col("date").isNotNull()).select("date")
            for t in _FACT_TABLES_FOR_DATES
        ],
    ).distinct()
    return spine.select(
        "date",
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        F.dayofmonth("date").alias("day_of_month"),
        F.dayofweek("date").alias("day_of_week"),
        F.dayofweek("date").isin(1, 7).alias("is_weekend"),
    )
