"""Relational operator queries mirroring the reference's SQL surface.

Each query maps one operator family from SURVEY.md §2 (reference file:line
cited per function) onto the driver's TPC-H-ish testdata. Everything is
declarative DataFrame API — Catalyst handles pushdown/pruning/join choice.

Cross-engine exactness notes (vs the DuckDB oracle):
- double sums are order-dependent, so aggregates over doubles go through
  per-row rounding to DECIMAL(18,4) (exact sum) then back to DOUBLE;
- Spark ``dayofweek`` is 1=Sunday, DuckDB's is 0=Sunday (oracle adds 1);
- ``sha2(x,256)`` == DuckDB ``sha256(x)`` (lowercase hex, verified);
- window dedups carry a unique tie-break column so rn=1 is total-ordered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.queries import read, read_fanned, register

def _units(col):
    """Round a double expression to integer 1e-4 units using only IEEE
    double ops (mult, add, floor) that are bit-identical across engines.
    Engine-native double->decimal casts disagree (Spark rounds the
    shortest decimal repr, DuckDB the exact binary value), so those are
    banned in oracle-checked aggregates."""
    return F.floor(col * F.lit(10000.0) + F.lit(0.5)).cast("long")


def _dsum(col, alias):
    """Exact cross-engine sum of a double expression: exact bigint sum of
    1e-4 units, presented as double."""
    return (F.sum(_units(col)).cast("double") / F.lit(10000.0)).alias(alias)


def _davg(col, alias):
    return ((F.sum(_units(col)).cast("double") / F.lit(10000.0)) / F.count(F.lit(1))).alias(alias)


def _dsum_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(floor(({expr}) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS {alias}"


def _davg_sql(expr: str, alias: str) -> str:
    return f"CAST(SUM(CAST(floor(({expr}) * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / COUNT(*) AS {alias}"


# ---------------------------------------------------------------------------
# Aggregation / scan / filter (reference A1-A4, S1, P1; pricing-summary shape)
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql("l_quantity", "sum_qty")},
           {_dsum_sql("l_extendedprice", "sum_base_price")},
           {_dsum_sql("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {_dsum_sql("(l_extendedprice * (1 - l_discount)) * (1 + l_tax)", "sum_charge")},
           {_davg_sql("l_quantity", "avg_qty")},
           {_davg_sql("l_discount", "avg_disc")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship scan+filter+groupBy aggregate (TPC-H Q1 shape).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fanned (r16, measured): the map-side partial aggregate collapses
    # 600k rows to 6 groups before any exchange, so the single-task scan
    # shuffles ~nothing; a RoundRobin fan would shuffle every raw row
    # (plus the sort-before-repartition) just to parallelize ~0.25 s of
    # arithmetic — measured 0.42 -> 0.76 s WORSE at sf0.1
    li = read(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
    charge = disc_price * (F.lit(1.0) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity"), "sum_qty"),
            _dsum(F.col("l_extendedprice"), "sum_base_price"),
            _dsum(disc_price, "sum_disc_price"),
            _dsum(charge, "sum_charge"),
            _davg(F.col("l_quantity"), "avg_qty"),
            _davg(F.col("l_discount"), "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# W1: latest-wins window dedup (reference P:48-51 et al., 11 sites)
# ---------------------------------------------------------------------------


@register(
    "latest_events_dedup",
    """
    SELECT 'user' AS grain, user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    UNION ALL
    SELECT 'user_type' AS grain, user_id, event_type, event_id, ts, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    doc=(
        "W1 latest-wins dedup, both reference orderings in one result, "
        "tagged by grain: full recency order with unique tiebreak DESC "
        "(P:48-51) and the stats-snapshot id-only order (P:110-113)."
    ),
)
def latest_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    cols = ["user_id", "event_type", "event_id", "ts", "value"]
    w_user = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    w_user_type = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("event_id").desc()
    )
    per_user = (
        ev.withColumn("rn", F.row_number().over(w_user))
        .filter(F.col("rn") == 1)
        .select(F.lit("user").alias("grain"), *cols)
    )
    per_user_type = (
        ev.withColumn("rn", F.row_number().over(w_user_type))
        .filter(F.col("rn") == 1)
        .select(F.lit("user_type").alias("grain"), *cols)
    )
    return per_user.unionByName(per_user_type)


# ---------------------------------------------------------------------------
# W2+W3: SCD2 via lag change-detection + lead validity windows (P:132-297)
# ---------------------------------------------------------------------------


@register(
    "scd2_user_event_type",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    ), changes AS (
      SELECT user_id, event_id, ts, event_type FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           ts AS valid_from_utc,
           CASE WHEN lead(ts) OVER w IS NULL
                THEN 253402300799999999
                ELSE epoch_us(lead(ts) OVER w) - 1 END AS valid_to_us,
           (lead(ts) OVER w IS NULL) AS is_current,
           sha256(concat_ws('||', CAST(user_id AS VARCHAR), event_type,
                            CAST(epoch_us(ts) AS VARCHAR))) AS version_sk
    FROM changes
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
    doc=(
        "SCD2: lag() change detection (P:213-224) + lead() validity windows with "
        "valid_to = next - 1 microsecond, open-row sentinel 9999-12-31, "
        "is_current flag, sha2 surrogate key (P:249-297). valid_to is presented "
        "as epoch-micros BIGINT (253402300799999999 == the reference's "
        "9999-12-31 23:59:59.999999 sentinel) because the comparison harness's "
        "nanosecond pandas timestamps cannot represent year 9999; the engine-side "
        "SCD2 model (models/silver.py) keeps the TIMESTAMP sentinel untouched."
    ),
)
def scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
        .select("user_id", "event_id", "ts", "event_type")
    )
    w2 = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    next_ts = F.lead("ts").over(w2)
    # Sentinel as epoch-micros: unix_micros(TIMESTAMP'9999-12-31 23:59:59.999999').
    # valid_to = next_valid_from - 1 microsecond, exactly P:284-291, in BIGINT space.
    sentinel_us = 253402300799999999
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from_utc"),
        F.when(next_ts.isNull(), F.lit(sentinel_us))
        # events.ts is TIMESTAMP_NTZ in the parquet; unix_micros wants
        # TIMESTAMP. The session tz is pinned UTC, so the cast is exact and
        # matches DuckDB's epoch_us over the same naive timestamps.
        .otherwise(F.unix_micros(next_ts.cast("timestamp")) - F.lit(1))
        .alias("valid_to_us"),
        next_ts.isNull().alias("is_current"),
        F.sha2(
            F.concat_ws(
                "||",
                F.col("user_id").cast("string"),
                F.col("event_type"),
                F.unix_micros(F.col("ts").cast("timestamp")).cast("string"),
            ),
            256,
        ).alias("version_sk"),
    )


# ---------------------------------------------------------------------------
# from_json / struct access (P:18-21, 381-385) on the events.props JSON column
# ---------------------------------------------------------------------------


@register(
    "props_json_extract",
    """
    SELECT event_id, user_id, prop_k, prop_k * 2 AS prop_k_doubled
    FROM (
      SELECT event_id, user_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
      FROM events
    ) WHERE prop_k IS NOT NULL
    """,
    doc="Schema-on-read JSON parsing: from_json + field access + typed cast (P:18-43).",
)
def props_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # from_json over every row is the per-row-compute-heavy case the
    # single-task scan serializes; fan (scale-guarded no-op on wide scans)
    ev = read_fanned(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id", "user_id", F.from_json("props", "k INT").getField("k").alias("prop_k")
    )
    return parsed.filter(F.col("prop_k").isNotNull()).select(
        "event_id", "user_id", "prop_k", (F.col("prop_k") * 2).alias("prop_k_doubled")
    )


# ---------------------------------------------------------------------------
# explode / generator (P:17-22 explode_outer sites)
# ---------------------------------------------------------------------------


# token_explode_counts moved to bench.py's bench-only set: the driver
# registry is capped at 50 rows and its explode+group-count surface is
# already oracled gram-for-gram by regex_token_counts; the slot now
# carries paragraph_dedup_documents (queries/textops.py), which had no
# oracle row despite being composed into curate()/incremental/export.


# ---------------------------------------------------------------------------
# Joins: left enrich (J1/J4/J5), anti (J6), cross+top1 (J3/O1)
# ---------------------------------------------------------------------------


@register(
    "orders_enriched",
    """
    SELECT o.o_orderkey, o.o_totalprice, o.o_orderstatus,
           c.c_custkey, c.c_name, c.c_mktsegment, n.n_name AS nation_name,
           r.r_name AS region_name, FALSE AS is_customer_only
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    UNION ALL
    SELECT CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR),
           c.c_custkey, c.c_name, c.c_mktsegment, n.n_name, r.r_name, TRUE
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc=(
        "Left equi-join chain fact->entity->dim (J1/J4/J5, "
        "gold_video_*_summary.sql); dims broadcast. Since r12 this row also "
        "carries the folded `customers_without_orders` anti-join family "
        "(J6, warn_new_traffic_source_ids.sql:35-39) as the "
        "is_customer_only=TRUE null channel: customers with no orders "
        "appear once with NULL order columns, found via Spark's left_anti "
        "join and enriched through the same broadcast dim chain. One row, "
        "both join idioms, slot freed for `embedding_pq_adc`."
    ),
)
def orders_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders, customer, nation, region = (
        read(spark, sf_dir, t) for t in ("orders", "customer", "nation", "region")
    )

    def enrich_dims(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(nation), df.c_nationkey == nation.n_nationkey, "left"
        ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")

    order_channel = enrich_dims(
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
    ).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
        F.lit(False).alias("is_customer_only"),
    )
    customer_only = enrich_dims(
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
    ).select(
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(None).cast("string").alias("o_orderstatus"),
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.col("n_name").alias("nation_name"),
        F.col("r_name").alias("region_name"),
        F.lit(True).alias("is_customer_only"),
    )
    return order_channel.unionByName(customer_only)


@register(
    "daily_orders_with_top_customer",
    f"""
    SELECT d.order_date, d.order_cnt, d.total_price, t.top_custkey, t.top_cust_name,
           u.latest_user_id, u.last_purchase_ts, u.last_event_ts
    FROM (
      SELECT CAST(o_orderdate AS DATE) AS order_date,
             COUNT(*) AS order_cnt,
             {_dsum_sql("o_totalprice", "total_price")}
      FROM orders GROUP BY 1
    ) d
    CROSS JOIN (
      SELECT c_custkey AS top_custkey, c_name AS top_cust_name
      FROM customer ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 1
    ) t
    CROSS JOIN (
      SELECT user_id AS latest_user_id, last_purchase_ts, last_event_ts
      FROM (
        SELECT user_id,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase_ts,
               MAX(ts) AS last_event_ts
        FROM events GROUP BY user_id
      )
      ORDER BY COALESCE(last_purchase_ts, last_event_ts) DESC, user_id ASC
      LIMIT 1
    ) u
    """,
    doc=(
        "Cross join with deterministic top-1 subqueries (current_channel "
        "pattern, P:368-399 / J3+O1). Since r12 also carries the folded "
        "latest_purchasing_user row's COALESCE-ordered top-1 run-status "
        "idiom (O3, post_deploy_smoke_checks.py:240-245): a second 1-row "
        "broadcast cross join picks the user with the most recent "
        "purchase (falling back to any event), id-tie-broken."
    ),
)
def daily_orders_with_top_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read(spark, sf_dir, "orders")
    customer = read(spark, sf_dir, "customer")
    ev = read(spark, sf_dir, "events")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("order_date")).agg(
        F.count(F.lit(1)).alias("order_cnt"),
        _dsum(F.col("o_totalprice"), "total_price"),
    )
    top = (
        customer.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(1)
        .select(F.col("c_custkey").alias("top_custkey"), F.col("c_name").alias("top_cust_name"))
    )
    latest = (
        ev.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
                "last_purchase_ts"
            ),
            F.max("ts").alias("last_event_ts"),
        )
        .orderBy(
            F.coalesce("last_purchase_ts", "last_event_ts").desc(),
            F.col("user_id").asc(),
        )
        .limit(1)
        .withColumnRenamed("user_id", "latest_user_id")
    )
    return daily.crossJoin(F.broadcast(top)).crossJoin(F.broadcast(latest))


# ---------------------------------------------------------------------------
# Quality-test predicates (A1/P7, dbt singular tests)
# ---------------------------------------------------------------------------


@register(
    "dq_violations",
    """
    SELECT 'duplicate_grain' AS check_name, user_id, event_type,
           CAST(NULL AS BIGINT) AS event_id, ts,
           CAST(COUNT(*) AS DOUBLE) AS metric
    FROM events
    GROUP BY user_id, ts, event_type
    HAVING COUNT(*) > 1
    UNION ALL
    SELECT 'negative_value' AS check_name, user_id, event_type, event_id,
           CAST(NULL AS TIMESTAMP) AS ts, value AS metric
    FROM events
    WHERE COALESCE(value, 0) < 0
    UNION ALL
    SELECT 'freshness_lag' AS check_name, CAST(NULL AS BIGINT) AS user_id,
           event_type, CAST(NULL AS BIGINT) AS event_id, MAX(ts) AS ts,
           CAST(date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-12-31') AS DOUBLE) AS metric
    FROM events GROUP BY event_type
    HAVING date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-12-31') > 7
        OR MAX(ts) IS NULL
    """,
    doc=(
        "Data-quality violations — all three reference test predicates in "
        "one typed-null-padded UNION ALL: uniqueness-at-grain GROUP BY "
        "HAVING count>1 (test_gold_*_unique.sql / A1), the non-negativity "
        "predicate (test_gold_metrics_non_negative.sql:19-21 / P7), and "
        "since r11 the freshness-lag family (A2, "
        "test_gold_freshness_recency.sql:2-14 — formerly the standalone "
        "event_type_freshness row). Since r12 freshness emits VIOLATIONS "
        "ONLY, restoring the row's non-empty-means-failure contract: the "
        "reference predicate (day lag vs the injectable 'today' > 7, or "
        "no timestamp at all) gates the rows, and the family stays "
        "non-vacuous because the synthetic corpus is stale by "
        "construction (lag 336 at every sf)."
    ),
)
def dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    dup_grain = (
        ev.groupBy("user_id", "ts", "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("metric"))
        .filter(F.col("metric") > 1)
        .select(
            F.lit("duplicate_grain").alias("check_name"),
            "user_id",
            "event_type",
            F.lit(None).cast("long").alias("event_id"),
            "ts",
            "metric",
        )
    )
    negative = ev.filter(F.coalesce(F.col("value"), F.lit(0.0)) < 0).select(
        F.lit("negative_value").alias("check_name"),
        "user_id",
        "event_type",
        "event_id",
        F.lit(None).cast("timestamp").alias("ts"),
        F.col("value").alias("metric"),
    )
    freshness = ev.groupBy("event_type").agg(
        F.max("ts").alias("ts"),
        F.datediff(F.lit("2024-12-31").cast("date"), F.max("ts").cast("date"))
        .cast("double")
        .alias("metric"),
    ).filter((F.col("metric") > 7) | F.col("ts").isNull()).select(
        F.lit("freshness_lag").alias("check_name"),
        F.lit(None).cast("long").alias("user_id"),
        "event_type",
        F.lit(None).cast("long").alias("event_id"),
        "ts",
        "metric",
    )
    return dup_grain.unionByName(negative).unionByName(freshness)


# ---------------------------------------------------------------------------
# Set ops + date dimension (U1, dim_date P:960-983)
# ---------------------------------------------------------------------------


def distinct_union_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicating UNION date spine (dim_date, P:962-972 / U1) — the
    first stage of date_dim_attributes, which is the driver-verified
    query for this shape."""
    orders = read(spark, sf_dir, "orders")
    lineitem = read(spark, sf_dir, "lineitem")
    return (
        orders.select(F.to_date("o_orderdate").alias("date"))
        .union(lineitem.select(F.to_date("l_shipdate").alias("date")))
        .distinct()
    )


@register(
    "date_dim_attributes",
    """
    SELECT date,
           CAST(EXTRACT(year FROM date) AS INT) AS year,
           CAST(EXTRACT(month FROM date) AS INT) AS month,
           CAST(EXTRACT(day FROM date) AS INT) AS day,
           CAST(dayofweek(date) + 1 AS INT) AS day_of_week,
           (dayofweek(date) + 1) IN (1, 7) AS is_weekend
    FROM (
      SELECT CAST(o_orderdate AS DATE) AS date FROM orders
      UNION
      SELECT CAST(l_shipdate AS DATE) AS date FROM lineitem
    )
    """,
    doc="dim_date attributes: year/month/day/dayofweek, weekend = dow IN (1,7) with Spark's 1=Sunday (P:973-983).",
)
def date_dim_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    spine = distinct_union_dates(spark, sf_dir)
    return spine.select(
        "date",
        F.year("date").alias("year"),
        F.month("date").alias("month"),
        F.dayofmonth("date").alias("day"),
        F.dayofweek("date").alias("day_of_week"),
        F.dayofweek("date").isin(1, 7).alias("is_weekend"),
    )


# ---------------------------------------------------------------------------
# Scalar function surface: sha2 keys, CASE guards, positional array lookup
# ---------------------------------------------------------------------------


@register(
    "customer_surrogate_keys",
    """
    SELECT c_custkey,
           sha256(concat_ws('||', COALESCE(c_name, ''), COALESCE(c_mktsegment, ''),
                            CAST(c_nationkey AS VARCHAR))) AS cust_sk,
           upper(c_mktsegment) AS mktsegment_uc
    FROM customer
    """,
    doc="sha2(concat_ws('||', coalesce(..,''))) surrogate/change-hash keys (P:183-207,261) + upper() (P:556).",
)
def customer_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = read(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.sha2(
            F.concat_ws(
                "||",
                F.coalesce(F.col("c_name"), F.lit("")),
                F.coalesce(F.col("c_mktsegment"), F.lit("")),
                F.col("c_nationkey").cast("string"),
            ),
            256,
        ).alias("cust_sk"),
        F.upper("c_mktsegment").alias("mktsegment_uc"),
    )


@register(
    "conditional_metrics",
    """
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN value ELSE NULL END AS purchase_value,
           CASE WHEN value < 25 THEN 'low' WHEN value < 75 THEN 'mid' ELSE 'high' END AS value_bucket,
           upper(event_type) AS event_type_uc,
           COALESCE(value, 0) AS value_filled,
           strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'), '%Y-%m-%dT%H:%M:%S.%f')
             AS ts_roundtrip,
           CAST(ts AS DATE) AS ts_date
    FROM events
    """,
    doc=(
        "CASE WHEN column guards + coalesce defaults (P:543-570, gold "
        "coalesce policy); since r11 also carries the former "
        "timestamp_parse_roundtrip row's F15 surface — the "
        "to_timestamp(date_format(...)) microsecond round-trip and "
        "to_date cast, hash-matched at full timestamp fidelity on the "
        "same per-event grain."
    ),
)
def conditional_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
        F.when(F.col("value") < 25, "low").when(F.col("value") < 75, "mid").otherwise("high").alias("value_bucket"),
        F.upper("event_type").alias("event_type_uc"),
        F.coalesce(F.col("value"), F.lit(0.0)).alias("value_filled"),
        F.to_timestamp(F.date_format("ts", fmt), fmt).alias("ts_roundtrip"),
        F.to_date("ts").alias("ts_date"),
    )


# NOTE: formerly registered as the oracled query "latest_purchasing_user"
# (O3: top-1 by COALESCE-ordered recency, the
# post_deploy_smoke_checks.py:240-245 latest-run-status idiom);
# consolidated into daily_orders_with_top_customer (round 12) as its
# second 1-row broadcast cross join (latest_user_id / last_purchase_ts /
# last_event_ts columns) to free the 50-row-budget slot the
# shard_split_assignment oracle now occupies. Never benched, no test
# consumers — the builder was deleted outright (this NOTE names the
# successor row, matching the positional_token_lookup precedent).


# NOTE: "positional_token_lookup" (oracled through r9) was folded into
# analytics_matrix_extract in r10 — its payload now carries a
# conditionally-present header, so the missing-column semantics the row
# existed for (array_position = 0 on absent names, the CASE presence
# guard, element_at never probing position 0) run inside that green row
# against real variable-column reports. The shadow builder was deleted
# in r11 (no bench series, no test consumers — queries/advanced.py
# documents the fold at the successor).
