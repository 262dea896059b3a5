"""Advanced relational operators Spark lacks as primitives, composed from
DataFrame ops (the (a)-path of the custom-operator ladder: composition
before Pandas UDF before mapPartitions).

- as-of join: union + tag + last(ignorenulls) carry-forward window — one
  shuffle on the key, no per-row subquery, scales to any history length;
- sessionization: gap-threshold flag + running sum = session ids, the
  standard two-window composition;
- interval (range) join: equi key + time-range predicate;
- exact interpolated percentiles (matching DuckDB quantile_cont);
- JSON envelope roundtrip: to_json -> from_json through the reference's
  envelope schema shape, proving the medallion parse path against a plain
  projection oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.queries import read, register


@register(
    "asof_purchase_prior_click",
    """
    WITH clicks AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ), purchases AS (
      SELECT user_id, event_id AS purchase_id, ts AS purchase_ts
      FROM events WHERE event_type = 'purchase'
    ), pre AS (
      SELECT p.purchase_id,
             COUNT(*) AS n_events_prior_1h,
             CAST(SUM(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clicks_prior_1h
      FROM purchases p
      JOIN events e
        ON e.user_id = p.user_id
       AND e.ts >= p.purchase_ts - INTERVAL 1 HOUR
       AND e.ts < p.purchase_ts
      GROUP BY p.purchase_id
    )
    SELECT p.user_id, p.purchase_id, p.purchase_ts,
           c.click_id AS prior_click_id, c.ts AS prior_click_ts,
           COALESCE(pre.n_events_prior_1h, 0) AS n_events_prior_1h,
           COALESCE(pre.n_clicks_prior_1h, 0) AS n_clicks_prior_1h
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
    LEFT JOIN pre ON pre.purchase_id = p.purchase_id
    """,
    doc=(
        "Both temporal-join operators on ONE purchase anchor (r10: the "
        "interval-join surface of the former signup_followup_window row "
        "consolidated here to free its 50-row-budget slot for "
        "ngram_lm_scores): (1) as-of backward join — each purchase "
        "matched to the user's most recent click at ts' <= ts, composed "
        "as tag + union + last(ignorenulls) over "
        "rowsBetween(unboundedPreceding, 0); (2) interval (range) join — "
        "events within [ts - 1h, ts) per purchase, equi key + range "
        "predicate, aggregated and left-joined back."
    ),
)
def asof_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both temporal legs are windows over the SAME user_id partitioning,
    # computed in one pass over raw events (r16 — guide §2.4 "windows
    # partitioned like a preceding shuffle share it"):
    #
    # - as-of leg: last(click) carry-forward over (ts, is_purchase,
    #   event_id) row order. Raw click rows ordered event_id ASC make
    #   last() pick the MAX event_id among clicks at the latest ts' —
    #   exactly the old groupBy(user_id, ts).agg(max(event_id))
    #   pre-aggregation — and is_purchase sorting purchases AFTER
    #   same-ts clicks keeps the ts' <= ts asof contract.
    # - interval leg: count/sum over a RANGE frame [-1h, -1µs) on
    #   unix_micros — value-identical to the old equi+range self-join
    #   (e_ts >= p_ts - 1h AND e_ts < p_ts at microsecond resolution)
    #   aggregated per purchase, without the join.
    #
    # The previous shape (clicks pre-agg + union window; anchors x events
    # range join + per-purchase agg; purchase_id left join reuniting the
    # legs) was 5 Exchanges + 2 SortMergeJoins; this is ONE Exchange and
    # zero joins — at 100 TB the events table shuffles once, not five
    # times. Oracle-verified hash-identical at both driver SFs.
    ev = read(spark, sf_dir, "events")
    is_click = F.col("event_type") == "click"
    w_asof = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), is_click.cast("int").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # events.ts is TIMESTAMP_NTZ; session tz is pinned UTC so the cast is
    # exact (the sessionization precedent)
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    w_range = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3600 * 1_000_000, -1)
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "ts",
            "event_type",
            F.last(F.when(is_click, F.col("event_id")), ignorenulls=True)
            .over(w_asof)
            .alias("prior_click_id"),
            F.last(F.when(is_click, F.col("ts")), ignorenulls=True)
            .over(w_asof)
            .alias("prior_click_ts"),
            F.count(F.lit(1)).over(w_range).alias("__n_ev"),
            F.sum(is_click.cast("int")).over(w_range).alias("__n_clk"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            "prior_click_id",
            "prior_click_ts",
            F.coalesce("__n_ev", F.lit(0)).cast("bigint").alias("n_events_prior_1h"),
            F.coalesce("__n_clk", F.lit(0)).cast("bigint").alias("n_clicks_prior_1h"),
        )
    )


@register(
    "event_sessionization",
    """
    WITH gaps AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, event_id, ts,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM gaps
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
    doc=(
        "Sessionization: 30-minute-gap session boundaries via lag + running "
        "sum of boundary flags, then per-session aggregates. At scale this "
        "is one shuffle on user_id reused by both windows and the groupBy."
    ),
)
def event_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; unix_micros wants TIMESTAMP (session tz is
    # pinned UTC so the cast is exact).
    ts_ltz = F.col("ts").cast("timestamp")
    gap_us = F.unix_micros(ts_ltz) - F.unix_micros(F.lag(ts_ltz).over(w))
    gaps = ev.withColumn(
        "is_new",
        F.when(F.lag("ts").over(w).isNull() | (gap_us > 1800 * 1_000_000), 1).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("bigint"),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "supplier_balance_ranks",
    """
    SELECT s_suppkey, s_nationkey,
           CAST(rank() OVER w AS BIGINT) AS balance_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS balance_dense_rank,
           CAST(ntile(4) OVER w AS INT) AS balance_quartile,
           round(percent_rank() OVER w, 6) AS balance_pct_rank
    FROM supplier
    WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
    """,
    doc="Rank-family windows (rank/dense_rank/ntile/percent_rank) — beyond the reference's row_number-only surface.",
)
def supplier_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = read(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey").asc())
    return sup.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).cast("bigint").alias("balance_rank"),
        F.dense_rank().over(w).cast("bigint").alias("balance_dense_rank"),
        F.ntile(4).over(w).alias("balance_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("balance_pct_rank"),
    )


@register(
    "cumulative_customer_revenue",
    """
    SELECT o_custkey, order_date, daily_total,
           CAST(SUM(day_units) OVER (PARTITION BY o_custkey ORDER BY order_date
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 10000.0 AS cumulative_total
    FROM (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS order_date,
             CAST(SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS daily_total,
             SUM(CAST(floor(o_totalprice * 10000.0 + 0.5) AS BIGINT)) AS day_units
      FROM orders GROUP BY o_custkey, CAST(o_orderdate AS DATE)
    )
    """,
    doc=(
        "Aggregate-over-window with an explicit ROWS frame (running "
        "per-customer revenue) — frame specs are absent from the "
        "reference's surface; exact integer-unit running sums."
    ),
)
def cumulative_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.queries.relational import _units

    orders = read(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_custkey", F.to_date("o_orderdate").alias("order_date")
    ).agg(
        (F.sum(_units(F.col("o_totalprice"))).cast("double") / 10000.0).alias("daily_total"),
        F.sum(_units(F.col("o_totalprice"))).alias("day_units"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("order_date")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "o_custkey",
        "order_date",
        "daily_total",
        (F.sum("day_units").over(w).cast("double") / 10000.0).alias("cumulative_total"),
    )


@register(
    "analytics_matrix_extract",
    """
    SELECT CAST(doc_id AS VARCHAR) AS row_key, lang AS dim_value,
           CAST(n_chars AS BIGINT) AS metric_value, source AS extra_dim,
           CASE WHEN right(source, 1) IN ('0','2','4','6','8')
                THEN source END AS opt_value
    FROM documents
    """,
    doc=(
        "The reference's analytics-report operator end-to-end: build a "
        "columnHeaders+rows matrix payload (shuffled header order), parse "
        "with primitivesAsString, transform(headers, x -> x.name), "
        "explode_outer(rows), then header-name positional lookup via "
        "element_at(row, array_position(headers, name)) with typed casts "
        "(P:374-416) — must reproduce the plain projection. Since r10 the "
        "payload carries a CONDITIONALLY-PRESENT header ('opt', only for "
        "even-digit sources — the reference API's variable report "
        "columns): its extraction exercises the full missing-column "
        "semantics (array_position = 0 on absent names, the CASE "
        "presence guard, element_at never probing position 0) that the "
        "former positional_token_lookup row carried — that row is "
        "unregistered, its slot freed for semantic_decontam."
    ),
)
def analytics_matrix_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark import contract

    docs = read(spark, sf_dir, "documents")

    def hdr(n: str):
        return F.struct(
            F.lit(n).alias("name"),
            F.lit("DIMENSION").alias("columnType"),
            F.lit("STRING").alias("dataType"),
        )

    # conditionally-present 4th column: only even-digit sources report it
    has_opt = F.substring("source", -1, 1).isin("0", "2", "4", "6", "8")
    base = [hdr(n) for n in ["metric", "key", "dim"]]
    # one matrix payload per source partition, rows in shuffled header order
    payload = docs.groupBy("source").agg(
        F.to_json(
            F.struct(
                F.when(has_opt, F.array(*base, hdr("opt")))
                .otherwise(F.array(*base))
                .alias("columnHeaders"),
                F.collect_list(
                    F.when(
                        has_opt,
                        F.array(
                            F.col("n_chars").cast("string"),
                            F.col("doc_id").cast("string"),
                            F.col("lang"),
                            F.col("source"),
                        ),
                    ).otherwise(
                        F.array(
                            F.col("n_chars").cast("string"),
                            F.col("doc_id").cast("string"),
                            F.col("lang"),
                        )
                    )
                ).alias("rows"),
            )
        ).alias("payload")
    )
    parsed = payload.select(
        "source",
        F.from_json(
            "payload", contract.ANALYTICS_MATRIX_SCHEMA, {"primitivesAsString": "true"}
        ).alias("parsed"),
    )
    rows = parsed.select(
        "source",
        F.expr("transform(parsed.columnHeaders, x -> x.name)").alias("header_names"),
        F.explode_outer("parsed.rows").alias("row_values"),
    )

    def cell(name: str):
        return F.element_at(
            "row_values", F.array_position("header_names", name).cast("int")
        )

    pos_opt = F.array_position("header_names", "opt")
    return rows.select(
        cell("key").alias("row_key"),
        cell("dim").alias("dim_value"),
        cell("metric").cast("bigint").alias("metric_value"),
        F.col("source").alias("extra_dim"),
        # the missing-column guard: array_position = 0 when the header is
        # absent; element_at must never see position 0 (it raises there)
        F.when(pos_opt > 0, F.element_at("row_values", pos_opt.cast("int"))).alias(
            "opt_value"
        ),
    )


@register(
    "json_envelope_roundtrip",
    """
    SELECT doc_id, lang, source, n_chars FROM documents
    """,
    doc=(
        "Envelope parse-path proof: build a Data-API-shaped items envelope "
        "with to_json, re-parse with the medallion's from_json schema, "
        "explode items, extract typed fields (P:17-43 shape) — must equal "
        "the plain projection."
    ),
)
def json_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    enveloped = docs.select(
        F.to_json(
            F.struct(
                F.array(
                    F.struct(
                        F.col("doc_id").cast("string").alias("id"),
                        F.struct(
                            F.col("lang").alias("language"),
                            F.col("source").alias("origin"),
                            F.col("n_chars").cast("string").alias("charCount"),
                        ).alias("snippet"),
                    )
                ).alias("items")
            )
        ).alias("payload")
    )
    schema = (
        "STRUCT<items: ARRAY<STRUCT<id: STRING, "
        "snippet: STRUCT<language: STRING, origin: STRING, charCount: STRING>>>>"
    )
    parsed = enveloped.select(
        F.explode_outer(F.from_json("payload", schema).getField("items")).alias("item")
    )
    return parsed.filter(F.col("item.id").isNotNull()).select(
        F.col("item.id").cast("bigint").alias("doc_id"),
        F.col("item.snippet.language").alias("lang"),
        F.col("item.snippet.origin").alias("source"),
        F.col("item.snippet.charCount").cast("bigint").alias("n_chars"),
    )
