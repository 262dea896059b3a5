"""Extended operator coverage: remaining reference shapes + OLAP extras.

- UNION ALL with null-typed padding columns (U2,
  reference: dbt/tests/test_gold_metrics_non_negative.sql:1-16)
- stack() constant-list generator + anti-join monitor (reference:
  dbt/tests/warn_new_traffic_source_ids.sql:9-39)
- MAX-scalar freshness lag (A2, test_gold_freshness_recency.sql)
- ROLLUP hierarchical aggregate (beyond-reference OLAP op)
- SimHash fingerprints (training-data near-dup family)
- LSH-bucketed ANN (the scale path: candidate retrieval by equi-join on
  bucket instead of an O(n^2) cross join)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.queries import read, read_fanned, register

# ---------------------------------------------------------------------------
# U2: UNION ALL with explicit null-typed padding
# ---------------------------------------------------------------------------


@register(
    "union_all_padded_metrics",
    """
    SELECT 'purchase_total' AS metric_group, user_id,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value
    FROM events WHERE event_type = 'purchase' GROUP BY user_id
    UNION ALL
    SELECT 'view_count' AS metric_group, user_id,
           COUNT(*) AS cnt,
           CAST(NULL AS DOUBLE) AS total_value
    FROM events WHERE event_type = 'view' GROUP BY user_id
    """,
    doc="UNION ALL stacking with cast(null as ...) column padding (U2, test_gold_metrics_non_negative.sql:8).",
)
def union_all_padded_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.floor(F.col("value") * 10000.0 + F.lit(0.5)).cast("long")).cast("double") / 10000.0).alias(
                "total_value"
            ),
        )
        .select(F.lit("purchase_total").alias("metric_group"), "user_id", "cnt", "total_value")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.lit("view_count").alias("metric_group"),
            "user_id",
            "cnt",
            F.lit(None).cast("double").alias("total_value"),
        )
    )
    return purchases.unionByName(views)


# ---------------------------------------------------------------------------
# stack() generator + anti-join monitor
# ---------------------------------------------------------------------------

_KNOWN_EVENT_TYPES = ["CLICK", "VIEW", "PURCHASE", "SIGNUP"]


@register(
    "unknown_event_types",
    f"""
    WITH observed AS (
      SELECT DISTINCT upper(event_type) AS event_type
      FROM events WHERE event_type IS NOT NULL AND trim(event_type) <> ''
    ), known AS (
      SELECT * FROM (VALUES {", ".join(f"('{v}')" for v in _KNOWN_EVENT_TYPES)}) AS t(event_type)
    )
    SELECT o.event_type FROM observed o
    LEFT JOIN known k ON o.event_type = k.event_type
    WHERE k.event_type IS NULL
    """,
    doc="stack() constant relation + left-join-null unknown-value monitor (warn_new_traffic_source_ids.sql:9-39).",
)
def unknown_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    observed = (
        ev.filter(F.col("event_type").isNotNull() & (F.trim("event_type") != ""))
        .select(F.upper("event_type").alias("event_type"))
        .distinct()
    )
    n = len(_KNOWN_EVENT_TYPES)
    vals = ", ".join(f"'{v}'" for v in _KNOWN_EVENT_TYPES)
    known = spark.range(1).select(F.expr(f"stack({n}, {vals})").alias("event_type"))
    return observed.join(known, "event_type", "left_anti")


# ---------------------------------------------------------------------------
# A2: MAX scalar freshness with fixed reference day
# ---------------------------------------------------------------------------


# NOTE: formerly registered as the oracled query "event_type_freshness";
# consolidated into dq_violations (round 11) as the 'freshness_lag'
# violation family — max_ts rides the ts column, lag_days the metric
# column, and is_stale is the downstream `metric > 7` filter — to free
# the 50-row-budget slot the BPE training-tables oracle now occupies.
# The A2 surface (MAX scalar freshness vs injectable today) stays fully
# oracled through that family. The shadow builder was deleted in r12
# (never benched, no test consumers — the keep-note's delete clause,
# taken).


# ---------------------------------------------------------------------------
# Beyond-reference OLAP: ROLLUP hierarchy
# ---------------------------------------------------------------------------


@register(
    "events_rollup",
    """
    SELECT event_type, event_date, cnt, total_value,
           round(q[1], 6) AS p50, round(q[2], 6) AS p90, round(q[3], 6) AS p99
    FROM (
      SELECT COALESCE(event_type, '(all)') AS event_type,
             COALESCE(CAST(CAST(ts AS DATE) AS VARCHAR), '(all)') AS event_date,
             COUNT(*) AS cnt,
             CAST(SUM(CAST(floor(value * 10000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 AS total_value,
             quantile_cont(value, [0.5, 0.9, 0.99]) AS q
      FROM events
      GROUP BY ROLLUP (event_type, CAST(ts AS DATE))
    )
    """,
    doc=(
        "ROLLUP hierarchical aggregate (event_type -> date -> grand "
        "total); count/sum stay partial-agg (constant space per group). "
        "Since r11 also carries the folded value_percentiles row's exact "
        "interpolated percentiles (Spark percentile == DuckDB "
        "quantile_cont) at every rollup grain — EXACT percentile is the "
        "oracle-exact correctness surface and buffers each group's "
        "values (the grand-total group buffers the corpus), so it is "
        "deliberately NOT the 100 TB path: production reporting uses "
        "approx_percentile, exercised with self-graded error bounds by "
        "sketch_user_counts and PINNED at these exact rollup grains "
        "(incl. the grand total) within the ±0.005 exact-rank envelope "
        "by test_sketches.test_rollup_percentiles_have_a_bounded_approx_path."
    ),
)
def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fanned (r16, interleaved A/B: 0.652 vs 0.652 s — a wash): the
    # exact-percentile buffers ship every value through the exchange
    # regardless, so fanning the scan only moves where the buffers build
    ev = read(spark, sf_dir, "events").withColumn("event_date", F.col("ts").cast("date"))
    return (
        ev.rollup("event_type", "event_date")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.floor(F.col("value") * 10000.0 + F.lit(0.5)).cast("long")).cast("double") / 10000.0).alias(
                "total_value"
            ),
            F.expr("percentile(value, array(0.5D, 0.9D, 0.99D))").alias("q"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("event_date").cast("string"), F.lit("(all)")).alias("event_date"),
            "cnt",
            "total_value",
            F.round(F.element_at("q", 1), 6).alias("p50"),
            F.round(F.element_at("q", 2), 6).alias("p90"),
            F.round(F.element_at("q", 3), 6).alias("p99"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints (near-dup family)
# ---------------------------------------------------------------------------

N_SIMHASH_BITS = 16


def _bit_exprs(engine: str) -> list[str]:
    """Per-bit +/-1 contribution from the token's sha256 hex digest.
    bit b lives in hex char (1 + b div 4), shifted by (3 - b mod 4).
    Nibble value via 1-based find in '0123456789abcdef' minus 1 —
    identical in Spark (instr) and DuckDB (strpos)."""
    find = "instr" if engine == "spark" else "strpos"
    # Spark side reads a pre-materialized digest COLUMN (tsha): one sha2
    # per token instead of 16 (one per bit expression) — CSE is not
    # guaranteed across aggregate expressions. DuckDB CSEs the repeated
    # sha256 itself, and the oracle values are identical either way.
    sha = "tsha" if engine == "spark" else "sha256(token)"
    out = []
    for b in range(N_SIMHASH_BITS):
        pos, shift = 1 + b // 4, 3 - b % 4
        nib = f"({find}('0123456789abcdef', substr({sha}, {pos}, 1)) - 1)"
        bit = f"(({nib} // {2 ** shift}) % 2)" if engine == "duckdb" else f"(({nib} div {2 ** shift}) % 2)"
        out.append(f"(2 * {bit} - 1)")
    return out


def _fingerprints_sql() -> str:
    """doc_fingerprints + simhash_fingerprints merged (r8 consolidation,
    freeing a registry slot inside the 50-row budget): ONE token explode
    and ONE per-doc aggregation carry both the position-weighted
    rolling-hash fingerprint and the 16 sign-of-sum simhash bits."""
    contribs = _bit_exprs("duckdb")
    bits = ", ".join(
        f"CASE WHEN SUM({c}) >= 0 THEN 1 ELSE 0 END AS bit{i}" for i, c in enumerate(contribs)
    )
    packed = " + ".join(f"bit{i} * {2 ** i}" for i in range(N_SIMHASH_BITS))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS ord
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents)
    ), agg AS (
      SELECT doc_id,
             CAST(SUM(ord * (ascii(token) * 31 + length(token))) % 1000000007 AS BIGINT)
               AS fingerprint,
             {bits}
      FROM toks GROUP BY doc_id
    )
    SELECT doc_id, fingerprint, CAST({packed} AS BIGINT) AS simhash FROM agg
    """


@register(
    "simhash_fingerprints",
    _fingerprints_sql(),
    doc=(
        f"Per-doc fingerprint pair in ONE explode + ONE aggregation: position-weighted "
        f"rolling-hash (exact bigint sum mod p — order-sensitive, distribution-safe) AND "
        f"the {N_SIMHASH_BITS}-bit sign-of-sum SimHash over token sha256 bits (near-dups "
        "differ in few bits; hamming-ball lookup is an equi-join per rotation). Subsumes "
        "the former doc_fingerprints query — consolidated r8 to free a slot in the "
        "driver's 50-row budget."
    ),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-row crypto dwarfs input bytes -> fan out BY doc_id (the
    # aggregation groups on it, so the fan-out exchange is the agg's
    # distribution too); digest materialized once per token, the 16 bit
    # aggs only slice nibbles from it. The positional fingerprint rides
    # the SAME explode + exchange as a 17th aggregate — two fingerprint
    # families for one pass.
    docs = read_fanned(spark, sf_dir, "documents", by="doc_id")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias(
            "ord", "token"
        ),
    ).select(
        "doc_id",
        "ord",
        F.sha2(F.col("token"), 256).alias("tsha"),
        (
            (F.col("ord") + 1).cast("long")
            * (F.ascii("token").cast("long") * 31 + F.length("token").cast("long"))
        ).alias("term"),
    )
    aggs = [
        F.when(F.sum(F.expr(c)) >= 0, 1).otherwise(0).alias(f"bit{i}")
        for i, c in enumerate(_bit_exprs("spark"))
    ]
    bits = toks.groupBy("doc_id").agg(
        (F.sum("term") % 1000000007).cast("long").alias("fingerprint"), *aggs
    )
    packed = sum(F.col(f"bit{i}") * (2 ** i) for i in range(N_SIMHASH_BITS))
    return bits.select("doc_id", "fingerprint", packed.cast("long").alias("simhash"))


# ---------------------------------------------------------------------------
# LSH-bucketed ANN: candidate retrieval via bucket equi-join
# ---------------------------------------------------------------------------


def _bucket_ann_sql() -> str:
    from youtube_analytics_lakehouse_databricks_spark.queries.vectorops import _DOT_DD, _NORM_DD, _srp_bits_duckdb

    from youtube_analytics_lakehouse_databricks_spark.queries.vectorops import N_PLANES  # noqa: PLC0415

    bucket = " || ".join(_srp_bits_duckdb(p) for p in range(N_PLANES))
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {bucket} AS bucket,
             {_NORM_DD.format(a="embedding")} AS norm
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_DD.format(a="a.embedding", b="b.embedding")} / (a.norm * b.norm), 6) AS cosine
      FROM bucketed a JOIN bucketed b
        ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rn
      FROM pairs
    ) WHERE rn = 1
    """


@register(
    "embedding_bucket_ann",
    _bucket_ann_sql(),
    doc=(
        "Scale-path ANN: sign-random-projection buckets -> equi-join on "
        "bucket key -> exact cosine only within buckets -> best neighbor "
        "per vector. The 100 TB shape: shuffle on bucket, never n^2."
    ),
)
def embedding_bucket_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import bucket_topk
    from youtube_analytics_lakehouse_databricks_spark.queries.vectorops import N_PLANES

    # fan the scan so the Arrow bucketize pass isn't single-partition
    return bucket_topk(read_fanned(spark, sf_dir, "embeddings"), "vec_id", "embedding", N_PLANES)


SAMPLE_PER_STRATUM = 50


@register(
    "stratified_sample",
    f"""
    SELECT event_type, event_id, user_id, value FROM (
      SELECT event_type, event_id, user_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY sha256(CAST(event_id AS VARCHAR)), event_id
             ) AS rn
      FROM events
    ) WHERE rn <= {SAMPLE_PER_STRATUM}
    """,
    doc=(
        f"Deterministic stratified sampling for dataset curation: "
        f"{SAMPLE_PER_STRATUM} rows per event_type, chosen by ordering on "
        "a content hash (reproducible on any engine/cluster, unlike "
        "rand()-based sampling). One window shuffle on the stratum key; "
        "at 100 TB swap the exact top-N for a hash-threshold filter "
        "(sha < p * MAX) to avoid ranking entirely."
    ),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.sha2(F.col("event_id").cast("string"), 256), F.col("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_PER_STRATUM)
        .select("event_type", "event_id", "user_id", "value")
    )


def _sketch_frame(ev: DataFrame) -> DataFrame:
    """The sketch-vs-exact aggregation over an events-shaped frame,
    factored so degenerate-group semantics are unit-testable without a
    scale-factor directory. The bound flags must be provably TRUE on
    EVERY input — the registered oracle asserts TRUE literals — so
    groups with nothing to grade are defined vacuously ok rather than
    left to NULL/NaN arithmetic: a group whose user_id values are all
    NULL has exact_users=0 and grades the HLL on exact equality
    (approx must be 0 too — rel_err would be 0/0=NaN, and NaN sorts
    ABOVE every number in Spark, so the naive `rel_err <= 0.15` reads
    false); and the percentile flags grade only groups with >= 200
    non-null values — below that the ±0.005 RANK tolerance spans less
    than one element, so the interpolated exact envelope
    (`percentile(0.495..0.505)`) can sit strictly BETWEEN two adjacent
    elements and exclude every value approx_percentile (which returns
    real elements) could possibly return: a 2-value group's p50
    envelope is [1.495, 1.505] while the only returnable elements are
    1.0 and 2.0. Above 200 the envelope necessarily contains at least
    one element and the 1/1000-accuracy guarantee makes the flag
    provably TRUE; all-NULL value groups fall under the same guard
    (zero non-null values)."""
    out = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("approx_percentile(value, array(0.5D, 0.99D), 1000)").alias("approx_q"),
        # exact rank envelope: approx_percentile(accuracy=1000) guarantees
        # rank error <= 1/1000; we check against a looser ±0.005 envelope
        F.expr("percentile(value, array(0.495D, 0.505D, 0.985D, 0.995D))").alias("env"),
        F.count(F.lit(1)).alias("n_events"),
        F.count("value").alias("n_vals"),
    )
    rel_err = F.when(
        F.col("exact_users") > 0,
        F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users"),
    ).otherwise(F.when(F.col("approx_users") == 0, F.lit(0.0)).otherwise(F.lit(1.0)))
    p50, p99 = F.element_at("approx_q", 1), F.element_at("approx_q", 2)

    def _q_ok(q, lo, hi):
        # n_vals >= 200 <=> the ±0.005 rank envelope spans >= 1 element
        # (see the docstring); below that the check is vacuous, and the
        # all-NULL case (n_vals = 0, NULL envelope) rides the same guard
        return F.when(F.col("n_vals") < 200, F.lit(True)).otherwise(
            q.between(lo, hi)
        )

    return out.select(
        "event_type",
        "approx_users",
        "exact_users",
        p50.alias("approx_p50"),
        p99.alias("approx_p99"),
        "n_events",
        F.round(rel_err, 6).alias("hll_rel_err"),
        (rel_err <= F.lit(0.15)).alias("hll_ok"),
        _q_ok(p50, F.element_at("env", 1), F.element_at("env", 2)).alias("p50_ok"),
        _q_ok(p99, F.element_at("env", 3), F.element_at("env", 4)).alias("p99_ok"),
    )


def sketch_user_counts_diagnostic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sketch-vs-exact diagnostic frame: HyperLogLog distinct users
    and approximate quantiles per event_type next to their exact
    counterparts, per-row error columns, and bound flags. The registered
    ``sketch_user_counts`` row projects this frame's DETERMINISTIC
    subset so the driver's DuckDB gate can hash it; this full frame
    (approx values + error magnitudes included) is the profiling
    surface and stays under test via ``test_sketches``."""
    return _sketch_frame(read(spark, sf_dir, "events"))


@register(
    "sketch_user_counts",
    # Partial oracle (r15): the sketch ESTIMATES themselves are not
    # reproducible cross-engine (DuckDB's HLL/quantile internals differ),
    # but everything this projection emits IS deterministic — the group
    # keys, the exact countDistinct/count, and the self-grading bound
    # flags, which the accuracy guarantees make provably TRUE (rsd 5%
    # with 3x slack; approx_percentile(accuracy=1000) rank error 1/1000
    # vs a ±0.005 envelope). DuckDB mirrors the exact columns and
    # asserts TRUE literals for the flags, so a sketch-bound violation
    # on the Spark side hash-mismatches the gate instead of hiding
    # behind a rows-only check.
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           COUNT(*) AS n_events,
           TRUE AS hll_ok,
           TRUE AS p50_ok,
           TRUE AS p99_ok
    FROM events
    GROUP BY event_type
    """,
    doc=(
        "Sketch aggregates for 100 TB profiling: HyperLogLog distinct "
        "users and KLL-style approximate quantiles per event_type, one "
        "pass, fixed memory — computed NEXT TO their exact counterparts "
        "with bound flags (hll_ok: rel err <= 3x the 5% default rsd; "
        "p50_ok/p99_ok: approx value lands within ±0.005 exact rank "
        "tolerance, vs the 1/1000 accuracy guarantee). This registered "
        "row is the DETERMINISTIC projection of "
        "sketch_user_counts_diagnostic (keys, exact aggregates, flags), "
        "so the driver's hash gate verifies the exact columns and that "
        "every flag is TRUE; the approx values/error magnitudes ride "
        "the diagnostic frame, asserted bounded by test_sketches."
    ),
)
def sketch_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketch_user_counts_diagnostic(spark, sf_dir).select(
        "event_type", "exact_users", "n_events", "hll_ok", "p50_ok", "p99_ok"
    )


# NOTE: embedding_ivf_ann moved to queries/vectorops.py in r11, where it
# gained its DuckDB oracle (the quantizer unroll lives there).
