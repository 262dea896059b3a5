"""Training-data text operators: dedup, fingerprints, quality, language-ID.

Beyond-reference operators a 100 TB training-data pipeline needs, built on
the same declarative substrate (SURVEY.md §7.2 slice 6). Scale design:
- shingling is pure per-row array math (split -> transform -> slice):
  zero shuffle, no window, no driver-side loops;
- MinHash signatures are array_min folds over the per-doc shingle-set
  array — also zero shuffle (min over set == min over multiset);
- LSH banding turns near-dup search into ONE groupBy-on-band-key shuffle
  with JVM-side pair expansion (never an O(n^2) cross join);
- the pairwise Jaccard verification is array_intersect on candidate
  pairs only (candidates << corpus).

Hashing uses sha2/sha256 hex strings (identical across Spark and DuckDB);
MinHash takes the lexicographic min of the hex digest per seed, which is a
valid uniform min-hash and avoids engine-specific integer hash functions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators import dedup as dedup_ops
from youtube_analytics_lakehouse_databricks_spark.operators import text as text_ops
from youtube_analytics_lakehouse_databricks_spark.queries import read, read_fanned, register

N_MINHASH = 8  # seeds 0..7; bands of 2 rows -> 4 bands
SHINGLE_K = 3
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

_SHINGLE_SQL = """
      SELECT doc_id, shingle FROM (
        SELECT doc_id,
               concat_ws(' ', token,
                         lead(token, 1) OVER (PARTITION BY doc_id ORDER BY ord),
                         lead(token, 2) OVER (PARTITION BY doc_id ORDER BY ord)) AS shingle,
               lead(token, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS t2
        FROM (
          SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS ord
          FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
                FROM documents)
        )
      ) WHERE t2 IS NOT NULL
"""


def _minhash_sql_cols() -> str:
    """DuckDB mirror of operators.dedup.minhash_signatures' sliced-digest
    derivation: mh_i = min over shingles of the i%4-th 16-hex-char slice
    of the seeded (seed = i//4) sha256 digest."""
    cols = []
    for i in range(N_MINHASH):
        seed, sl = divmod(i, 4)
        cols.append(
            f"min(substr(sha256(concat_ws('|', '{seed}', shingle)), {1 + 16 * sl}, 16)) AS mh{i}"
        )
    return ", ".join(cols)


def _docs_fanned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents scan for the compute-heavy shingle/MinHash pipelines:
    fanned out only when the scan is narrower than the cluster (see
    queries.read_fanned). Fanned BY doc_id: every downstream aggregation
    here groups on doc_id, so the fan-out exchange doubles as the
    aggregation's distribution and the per-doc agg shuffle is elided."""
    return read_fanned(spark, sf_dir, "documents", by="doc_id")


def shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) via the reusable operator (k=3)."""
    return dedup_ops.shingles(_docs_fanned(spark, sf_dir), "doc_id", "text", k=SHINGLE_K)


def shingle_set_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shset, n_shingles): per-doc distinct shingle-set arrays —
    per-row array ops, no shuffle beyond the fan-out rebalance."""
    return dedup_ops.shingle_sets(_docs_fanned(spark, sf_dir), "doc_id", "text", k=SHINGLE_K)


def minhash_signature_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per doc with N_MINHASH sliced-digest minhash columns
    mh0..mhN — exploded shingles + min() aggregates over 16-hex-char
    slices of 2 seeded sha256 digests (4x less hashing than one digest
    per hash function; see operators.dedup). The agg formulation
    beats the per-row array_min(transform(...)) one ~4x in practice: the
    sha2-over-shingle work runs in whole-stage codegen with map-side
    partial aggregation, while higher-order-function lambdas are
    interpreted and projection collapse re-evaluates the set expression
    once per mh column.

    Re-measured head-to-head in round 5 (sf0.1, local[32], min of 3,
    full lsh_candidates chain): this path 1.43 s vs a per-row
    array_min over the shingle-set arrays 5.46 s — the "one less
    shuffle" of the from-sets variant is a real exchange saved but the
    interpreted sha2-in-transform costs 4x more than the shuffle it
    avoids, and the doc_id fan-out already doubles
    as the agg's distribution (the agg exchange is elided; the plan
    test pins 3 exchanges total). Keep the agg formulation."""
    return dedup_ops.minhash_signatures(shingles(spark, sf_dir), "doc_id", N_MINHASH)


@register(
    "exact_dedup_documents",
    """
    WITH normed AS (
      SELECT doc_id, sha256(text) AS text_hash,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm_text
      FROM documents
    )
    SELECT sha256(norm_text) AS norm_hash, MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_count,
           COUNT(DISTINCT text_hash) AS distinct_raw_hashes
    FROM normed
    GROUP BY sha256(norm_text)
    """,
    doc=(
        "Exact + canonical dedup in one pass: lowercase/punct-strip/"
        "ws-collapse normalization, then hash-groupBy on the canonical "
        "hash (keep min id per cluster) with the distinct RAW content-hash "
        "count per cluster — so both byte-exact dups (raw count < rows) "
        "and cosmetic variants (distinct_raw_hashes > 1) are visible. One "
        "narrow projection + one hash-groupBy shuffle; subsumes the former "
        "normalized_text_hashes query."
    ),
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT fanned (r16, measured): the partial agg on sha2(norm_text)
    # collapses to ~unique-doc groups map-side, so the one-task scan
    # shuffles almost nothing; fanning shuffled every raw text first and
    # measured 0.33 -> 0.52 s WORSE at sf0.1 (the doc_quality_scores
    # projection, by contrast, has no aggregation to collapse behind)
    docs = read(spark, sf_dir, "documents")
    normed = docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("text_hash"),
        text_ops.norm_expr("text").alias("norm_text"),
    )
    return (
        normed.groupBy(F.sha2(F.col("norm_text"), 256).alias("norm_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
            F.countDistinct("text_hash").alias("distinct_raw_hashes"),
        )
    )


def _lsh_oracle_sql() -> str:
    bands = N_MINHASH // 2
    band_cols = ",\n           ".join(
        f"sha256(concat_ws('|', mh{2 * b}, mh{2 * b + 1})) AS band{b}" for b in range(bands)
    )
    unions = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b"
        f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sig AS (SELECT doc_id, {_minhash_sql_cols()}
            FROM sh GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sig)
    {unions}
    """


@register(
    "lsh_candidate_pairs",
    _lsh_oracle_sql(),
    doc="MinHash-LSH banding: band hash equi-join per band, distinct union of candidate pairs.",
)
def lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.lsh_candidates(
        minhash_signature_df(spark, sf_dir), "doc_id", N_MINHASH, rows_per_band=2
    )


def _lsh_verified_sql() -> str:
    sig = _minhash_sql_cols()
    bands = N_MINHASH // 2
    band_cols = ", ".join(
        f"sha256(concat_ws('|', mh{2 * b}, mh{2 * b + 1})) AS band{b}" for b in range(bands)
    )
    unions = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b"
        f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
    WITH sh AS ({_SHINGLE_SQL}),
    ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sig AS (SELECT doc_id, {sig} FROM sh GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sig),
    cand AS (
{unions}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN ds a ON a.doc_id = c.doc_a
      JOIN ds b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    """


@register(
    "lsh_verified_near_dups",
    _lsh_verified_sql(),
    doc=(
        "The full scalable near-dup pipeline: MinHash signatures -> LSH band "
        "candidates (equi-joins) -> exact Jaccard verification ONLY on "
        "candidate pairs. At 100 TB the shingle self-join of the brute "
        "pipeline explodes on hot shingles; this shape verifies O(candidates)."
    ),
)
def lsh_verified_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Signatures come from the codegen'd explode+min-agg path (one
    # shuffle); candidates are one groupBy-on-band shuffle with JVM pair
    # expansion; the verify is array_intersect over per-doc shingle-set
    # arrays on candidate pairs only. No cache anywhere — every reused
    # frame is either cheap per-row math (the set arrays) or behind an
    # aggregation barrier, so nothing pins executor storage memory.
    sets = shingle_set_df(spark, sf_dir)
    sig = minhash_signature_df(spark, sf_dir)
    cand = dedup_ops.lsh_candidates(sig, "doc_id", N_MINHASH, rows_per_band=2)
    return dedup_ops.jaccard_verify_sets(sets, "doc_id", cand, threshold=0.5)


# NOTE: formerly registered as the oracled query "neardup_components";
# consolidated into dedup_keepers (round 6) to stay inside the driver's
# 50-row CORRECTNESS budget — dedup_keepers wraps this exact frame (same
# verified pairs, same recursive-CTE oracle) and adds the keep decision,
# so the connected-components operator stays fully oracled through it.
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.graph import connected_components

    pairs = lsh_verified_near_dups(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(F.col("node").alias("doc_id"), "component")


TFIDF_TOP_K = 5


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df ON df.token = tf.token CROSS JOIN n
    )
    SELECT doc_id, token, tfidf, CAST(rnk AS INT) AS rnk FROM (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rnk
      FROM scored
    ) WHERE rnk <= {TFIDF_TOP_K}
    """,
    doc=(
        f"TF-IDF top-{TFIDF_TOP_K} terms per document: term frequency x "
        "ln(N/df), ranked on the 6-dp-rounded score with a token "
        "tie-break so ranking is exact cross-engine. Three shuffles "
        "(doc-term agg, term df agg broadcast back, per-doc window) — "
        "the classic corpus-relevance primitive for quality filtering "
        "and topic surfacing at 100 TB."
    ),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs_fanned(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.explode(F.expr("filter(split(text, ' '), x -> x <> '')")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    # df_counts is the VOCABULARY — can be huge at 100 TB, so no broadcast
    # hint; AQE picks broadcast only when the runtime size allows it.
    scored = (
        tf.join(df_counts, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


@register(
    "dedup_keepers",
    f"""
    WITH RECURSIVE pairs AS ({_lsh_verified_sql()}),
    nodes AS (
      SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(c.component, d.doc_id) AS component,
           (d.doc_id = COALESCE(c.component, d.doc_id)) AS keep
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    doc=(
        "The dedup DECISION table: every document with its near-dup "
        "cluster id and keep = (doc is the cluster's canonical min id); "
        "docs in no cluster keep themselves. `WHERE keep` is the filter a "
        "100 TB curation pipeline applies before training. Composes with "
        "exact_dedup_documents for byte-identical dups."
    ),
)
def dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents").select("doc_id")
    comp = neardup_components(spark, sf_dir).withColumnRenamed("component", "c")
    return docs.join(comp, "doc_id", "left").select(
        "doc_id",
        F.coalesce("c", "doc_id").alias("component"),
        (F.col("doc_id") == F.coalesce("c", "doc_id")).alias("keep"),
    )


# hashed_embedding's oracle rides this doc-grain row (r13) at an
# oracle-tractable width; the operator's default dim=64 runs the
# IDENTICAL code path (only the range() bound differs) and is pinned by
# tests/test_text_ops.py. The mirror rebuilds the whole bridge: sha256
# hex nibbles -> per-dimension +/-1 bit signs -> per-doc sums -> L2
# normalize THROUGH the float32 output cast (CAST AS REAL = Spark's
# array<float> element), NULL on zero norm (token-less docs and exact
# all-dimension cancellation), rounded to 6 for the value hash.
HE_DIM = 8


def _hashed_embedding_ctes() -> str:
    nibs = ", ".join(
        f"strpos('0123456789abcdef', substr(sha256(token), {i + 1}, 1)) - 1 AS nb{i}"
        for i in range((HE_DIM + 3) // 4)
    )
    sums = ", ".join(
        f"SUM(2 * ((nb{b // 4} // {2 ** (3 - b % 4)}) % 2) - 1) AS d{b}"
        for b in range(HE_DIM)
    )
    sq = " + ".join(f"d{b} * d{b}" for b in range(HE_DIM))
    emb = ", ".join(
        f"CASE WHEN nrm = 0 THEN NULL ELSE "
        f"round(CAST(CAST(d{b} / nrm AS REAL) AS DOUBLE), 6) END AS he{b}"
        for b in range(HE_DIM)
    )
    return f"""
    htok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
      FROM documents
    ),
    hnib AS (SELECT doc_id, {nibs} FROM htok),
    hsum AS (SELECT doc_id, {sums} FROM hnib GROUP BY doc_id),
    hemb AS (
      SELECT doc_id, {emb}
      FROM (SELECT *, sqrt(CAST({sq} AS DOUBLE)) AS nrm FROM hsum)
    )"""


@register(
    "doc_quality_scores",
    f"""
    WITH q AS (
      SELECT doc_id,
             CAST(len(tokens) AS INT) AS n_tokens,
             CAST(len(list_distinct(tokens)) AS INT) AS n_distinct_tokens,
             CAST(length(text) AS INT) AS n_chars_actual,
             CAST(len(list_filter(tokens, x -> x IN {STOPWORDS})) AS DOUBLE) / len(tokens) AS stopword_ratio,
             CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) AS distinct_ratio
      FROM (SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
            FROM documents)
    ),{_hashed_embedding_ctes()}
    SELECT q.*, {", ".join(f"hemb.he{b}" for b in range(HE_DIM))}
    FROM q LEFT JOIN hemb USING (doc_id)
    """,
    doc=(
        "Quality scoring (token counts, distinct ratio, stopword ratio — "
        "all JVM-side array ops) + the hashed_embedding bridge's "
        "cross-engine hash-match (r13): sha256-nibble ±1 signs summed "
        "per dimension, L2-normalized through the float32 output cast, "
        "NULL on zero norm."
    ),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE projection chain over documents — hashed_embedding carries
    # `text` through (passthrough), quality_scores carries `embedding`
    # through, so the doc-grain row plans with ZERO Exchange at any
    # corpus size (plan-asserted). The r13 shape joined two per-row
    # projections of the same table back together on doc_id: AQE saved
    # it with a broadcast at sf0.1, but at 100 TB neither side
    # broadcasts and the row became two corpus-wide exchanges plus a
    # sort-merge join for output this select produces shuffle-free.
    # r16: fanned — the per-token sha2 folds are the heaviest per-row
    # compute in the suite and the single-row-group scan ran them all on
    # ONE task. The fan-out is the scale-guarded RoundRobin (read_fanned
    # is a no-op once the scan is cluster-wide), so the "no hash/agg
    # exchange, no join at any corpus size" property still holds — the
    # plan test now pins exactly that (at most the fan-out exchange).
    docs = read_fanned(spark, sf_dir, "documents")
    emb = text_ops.hashed_embedding(
        docs, "doc_id", "text", dim=HE_DIM, passthrough=("text",)
    )
    fused = text_ops.quality_scores(
        emb, "doc_id", "text", STOPWORDS, passthrough=("embedding",)
    )
    return fused.select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "n_chars_actual",
        "stopword_ratio",
        "distinct_ratio",
        *[
            F.round(F.element_at(F.col("embedding"), b + 1).cast("double"), 6).alias(
                f"he{b}"
            )
            for b in range(HE_DIM)
        ],
    )


_LANG_STOPS = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "zu"),
    "es": ("el", "la", "de", "y", "que"),
    "fr": ("le", "la", "de", "et", "que"),
}


def _langid_counts_sql() -> str:
    cols = ",\n           ".join(
        f"len(list_filter(tokens, x -> x IN {stops})) AS n_{lang}"
        for lang, stops in _LANG_STOPS.items()
    )
    return cols


@register(
    "lang_id_heuristic",
    f"""
    SELECT doc_id,
           CASE WHEN n_en >= n_de AND n_en >= n_es AND n_en >= n_fr AND n_en > 0 THEN 'en'
                WHEN n_de >= n_es AND n_de >= n_fr AND n_de > 0 THEN 'de'
                WHEN n_es >= n_fr AND n_es > 0 THEN 'es'
                WHEN n_fr > 0 THEN 'fr'
                ELSE 'unknown' END AS predicted_lang,
           lang AS labeled_lang
    FROM (
      SELECT doc_id, lang, {_langid_counts_sql()}
      FROM (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
            FROM documents)
    )
    """,
    doc="Language-ID n-gram/stopword heuristic: per-language stopword hit counts -> argmax.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read(spark, sf_dir, "documents")
    pred = text_ops.lang_id(docs, "doc_id", "text", _LANG_STOPS)
    return pred.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "predicted_lang", F.col("lang").alias("labeled_lang")
    )


# doc_fingerprints merged into simhash_fingerprints (extended.py, r8):
# both per-doc fingerprints now ride ONE explode + ONE aggregation, and
# the freed registry slot carries mixture_sample_domains below.


@register(
    "mixture_sample_domains",
    """
    WITH base AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 < 7 THEN 'web'
                  WHEN doc_id % 13 < 11 THEN 'books' END AS domain
      FROM documents
    ),
    counts AS (SELECT domain, COUNT(*) AS n FROM base GROUP BY domain),
    z AS (SELECT SUM(POWER(n, 0.5)) AS z, SUM(n) AS total FROM counts),
    rates AS (
      SELECT c.domain,
             LEAST(((POWER(c.n, 0.5) / z.z) * z.total) / c.n, 1.0) AS rate
      FROM counts c CROSS JOIN z
    )
    SELECT b.doc_id, b.domain, 0 AS copy
    FROM base b
    JOIN rates r ON b.domain IS NOT DISTINCT FROM r.domain
    WHERE (((b.doc_id + 1) * 48271) % 2147483647) / 2147483647.0 < r.rate
    """,
    doc=(
        "Temperature mixing (alpha=0.5) with a NULL domain: per-domain "
        "rates from counts^alpha (cap-at-1 reported, not shifted), "
        "realized by deterministic threshold sampling via the "
        "ANSI-replayable lehmer draw; the NULL-domain rows MUST appear "
        "in the mix (eqNullSafe rate join — the round-7 fix this row "
        "pins cross-engine). operators/mixing.py:106."
    ),
)
def mixture_sample_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.mixing import mixture_sample

    docs = read(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 13 < 7, "web")
        .when(F.col("doc_id") % 13 < 11, "books")
        .alias("domain"),
    )
    return mixture_sample(
        docs, "domain", "doc_id", alpha=0.5, seed=0, draw="lehmer"
    ).select("doc_id", "domain", F.col("copy").cast("int").alias("copy"))


DECONTAM_K = 5  # the ~45-token driver docs need a sub-13 gram to overlap


@register(
    "benchmark_decontam",
    f"""
    WITH normed AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS t
      FROM documents
    ),
    toksrc AS (
      SELECT doc_id, list_filter(string_split(t, ' '), x -> x <> '') AS toks
      FROM normed
    ),
    grams AS (
      SELECT doc_id, concat_ws(' ', token, l1, l2, l3, l4) AS gram
      FROM (
        SELECT doc_id, token,
               lead(token, 1) OVER w AS l1, lead(token, 2) OVER w AS l2,
               lead(token, 3) OVER w AS l3, lead(token, 4) OVER w AS l4
        FROM (SELECT doc_id, unnest(toks) AS token,
                     generate_subscripts(toks, 1) AS ord
              FROM toksrc)
        WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE l4 IS NOT NULL
    ),
    tg AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 20 <> 0),
    eg AS (SELECT gram, MIN(doc_id) AS eval_id
           FROM grams WHERE doc_id % 20 = 0 GROUP BY gram),
    agg AS (
      SELECT d.doc_id,
             COUNT(tg.gram) AS n_grams,
             COUNT(eg.eval_id) AS n_hit_grams,
             MIN(eg.eval_id) AS matched_eval_id
      FROM (SELECT doc_id FROM documents WHERE doc_id % 20 <> 0) d
      LEFT JOIN tg ON tg.doc_id = d.doc_id
      LEFT JOIN eg ON eg.gram = tg.gram
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_grams, n_hit_grams,
           CASE WHEN n_grams > 0
                THEN CAST(n_hit_grams AS DOUBLE) / n_grams END AS contamination_frac,
           matched_eval_id,
           n_hit_grams >= 1 AS is_contaminated
    FROM agg
    """,
    doc=(
        "Benchmark decontamination (GPT-3/PaLM k-gram rule) as a registered, "
        "oracled query: every 20th doc plays the eval suite, the rest are "
        "training docs; one row per training doc with distinct-gram counts, "
        "hit counts, contamination fraction, and the min-id eval doc matched. "
        "The Spark side broadcasts the eval grams (hashed to 8-byte xxhash64) "
        "so the training scan never shuffles for the join; the oracle compares "
        "grams as strings — equality agrees up to a 2^-64 hash collision, "
        "which would only ever OVER-flag."
    ),
)
def benchmark_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.decontam import decontaminate

    # train side fanned BY doc_id: the normalization regexes + gram
    # hashing parallelize AND the operator's per-doc aggregation reuses
    # the fan-out's hash distribution (Generate/broadcast-join preserve
    # it), eliding the agg exchange. The eval side stays a bare scan —
    # it only feeds the broadcast gram build.
    docs = read(spark, sf_dir, "documents")
    train = read_fanned(spark, sf_dir, "documents", by="doc_id").filter(
        F.col("doc_id") % 20 != 0
    )
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return decontaminate(train, ev, "doc_id", "text", k=DECONTAM_K)


def _curate_oracle_sql() -> str:
    """DuckDB mirror of operators.curation.curate()'s default chain:
    quality gate -> exact dedup on canonical text -> LSH near-dup over the
    SAME canonical text of the exact representatives -> recursive-CTE
    components -> audit assembly with stage precedence. The hot-bucket
    cap (1024) cannot fire on the driver corpora (<= 500 reps), so the
    audit flag is constant FALSE on both sides; no eval set is given, so
    the decontamination audit columns are typed NULLs."""
    sig = _minhash_sql_cols()
    bands = N_MINHASH // 2
    band_cols = ", ".join(
        f"sha256(concat_ws('|', mh{2 * b}, mh{2 * b + 1})) AS band{b}" for b in range(bands)
    )
    unions = "\n      UNION\n".join(
        f"      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b"
        f" ON a.band{b} = b.band{b} AND a.doc_id < b.doc_id"
        for b in range(bands)
    )
    return f"""
    WITH RECURSIVE q AS (
      SELECT doc_id, len(tokens) AS n_tokens,
             CAST(len(list_filter(tokens, x -> x IN {STOPWORDS})) AS DOUBLE)
               / NULLIF(len(tokens), 0) AS stopword_ratio,
             CAST(len(list_distinct(tokens)) AS DOUBLE)
               / NULLIF(len(tokens), 0) AS distinct_ratio
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tokens
            FROM documents)
    ),
    lowq AS (
      SELECT doc_id FROM q
      WHERE n_tokens < 5 OR stopword_ratio > 0.9 OR distinct_ratio < 0.1
    ),
    normed AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS ntext
      FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lowq)
    ),
    hashed AS (SELECT doc_id, sha256(ntext) AS h FROM normed),
    hkeep AS (SELECT h, MIN(doc_id) AS keeper FROM hashed GROUP BY h),
    exact_map AS (SELECT hashed.doc_id, keeper FROM hashed JOIN hkeep USING (h)),
    rt AS (
      SELECT n.doc_id, list_filter(string_split(n.ntext, ' '), x -> x <> '') AS toks
      FROM normed n JOIN exact_map m ON m.doc_id = n.doc_id AND m.doc_id = m.keeper
    ),
    sh AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id,
               concat_ws(' ', token, lead(token, 1) OVER w, lead(token, 2) OVER w) AS shingle,
               lead(token, 2) OVER w AS t2
        FROM (SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS ord
              FROM rt)
        WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      ) WHERE t2 IS NOT NULL
    ),
    ds AS (SELECT DISTINCT doc_id, shingle FROM sh),
    sig AS (SELECT doc_id, {sig} FROM sh GROUP BY doc_id),
    banded AS (SELECT doc_id, {band_cols} FROM sig),
    cand AS (
{unions}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM ds GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN ds a ON a.doc_id = c.doc_a
      JOIN ds b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ),
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ),
    nodes AS (SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, reach.r FROM reach JOIN edges e ON e.b = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
    neard AS (SELECT node AS doc_id, component FROM comp WHERE node <> component),
    -- exact dups whose keeper was itself near-folded resolve one hop
    -- further to the keeper's component root (mirrors curate()'s
    -- final-root repoint)
    exd AS (SELECT e.doc_id, COALESCE(nd.component, e.keeper) AS keeper
            FROM (SELECT doc_id, keeper FROM exact_map WHERE doc_id <> keeper) e
            LEFT JOIN neard nd ON nd.doc_id = e.keeper)
    SELECT d.doc_id,
           (l.doc_id IS NULL AND e.doc_id IS NULL AND n.doc_id IS NULL) AS keep,
           CASE WHEN l.doc_id IS NOT NULL THEN 'low_quality'
                WHEN e.doc_id IS NOT NULL THEN 'exact_duplicate'
                WHEN n.doc_id IS NOT NULL THEN 'near_duplicate' END AS drop_reason,
           CASE WHEN l.doc_id IS NOT NULL THEN NULL
                WHEN e.doc_id IS NOT NULL THEN e.keeper
                WHEN n.doc_id IS NOT NULL THEN n.component END AS duplicate_of,
           FALSE AS near_dup_audit_incomplete,
           CAST(NULL AS VARCHAR) AS matched_eval_id,
           CAST(NULL AS DOUBLE) AS contamination_frac,
           CAST(NULL AS BIGINT) AS substring_tokens_dropped,
           CAST(NULL AS DOUBLE) AS semantic_centroid_sim,
           CAST(NULL AS BOOLEAN) AS semantic_audit_incomplete,
           CAST(NULL AS DOUBLE) AS max_eval_cosine,
           CAST(NULL AS BIGINT) AS semantic_matched_eval_id
    FROM documents d
    LEFT JOIN lowq l ON l.doc_id = d.doc_id
    LEFT JOIN exd e ON e.doc_id = d.doc_id
    LEFT JOIN neard n ON n.doc_id = d.doc_id
    """


@register(
    "curate_audit",
    _curate_oracle_sql(),
    doc=(
        "The flagship one-call curation chain as an oracled query: "
        "operators.curation.curate() with default parameters over the "
        "documents table — quality gate, exact dedup on canonical text, "
        "LSH near-dup over the representatives' canonical text, connected "
        "components, and the per-doc audit frame (keep, drop_reason, "
        "duplicate_of + audit columns), hash-matched against a DuckDB "
        "mirror that rebuilds the whole chain in SQL (recursive CTE for "
        "the components)."
    ),
)
def curate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.curation import curate

    return curate(read(spark, sf_dir, "documents"), "doc_id", "text")


# ---------------------------------------------------------------------------
# Epoch shuffle-shard + leakage-safe split under the hash-match regime
# ---------------------------------------------------------------------------

SHARD_N = 4
SHARD_SEED = 3
SPLIT_SEED = 7
SPLIT_VAL_FRAC = 0.25
_LEHMER_M = 2147483647  # 2^31 - 1, mirrors operators.mixing
_LEHMER_A = 48271


def _shard_split_oracle_sql() -> str:
    """DuckDB mirror of the lehmer-mode epoch shuffle + leakage-safe
    split: canonical-hash exact-dedup clusters (keeper = min id), the
    split draw on the CLUSTER ROOT (every member inherits its keeper's
    side), and the kept docs' shard id / shuffle key / within-shard rank
    recomputed from the same Park-Miller step — all BIGINT-exact."""
    shard_key = f"((doc_id + {SHARD_SEED + 1}) * {_LEHMER_A}) % {_LEHMER_M}"
    split_key = f"((keeper + {SPLIT_SEED + 1}) * {_LEHMER_A}) % {_LEHMER_M}"
    return f"""
    WITH normed AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS ntext
      FROM documents
    ),
    hashed AS (SELECT doc_id, sha256(ntext) AS h FROM normed),
    hkeep AS (SELECT h, MIN(doc_id) AS keeper FROM hashed GROUP BY h),
    m AS (SELECT hashed.doc_id, keeper FROM hashed JOIN hkeep USING (h)),
    split AS (
      SELECT doc_id, keeper AS cluster_root,
             CASE WHEN CAST({split_key} AS DOUBLE) / {_LEHMER_M}.0 < {SPLIT_VAL_FRAC}
                  THEN 'validation' ELSE 'train' END AS split
      FROM m
    ),
    sharded AS (
      SELECT doc_id, {shard_key} AS shuffle_key
      FROM m WHERE doc_id = keeper
    ),
    ranked AS (
      SELECT doc_id, shuffle_key,
             CAST(shuffle_key % {SHARD_N} AS INTEGER) AS shard,
             row_number() OVER (PARTITION BY shuffle_key % {SHARD_N}
                                ORDER BY shuffle_key, doc_id) AS shard_rank
      FROM sharded
    )
    SELECT s.doc_id, s.cluster_root, s.split,
           r.shard, r.shuffle_key, CAST(r.shard_rank AS BIGINT) AS shard_rank
    FROM split s LEFT JOIN ranked r USING (doc_id)
    """


@register(
    "shard_split_assignment",
    _shard_split_oracle_sql(),
    doc=(
        "The training-export endgame under the cross-engine hash-match "
        "regime (the mixture_sample_domains lehmer playbook applied to "
        "operators.sharding + operators.splitting): canonical-hash exact "
        "dedup builds the cluster audit, leakage_safe_split(draw='lehmer', "
        "include_dropped) assigns every doc its CLUSTER's train/validation "
        "side, and the kept docs get shuffle_shards' epoch permutation — "
        "shuffle_key, shard id, and the within-shard (key, id) order "
        "surfaced as an explicit rank so the physical sort contract is "
        "hash-comparable. Production keeps draw='xxhash64' (same code "
        "path, stronger hash); the lehmer mode exists so DuckDB replays "
        "the permutation and the split bit-for-bit. Dropped duplicates "
        "carry NULL shard columns: they are not exported, but their "
        "inherited split side (the anti-leak property) IS checked. The "
        "row_number window partitioned by shard is VERIFICATION harness, "
        "not the production path (n_shards-way window = n_shards tasks at "
        "100 TB): write_shards materializes the same order with "
        "sortWithinPartitions, one exchange, no window."
    ),
)
def shard_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.sharding import assign_shards
    from youtube_analytics_lakehouse_databricks_spark.operators.splitting import (
        leakage_safe_split,
    )

    docs = read(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(text_ops.norm_expr("text"), 256).alias("h")
    )
    keep_map = hashed.groupBy("h").agg(F.min("doc_id").alias("keeper"))
    audit = hashed.join(keep_map, "h").select(
        "doc_id",
        (F.col("doc_id") == F.col("keeper")).alias("keep"),
        F.when(F.col("doc_id") != F.col("keeper"), F.lit("exact_duplicate")).alias(
            "drop_reason"
        ),
        F.when(F.col("doc_id") != F.col("keeper"), F.col("keeper")).alias(
            "duplicate_of"
        ),
    )
    # audit feeds BOTH the split and the kept-shard path: without a
    # lineage cut the scan + hash agg + keeper join re-derive per
    # consumer (r16, interleaved A/B: med 0.87 -> 0.75 s at sf0.1). The
    # cut materializes 4 narrow columns per doc — at 100 TB that re-read
    # is far cheaper than re-scanning the corpus and re-running the hash
    # aggregation (the perplexity_buckets precedent). LAZY (r17, the
    # ADVICE fix): materialization happens at the first action instead
    # of at DataFrame-construction time, so merely building this query
    # runs no Spark job.
    from youtube_analytics_lakehouse_databricks_spark.operators.lineage import cut

    audit = cut(audit)
    split = leakage_safe_split(
        audit,
        "doc_id",
        val_frac=SPLIT_VAL_FRAC,
        seed=SPLIT_SEED,
        include_dropped=True,
        draw="lehmer",
    )
    kept = assign_shards(
        audit.filter("keep").select("doc_id"),
        "doc_id",
        n_shards=SHARD_N,
        seed=SHARD_SEED,
        draw="lehmer",
    )
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    sharded = kept.select(
        "doc_id",
        "shuffle_key",
        "shard",
        F.row_number().over(w).cast("long").alias("shard_rank"),
    )
    return split.join(sharded, "doc_id", "left")


# The synthetic documents are single-line; both engines insert a
# paragraph break after every 12 whitespace-delimited tokens so the
# corpus has real multi-paragraph structure to dedup (same rewrite the
# bench harness used while this operator was bench-only).
_PARA_BREAK_SPARK = r"((?:\S+ ){12})"
_PARA_DEDUP_ORACLE = r"""
    WITH prepped AS (
      SELECT doc_id,
             regexp_replace(text, '((?:\S+ ){12})',
                            '\1' || chr(10) || chr(10), 'g') AS text
      FROM documents
    ),
    exploded AS (
      SELECT doc_id,
             unnest(string_split_regex(text, '\n{2,}')) AS para,
             generate_subscripts(string_split_regex(text, '\n{2,}'), 1) - 1
               AS para_pos
      FROM prepped
    ),
    units AS (SELECT * FROM exploded WHERE len(trim(para)) > 0),
    hashed AS (
      SELECT doc_id, para_pos, para,
             len(para) < 30 AS exempt,
             sha256(trim(regexp_replace(regexp_replace(lower(para),
                    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
      FROM units
    ),
    winners AS (
      SELECT doc_id, para_pos FROM (
        SELECT doc_id, para_pos,
               row_number() OVER (PARTITION BY h ORDER BY doc_id, para_pos) AS rn
        FROM hashed WHERE NOT exempt
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT doc_id, para_pos, para FROM hashed WHERE exempt
      UNION ALL
      SELECT h.doc_id, h.para_pos, h.para
      FROM hashed h JOIN winners w USING (doc_id, para_pos)
      WHERE NOT h.exempt
    ),
    reassembled AS (
      SELECT doc_id,
             string_agg(para, chr(10) || chr(10) ORDER BY para_pos)
               AS text_deduped,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_paras FROM units GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(r.text_deduped, '') AS text_deduped,
           COALESCE(t.n_paras, 0) AS n_paras,
           COALESCE(r.n_kept, 0) AS n_kept,
           COALESCE(t.n_paras, 0) - COALESCE(r.n_kept, 0) AS n_dropped
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN reassembled r USING (doc_id)
"""


SUBSTR_W = 20  # window tokens; the ~45-token driver docs never hit the
# 50-token ExactSubstr default, 20 still exercises the full
# window->winner->interval->rebuild chain (same W the bench used while
# this operator was bench-only, so the r8 timing series continues)

_SUBSTR_DEDUP_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    win AS (
      SELECT doc_id, i - 1 AS pos,
             array_to_string(t[i:i+{SUBSTR_W - 1}], ' ') AS w
      FROM toks, unnest(generate_series(1, len(t) - {SUBSTR_W - 1})) AS g(i)
      WHERE len(t) >= {SUBSTR_W}
    ),
    losers AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
        FROM win
      ) WHERE rn > 1
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) - 1 AS idx
      FROM toks
    ),
    dropped AS (
      SELECT DISTINCT tk.doc_id, tk.idx
      FROM tok tk JOIN losers l
        ON tk.doc_id = l.doc_id AND tk.idx >= l.pos AND tk.idx < l.pos + {SUBSTR_W}
    ),
    kept AS (
      SELECT tk.doc_id, tk.idx, tk.tok
      FROM tok tk LEFT JOIN dropped d ON tk.doc_id = d.doc_id AND tk.idx = d.idx
      WHERE d.idx IS NULL
    ),
    keptagg AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS text_deduped,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, len(t) AS n_tokens FROM toks)
    SELECT d.doc_id,
           COALESCE(k.text_deduped, '') AS text_deduped,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(t.n_tokens - COALESCE(k.n_kept, 0) AS BIGINT) AS n_dropped
    FROM documents d
    JOIN totals t USING (doc_id)
    LEFT JOIN keptagg k USING (doc_id)
"""


@register(
    "substring_dedup_documents",
    _SUBSTR_DEDUP_ORACLE,
    doc=(
        "Corpus-wide EXACT SUBSTRING dedup (ExactSubstr, Lee et al. 2021): "
        "every duplicated run of >= W whitespace tokens is removed from all "
        "but its first (id, pos) occurrence; documents are stitched back in "
        "order, never dropped. The oracle mirrors the window semantics "
        "directly — duplicated windows via GROUP BY on the window STRING "
        "(the engine's 128-bit double-xxhash64 keys stand in for exactly "
        "this string equality), losers as rn > 1 under the (id, pos) order, "
        "token coverage via a range join instead of the engine's gaps-and-"
        "islands interval merge (the covered-token UNION is identical "
        "either way). operators/dedup.py:548."
    ),
)
def substring_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.substring_dedup(
        read_fanned(spark, sf_dir, "documents", by="doc_id"),
        "doc_id",
        "text",
        min_tokens=SUBSTR_W,
    )


@register(
    "paragraph_dedup_documents",
    _PARA_DEDUP_ORACLE,
    doc=(
        "Corpus-wide paragraph-level exact dedup (the C4/RefinedWeb "
        "first-occurrence rule): split docs on blank lines, keep each "
        "canonical-hashed paragraph only at its lowest-(id, pos) "
        "occurrence (short fragments exempt), reassemble documents in "
        "order — hash-matched against a DuckDB mirror of the whole "
        "pipeline (window-ranked winners; engine side uses a skew-safe "
        "min-struct aggregation). operators/dedup.py:413."
    ),
)
def paragraph_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_fanned(spark, sf_dir, "documents", by="doc_id").select(
        "doc_id",
        F.regexp_replace("text", _PARA_BREAK_SPARK, "$1\n\n").alias("text"),
    )
    return dedup_ops.paragraph_dedup(docs, "doc_id", "text")


# --- n-gram LM training (Stupid Backoff): the oracled registry row --------
#
# The LM family (operators/lm_quality.py) was the one whose correctness
# rested on pytest alone; this row puts TRAINING — the canonical
# tokenization, per-order gram explode+count aggregations, the
# context-count equi-join, and the count-ratio scores — under the
# cross-engine hash-match regime. Bigram model (n=2) over the bench
# harness's reference slice (doc_id % 5 = 0); output is the union of the
# per-order conditional tables with an `ord` column. Scores are ratios of
# integer counts, so the doubles are bit-identical cross-engine (IEEE
# division is exactly rounded — no 1e-6 rounding needed). Scoring
# (Stupid Backoff probe joins) remains pinned by the independent-reference
# tests + the plan assertions in tests/test_lm_quality.py; at sf0.01 the
# trained tables here are exactly the lookup side those probes join.

_LM_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


@register(
    "ngram_lm_scores",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      FROM (
        SELECT doc_id, list_filter(string_split({_LM_NORM}, ' '), x -> x <> '') AS t
        FROM documents WHERE doc_id % 5 = 0
      )
    ),
    uni AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS n FROM uni),
    big AS (
      SELECT ctx, w, COUNT(*) AS c FROM (
        SELECT doc_id, w AS ctx,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w
        FROM tok
      ) WHERE w IS NOT NULL GROUP BY ctx, w
    )
    SELECT CAST(1 AS INT) AS ord, '' AS ctx, w, c, CAST(c AS DOUBLE) / tot.n AS s
    FROM uni CROSS JOIN tot
    UNION ALL
    SELECT CAST(2 AS INT), b.ctx, b.w, b.c, CAST(b.c AS DOUBLE) / u.c
    FROM big b JOIN uni u ON u.w = b.ctx
    """,
    doc=(
        "Stupid Backoff n-gram LM TRAINING (CCNet's reference-model "
        "build): canonical tokenization, per-order gram counting with "
        "map-side combine, context-count join, count-ratio scores — the "
        "distributed model tables hash-matched table-for-table against a "
        "DuckDB rebuild (bigram; unigram floor s = c/N)."
    ),
)
def ngram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.lm_quality import train_ngram_lm

    docs = read(spark, sf_dir, "documents").filter("doc_id % 5 = 0")
    model = train_ngram_lm(docs, "text", n=2)
    out = None
    for k, t in enumerate(model.orders, start=1):
        part = t.select(F.lit(k).cast("int").alias("ord"), "ctx", "w", "c", "s")
        out = part if out is None else out.unionByName(part)
    return out


# --- BPE tokenizer training tables: the oracled registry row (r11) ---------
#
# The third operator family under the hash-match regime (after the LM
# tables in r10 and SemDeDup's quantizer): the oracle rebuilds BPE
# TRAINING end to end in DuckDB — canonical word counts (the only
# corpus-sized input, distributed on the Spark side), the top-V
# count-desc/word-asc training vocabulary, and K merge rounds UNROLLED
# as chained CTEs. Each round counts adjacent symbol pairs weighted by
# word frequency, picks the max-count pair (lexicographically-smallest
# on ties, the trainer's `min(pairs, key=(-count, pair))`), and applies
# the merge with a left fold that reproduces the trainer's in-place
# left-to-right substitution exactly (a merged token can immediately
# participate as the LEFT of the next match: 'aaaa' + (a,a) -> [aa,aa],
# verified both engines). Output: kind='merge' rows (rank, pair) — the
# ordered merge list IS the trained model — plus kind='vocab' rows
# (word, count, final segmentation), which pin the whole vocab STATE
# table after K rounds; any divergence in counts, selection order,
# tie-breaks, or substitution semantics flips the hash.
# cnt >= 2 mirrors the trainer's stop rule; the sub-V corpus vocabulary
# (31 distinct words at the driver scales) makes LIMIT V total in both
# engines, so the boundary-tie hazard is structurally absent here.

BPE_ORACLE_MERGES = 12
BPE_ORACLE_VOCAB = 40


def _bpe_merge_round(k: int) -> str:
    # AS MATERIALIZED on every v{k}: each vocab state is consumed TWICE
    # (the next round's pair count AND its substitution pass), so without
    # forced materialization DuckDB inlines the chain and re-evaluates
    # v0 2^K times — measured: 12 plain rounds never finish, 12
    # materialized rounds run in 0.1 s
    return f"""
    p{k} AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(n) AS cnt
      FROM (SELECT n, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM v{k - 1})
      GROUP BY 1, 2
    ),
    m{k} AS (SELECT a, b FROM p{k} WHERE cnt >= 2
             ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
    v{k} AS MATERIALIZED (
      SELECT v.word, v.n,
        list_reduce(
          list_prepend(CAST([] AS VARCHAR[]), list_transform(v.syms, s -> [s])),
          (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{k}.a AND s[1] = m{k}.b
                      THEN list_append(list_slice(acc, 1, len(acc) - 1), acc[-1] || s[1])
                      ELSE list_concat(acc, s) END
        ) AS syms
      FROM v{k - 1} v LEFT JOIN m{k} ON TRUE
    )"""


def _bpe_encode_round(k: int) -> str:
    # corpus ENCODE chain (r12): the trained merges m1..mK applied IN
    # RANK ORDER to every distinct corpus word via the same left-fold.
    # Rank-order sequential application equals the encoder's greedy
    # lowest-rank-iterative loop: a merge's operands are tokens formed
    # by strictly earlier merges, so a lower-rank pair can never be
    # created by a later merge — the same invariant that makes the
    # in-vocab `known` table valid (pinned by test_tokenizer).
    return f"""
    w{k} AS MATERIALIZED (
      SELECT w.word,
        list_reduce(
          list_prepend(CAST([] AS VARCHAR[]), list_transform(w.syms, s -> [s])),
          (acc, s) -> CASE WHEN len(acc) > 0 AND acc[-1] = m{k}.a AND s[1] = m{k}.b
                      THEN list_append(list_slice(acc, 1, len(acc) - 1), acc[-1] || s[1])
                      ELSE list_concat(acc, s) END
        ) AS syms
      FROM w{k - 1} w LEFT JOIN m{k} ON TRUE
    )"""


def _bpe_oracle_sql() -> str:
    rounds = ",".join(_bpe_merge_round(k) for k in range(1, BPE_ORACLE_MERGES + 1))
    encode_rounds = ",".join(
        _bpe_encode_round(k) for k in range(1, BPE_ORACLE_MERGES + 1)
    )
    merge_union = "\n      UNION ALL ".join(
        f"SELECT {k - 1} AS rnk, a, b FROM m{k}"
        for k in range(1, BPE_ORACLE_MERGES + 1)
    )
    return f"""
    WITH docw AS MATERIALIZED (
      SELECT doc_id,
             unnest(list_filter(string_split({_LM_NORM}, ' '), x -> x <> '')) AS word
      FROM documents
    ),
    v0 AS MATERIALIZED (
      SELECT word, n, list_append(string_split(word, ''), '</w>') AS syms
      FROM (
        SELECT word, COUNT(*) AS n FROM docw
        GROUP BY word ORDER BY n DESC, word ASC LIMIT {BPE_ORACLE_VOCAB})
    ),{rounds},
    w0 AS MATERIALIZED (
      SELECT DISTINCT word, list_append(string_split(word, ''), '</w>') AS syms
      FROM docw
    ),{encode_rounds},
    wlen AS (SELECT word, len(syms) AS l FROM w{BPE_ORACLE_MERGES}),
    doctok AS (
      SELECT doc.doc_id, CAST(COALESCE(SUM(wlen.l), 0) AS BIGINT) AS n_tokens
      FROM documents doc
      LEFT JOIN docw d ON d.doc_id = doc.doc_id
      LEFT JOIN wlen ON wlen.word = d.word
      GROUP BY doc.doc_id
    )
    SELECT 'merge' AS kind, CAST(rnk AS INT) AS rank, a AS mleft, b AS mright,
           CAST(NULL AS VARCHAR) AS word, CAST(NULL AS BIGINT) AS n,
           CAST(NULL AS VARCHAR) AS encoded,
           CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS BIGINT) AS n_tokens
    FROM ({merge_union})
    UNION ALL
    SELECT 'vocab', CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           word, n, array_to_string(syms, ' '),
           CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
    FROM v{BPE_ORACLE_MERGES}
    UNION ALL
    SELECT 'doc', CAST(NULL AS INT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
           CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
           doc_id, n_tokens
    FROM doctok
    """


@register(
    "bpe_training_tables",
    _bpe_oracle_sql(),
    doc=(
        "BPE tokenizer training (Sennrich-style word-internal merges, "
        "end-of-word marker): exact distributed word counts feed a "
        "deterministic driver merge loop (BPE training is inherently "
        "sequential — merge i+1 depends on merge i). ORACLED r11: the "
        "ordered merge list AND the post-merge vocab state table "
        "(word, count, final segmentation) hash-match a DuckDB rebuild "
        "that unrolls all 12 merge rounds as chained CTEs with the same "
        "max-count/lexicographic tie-break and left-fold substitution. "
        "Since r12 the row ALSO carries the corpus ENCODE: kind='doc' "
        "rows are bpe_tokenize's distributed Arrow mapInPandas per-doc "
        "token counts, hash-matched against a second CTE chain that "
        "applies the trained merges in rank order to every distinct "
        "corpus word (rank-order == greedy, see _bpe_encode_round); the "
        "training vocab rides the model (model.vocab), so the corpus is "
        "word-counted exactly once."
    ),
)
def bpe_training_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.tokenizer import (
        bpe_tokenize,
        train_bpe,
    )

    docs = read(spark, sf_dir, "documents")
    model = train_bpe(
        docs,
        "doc_id",
        "text",
        n_merges=BPE_ORACLE_MERGES,
        max_words=BPE_ORACLE_VOCAB,
    )
    rows = [
        ("merge", i, a, b, None, None, None)
        for i, (a, b) in enumerate(model.merges)
    ]
    rows += [
        ("vocab", None, None, None, w, n, " ".join(model.known[w]))
        for w, n in model.vocab
    ]
    lit = spark.createDataFrame(
        rows,
        "kind string, rank int, mleft string, mright string, "
        "word string, n long, encoded string",
    ).select(
        "*",
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n_tokens"),
    )
    encoded = bpe_tokenize(docs, "doc_id", "text", model).select(
        F.lit("doc").alias("kind"),
        F.lit(None).cast("int").alias("rank"),
        F.lit(None).cast("string").alias("mleft"),
        F.lit(None).cast("string").alias("mright"),
        F.lit(None).cast("string").alias("word"),
        F.lit(None).cast("long").alias("n"),
        F.lit(None).cast("string").alias("encoded"),
        "doc_id",
        "n_tokens",
    )
    return lit.unionByName(encoded)


# --- Quality-classifier training + inference: the oracled registry row -----
#
# The fourth operator family under the cross-engine hash-match regime
# (after the LM tables, SemDeDup's quantizer, and the BPE merges): the
# oracle rebuilds the CCNet/GPT-3-style hashed-linear quality classifier
# END TO END in DuckDB — the canonical tokenization, the per-doc
# unigram+bigram term-frequency design matrix, the lowest-id-per-class
# deterministic training sample, ALL gradient-descent epochs UNROLLED as
# chained materialized CTEs (zero init, full-batch logistic updates with
# L2, exactly the driver's numpy loop: g computed from the PREVIOUS
# weights/bias, then w -= lr*(X'g/n + l2*w), b -= lr*mean(g)), and the
# distributed inference arithmetic (per-occurrence weight sum over the
# doc's grams / total gram count + bias -> sigmoid). Any divergence in
# tokenization, sampling, the epoch recurrence, or the scoring join
# flips the hash on the 1e-6-rounded logits/probs.
#
# The registered row runs the REAL operator (train_quality_classifier +
# score_quality) with one test-only twist: n_features = 2^61, so the
# hashing trick's gram->bucket map is injective on the fixture vocabulary
# (~950 grams vs 2.3e18 buckets; verified collision-free in
# tests/test_classifier.py) and the DuckDB mirror can key the SAME model
# on gram STRINGS — the established oracle stance ("the engine's hash
# keys stand in for exactly these strings"). Collision behavior at the
# production 2^18 width stays pinned by the classifier's own tests.
# Positive class = lang='en' docs (the wiki-vs-crawl shape), negative =
# the rest; empty-normalized docs score the bare bias through the same
# restore join in both engines.

CLF_ORACLE_SAMPLE = 20  # lowest-id docs per class
CLF_ORACLE_EPOCHS = 10
CLF_ORACLE_LR = 0.5
CLF_ORACLE_L2 = 1e-4


def _clf_epoch_cte(k: int) -> str:
    # MATERIALIZED: each epoch state is consumed by BOTH next-epoch legs
    # (g uses w and b; w and b each use g) — without it DuckDB inlines
    # the chain and re-evaluates the prefix exponentially (the BPE/
    # mini-Lloyd lesson).
    return f"""
    g{k} AS MATERIALIZED (
      SELECT td.doc_id,
             1.0 / (1.0 + exp(-(s.dot + (SELECT b FROM b{k - 1})))) - td.y AS gval
      FROM td
      JOIN (SELECT tx.doc_id, SUM(tx.x * w.w) AS dot
            FROM tx JOIN w{k - 1} w USING (gram) GROUP BY tx.doc_id) s USING (doc_id)
    ),
    w{k} AS MATERIALIZED (
      SELECT w.gram,
             w.w - {CLF_ORACLE_LR} * (COALESCE(gr.s, 0.0) / (SELECT n FROM nn)
                                      + {CLF_ORACLE_L2} * w.w) AS w
      FROM w{k - 1} w LEFT JOIN (
        SELECT tx.gram, SUM(tx.x * g{k}.gval) AS s
        FROM tx JOIN g{k} USING (doc_id) GROUP BY tx.gram) gr USING (gram)
    ),
    b{k} AS MATERIALIZED (
      SELECT (SELECT b FROM b{k - 1}) - {CLF_ORACLE_LR} * (SELECT AVG(gval) FROM g{k}) AS b
    )"""


def _clf_oracle_sql() -> str:
    epochs = ",".join(_clf_epoch_cte(k) for k in range(1, CLF_ORACLE_EPOCHS + 1))
    e = CLF_ORACLE_EPOCHS
    return f"""
    WITH tsel AS MATERIALIZED (
      (SELECT doc_id, 1.0 AS y FROM documents WHERE lang = 'en'
       ORDER BY doc_id LIMIT {CLF_ORACLE_SAMPLE})
      UNION ALL
      (SELECT doc_id, 0.0 AS y FROM documents WHERE lang <> 'en'
       ORDER BY doc_id LIMIT {CLF_ORACLE_SAMPLE})
    ),
    toks AS MATERIALIZED (
      SELECT doc_id, list_filter(string_split({_LM_NORM}, ' '), x -> x <> '') AS t
      FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos FROM toks
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, g, CAST(COUNT(*) AS DOUBLE) AS c FROM (
        SELECT doc_id, w AS g FROM tok
        UNION ALL
        SELECT doc_id, w || ' ' || nxt AS g FROM (
          SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM tok
        ) WHERE nxt IS NOT NULL
      ) GROUP BY doc_id, g
    ),
    dtot AS MATERIALIZED (SELECT doc_id, SUM(c) AS tot FROM grams GROUP BY doc_id),
    tx AS MATERIALIZED (
      SELECT g.doc_id, g.g AS gram, g.c / d.tot AS x
      FROM grams g JOIN dtot d USING (doc_id) JOIN tsel USING (doc_id)
    ),
    td AS MATERIALIZED (
      SELECT DISTINCT t.doc_id, t.y FROM tsel t JOIN grams g USING (doc_id)
    ),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM td),
    w0 AS MATERIALIZED (SELECT DISTINCT gram, 0.0 AS w FROM tx),
    b0 AS (SELECT 0.0 AS b),{epochs},
    scored AS (
      SELECT g.doc_id, SUM(g.c * COALESCE(w.w, 0.0)) / SUM(g.c) AS dotn
      FROM grams g LEFT JOIN w{e} w ON w.gram = g.g
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           ROUND(COALESCE(s.dotn, 0.0) + (SELECT b FROM b{e}), 6) AS quality_logit,
           ROUND(1.0 / (1.0 + exp(-(COALESCE(s.dotn, 0.0) + (SELECT b FROM b{e})))), 6)
             AS quality_prob
    FROM documents d LEFT JOIN scored s USING (doc_id)
    """


@register(
    "classifier_training_scores",
    _clf_oracle_sql(),
    doc=(
        "Hashed-linear quality classifier (CCNet/GPT-3 wiki-vs-crawl "
        "gate): deterministic lowest-id training sample, zero-init "
        "full-batch logistic GD on the driver, JVM-only distributed "
        "inference — training AND scoring hash-matched against a DuckDB "
        "rebuild that unrolls every GD epoch as chained CTEs (slot freed "
        "by folding timestamp_parse_roundtrip into conditional_metrics)."
    ),
)
def classifier_training_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    docs = read(spark, sf_dir, "documents")
    model = train_quality_classifier(
        docs.filter("lang = 'en'"),
        docs.filter("lang <> 'en'"),
        "doc_id",
        "text",
        n_features=1 << 61,  # injective on the fixture vocab -> gram-keyed oracle
        sample_per_class=CLF_ORACLE_SAMPLE,
        epochs=CLF_ORACLE_EPOCHS,
        lr=CLF_ORACLE_LR,
        l2=CLF_ORACLE_L2,
    )
    return score_quality(docs, "doc_id", "text", model).select(
        "doc_id",
        F.round("quality_logit", 6).alias("quality_logit"),
        F.round("quality_prob", 6).alias("quality_prob"),
    )
