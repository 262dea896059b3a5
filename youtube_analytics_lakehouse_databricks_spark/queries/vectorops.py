"""Embedding similarity-search operators (ANN over array<float> columns).

Scale design (SURVEY.md slice 6 / training-data ops):
- Brute-force cosine top-k is the correctness baseline: a broadcast of the
  query side against a partitioned corpus — O(n*q) but fully JVM-side
  (zip_with/aggregate fold, whole-stage codegen, no Python in the loop).
- The scale path is LSH bucketing (sign-random-projection): each vector is
  hashed to a small bucket key, the join is an equi-join on bucket — the
  same shuffle-on-key pattern as MinHash-LSH, no cross join at 100 TB.
- All dot products fold left-to-right over the array in both engines, so
  doubles are bit-identical; ranking ties are broken on a 1e-6-rounded
  cosine plus vec_id so rank assignment is stable cross-engine.

Hyperplanes for sign-projection are derived deterministically from
sha256(plane || dim) parity — no RNG, reproducible on any cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.queries import read, register

TOP_K = 5
N_PLANES = 8

# DuckDB dot product and norm as left-to-right folds: deterministic double
# arithmetic in the oracle.
_DOT_DD = "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (acc, v) -> acc + v)"
_NORM_DD = "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), (acc, v) -> acc + v))"


def _embedding_hints(sf_dir: str) -> tuple[int | None, int | None]:
    """(n_rows, dim) from the parquet FOOTER + first batch — driver-side
    file metadata, no Spark job — so cosine_topk can bound tile bytes on
    top of its parallelism floor. Returns (None, None) if anything about
    the layout surprises us (the operator then floors on parallelism)."""
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(f"{sf_dir}/embeddings.parquet")
        n_rows = f.metadata.num_rows
        first = next(f.iter_batches(batch_size=1, columns=["embedding"]))
        dim = len(first.column(0)[0])
        return n_rows, dim
    except Exception:
        return None, None


@register(
    "embedding_topk_cosine",
    f"""
    WITH normed AS (
      SELECT vec_id, embedding, {_NORM_DD.format(a="embedding")} AS norm
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             round({_DOT_DD.format(a="a.embedding", b="b.embedding")} / (a.norm * b.norm), 6) AS cosine
      FROM normed a JOIN normed b ON a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs
    ) WHERE rank <= {TOP_K}
    """,
    doc=(
        "Brute-force cosine top-k ANN baseline: pairwise fold dot product, "
        "rank on rounded cosine with vec_id tie-break."
    ),
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delegates to the distributed exact top-k operator (query-block x
    corpus-tile grid of Arrow matmuls + global re-rank; no driver collect,
    no corpus broadcast — see operators/similarity.py). Grid hints come
    from parquet footer metadata, not Spark jobs."""
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import cosine_topk

    n_rows, dim = _embedding_hints(sf_dir)
    return cosine_topk(
        read(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        k=TOP_K,
        n_rows_hint=n_rows,
        dim_hint=dim,
    )


def _srp_bits_duckdb(plane: int) -> str:
    """Sign bit of the projection on ``plane``. The ±1 weight per (plane,
    dim) is the parity of the first hex nibble of sha256('<plane>|<dim>'),
    dim the 1-based array position — the oracle-side derivation of the
    weights the Spark side computes in numpy via srp_plane_matrix."""
    proj = (
        "list_reduce(list_prepend(0.0, list_transform("
        "list_zip(embedding, range(1, len(embedding) + 1)), "
        f"p -> CAST(p[1] AS DOUBLE) * (CASE WHEN strpos('13579bdf', substr(sha256(concat_ws('|', '{plane}', CAST(p[2] AS VARCHAR))), 1, 1)) > 0 THEN 1.0 ELSE -1.0 END)"
        ")), (acc, v) -> acc + v)"
    )
    return f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END"


# NOTE: "embedding_lsh_buckets" (oracled through r5) was consolidated
# into embedding_bucket_ann in r6 — bucket_ann derives the identical SRP
# bucket keys inside its oracled plan (operators.similarity.bucket_topk
# computes them from srp_plane_matrix; _srp_bits_duckdb is the oracle's
# independent SQL derivation), so the bucketing operator stays fully
# oracled through it. The shadow builder (and its Spark-SQL bit
# derivation, which it alone used) was deleted in r11 — no bench
# series, no test consumers.


# --- semantic dedup (SemDeDup): the oracled registry row -------------------
#
# The oracle mirrors operators/similarity.py::semantic_dedup END TO END in
# DuckDB SQL: the deterministic mini-Lloyd coarse quantizer is UNROLLED
# (sample = lowest-id rows, init = first n_cells rows, ITERS assign/
# re-center rounds as chained CTEs), full-corpus nearest-centroid
# assignment, within-cluster pairwise cosine edges at the threshold,
# connected components via the recursive reach CTE (the dedup_keepers
# precedent), and the paper's diversity keeper (lowest centroid_sim, then
# lowest id, per duplicate group). Clusters larger than the cap skip
# pairwise work and flag every member (the LSH hot-bucket contract), in
# both engines. All dot products are float64; comparisons happen on
# 1e-6-rounded values in both engines, so numpy-matmul vs SQL-fold
# summation-order noise (~1e-15) cannot flip a verdict — the same
# regime embedding_topk_cosine's green oracle row established.
#
# Registered parameters: the synthetic embeddings are random vectors with
# NO planted near-duplicates (max within-cluster cosine ~0.51 at sf0.01, so
# a 0.99 threshold would match nothing), so the registered row runs at threshold 0.4 to
# make the grouping/keeper machinery non-vacuous: at sf0.01 it yields 16
# verified edges, 14 multi-member groups (one 4-member chain), 16 drops,
# and 2 over-cap clusters (75 flagged rows) under max_cluster_size=36 —
# every output column exercised with real value diversity. Production
# defaults (0.95 / auto-scaled n_cells) are unchanged in the operator.

SEMDEDUP_N_CELLS = 16
SEMDEDUP_ITERS = 3
SEMDEDUP_THRESHOLD = 0.4
SEMDEDUP_CAP = 36
_MAX_DIM = 512  # bound of the per-dimension range lateral in the mirror

# Folds over already-float64 lists (normalized vectors / mean vectors).
_DOT_D_DD = "list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), p -> p[1] * p[2])), (acc, v) -> acc + v)"
_NORM_D_DD = "sqrt(list_reduce(list_prepend(0.0, list_transform({a}, v -> v * v)), (acc, v) -> acc + v))"


def _semdedup_iter_cte(k: int) -> str:
    """One Lloyd round: assign every sample row to its best cell by cosine
    (row_number argmax, lowest cell on ties = numpy argmax), re-center each
    cell on the member mean (per-dimension avg via a constant range lateral
    bounded by _MAX_DIM, re-packed in dimension order), renormalize; cells
    with no members (or a zero-norm mean) keep their previous centroid."""
    dot = _DOT_D_DD.format(a="s.v", b="c.v")
    return f"""
    a{k} AS (
      SELECT vec_id, v, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
      FROM (SELECT s.vec_id, s.v, c.cell, {dot} AS sim
            FROM snorm s CROSS JOIN c{k - 1} c)
    ),
    m{k} AS (
      SELECT cell, i, avg(v[i]) AS mv
      FROM (SELECT * FROM a{k} WHERE rn = 1), range(1, {_MAX_DIM + 1}) r(i)
      WHERE r.i <= len(v)
      GROUP BY cell, i
    ),
    mm{k} AS (
      SELECT cell, mv, {_NORM_D_DD.format(a="mv")} AS nrm
      FROM (SELECT cell, list(mv ORDER BY i) AS mv FROM m{k} GROUP BY cell)
    ),
    c{k} AS (
      SELECT p.cell,
             CASE WHEN mm.cell IS NULL OR mm.nrm = 0 THEN p.v
                  ELSE list_transform(mm.mv, x -> x / mm.nrm) END AS v
      FROM c{k - 1} p LEFT JOIN mm{k} mm USING (cell)
    )"""


def _quantizer_ctes(n_cells: int, iters: int) -> str:
    """The deterministic mini-Lloyd coarse quantizer, unrolled as DuckDB
    CTEs: ``snorm`` (lowest-id normalized sample, the same
    max(n_cells*64, 2048) bound as operators.similarity._train_centroids),
    ``c0`` (init = first n_cells sample rows), then ``iters``
    assign/re-center rounds; the trained centroids are ``c{iters}``.
    Shared by the SemDeDup and IVF oracles — both operators train THIS
    quantizer, so both oracles unroll THIS block."""
    sample = max(n_cells * 64, 2048)
    raw_norm = _NORM_DD.format(a="embedding")
    rounds = ",".join(_semdedup_iter_cte(k) for k in range(1, iters + 1))
    return f"""snorm AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
      FROM (SELECT vec_id, embedding, {raw_norm} AS nrm
            FROM embeddings ORDER BY vec_id LIMIT {sample})
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v
      FROM snorm ORDER BY vec_id LIMIT {n_cells}
    ),{rounds}"""


def _semdedup_oracle_sql() -> str:
    fdot = _DOT_D_DD.format(a="s.v", b="c.v")
    pdot = _DOT_D_DD.format(a="a.v", b="b.v")
    raw_norm = _NORM_DD.format(a="embedding")
    return f"""
    WITH RECURSIVE {_quantizer_ctes(SEMDEDUP_N_CELLS, SEMDEDUP_ITERS)},
    corpus AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
      FROM (SELECT vec_id, embedding, {raw_norm} AS nrm FROM embeddings)
    ),
    fa AS (
      SELECT vec_id, v, cell, sim, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
      FROM (SELECT s.vec_id, s.v, c.cell, {fdot} AS sim
            FROM corpus s CROSS JOIN c{SEMDEDUP_ITERS} c)
    ),
    asn AS (SELECT vec_id, v, cell, round(sim, 6) AS centroid_sim FROM fa WHERE rn = 1),
    sizes AS (SELECT cell, count(*) AS n FROM asn GROUP BY cell),
    edges AS (
      SELECT a.vec_id AS ea, b.vec_id AS eb
      FROM asn a
      JOIN asn b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN sizes sz ON sz.cell = a.cell AND sz.n <= {SEMDEDUP_CAP}
      WHERE round({pdot}, 6) >= {SEMDEDUP_THRESHOLD}
    ),
    nodes AS (SELECT ea AS node FROM edges UNION SELECT eb FROM edges),
    bidir AS (SELECT ea AS a, eb AS b FROM edges UNION SELECT eb, ea FROM edges),
    reach(node, r) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.a, reach.r FROM reach JOIN bidir e ON e.b = reach.node
    ),
    comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
    keepers AS (
      SELECT component, vec_id AS keeper_id FROM (
        SELECT g.component, a.vec_id, row_number() OVER (
          PARTITION BY g.component
          ORDER BY a.centroid_sim ASC, a.vec_id ASC) AS rn
        FROM asn a JOIN comp g ON g.node = a.vec_id
      ) WHERE rn = 1
    )
    SELECT a.vec_id,
           CAST(a.cell AS INT) AS cluster,
           a.centroid_sim,
           CASE WHEN sz.n > {SEMDEDUP_CAP} THEN TRUE
                WHEN g.component IS NULL THEN TRUE
                ELSE a.vec_id = k.keeper_id END AS keep,
           CAST(CASE WHEN sz.n > {SEMDEDUP_CAP} OR g.component IS NULL
                          OR a.vec_id = k.keeper_id THEN NULL
                     ELSE k.keeper_id END AS BIGINT) AS duplicate_of,
           (sz.n > {SEMDEDUP_CAP}) AS semdedup_audit_incomplete
    FROM asn a
    JOIN sizes sz ON sz.cell = a.cell
    LEFT JOIN comp g ON g.node = a.vec_id
    LEFT JOIN keepers k ON k.component = g.component
    """


@register(
    "semantic_dedup_embeddings",
    _semdedup_oracle_sql(),
    doc=(
        "SemDeDup semantic dedup (Abbas et al. 2023): deterministic "
        "k-means coarse quantizer, ONE cluster shuffle, per-cluster "
        "capped pairwise cosine + union-find, diversity keeper (lowest "
        "centroid_sim); over-cap clusters kept + flagged. Oracle unrolls "
        "the full quantizer + recursive-CTE components in DuckDB."
    ),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        read(spark, sf_dir, "embeddings"),
        "vec_id",
        "embedding",
        threshold=SEMDEDUP_THRESHOLD,
        n_cells=SEMDEDUP_N_CELLS,
        kmeans_iters=SEMDEDUP_ITERS,
        max_cluster_size=SEMDEDUP_CAP,
    )


# --- IVF ANN: the oracled registry row (r11) -------------------------------
#
# The oracle mirrors operators/similarity.py::ivf_topk END TO END, reusing
# the SemDeDup oracle's quantizer unroll (_quantizer_ctes — ivf_topk trains
# the SAME _train_centroids mini-Lloyd, with the same n_cells=16/iters=3/
# sample=2048 parameters at the registered sizes): full-corpus
# nearest-centroid assignment (rn=1 = the corpus cell; rn<=n_probe = the
# query probes — argsort is kind='stable' in the operator so an exact tie
# probes the lowest cell, ORDER BY sim DESC, cell ASC here), candidates =
# probe-cell x corpus-cell equi-join minus self, exact 1e-6-rounded cosine
# on the raw vectors (the embedding_topk_cosine fold regime), global top-k
# re-rank. The per-cell top-k truncation in the operator uses the same
# total order as the global rank, so skipping it here is exact. The
# recall columns are deterministic too: the exact top-k is the
# embedding_topk_cosine plan, in_exact_topk is a left-join hit flag, and
# recall_at_k = round(hits / n_exact, 3) — Spark's coalesce(round(hits /
# max(n_exact) over qid, 3), 0.0) reduces to this because n_exact is
# per-query constant and hits = 0 whenever the max() window sees no match.

IVF_N_CELLS = 16
IVF_N_PROBE = 2
IVF_K = 5
IVF_ITERS = 3


def _ivf_oracle_sql() -> str:
    adot = _DOT_D_DD.format(a="s.v", b="c.v")
    pdot = _DOT_DD.format(a="a.embedding", b="b.embedding")
    raw_norm = _NORM_DD.format(a="embedding")
    return f"""
    WITH RECURSIVE {_quantizer_ctes(IVF_N_CELLS, IVF_ITERS)},
    normed AS (
      SELECT vec_id, embedding, {raw_norm} AS norm FROM embeddings
    ),
    corpusn AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / norm) AS v
      FROM normed
    ),
    fa AS (
      SELECT vec_id, cell, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
      FROM (SELECT s.vec_id, c.cell, {adot} AS sim
            FROM corpusn s CROSS JOIN c{IVF_ITERS} c)
    ),
    cassign AS (SELECT vec_id, cell FROM fa WHERE rn = 1),
    probes AS (SELECT vec_id, cell FROM fa WHERE rn <= {IVF_N_PROBE}),
    cand AS (
      SELECT p.vec_id AS query_id, ca.vec_id AS neighbor_id
      FROM probes p JOIN cassign ca
        ON ca.cell = p.cell AND ca.vec_id <> p.vec_id
    ),
    scored AS (
      SELECT query_id, neighbor_id,
             round({pdot} / (a.norm * b.norm), 6) AS cosine
      FROM cand
      JOIN normed a ON a.vec_id = query_id
      JOIN normed b ON b.vec_id = neighbor_id
    ),
    ivf AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, cosine, row_number() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored) WHERE rank <= {IVF_K}
    ),
    ex AS (
      SELECT * FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, row_number() OVER (
          PARTITION BY a.vec_id
          ORDER BY round({pdot} / (a.norm * b.norm), 6) DESC, b.vec_id ASC) AS rn
        FROM normed a JOIN normed b ON a.vec_id <> b.vec_id) WHERE rn <= {IVF_K}
    ),
    nex AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id),
    hit AS (
      SELECT i.query_id, i.neighbor_id, i.cosine, i.rank,
             (e.neighbor_id IS NOT NULL) AS in_exact_topk
      FROM ivf i LEFT JOIN ex e
        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    )
    SELECT h.query_id, h.neighbor_id, h.cosine, CAST(h.rank AS INT) AS rank,
           h.in_exact_topk,
           round(sum(CASE WHEN h.in_exact_topk THEN 1.0 ELSE 0.0 END)
                   OVER (PARTITION BY h.query_id) / nx.n_exact, 3) AS recall_at_k
    FROM hit h JOIN nex nx ON nx.query_id = h.query_id
    """


@register(
    "embedding_ivf_ann",
    _ivf_oracle_sql(),
    doc=(
        "IVF ANN: sample-trained deterministic k-means coarse quantizer, "
        "corpus sharded into centroid cells, queries probe the 2 nearest "
        "cells, exact rank within cells + global re-rank, with "
        "in_exact_topk / recall_at_k graded against the exact top-k in "
        "the same plan. ORACLED since r11: the DuckDB mirror unrolls the "
        "same mini-Lloyd quantizer the SemDeDup oracle proved out, plus "
        "assignment, probes, candidate join, rounded-cosine rank AND the "
        "recall grading — the full 6-column output hash-matches."
    ),
)
def embedding_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from youtube_analytics_lakehouse_databricks_spark.queries import read_fanned

    # fan the scan so the fused Arrow assignment pass isn't single-partition
    emb = read_fanned(spark, sf_dir, "embeddings")
    ivf = ivf_topk(
        emb, "vec_id", "embedding",
        n_cells=IVF_N_CELLS, n_probe=IVF_N_PROBE, k=IVF_K,
    )
    # The exact side reads the BARE scan (r16): its grid explode feeds its
    # own (qb, tile) exchange, so the fan-out buys it nothing — and the
    # explode-over-shuffle-rows stage measured 10x the wall of the same
    # explode over the columnar parquet scan (0.89 vs 0.09 s at sf0.1,
    # tools/stage_probe.py). Footer hints bound the tiles like the
    # registered embedding_topk_cosine row.
    n_rows, dim = _embedding_hints(sf_dir)
    # n_exact rides along on the exact side so recall's denominator is the
    # exact top-k size (min(k, corpus-1)), not however many rows IVF happened
    # to retrieve — avg over retrieved rows would report precision, not recall.
    exact = cosine_topk(
        read(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=IVF_K,
        n_rows_hint=n_rows, dim_hint=dim,
    ).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_exact")
    )
    exact = exact.withColumn(
        "n_exact", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    )
    w = Window.partitionBy("query_id")
    hits = F.sum(F.col("in_exact_topk").cast("double")).over(w)
    # max() recovers n_exact for rows the left join left null; a query with
    # zero exact hits has null n_exact everywhere but its recall is 0 anyway.
    denom = F.max("n_exact").over(w)
    # Grading join deliberately UNHINTED (r16, measured): forcing
    # F.broadcast(exact) removes 2 exchanges but was a wash at bench
    # scale (min 2.08 vs 2.00 s, overlapping spreads) and is wrong at
    # 100 TB — the exact side is k rows per CORPUS vector, far past any
    # broadcast cap; the planner must stay free to pick the shuffle.
    return (
        ivf.join(exact, ["query_id", "neighbor_id"], "left")
        .withColumn("in_exact_topk", F.coalesce(F.col("in_exact"), F.lit(0)) == 1)
        .withColumn("recall_at_k", F.coalesce(F.round(hits / denom, 3), F.lit(0.0)))
        .select("query_id", "neighbor_id", "cosine", "rank", "in_exact_topk", "recall_at_k")
    )


# --- semantic decontamination: embedding-space eval-similarity flags ------

SEMDECON_THRESHOLD = 0.9
SEMDECON_EVAL_MOD = 97  # eval suite = vec_id % 97 = 0 (deterministic slice)


@register(
    "semantic_decontam",
    f"""
    WITH normed AS (
      SELECT vec_id, embedding, {_NORM_DD.format(a="embedding")} AS norm
      FROM embeddings
    ),
    ev AS (SELECT * FROM normed WHERE vec_id % {SEMDECON_EVAL_MOD} = 0),
    scored AS (
      SELECT t.vec_id, e.vec_id AS eid,
             {_DOT_DD.format(a="t.embedding", b="e.embedding")} / (t.norm * e.norm) AS cos,
             row_number() OVER (
               PARTITION BY t.vec_id
               ORDER BY {_DOT_DD.format(a="t.embedding", b="e.embedding")}
                          / (t.norm * e.norm) DESC,
                        e.vec_id ASC) AS rn
      FROM normed t CROSS JOIN ev e
    )
    SELECT vec_id, round(cos, 6) AS max_eval_cosine,
           eid AS matched_eval_id,
           round(cos, 6) >= {SEMDECON_THRESHOLD} AS is_semantically_contaminated
    FROM scored WHERE rn = 1
    """,
    doc=(
        "Embedding-space benchmark decontamination (the leakage the "
        "13-gram rule misses): max cosine of every training vector "
        "against the broadcast benchmark-sized eval matrix, ONE Arrow "
        "pass, zero shuffle; the oracle brute-forces the small cross "
        "product with the same fold arithmetic and the same lowest-id "
        "tie-break. The eval slice (every 97th vector) sits INSIDE the "
        "corpus, so the planted self-leaks flag at threshold "
        f"{SEMDECON_THRESHOLD} while near-misses exercise the review "
        "tier's best-match pointers."
    ),
)
def semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.decontam import semantic_decontaminate

    emb = read(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % SEMDECON_EVAL_MOD == 0)
    return semantic_decontaminate(
        emb, ev, "vec_id", "embedding", threshold=SEMDECON_THRESHOLD
    )


# --- int8 quantization: the 4x storage cut for 100 TB embedding corpora ---

_Q_SCALE = "greatest({mx}, CAST(1e-30 AS DOUBLE))"


@register(
    "embedding_int8_quantization",
    f"""
    WITH q AS (
      SELECT vec_id,
             greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                      CAST(1e-30 AS DOUBLE)) AS scale,
             embedding
      FROM embeddings
    )
    SELECT vec_id,
           round(scale, 6) AS scale_r,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(embedding, x -> CAST(abs(round(CAST(x AS DOUBLE) / scale * 127)) AS BIGINT))),
                (acc, v) -> acc + v) AS BIGINT) AS q_l1,
           round(list_reduce(list_prepend(0.0,
                list_transform(embedding, x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / scale * 127) * scale / 127))),
                (acc, v) -> acc + v) / len(embedding), 6) AS recon_mae
    FROM q
    """,
    doc=(
        "Symmetric per-vector int8 quantization audit: max-abs scale, L1 "
        "of the quantized codes (exact integer, engine-portable), and "
        "mean reconstruction error — the 4x storage cut applied to "
        "embedding corpora before ANN at 100 TB, with its error budget "
        "measured in the same query. All JVM-side array math; the fold "
        "order matches the oracle so doubles are bit-identical."
    ),
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read(spark, sf_dir, "embeddings")
    mx = "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
    scale = _Q_SCALE.format(mx=mx)
    q_l1 = (
        "aggregate(transform(embedding, x -> CAST(abs(round(CAST(x AS DOUBLE) / __scale * 127)) AS BIGINT)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    recon = (
        "aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE) - round(CAST(x AS DOUBLE) / __scale * 127) * __scale / 127)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) / size(embedding)"
    )
    return (
        emb.select("vec_id", "embedding", F.expr(scale).alias("__scale"))
        .select(
            "vec_id",
            F.round(F.col("__scale"), 6).alias("scale_r"),
            F.expr(q_l1).alias("q_l1"),
            F.round(F.expr(recon), 6).alias("recon_mae"),
        )
    )


# --- Embedding PCA: the oracled registry row (r11) --------------------------
#
# The fifth operator family under the cross-engine hash-match regime
# (after the LM tables, SemDeDup's quantizer, the BPE merges, and the
# classifier's GD epochs): the oracle rebuilds PCA TRAINING and the
# projection end to end in DuckDB. The operator's eigensolver is a
# fixed-iteration POWER-DEFLATION recurrence chosen precisely because it
# is expressible — per component: init from the largest-L2-norm column
# of the (deflated) covariance (lowest index on ties), PCA_ORACLE_ITERS
# matvec+normalize steps, canonical sign (largest-|coordinate| entry
# positive, lowest index on ties), Rayleigh eigenvalue, rank-1
# deflation — all unrolled as chained MATERIALIZED CTEs over the (r, q,
# a) covariance table, exactly the mini-Lloyd / BPE / GD-epoch playbook.
# The covariance itself is the population (divide-by-n) moment identity
# (SUM(xi*xj) - n*mi*mj)/n, mirroring the operator's one-pass partials.
# Output: per-vector projections onto the k axes, 1e-6-rounded — any
# divergence in the moments, the init choice, the iteration count, the
# sign rule, or the deflation flips the hash.

PCA_ORACLE_K = 4
PCA_ORACLE_ITERS = 20


def _pca_component_ctes(c: int) -> str:
    prev = f"a{c - 1}"
    steps = []
    steps.append(f"""
    cn{c} AS (SELECT q, sqrt(SUM(a * a)) AS nrm FROM {prev} GROUP BY q),
    j{c} AS (SELECT q, nrm FROM cn{c} ORDER BY nrm DESC, q ASC LIMIT 1),
    v{c}_0 AS MATERIALIZED (
      SELECT r AS i, a / (SELECT nrm FROM j{c}) AS v
      FROM {prev} WHERE q = (SELECT q FROM j{c})
    )""")
    for t in range(1, PCA_ORACLE_ITERS + 1):
        steps.append(f"""
    v{c}_{t} AS MATERIALIZED (
      SELECT i, w / sqrt(SUM(w * w) OVER ()) AS v FROM (
        SELECT m.r AS i, SUM(m.a * p.v) AS w
        FROM {prev} m JOIN v{c}_{t - 1} p ON p.i = m.q GROUP BY m.r)
    )""")
    last = f"v{c}_{PCA_ORACLE_ITERS}"
    steps.append(f"""
    sg{c} AS (SELECT CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END AS s
              FROM {last} ORDER BY abs(v) DESC, i ASC LIMIT 1),
    vc{c} AS MATERIALIZED (SELECT i, v * (SELECT s FROM sg{c}) AS v FROM {last}),
    lam{c} AS (
      SELECT SUM(av.w * v.v) AS l FROM (
        SELECT m.r AS i, SUM(m.a * v.v) AS w
        FROM {prev} m JOIN vc{c} v ON v.i = m.q GROUP BY m.r) av
      JOIN vc{c} v USING (i)
    ),
    a{c} AS MATERIALIZED (
      SELECT m.r, m.q, m.a - (SELECT l FROM lam{c}) * vr.v * vq.v AS a
      FROM {prev} m JOIN vc{c} vr ON vr.i = m.r JOIN vc{c} vq ON vq.i = m.q
    )""")
    return ",".join(steps)


def _pca_oracle_sql() -> str:
    comps = ",".join(_pca_component_ctes(c) for c in range(1, PCA_ORACLE_K + 1))
    comp_union = "\n      UNION ALL ".join(
        f"SELECT {c} AS kc, i, v FROM vc{c}" for c in range(1, PCA_ORACLE_K + 1)
    )
    pivot = ", ".join(
        f"round(MAX(CASE WHEN kc = {c} THEN p END), 6) AS p{c}"
        for c in range(1, PCA_ORACLE_K + 1)
    )
    return f"""
    WITH x AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    nr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM embeddings),
    mu AS MATERIALIZED (
      SELECT i, SUM(val) / (SELECT n FROM nr) AS m FROM x GROUP BY i
    ),
    a0 AS MATERIALIZED (
      SELECT xi.i AS r, xj.i AS q,
             (SUM(xi.val * xj.val) - (SELECT n FROM nr) * mi.m * mj.m)
               / (SELECT n FROM nr) AS a
      FROM x xi JOIN x xj USING (vec_id)
      JOIN mu mi ON mi.i = xi.i JOIN mu mj ON mj.i = xj.i
      GROUP BY xi.i, xj.i, mi.m, mj.m
    ),{comps},
    comps AS MATERIALIZED ({comp_union}),
    proj AS (
      SELECT x.vec_id, c.kc, SUM((x.val - mu.m) * c.v) AS p
      FROM x JOIN mu USING (i) JOIN comps c USING (i)
      GROUP BY x.vec_id, c.kc
    )
    SELECT vec_id, {pivot} FROM proj GROUP BY vec_id
    """


@register(
    "embedding_pca_project",
    _pca_oracle_sql(),
    doc=(
        "Embedding PCA (the dimensionality-reduction pre-step before "
        "clustering/ANN/int8 at 100 TB): one-pass distributed moments "
        "(no shuffle — per-partition Arrow partials), deterministic "
        "fixed-iteration power-deflation eigensolver on the driver, "
        "zero-shuffle broadcast projection; training AND projection "
        "hash-matched against a DuckDB rebuild that unrolls every power "
        "iteration and deflation as chained CTEs (slot freed by folding "
        "value_percentiles into events_rollup)."
    ),
)
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.pca import project_embeddings, train_pca

    emb = read(spark, sf_dir, "embeddings")
    model = train_pca(emb, "embedding", PCA_ORACLE_K, iters=PCA_ORACLE_ITERS)
    proj = project_embeddings(emb, "vec_id", "embedding", model)
    return proj.select(
        "vec_id",
        *[
            F.round(F.col("pc")[c - 1], 6).alias(f"p{c}")
            for c in range(1, PCA_ORACLE_K + 1)
        ],
    )


# --- Product quantization ADC: the oracled registry row (r12) ---------------
#
# The SEVENTH operator family under the cross-engine hash-match regime
# (after the LM tables, the SemDeDup/IVF quantizer, the BPE merges, the
# classifier GD epochs, and the PCA power-deflation): the oracle rebuilds
# operators/pq.py END TO END in DuckDB — codebook TRAINING (per-subspace
# deterministic mini-Lloyd: first-distinct-subvector init in sample order,
# expanded-form L2 assignment with argmin-first-match = lowest-code ties,
# member-mean re-center, empty codes keep their previous centroid),
# corpus ENCODING (per-subspace argmin over the trained books), and the
# ADC SEARCH (per-subspace inner products summed in subspace order — the
# list(... ORDER BY sp) fold mirrors the operator's `ip += table[s]`
# accumulation — cosine via the FLOAT32-stored corpus norms, 1e-6
# rounding, neighbor-id tie-break), PLUS the same in-plan recall grading
# as embedding_ivf_ann. Any divergence in the init order, the tie rule,
# an iteration, the float32 norm cast, or the subspace accumulation
# order flips the hash.
#
# Registered sizes are oracle-tractable (m=4 subspaces over the 64-dim
# embeddings, 8 codes, 3 Lloyd rounds, 256-sample train); production
# defaults (m=8, 256 codes) run the identical code path — pinned against
# this row's semantics by tests/test_pq.py. The oracle does NOT model the
# zero-row codebook padding train_pq applies when the sample has fewer
# distinct subvectors than n_codes; test_pq_oracle_params_unpadded pins
# that both driver SFs train unpadded books at these sizes.

PQ_M = 4
PQ_CODES = 8
PQ_ITERS = 3
PQ_SAMPLE = 256
PQ_K = 5
_PQ_DSUB = 64 // PQ_M


def _pq_iter_cte(k: int) -> str:
    """One per-subspace Lloyd round: expanded-form L2 assignment
    (ties -> lowest code, numpy argmin first-match), member-mean
    re-center via the dimension lateral, empty codes keep the previous
    centroid (numpy's `if len(members)` guard)."""
    d2 = (
        f"{_DOT_D_DD.format(a='s.sv', b='s.sv')} - 2 * "
        f"{_DOT_D_DD.format(a='s.sv', b='c.v')} + "
        f"{_DOT_D_DD.format(a='c.v', b='c.v')}"
    )
    return f"""
    pa{k} AS (
      SELECT rnk, sp, sv, code, row_number() OVER (
        PARTITION BY sp, rnk ORDER BY d2 ASC, code ASC) AS rn
      FROM (SELECT s.rnk, s.sp, s.sv, c.code, {d2} AS d2
            FROM sub s JOIN pc{k - 1} c ON c.sp = s.sp)
    ),
    pm{k} AS (
      SELECT sp, code, i, avg(sv[i]) AS mv
      FROM (SELECT * FROM pa{k} WHERE rn = 1), range(1, {_PQ_DSUB + 1}) r(i)
      GROUP BY sp, code, i
    ),
    pmm{k} AS (
      SELECT sp, code, list(mv ORDER BY i) AS mv FROM pm{k} GROUP BY sp, code
    ),
    pc{k} AS MATERIALIZED (
      SELECT p.sp, p.code, CASE WHEN m.code IS NULL THEN p.v ELSE m.mv END AS v
      FROM pc{k - 1} p LEFT JOIN pmm{k} m ON m.sp = p.sp AND m.code = p.code
    )"""


def _pq_oracle_sql() -> str:
    sp_values = ", ".join(f"({s})" for s in range(PQ_M))
    slice_expr = "v[s.s * {d} + 1 : s.s * {d} + {d}]".format(d=_PQ_DSUB)
    rounds = ",".join(_pq_iter_cte(k) for k in range(1, PQ_ITERS + 1))
    enc_d2 = (
        f"{_DOT_D_DD.format(a='cs.sv', b='cs.sv')} - 2 * "
        f"{_DOT_D_DD.format(a='cs.sv', b='c.v')} + "
        f"{_DOT_D_DD.format(a='c.v', b='c.v')}"
    )
    exdot = _DOT_DD.format(a="a.embedding", b="b.embedding")
    raw_norm = _NORM_DD.format(a="embedding")
    return f"""
    WITH samp AS MATERIALIZED (
      SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rnk,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {max(PQ_SAMPLE, PQ_CODES)})
    ),
    sub AS MATERIALIZED (
      SELECT vec_id, rnk, s.s AS sp, {slice_expr} AS sv
      FROM samp, (VALUES {sp_values}) s(s)
    ),
    pc0 AS MATERIALIZED (
      SELECT sp, CAST(rn - 1 AS INT) AS code, sv AS v FROM (
        SELECT sp, sv, row_number() OVER (
          PARTITION BY sp ORDER BY first_rnk ASC) AS rn
        FROM (SELECT sp, sv, min(rnk) AS first_rnk FROM sub GROUP BY sp, sv))
      WHERE rn <= {PQ_CODES}
    ),{rounds},
    corp AS MATERIALIZED (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             CAST({raw_norm} AS REAL) AS normf
      FROM embeddings
    ),
    csub AS MATERIALIZED (
      SELECT vec_id, s.s AS sp, {slice_expr} AS sv
      FROM corp, (VALUES {sp_values}) s(s)
    ),
    enc AS MATERIALIZED (
      SELECT vec_id, sp, code FROM (
        SELECT cs.vec_id, cs.sp, c.code, row_number() OVER (
          PARTITION BY cs.vec_id, cs.sp ORDER BY {enc_d2} ASC, c.code ASC) AS rn
        FROM csub cs JOIN pc{PQ_ITERS} c ON c.sp = cs.sp) WHERE rn = 1
    ),
    tbl AS MATERIALIZED (
      -- the ADC table itself: queries x subspaces x codes inner products,
      -- computed ONCE (n_q * m * n_codes dots) and then LOOKED UP per
      -- corpus code — the same asymmetry the operator exploits
      SELECT q.vec_id AS query_id, q.sp, cb.code,
             {_DOT_D_DD.format(a='q.sv', b='cb.v')} AS ip_s
      FROM csub q JOIN pc{PQ_ITERS} cb ON cb.sp = q.sp
    ),
    ips AS (
      SELECT t.query_id, e.vec_id AS neighbor_id, t.sp, t.ip_s
      FROM tbl t
      JOIN enc e ON e.sp = t.sp AND e.code = t.code AND e.vec_id <> t.query_id
    ),
    ip AS (
      SELECT query_id, neighbor_id,
             list_reduce(list_prepend(0.0, list(ip_s ORDER BY sp)),
                         (acc, x) -> acc + x) AS ip
      FROM ips GROUP BY query_id, neighbor_id
    ),
    qn AS (
      SELECT vec_id, greatest({_NORM_D_DD.format(a="v")},
                              CAST(1e-30 AS DOUBLE)) AS qnorm
      FROM corp
    ),
    adc AS (
      SELECT * FROM (
        SELECT query_id, neighbor_id, adc_cosine, row_number() OVER (
          PARTITION BY query_id
          ORDER BY adc_cosine DESC, neighbor_id ASC) AS rank
        FROM (
          SELECT i.query_id, i.neighbor_id,
                 round(i.ip / (q.qnorm *
                       greatest(CAST(c.normf AS DOUBLE),
                                CAST(1e-30 AS DOUBLE))), 6) AS adc_cosine
          FROM ip i
          JOIN qn q ON q.vec_id = i.query_id
          JOIN corp c ON c.vec_id = i.neighbor_id))
      WHERE rank <= {PQ_K}
    ),
    normed AS (
      SELECT vec_id, embedding, {raw_norm} AS norm FROM embeddings
    ),
    ex AS (
      SELECT * FROM (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, row_number() OVER (
          PARTITION BY a.vec_id
          ORDER BY round({exdot} / (a.norm * b.norm), 6) DESC, b.vec_id ASC) AS rn
        FROM normed a JOIN normed b ON a.vec_id <> b.vec_id) WHERE rn <= {PQ_K}
    ),
    nex AS (SELECT query_id, count(*) AS n_exact FROM ex GROUP BY query_id),
    hit AS (
      SELECT i.query_id, i.neighbor_id, i.adc_cosine, i.rank,
             (e.neighbor_id IS NOT NULL) AS in_exact_topk
      FROM adc i LEFT JOIN ex e
        ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
    )
    SELECT h.query_id, h.neighbor_id, h.adc_cosine, CAST(h.rank AS INT) AS rank,
           h.in_exact_topk,
           round(sum(CASE WHEN h.in_exact_topk THEN 1.0 ELSE 0.0 END)
                   OVER (PARTITION BY h.query_id) / nx.n_exact, 3) AS recall_at_k
    FROM hit h JOIN nex nx ON nx.query_id = h.query_id
    """


@register(
    "embedding_pq_adc",
    _pq_oracle_sql(),
    doc=(
        "Product-quantization ADC search (Jegou et al. 2011): per-subspace "
        "deterministic mini-Lloyd codebooks on a bounded lowest-id sample, "
        "one zero-shuffle Arrow encode pass, ADC scan via broadcast "
        "per-query inner-product tables (the corpus is never "
        "reconstructed), in-plan recall grading vs the exact top-k. "
        "ORACLED end to end: the DuckDB mirror unrolls training, encoding, "
        "the subspace-ordered ADC accumulation, the float32 norm cast, and "
        "the recall columns (slot freed by folding customers_without_orders "
        "into orders_enriched)."
    ),
)
def embedding_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from youtube_analytics_lakehouse_databricks_spark.operators.pq import pq_encode, pq_topk, train_pq
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import cosine_topk
    from youtube_analytics_lakehouse_databricks_spark.queries import read_fanned

    emb = read_fanned(spark, sf_dir, "embeddings")
    model = train_pq(
        emb, "vec_id", "embedding",
        m=PQ_M, n_codes=PQ_CODES, iters=PQ_ITERS, sample_rows=PQ_SAMPLE,
    )
    codes = pq_encode(emb, "vec_id", "embedding", model)
    adc = pq_topk(
        codes, emb, "vec_id", "embedding", model, k=PQ_K, exclude_self=True
    )
    # recall grading: identical to embedding_ivf_ann — n_exact rides on the
    # exact side so the denominator is the exact top-k size, not the
    # retrieved count (precision vs recall). Bare scan + footer hints for
    # the exact side (the embedding_ivf_ann r16 rationale: the grid
    # explode feeds its own exchange, so the fan-out buys nothing).
    n_rows, dim = _embedding_hints(sf_dir)
    exact = cosine_topk(
        read(spark, sf_dir, "embeddings"), "vec_id", "embedding", k=PQ_K,
        n_rows_hint=n_rows, dim_hint=dim,
    ).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_exact")
    )
    exact = exact.withColumn(
        "n_exact", F.count(F.lit(1)).over(Window.partitionBy("query_id"))
    )
    w = Window.partitionBy("query_id")
    hits = F.sum(F.col("in_exact_topk").cast("double")).over(w)
    denom = F.max("n_exact").over(w)
    # grading join unhinted — the embedding_ivf_ann rationale verbatim
    return (
        adc.join(exact, ["query_id", "neighbor_id"], "left")
        .withColumn("in_exact_topk", F.coalesce(F.col("in_exact"), F.lit(0)) == 1)
        .withColumn("recall_at_k", F.coalesce(F.round(hits / denom, 3), F.lit(0.0)))
        .select(
            "query_id", "neighbor_id", "adc_cosine", "rank",
            "in_exact_topk", "recall_at_k",
        )
    )
