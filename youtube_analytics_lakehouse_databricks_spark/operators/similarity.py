"""Similarity-search operators over embedding columns (array<float>).

- cosine_topk: EXACT distributed top-k — queries x corpus computed over a
  (query-block, corpus-tile) grid of Arrow-batched matmuls, partial top-k
  per block, global window re-rank. Nothing is collected to the driver;
  per-task memory is one block + one tile, so the shape survives any
  corpus size by raising the tile count.
- srp_plane_matrix + bucket_topk: the LSH scale path — deterministic
  sign-random-projection buckets, then exact search within buckets via
  grouped-map matmul (shuffle on bucket key; never O(n^2)).

Ranking uses 1e-6-rounded cosines with id tie-breaks so results are
stable across summation orders and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators._topk import topk_pairs


def cosine_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_query_blocks: int | None = None,
    n_corpus_tiles: int | None = None,
    target_tile_bytes: int = 128 << 20,
    n_rows_hint: int | None = None,
    dim_hint: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors per vector: (query_id, neighbor_id,
    cosine, rank).

    Distributed block plan: every (query-block, corpus-tile) grid cell is
    one applyInPandas group doing a numpy matmul and keeping the cell-local
    top-k per query (the same total order as the final rank, so the global
    re-rank over <= n_tiles * k candidates per query is exact). Shuffle
    volume is n_tiles * |queries| + n_blocks * |corpus|; no driver collect,
    no broadcast of the corpus.

    Grid sizing runs ZERO Spark jobs: the default grid is a parallelism
    floor (~2x defaultParallelism cells, so small corpora still fan out);
    callers that know the corpus size pass ``n_rows_hint``/``dim_hint``
    (e.g. from parquet metadata) to additionally bound tile vector storage
    to ~``target_tile_bytes``. Peak task memory is bounded regardless of
    sizing: the per-cell matmul is chunked over query rows so the cosine
    output block never exceeds ~64 MB. The result is exact for any grid,
    so sizing is purely a physical-plan choice.
    """
    import math

    import numpy as np

    base = df.select(id_col, vec_col)
    if n_query_blocks is None or n_corpus_tiles is None:
        # Parallelism floor from driver-side metadata only (no jobs):
        # a g x g grid with g^2 ~ 2x cores keeps every core busy even on
        # a corpus that fits one tile.
        par = df.sparkSession.sparkContext.defaultParallelism
        auto = max(1, math.ceil(math.sqrt(2 * max(1, par))))
        if n_rows_hint is not None and dim_hint is not None:
            rows_per_tile = max(1, target_tile_bytes // (dim_hint * 8))
            auto = max(auto, math.ceil(n_rows_hint / rows_per_tile))
        if n_query_blocks is None:
            n_query_blocks = auto
        if n_corpus_tiles is None:
            n_corpus_tiles = auto
    if n_query_blocks < 1 or n_corpus_tiles < 1:
        raise ValueError("grid counts must be >= 1")
    qb = F.pmod(F.col(id_col), F.lit(n_query_blocks)).cast("int")
    tile = F.pmod(F.col(id_col), F.lit(n_corpus_tiles)).cast("int")
    queries = base.select(
        F.col(id_col).alias("any_id"),
        F.col(vec_col).alias("vec"),
        qb.alias("qb"),
        F.explode(F.sequence(F.lit(0), F.lit(n_corpus_tiles - 1))).alias("tile"),
        F.lit("q").alias("side"),
    )
    corpus = base.select(
        F.col(id_col).alias("any_id"),
        F.col(vec_col).alias("vec"),
        F.explode(F.sequence(F.lit(0), F.lit(n_query_blocks - 1))).alias("qb"),
        tile.alias("tile"),
        F.lit("c").alias("side"),
    )

    def per_cell(pdf):
        import pandas as pd

        qs = pdf[pdf["side"] == "q"]
        cs = pdf[pdf["side"] == "c"]
        if len(qs) == 0 or len(cs) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        q_ids = qs["any_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qs["vec"]])
        q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
        c_ids = cs["any_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in cs["vec"]])
        c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
        out_q, out_n, out_c = [], [], []
        # Chunk over query rows: the dense cosine block is capped at
        # ~64 MB however large the tile is, so task memory stays bounded
        # even under a badly-sized grid.
        step = max(1, (64 << 20) // max(1, len(c_ids) * 8))
        for s in range(0, len(q_ids), step):
            cos = np.round(
                (q_mat[s : s + step] @ c_mat.T) / np.outer(q_norm[s : s + step], c_norm), 6
            )
            oq, on, oc = topk_pairs(q_ids[s : s + step], c_ids, cos, k)
            out_q.append(oq)
            out_n.append(on)
            out_c.append(oc)
        return pd.DataFrame(
            {
                "query_id": np.concatenate(out_q),
                "neighbor_id": np.concatenate(out_n),
                "cosine": np.concatenate(out_c),
            }
        )

    partial = (
        queries.unionByName(corpus)
        .groupBy("qb", "tile")
        .applyInPandas(per_cell, "query_id long, neighbor_id long, cosine double")
    )
    # A corpus vector lives in exactly one tile, so candidates are already
    # distinct; the window selects the exact global top-k from <= tiles*k.
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank"))
    )


def srp_plane_matrix(n_planes: int, dim: int):
    """Deterministic sha256-derived ±1 hyperplanes (reproducible anywhere)."""
    import hashlib

    import numpy as np

    w = np.empty((n_planes, dim))
    for p in range(n_planes):
        for i in range(1, dim + 1):
            h = hashlib.sha256(f"{p}|{i}".encode()).hexdigest()
            w[p, i - 1] = 1.0 if h[0] in "13579bdf" else -1.0
    return w


def bucket_topk(df: DataFrame, id_col: str, vec_col: str, n_planes: int = 8) -> DataFrame:
    """LSH-bucketed best-neighbor search: bucketize via sign projection,
    exact cosine only within buckets. Returns (query_id, neighbor_id, cosine)."""
    import numpy as np

    def bucketize(batches):
        import pandas as pd

        planes = None  # derived from the batch width: no driver round-trip
        # packed-int bucket key (bit p of the key = sign bit of plane p):
        # bijective with the former "0101..." string key, so the groups —
        # and therefore the results — are identical, but the key is built
        # by one vectorized matmul+dot instead of a per-row Python join,
        # and 8 bytes of long cross the bucket exchange instead of an
        # n_planes-char string
        powers = 1 << np.arange(n_planes, dtype=np.int64)
        for pdf in batches:
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            if planes is None:
                planes = srp_plane_matrix(n_planes, mat.shape[1])
            bits = (mat @ planes.T) >= 0
            pdf = pdf.copy()
            pdf["bucket"] = bits.astype(np.int64) @ powers
            yield pdf

    side = df.select(id_col, vec_col).mapInPandas(
        bucketize, f"{id_col} long, {vec_col} array<float>, bucket long"
    )

    def per_bucket(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.sqrt((mat * mat).sum(axis=1))
        cos = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(cos, -np.inf)
        order = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)
        best = order[:, 0]
        return pd.DataFrame(
            {"query_id": ids, "neighbor_id": ids[best], "cosine": cos[np.arange(len(ids)), best]}
        )

    return side.groupBy("bucket").applyInPandas(
        per_bucket, "query_id long, neighbor_id long, cosine double"
    )


def _train_centroids(
    df: DataFrame, id_col: str, vec_col: str, n_cells: int, kmeans_iters: int
):
    """Deterministic mini-Lloyd coarse quantizer on normalized rows:
    driver-collected bounded sample (lowest ids — at 100 TB you train
    the quantizer on a sample anyway), init = first n_cells sample rows,
    cosine assignment, mean re-center. No RNG: same data -> same
    centroids on any cluster."""
    import numpy as np

    sample = (
        df.select(id_col, vec_col).orderBy(id_col).limit(max(n_cells * 64, 2048)).toPandas()
    )
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    # eps guard: a zero-norm sample row becomes the zero vector (sims 0
    # everywhere) instead of a NaN row that would poison every centroid
    # it touches through the mean re-center
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    centroids = mat[: min(n_cells, len(mat))].copy()
    for _ in range(kmeans_iters):
        assign = np.argmax(mat @ centroids.T, axis=1)  # cosine on normalized rows
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    centroids[c] = m / norm
    return centroids


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int = 16,
    n_probe: int = 2,
    k: int = 5,
    kmeans_iters: int = 3,
) -> DataFrame:
    """IVF (inverted-file) ANN: deterministic k-means coarse quantizer,
    vectors assigned to their nearest centroid cell, queries probe the
    ``n_probe`` nearest cells and rank exactly within them.

    Centroid training is mini-Lloyd over a driver-collected sample with a
    deterministic init (lowest ids) — at 100 TB you train on a sample
    anyway; assignment and search stay fully distributed (one shuffle on
    cell id, grouped-map matmul per cell).
    """
    import numpy as np

    spark = df.sparkSession
    centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    bc = spark.sparkContext.broadcast(centroids)

    def assign_both(batches):
        """ONE Python pass over the corpus: each input row emits its
        corpus assignment (side 'c', nearest cell) AND its n_probe query
        probes (side 'q') — fusing what used to be two mapInPandas scans."""
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            sims = m @ cents.T
            # stable sort: an exact similarity tie deterministically
            # probes the LOWEST cell index (ORDER BY sim DESC, cell ASC —
            # the tie-break the cross-engine oracle mirrors)
            order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
            n = len(pdf)
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()  # object array of arrays
            yield pd.DataFrame(
                {
                    "any_id": np.concatenate([ids, np.repeat(ids, n_probe)]),
                    "vec": np.concatenate([vecs, np.repeat(vecs, n_probe)]),
                    "cell": np.concatenate(
                        [order[:, 0], order.ravel()]
                    ).astype("int32"),
                    "side": np.concatenate(
                        [np.full(n, "c"), np.full(n * n_probe, "q")]
                    ),
                }
            )

    both = df.select(id_col, vec_col).mapInPandas(
        assign_both, "any_id long, vec array<float>, cell int, side string"
    )

    def per_cell(pdf):
        import pandas as pd

        corp = pdf[pdf["side"] == "c"]
        qs = pdf[pdf["side"] == "q"]
        if len(corp) == 0 or len(qs) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        c_ids = corp["any_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in corp["vec"]])
        c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
        q_ids = qs["any_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qs["vec"]])
        q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
        cos = np.round((q_mat @ c_mat.T) / np.outer(q_norm, c_norm), 6)
        out_q, out_n, out_c = topk_pairs(q_ids, c_ids, cos, k)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_c})

    per_cell_hits = both.groupBy("cell").applyInPandas(
        per_cell, "query_id long, neighbor_id long, cosine double"
    )
    # A corpus vector lives in exactly one cell, so cells have disjoint
    # corpora and a (query, neighbor) pair can appear at most once even
    # across probes — no dedup needed; global re-rank to top-k.
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        per_cell_hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def auto_n_cells(n_rows: int, max_cluster_size: int, floor: int = 16) -> int:
    """Cell count so the EXPECTED cluster size stays at half the pairwise
    cap: ceil(2 * n / cap), floored at ``floor`` so small corpora still
    fan out. The knob the SemDeDup paper turns with corpus size (LAION ran
    50k clusters); deriving it from the row count means a 10x corpus gets
    10x cells without the caller thinking about it — the same
    self-guarding contract as the LSH hot-bucket cap."""
    if n_rows <= 0:
        return floor
    return max(floor, -(-2 * n_rows // max(1, max_cluster_size)))


def assign_cells(df: DataFrame, id_col: str, vec_col: str, centroids) -> DataFrame:
    """(id, v, cluster, centroid_sim): nearest-centroid assignment in ONE
    Arrow pass over the corpus — no shuffle, the quantizer rides a
    broadcast. centroid_sim is 1e-6-rounded (the verdict-comparison
    precision used everywhere downstream). Shared by semantic_dedup and
    the incremental curation stage (which assigns against a FROZEN
    persisted quantizer)."""
    import numpy as np

    bc = df.sparkSession.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    def assign(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"assign_cells: NULL {vec_col} vector — a doc without "
                    "an embedding cannot be clustered; filter it out "
                    "first (curate()'s semantic stage does)"
                )
            try:
                m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"assign_cells: ragged {vec_col} dimensions in batch — "
                    "a corrupt (wrong-length) embedding is a data bug; fix "
                    "it upstream (the decontam scorer, by contrast, audits "
                    "such rows because it scores pre-gate junk too)"
                ) from None
            # eps guard: a zero-norm vector assigns deterministically to
            # cell 0 with centroid_sim 0.0 instead of an ill-defined
            # argmax over a NaN row
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            sims = m @ cents.T
            cell = np.argmax(sims, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "v": pdf[vec_col],
                    "cluster": cell.astype("int32"),
                    "centroid_sim": np.round(sims[np.arange(len(pdf)), cell], 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        assign, f"{id_col} long, v array<float>, cluster int, centroid_sim double"
    )


def train_semantic_centroids(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_cells: int | None = None,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
):
    """Train (and return) SemDeDup's coarse quantizer standalone — a
    row-normalized float64 numpy array, one centroid per row. Useful when
    the quantizer must be CALLER-OWNED state: curate_incremental freezes
    it at bootstrap (retraining on a grown corpus would reassign stored
    docs and re-verdict history — the perplexity-model contract), and a
    full-run equivalence check passes the same array to both paths."""
    if n_cells is None:
        n_cells = auto_n_cells(df.count(), max_cluster_size)
    return _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    n_cells: int | None = None,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
    keeper: str = "diversity",
    centroids=None,
) -> DataFrame:
    """SEMANTIC dedup (SemDeDup, Abbas et al. 2023 — public semantics,
    engine-original distributed formulation): cluster the embedding
    space with the deterministic k-means coarse quantizer, compute
    pairwise cosine WITHIN each cluster only, connect members above
    ``threshold`` into duplicate groups, and keep ONE member per group —
    the one with the LOWEST cosine similarity to its cluster centroid
    (the paper's diversity-preserving choice; ties break to the lowest
    id). Catches meaning-level duplicates (paraphrases, translations,
    templated rewrites) that every lexical dedup in the chain misses.

    Output: one row per input vector —
    (id, cluster, centroid_sim, keep, duplicate_of,
    semdedup_audit_incomplete) — nothing silently dropped: dropped
    members point at their keeper, and members of clusters LARGER than
    ``max_cluster_size`` are kept UNPROCESSED with the audit flag set
    (the hot-bucket-guard contract from the LSH path: a production run
    routes flagged clusters to a second pass with more cells).

    Scale shape: centroid training is the bounded driver-side sample
    (``_train_centroids``); assignment is ONE Arrow pass over the corpus
    (no shuffle); the only exchange is the groupBy(cluster) — vectors
    shuffle once, like ivf_topk's cell shuffle — and the O(m^2) pairwise
    work is per-cluster Arrow matmuls bounded by ``max_cluster_size``
    (~m^2/2 float64 ops, 8192^2 ~= 0.5 GB peak per task). n_cells is the
    scale knob: at 100 TB you raise it so corpus/n_cells stays under the
    cap, exactly how SemDeDup ran on LAION (50k clusters). The DEFAULT
    (``n_cells=None``) turns that knob automatically: one count() sizes
    ``auto_n_cells`` so the expected cluster is half the cap — a 10x
    corpus gets 10x cells without the caller re-tuning.

    ``keeper``: which member of a duplicate group survives —
    ``"diversity"`` (default, the paper's choice: lowest centroid_sim,
    ties to lowest id) or ``"min_id"`` (lowest id — the stable-under-
    append rule the curation chain's incremental contract requires; see
    operators/curation.py).

    Flagged (over-cap) clusters can be re-processed with more cells via
    ``semantic_dedup_refine`` — the executable form of the second-pass
    contract above.
    """
    import numpy as np

    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if keeper not in ("diversity", "min_id"):
        raise ValueError(f"keeper must be 'diversity' or 'min_id', got {keeper!r}")
    if centroids is None:
        if n_cells is None:
            n_cells = auto_n_cells(df.count(), max_cluster_size)
        centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    else:
        # caller-owned quantizer (train_semantic_centroids / a persisted
        # incremental state): normalize defensively — assignment argmaxes
        # raw dot products, so an unnormalized row would skew every cell
        centroids = np.asarray(centroids, dtype=np.float64)
        centroids = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    assigned = assign_cells(df, id_col, vec_col, centroids).withColumnRenamed(
        id_col, "sd_id"
    )

    thr = float(threshold)
    cap = int(max_cluster_size)
    min_id_keeper = keeper == "min_id"

    def per_cluster(pdf):
        import pandas as pd

        n = len(pdf)
        ids = pdf["sd_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # deterministic member order
        ids = ids[order]
        csim = pdf["centroid_sim"].to_numpy(dtype=np.float64)[order]
        cluster = int(pdf["cluster"].iloc[0])
        base = {
            "sd_id": ids,
            "cluster": np.full(n, cluster, dtype="int32"),
            "centroid_sim": csim,
        }
        if n > cap:
            # comparisons curtailed, members kept + flagged (LSH
            # hot-bucket contract) — never a silent partial answer
            return pd.DataFrame(
                {
                    **base,
                    "keep": np.ones(n, dtype=bool),
                    "duplicate_of": pd.array([None] * n, dtype="Int64"),
                    "semdedup_audit_incomplete": np.ones(n, dtype=bool),
                }
            )
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["v"].iloc[order]]
        )
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
        cos = np.round(mat @ mat.T, 6)
        # union-find over the above-threshold pairs (upper triangle)
        parent = np.arange(n)

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        ai, bi = np.where(np.triu(cos >= thr, k=1))
        for a, b in zip(ai, bi):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        roots = np.array([find(i) for i in range(n)])
        keep = np.ones(n, dtype=bool)
        dup_of = np.full(n, -1, dtype=np.int64)
        for r in np.unique(roots):
            members = np.where(roots == r)[0]
            if len(members) == 1:
                continue
            if min_id_keeper:
                # stable-under-append keeper (ids sorted: first member)
                k_local = members[0]
            else:
                # diversity keeper: lowest centroid similarity, then lowest id
                k_local = members[np.lexsort((ids[members], csim[members]))[0]]
            for m_i in members:
                if m_i != k_local:
                    keep[m_i] = False
                    dup_of[m_i] = ids[k_local]
        return pd.DataFrame(
            {
                **base,
                "keep": keep,
                "duplicate_of": pd.array(
                    [None if d < 0 else int(d) for d in dup_of], dtype="Int64"
                ),
                "semdedup_audit_incomplete": np.zeros(n, dtype=bool),
            }
        )

    out = (
        assigned.groupBy("cluster")
        .applyInPandas(
            per_cluster,
            "sd_id long, cluster int, centroid_sim double, keep boolean, "
            "duplicate_of long, semdedup_audit_incomplete boolean",
        )
        .withColumnRenamed("sd_id", id_col)
    )
    # stamp the run parameters as COLUMN METADATA (invisible to values,
    # hashes and oracles): semantic_dedup_refine asserts its own
    # parameters against this, so a mismatched-threshold second pass
    # fails loudly instead of silently mixing verdict regimes
    return out.withColumn(
        "cluster",
        F.col("cluster").alias(
            "cluster",
            metadata={
                "semdedup": {
                    "threshold": thr,
                    "max_cluster_size": cap,
                    "keeper": keeper,
                }
            },
        ),
    )


def semantic_dedup_refine(
    df: DataFrame,
    result: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.95,
    cell_scale: int = 8,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
    keeper: str = "diversity",
) -> DataFrame:
    """Second pass for SemDeDup's flagged clusters — the executable form
    of the audit contract ("a production run routes flagged clusters to a
    second pass with more cells"): members whose cluster was curtailed
    (``semdedup_audit_incomplete``) are re-clustered with a quantizer
    sized to the FLAGGED population times ``cell_scale`` (so the expected
    second-pass cluster is cap / (2 * cell_scale)), pairwise-compared,
    and their rows REPLACED in the output; unflagged rows pass through
    byte-identical. Second-pass cluster ids are offset past the first
    pass's so the cluster column stays a valid partition key across both
    passes. A cluster still over the cap after re-quantization stays
    flagged — call again with a larger ``cell_scale``, exactly the
    LSH-path escalation story.

    Scale shape: the flagged subset is selected by a broadcast-semi-join
    on the (bounded, audit-sized) flagged-id list; everything else is the
    base operator's shape on the (much smaller) flagged population. Two
    bounded driver scalars: the flagged count (sizes the quantizer) and
    the first-pass max cluster id (the offset).

    ``df`` must be the same (id, vec) frame the first pass ran on;
    ``result`` its output. Parameters default to the first pass's
    defaults and MUST match them: the first pass stamps (threshold, cap,
    keeper) as metadata on its ``cluster`` column and this function
    asserts against it — a mismatched second pass would silently produce
    a mixed-threshold output frame.
    """
    md = dict(result.schema["cluster"].metadata or {}).get("semdedup")
    if md:
        want = {
            "threshold": float(threshold),
            "max_cluster_size": int(max_cluster_size),
            "keeper": keeper,
        }
        got = {k: md.get(k) for k in want}
        if got != want:
            raise ValueError(
                "refine parameters differ from the first pass's (stamped on "
                f"the cluster column): first pass {got}, refine {want} — a "
                "mixed-parameter output frame has no single verdict regime"
            )
    flagged = result.filter(F.col("semdedup_audit_incomplete")).select(id_col)
    n_flagged = flagged.count()
    if n_flagged == 0:
        return result
    # offset = one past the first pass's cluster-id range (one scalar)
    offset = int(result.agg(F.max("cluster")).collect()[0][0]) + 1
    sub = df.select(id_col, vec_col).join(F.broadcast(flagged), id_col, "left_semi")
    second = semantic_dedup(
        sub,
        id_col,
        vec_col,
        threshold=threshold,
        n_cells=auto_n_cells(n_flagged, max_cluster_size) * max(1, int(cell_scale)),
        kmeans_iters=kmeans_iters,
        max_cluster_size=max_cluster_size,
        keeper=keeper,
    ).withColumn("cluster", (F.col("cluster") + F.lit(offset)).cast("int"))
    return result.filter(~F.col("semdedup_audit_incomplete")).unionByName(second)
