"""Persisted IVF index: build the coarse quantizer + cell-partitioned
corpus ONCE, then serve query batches by reading only the probed cells.

``similarity.ivf_topk`` is the all-pairs-of-one-corpus shape (every doc
is also a query — dedup/analysis workloads). The serving shape is
different: the corpus is large and STABLE, queries arrive in small
batches, and re-assigning the corpus per query batch would be absurd.
This module factors the index into state on disk:

    <path>/centroids/          (cell, v) — the frozen coarse quantizer
    <path>/corpus/cell=K/      (id, v)   — vectors partitioned by cell
    <path>/meta/               (id_col)  — the build's LAST write; its
                                           _SUCCESS marks a committed index

so a search reads ONLY ``union(probed cells)`` — parquet partition
pruning turns n_probe/n_cells into the scanned fraction of the corpus
(at n_cells=50k, n_probe=8 a query batch touches ~0.016% of the data).
The index is write-once: a grown or drifted corpus is rebuilt.

Search semantics are bit-identical to ``ivf_topk`` given the same
quantizer: same normalized-cosine cell assignment, same stable
lowest-cell probe tie-break, same 1e-6 cosine rounding, same
(cosine desc, id asc) rank order — pinned by a parity test.

Reference shape: FAISS's IndexIVFFlat (public semantics; engine-original
formulation on parquet + Arrow).

Path contract (fsops): the frozen state (centroids, codebooks — KB–MB
artifacts) loads through the pyarrow FAST PATH on local paths and
through the session's Hadoop FileSystem (``fsops.driver_read_parquet``:
stream the part files, parse from buffers) on any other REACHABLE
scheme, so an index rooted on ``s3a://``/``hdfs://`` serves end to end.
Footer row counts walk the footers driver-side on remote schemes. An
UNREACHABLE scheme raises the named ``fsops.RemotePathError`` up front
— never a silent miss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.fsops import (
    driver_parquet_row_count,
    driver_read_parquet,
    is_local_path,
    local_path_or_raise,
    require_session,
)

from youtube_analytics_lakehouse_databricks_spark.operators.mixing import require_integral_id
from youtube_analytics_lakehouse_databricks_spark.operators._topk import topk_pairs
from youtube_analytics_lakehouse_databricks_spark.operators.similarity import (
    _train_centroids,
    assign_cells,
    auto_n_cells,
)

__all__ = [
    "build_ivf_index",
    "ivf_search",
    "load_ivf_centroids",
    "build_ivfpq_index",
    "ivfpq_search",
    "ivfpq_search_refined",
]


# the IVF family's Arrow schemas carry ids as long (ivf_topk does the
# same); the shared integral-id guard names the failure up front — the
# decontam integral-id lesson
_IVF_HINT = "map string keys to a surrogate long first"


def _require_long_id(df: DataFrame, id_col: str, op: str) -> None:
    require_integral_id(df, id_col, op, hint=_IVF_HINT)


def _query_batch(queries: DataFrame, id_col: str, vec_col: str, dim: int, op: str):
    """(q_ids int64, q_mat float64) of a SERVING query batch, collected
    once on the driver in id order — or one named ``op:`` error for an
    empty batch, a NULL vector, ragged dimensions, or a dimension other
    than the index's ``dim``. Shared by the three searches so their
    guards cannot drift apart."""
    import numpy as np

    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError(f"{op}: empty query batch")
    null_ids = [r[id_col] for r in rows if r[vec_col] is None]
    if null_ids:
        raise ValueError(
            f"{op}: NULL {vec_col} query vector (query ids {null_ids[:5]})"
        )
    try:
        q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    except ValueError:
        raise ValueError(
            f"{op}: ragged {vec_col} dimensions in the query batch"
        ) from None
    if q_mat.shape[1] != dim:
        raise ValueError(
            f"{op}: {vec_col} is {q_mat.shape[1]}-dim but the index "
            f"was built on {dim}-dim vectors"
        )
    return np.array([r[id_col] for r in rows], dtype=np.int64), q_mat


def _probe_cells(q_mat, centroids, n_probe: int) -> dict[int, list[int]]:
    """{cell: [query row indexes]} over the ``n_probe`` cells nearest
    each query. Every search probes with the RAW float64 matrix
    (float32 truncation applies only to scored values) and a stable
    argsort, so exact ties probe the LOWEST cell (the ivf_topk / oracle
    tie-break) and the refined search's shortlist and re-rank passes
    prune to the same cells."""
    import numpy as np

    qn = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    probes = np.argsort(-(qn @ centroids.T), axis=1, kind="stable")[:, : int(n_probe)]
    by_cell: dict[int, list[int]] = {}
    for qi, row in enumerate(probes):
        for c in row:
            by_cell.setdefault(int(c), []).append(qi)
    return by_cell


def _rank_topk(hits: DataFrame, score_col: str, k: int) -> DataFrame:
    """The family's shared finalizer: global (score desc, neighbor asc)
    re-rank per query, top-k."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id").asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
        .select("query_id", "neighbor_id", score_col, "rank")
    )


def _write_centroids(spark: SparkSession, centroids, path: str) -> None:
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, v array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def _write_meta(spark: SparkSession, id_col: str, path: str) -> None:
    """The builders' LAST write: ``meta/_SUCCESS`` marks the whole index
    committed (centroids alone can be a partial build)."""
    spark.createDataFrame([(id_col,)], "id_col string").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_cells: int | None = None,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
) -> None:
    """Train the quantizer (deterministic mini-Lloyd on a bounded
    lowest-id sample) and materialize the cell-partitioned corpus.
    ``n_cells=None`` auto-scales from one count() so expected cell size
    stays bounded (the SemDeDup knob)."""
    _require_long_id(df, id_col, "build_ivf_index")
    spark = df.sparkSession
    if n_cells is None:
        n_cells = auto_n_cells(df.count(), max_cluster_size)
    centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    _write_centroids(spark, centroids, path)
    assigned = assign_cells(df, id_col, vec_col, centroids)
    corpus = assigned.select(id_col, "v", F.col("cluster").alias("cell"))
    corpus.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus")
    _write_meta(spark, id_col, path)


def _artifact_table(path: str, sub: str, op: str, spark):
    """One small index artifact (``<path>/<sub>``) as a pyarrow Table:
    pyarrow fast path on local paths; on any other scheme, streamed
    through the session's Hadoop FileSystem and parsed from buffers
    (object-store-native serving, r14). Unreachable schemes raise the
    named ``RemotePathError`` up front."""
    import pyarrow.parquet as pq

    if is_local_path(path):
        return pq.read_table(f"{local_path_or_raise(path, op)}/{sub}")
    return driver_read_parquet(require_session(spark, path, op), f"{path}/{sub}", op)


def load_ivf_centroids(path: str, spark=None):
    """The frozen quantizer as a cell-ordered float64 array — no Spark
    JOB either way (the CurationState.centroids_np stance): a direct
    pyarrow read locally, a driver-side Hadoop-FS stream on remote
    schemes (``spark`` defaults to the active session there)."""
    import numpy as np

    tbl = _artifact_table(path, "centroids", "load_ivf_centroids", spark).to_pydict()
    order = sorted(range(len(tbl["cell"])), key=tbl["cell"].__getitem__)
    return np.asarray([tbl["v"][i] for i in order], dtype=np.float64)


def _corpus_rows(corpus_dir: str, spark=None) -> int:
    """Total stored rows, footer metadata only, ZERO Spark jobs on any
    reachable scheme: pyarrow ``count_rows`` on local paths; on any
    other scheme a driver-side footer walk through the session's
    Hadoop FileSystem (``fsops.driver_parquet_row_count`` — KB of
    positional reads per file). Unreachable schemes raise the named
    error."""
    if is_local_path(corpus_dir):
        import pyarrow.dataset as ds

        local = local_path_or_raise(corpus_dir, "ivf corpus row count")
        return ds.dataset(local, format="parquet", partitioning="hive").count_rows()
    spark = require_session(spark, corpus_dir, "ivf corpus row count")
    return driver_parquet_row_count(spark, corpus_dir, "ivf corpus row count")


def ivf_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_probe: int = 2,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) top-k over the persisted
    index, scanning ONLY the probed cells.

    The query batch is the SERVING side — bounded by contract (a
    driver-side collect sizes the probe set). Each executor task scans
    pruned corpus rows once, computes this partition's candidates for
    every query probing that cell (numpy matmul), and only candidate
    rows (<= partitions * |queries| * k) ever shuffle for the global
    re-rank.

    ``exclude_self`` defaults OFF: serving queries and the stored corpus
    are usually different id namespaces, and the dedup-shape default
    would silently drop any corpus vector whose id numerically collides
    with an unrelated query id. Set it True only when the query batch IS
    a corpus subset keyed identically (the ivf_topk-parity shape)."""
    import numpy as np

    _require_long_id(queries, id_col, "ivf_search")
    centroids = load_ivf_centroids(path, spark)
    q_ids, q_mat = _query_batch(
        queries, id_col, vec_col, centroids.shape[1], "ivf_search"
    )
    by_cell = _probe_cells(q_mat, centroids, n_probe)
    probed = sorted(by_cell)

    corpus = spark.read.parquet(f"{path}/corpus").filter(
        F.col("cell").isin(probed)  # partition pruning: only probed dirs scan
    )
    # bit-parity with ivf_topk for ANY input vector type: ivf_topk probes
    # from the raw column but carries vectors through an array<float>
    # Arrow schema, so its per-cell cosines see float32-truncated values
    # (as does this index's stored corpus). Truncate the query matrix the
    # same way AFTER probing — an array<double> query would otherwise
    # round a near-boundary cosine differently at the 1e-6 step
    q32 = q_mat.astype(np.float32).astype(np.float64)
    q32_norm = np.maximum(np.linalg.norm(q32, axis=1), 1e-30)
    bc = spark.sparkContext.broadcast((q_ids, q32, q32_norm, by_cell))
    kk = int(k)
    excl = bool(exclude_self)

    def candidates(batches):
        import pandas as pd

        ids, qm, qn, cells = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_c = [], [], []
            for cell, grp in pdf.groupby("cell"):
                qidx = cells.get(int(cell))
                if not qidx:
                    continue
                c_ids = grp[id_col].to_numpy(dtype=np.int64)
                c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in grp["v"]])
                c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
                cos = np.round(
                    (qm[qidx] @ c_mat.T) / np.outer(qn[qidx], c_norm), 6
                )
                oq, on, oc = topk_pairs(ids[qidx], c_ids, cos, kk, excl)
                out_q.append(oq)
                out_n.append(on)
                out_c.append(oc)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q) if out_q else np.empty(0, np.int64),
                    "neighbor_id": np.concatenate(out_n) if out_n else np.empty(0, np.int64),
                    "cosine": np.concatenate(out_c) if out_c else np.empty(0, np.float64),
                }
            )

    hits = corpus.mapInPandas(
        candidates, "query_id long, neighbor_id long, cosine double"
    )
    # cells are disjoint corpora, so a (query, neighbor) pair appears at
    # most once even across probes — global re-rank only
    return _rank_topk(hits, "cosine", kk)


# --- IVFPQ: coarse cells + PQ-compressed residuals (FAISS IndexIVFPQ
# semantics — public, Jegou et al. 2011 §IV; engine-original formulation
# on parquet + Arrow). The serving math: a stored vector is approximated
# as normalize(x) ~= centroid[cell] + decode(codes), where the codes PQ-
# encode the RESIDUAL in the normalized space, so
#     cosine(q, x) ~= qn . centroid[cell]  (one dot per probed cell)
#                   + sum_s table[s][codes[s]]  (m lookups per row)
# — the ADC scan runs over m code bytes per vector instead of d*4, and
# the partition-pruned cell layout still bounds the scanned fraction at
# n_probe/n_cells. At 100 TB the two factors COMPOUND: a 2-of-32-probe
# search over m=8 codes reads ~1/16th the bytes of the flat IVF scan,
# which itself reads ~1/16th of the corpus.


def build_ivfpq_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_cells: int | None = None,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
    m: int = 8,
    n_codes: int = 256,
    pq_iters: int = 5,
    pq_sample: int = 8192,
) -> None:
    """Train the coarse quantizer AND per-subspace residual codebooks
    (both deterministic, both on the bounded lowest-id sample), then
    materialize the corpus as (id, codes) partitioned by cell — the
    16-32x-compressed serving layout.

    The residual codebooks train on normalize(x) - centroid[assign(x)]
    over the sample (the FAISS IVFPQ residual convention): residuals are
    centered near zero per cell, so the same code budget buys far more
    precision than PQ on the raw vectors."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel, _fit_codebooks

    _require_long_id(df, id_col, "build_ivfpq_index")
    spark = df.sparkSession
    if n_cells is None:
        n_cells = auto_n_cells(df.count(), max_cluster_size)
    centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    _write_centroids(spark, centroids, path)

    sample = (
        df.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(max(int(pq_sample), n_codes))
        .toPandas()
    )
    if not len(sample):
        raise ValueError("build_ivfpq_index: empty input")
    try:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in sample[vec_col]])
    except ValueError:
        raise ValueError(
            f"build_ivfpq_index: ragged {vec_col} dimensions in the training sample"
        ) from None
    if mat.shape[1] != centroids.shape[1]:
        raise ValueError(
            f"build_ivfpq_index: {vec_col} is {mat.shape[1]}-dim but the "
            f"quantizer trained {centroids.shape[1]}-dim centroids"
        )
    mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
    cells = np.argmax(mn @ centroids.T, axis=1)
    model = PQModel(
        codebooks=_fit_codebooks(
            mn - centroids[cells], m, n_codes, pq_iters, op="build_ivfpq_index"
        )
    )
    model.save(spark, f"{path}/pq_model")
    codes = _encode_ivfpq(df, id_col, vec_col, centroids, model.codebooks)
    codes.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus_pq")
    _write_meta(spark, id_col, path)


def _encode_ivfpq(
    df: DataFrame, id_col: str, vec_col: str, centroids, codebooks
) -> DataFrame:
    """(id, codes, cell): ONE fused Arrow pass — normalize, nearest-cell
    assign, residual PQ encode — zero shuffle; the write's partitionBy
    is the only exchange the build pays."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)
    books = np.asarray(codebooks, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((cents, books))
    mm, _n, d_sub = books.shape

    def encode(batches):
        import pandas as pd

        cents_, books_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(f"ivfpq encode: NULL {vec_col} vector")
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"ivfpq encode: ragged {vec_col} dimensions in batch"
                ) from None
            if mat.shape[1] != mm * d_sub:
                raise ValueError(
                    f"ivfpq encode: {vec_col} is {mat.shape[1]}-dim but the "
                    f"index was built on {mm * d_sub}-dim vectors"
                )
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            cell = np.argmax(mn @ cents_.T, axis=1)
            resid = mn - cents_[cell]
            codes = np.empty((len(mat), mm), dtype=np.int16)
            for s in range(mm):
                sub = resid[:, s * d_sub : (s + 1) * d_sub]
                cb = books_[s]
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ cb.T)
                    + (cb * cb).sum(axis=1)
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(codes),
                    "cell": cell.astype("int32"),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes array<smallint>, cell int"
    )


def ivfpq_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_probe: int = 2,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, adc_cosine, rank): approximate top-k over
    the compressed index, scanning ONLY the probed cells' code rows.
    Per query: one dot against each probed centroid (the bias term) and
    an (m x n_codes) residual table; each stored row then scores as m
    table lookups. The query batch is the serving side (driver-collected,
    the ivf_search contract); only candidate rows shuffle for the global
    re-rank. adc_cosine approximates cosine(q, x) with the residual
    reconstruction error as its bias — grade it with pq_audit-style spot
    checks or the recall tests before trusting a threshold."""
    _require_long_id(queries, id_col, "ivfpq_search")
    centroids = load_ivf_centroids(path, spark)
    q_ids, q_mat = _query_batch(
        queries, id_col, vec_col, centroids.shape[1], "ivfpq_search"
    )
    return _ivfpq_scan(
        spark, path, centroids, q_ids, q_mat, id_col,
        n_probe=n_probe, k=k, exclude_self=exclude_self,
    )


def _ivfpq_scan(
    spark: SparkSession,
    path: str,
    centroids,
    q_ids,
    q_mat,
    id_col: str,
    *,
    n_probe: int,
    k: int,
    exclude_self: bool,
) -> DataFrame:
    """ivfpq_search's body over a driver-resident query matrix — shared
    with ivfpq_search_refined so the two-stage search collects its query
    batch once, not once per stage."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel

    books = np.asarray(
        PQModel.load(f"{path}/pq_model", spark).codebooks, dtype=np.float64
    )
    mm, n_codes, d_sub = books.shape
    # probe with the RAW float64 matrix, exactly as ivf_search does (see
    # _probe_cells)
    by_cell = _probe_cells(q_mat, centroids, n_probe)
    probed = sorted(by_cell)
    # the ADC VALUES, by contrast, float32-truncate the query to match
    # the regime the stored codes were encoded under (Arrow array<float>)
    q32 = q_mat.astype(np.float32).astype(np.float64)
    qn = q32 / np.maximum(np.linalg.norm(q32, axis=1, keepdims=True), 1e-30)
    # tables[q, s, c] = <qn_sub, book_entry>; bias[q, cell] = <qn, centroid>
    tables = np.stack(
        [qn[:, s * d_sub : (s + 1) * d_sub] @ books[s].T for s in range(mm)],
        axis=1,
    )
    bias = qn @ centroids.T
    bc = spark.sparkContext.broadcast((q_ids, by_cell, bias, tables))
    kk = int(k)
    excl = bool(exclude_self)

    corpus = spark.read.parquet(f"{path}/corpus_pq").filter(
        F.col("cell").isin(probed)  # partition pruning: probed dirs only
    )

    def scan(batches):
        import pandas as pd

        ids, cells, bias_, tbl = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            out_q, out_n, out_c = [], [], []
            for cell, grp in pdf.groupby("cell"):
                qidx = cells.get(int(cell))
                if not qidx:
                    continue
                c_ids = grp[id_col].to_numpy(dtype=np.int64)
                codes = np.stack([np.asarray(c, dtype=np.int64) for c in grp["codes"]])
                # adc[q, row] = bias[q, cell] + sum_s tbl[q, s, codes[row, s]]
                tq = tbl[qidx]  # hoisted: one copy, not one per subspace
                adc = np.zeros((len(qidx), len(codes)))
                for s in range(tq.shape[1]):
                    adc += tq[:, s, :][:, codes[:, s]]
                adc += bias_[qidx][:, int(cell)][:, None]
                adc = np.round(adc, 6)
                oq, on, oc = topk_pairs(ids[qidx], c_ids, adc, kk, excl)
                out_q.append(oq)
                out_n.append(on)
                out_c.append(oc)
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q) if out_q else np.empty(0, np.int64),
                    "neighbor_id": np.concatenate(out_n) if out_n else np.empty(0, np.int64),
                    "adc_cosine": np.concatenate(out_c) if out_c else np.empty(0, np.float64),
                }
            )

    hits = corpus.mapInPandas(
        scan, "query_id long, neighbor_id long, adc_cosine double"
    )
    return _rank_topk(hits, "adc_cosine", kk)


def _validate_refined_pair(
    pq_path: str, flat_path: str, validate: bool, *, op: str, spark=None
) -> None:
    """The two indexes must be two LAYOUTS of one corpus under one
    quantizer — otherwise shortlisted candidates can be missing from the
    flat side and would silently drop from the re-rank (e.g. two builds
    over different inputs). Both checks are driver-side footer reads;
    the row count walks EVERY fragment's footer, which on a huge index
    is a per-call listing cost — hot serving loops over a
    known-consistent pair can pass validate=False after the first
    call."""
    import numpy as np

    if not validate:
        return
    if not np.array_equal(
        load_ivf_centroids(pq_path, spark), load_ivf_centroids(flat_path, spark)
    ):
        raise ValueError(
            f"{op}: the pq and flat indexes were built with DIFFERENT "
            "quantizers — they probe different cells, so the shortlist "
            "and the re-rank would disagree; rebuild one of them"
        )
    n_pq = _corpus_rows(f"{pq_path}/corpus_pq", spark)
    n_flat = _corpus_rows(f"{flat_path}/corpus", spark)
    if n_pq != n_flat:
        raise ValueError(
            f"{op}: the pq index holds {n_pq} rows but the flat index "
            f"holds {n_flat} — the two corpora differ; rebuild both "
            "from the same input before refining"
        )


def ivfpq_search_refined(
    spark: SparkSession,
    pq_path: str,
    flat_path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_probe: int = 2,
    refine: int = 50,
    k: int = 5,
    exclude_self: bool = False,
    validate: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank): two-stage retrieval — the
    ADC scan over the COMPRESSED index shortlists ``refine`` candidates
    per query, then ONLY those rows re-rank with exact cosines read from
    the flat index's probed cells (FAISS IndexRefineFlat semantics,
    engine-original).

    Byte accounting, stated honestly: this reads the COMPRESSED probed
    cells (the shortlist pass) AND the FLAT probed cells (the re-rank
    pass) — more input bytes than ivf_search alone, not fewer. What the
    refine buys is (a) EXACT reported cosines where ivfpq_search's are
    reconstruction-biased, and (b) a re-rank whose exact-cosine compute
    is bounded by queries * refine rows instead of queries * cell
    occupancy — the win when cells are large and query batches wide
    (compute-bound serving), or when the flat side is cached/colocated.
    When input bytes dominate and the flat cells must stream from cold
    storage anyway, plain ivf_search is the better call.

    The reported cosines use the flat index's regime (float32 stored
    vectors, float32-truncated queries, 1e-6 rounding), so with an
    exhaustive ``refine`` budget the output EQUALS ``ivf_search`` on the
    flat index bit for bit — pinned by a parity test; a small ``refine``
    trades that equivalence for a cheaper re-rank."""
    import numpy as np

    op = "ivfpq_search_refined"
    _require_long_id(queries, id_col, op)
    if int(refine) < int(k):
        raise ValueError(
            f"{op}: refine={refine} must be >= k={k} — the "
            "shortlist is what the exact re-rank chooses from"
        )
    _validate_refined_pair(pq_path, flat_path, validate, op=op, spark=spark)
    centroids = load_ivf_centroids(flat_path, spark)
    # ONE query collect feeds both stages (the shared _ivfpq_scan body)
    q_ids, q_mat = _query_batch(queries, id_col, vec_col, centroids.shape[1], op)
    # the shortlist's collect stays: the driver turns it into the
    # per-query candidate broadcast the re-rank kernel filters on
    shortlist = _ivfpq_scan(
        spark, pq_path, load_ivf_centroids(pq_path, spark), q_ids, q_mat, id_col,
        n_probe=n_probe, k=int(refine), exclude_self=exclude_self,
    ).select("query_id", "neighbor_id").collect()
    pairs: dict[int, set] = {}
    for r in shortlist:
        pairs.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    # same probe set as the shortlist pass AND as ivf_search (see
    # _probe_cells) — a mismatch here could prune away a cell whose
    # candidates were already shortlisted and silently drop them
    probed = sorted(_probe_cells(q_mat, centroids, n_probe))
    # the exact cosines use the flat regime: float32-truncated queries
    # against the float32 stored vectors, 1e-6 rounding (= ivf_search)
    q32 = q_mat.astype(np.float32).astype(np.float64)
    qn32 = np.maximum(np.linalg.norm(q32, axis=1), 1e-30)
    sorted_pairs = {q: np.array(sorted(v), dtype=np.int64) for q, v in pairs.items()}
    bc = spark.sparkContext.broadcast((q_ids, q32, qn32, sorted_pairs))

    corpus = spark.read.parquet(f"{flat_path}/corpus").filter(
        F.col("cell").isin(probed)
    )

    def rerank(batches):
        import pandas as pd

        ids, qm, qn, want = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            c_norm = np.maximum(np.sqrt((c_mat * c_mat).sum(axis=1)), 1e-30)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(ids)):
                wanted = want.get(int(ids[qi]))
                if wanted is None or not len(wanted):
                    continue
                mask = np.isin(c_ids, wanted)  # vectorized shortlist lookup
                if not mask.any():
                    continue
                sel = np.where(mask)[0]
                cos = np.round(
                    (c_mat[sel] @ qm[qi]) / (qn[qi] * c_norm[sel]), 6
                )
                out_q.extend([ids[qi]] * len(sel))
                out_n.extend(c_ids[sel])
                out_c.extend(cos)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    hits = corpus.mapInPandas(
        rerank, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(hits, "cosine", k)
