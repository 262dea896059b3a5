"""Persisted IVF index: build the coarse quantizer + cell-partitioned
corpus ONCE, then serve query batches by reading only the probed cells.

``similarity.ivf_topk`` is the all-pairs-of-one-corpus shape (every doc
is also a query — dedup/analysis workloads). The serving shape is
different: the corpus is huge and STABLE, queries arrive in small
batches, and re-assigning 100 TB of vectors per query batch would be
absurd. This module factors the index into state on disk:

    <path>/centroids/          (cell, v) — the frozen coarse quantizer
    <path>/corpus/cell=K/      (id, v)   — vectors partitioned by cell

so a search reads ONLY ``union(probed cells)`` — parquet partition
pruning turns n_probe/n_cells into the scanned fraction of the corpus
(at n_cells=50k, n_probe=8 a query batch touches ~0.016% of the data) —
and appends assign against the FROZEN quantizer (one Arrow pass over the
new batch, append-mode write into its cell partitions; the engine's
frozen-state contract from curate_incremental, applied to ANN).

Search semantics are bit-identical to ``ivf_topk`` given the same
quantizer: same normalized-cosine cell assignment, same stable
lowest-cell probe tie-break, same 1e-6 cosine rounding, same
(cosine desc, id asc) rank order — pinned by a parity test.

Reference shape: FAISS's IndexIVFFlat (public semantics; engine-original
formulation on parquet + Arrow).

Path contract (fsops, object-store-native since r14): the frozen
state (centroids, meta, codebooks — KB–MB artifacts) loads through the
pyarrow FAST PATH on local paths and through the session's Hadoop
FileSystem (``fsops.driver_read_parquet``: stream the part files,
parse from buffers) on any other REACHABLE scheme, so an index rooted
on ``s3a://``/``hdfs://`` serves end to end — the indexes live where
the data lives. Footer row counts fall back to one Spark count on
remote schemes. An UNREACHABLE scheme raises the named
``fsops.RemotePathError`` up front — never a silent miss. The layout
guards route through the Hadoop FileSystem the same way: they FAIL
LOUD when they cannot list, never silently skip.
"""

from __future__ import annotations

from contextlib import contextmanager
from uuid import uuid4

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.fsops import (
    COMPACT_LOCK_NAME as _FOLD_LOCK_NAME,
    DriverFS,
    batch_partition_ids,
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
    "append_ivf_index",
    "ivf_search",
    "ivf_search_distributed",
    "ivf_cell_stats",
    "suggest_n_salt",
    "compact_ivf_index",
    "check_bucket_table",
    "rebuild_bucket_copy",
    "load_ivf_centroids",
    "build_ivfpq_index",
    "append_ivfpq_index",
    "ivfpq_search",
    "ivfpq_search_distributed",
    "ivfpq_search_refined",
    "ivfpq_search_refined_distributed",
    "ivfpq_audit",
    "index_health",
    "clear_stale_markers",
]


# the IVF family's Arrow schemas carry ids as long (ivf_topk does the
# same); the shared integral-id guard names the failure up front — the
# decontam integral-id lesson
_IVF_HINT = "map string keys to a surrogate long first"


def _require_long_id(df: DataFrame, id_col: str, op: str) -> None:
    require_integral_id(df, id_col, op, hint=_IVF_HINT)


def _probe_frame(
    queries: DataFrame, id_col: str, vec_col: str, centroids, n_probe: int, op: str
) -> DataFrame:
    """(any_id, vec array<float>, cell): each query row replicated once
    per probed cell — the distributed searches' shared query side. One
    Arrow pass against the broadcast centroids, stable argsort (exact
    ties probe the lowest cell, the ivf_topk rule), loud op-prefixed
    NULL/ragged/wrong-dim guards. Shared by the flat and compressed
    distributed searches so the probe semantics cannot drift apart.

    ``centroids`` may be a pre-made ``Broadcast`` of the float64 matrix:
    a caller whose kernel ALSO needs the centroids (the compressed
    search's per-cell bias term) ships them to the executors once, not
    once per consumer."""
    import numpy as np
    from pyspark.broadcast import Broadcast

    if isinstance(centroids, Broadcast):
        bc = centroids
    else:
        bc = queries.sparkSession.sparkContext.broadcast(
            np.asarray(centroids, dtype=np.float64)
        )
    npb = int(n_probe)

    def probe(batches):
        import pandas as pd

        cents = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(f"{op}: NULL {vec_col} query vector")
            try:
                m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(f"{op}: ragged {vec_col} dimensions") from None
            if m.shape[1] != cents.shape[1]:
                raise ValueError(
                    f"{op}: {vec_col} is {m.shape[1]}-dim but the index "
                    f"was built on {cents.shape[1]}-dim vectors"
                )
            mn = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-30)
            sims = mn @ cents.T
            order = np.argsort(-sims, axis=1, kind="stable")[:, :npb]
            # vectorized probe fan-out (row-major: same row order as the
            # per-row append loop it replaces)
            w = order.shape[1]
            yield pd.DataFrame(
                {
                    "any_id": np.repeat(pdf[id_col].to_numpy(), w),
                    "vec": np.repeat(pdf[vec_col].to_numpy(), w),
                    "cell": order.ravel().astype("int32"),
                }
            )

    return queries.select(id_col, vec_col).mapInPandas(
        probe, "any_id long, vec array<float>, cell int"
    )


def _salt_cogroup_sides(q: DataFrame, c: DataFrame, n_salt: int):
    """The hot-cell guard's shared wiring: n_salt > 1 sub-splits every
    cell by pmod(c_id, n_salt) on the corpus side and replicates the
    query probe rows per salt, so the cogroup keys on (cell, salt) and
    no task materializes more than ~1/n_salt of the hottest cell."""
    keys = ["cell"]
    if int(n_salt) > 1:
        q = q.withColumn(
            "salt", F.explode(F.array(*[F.lit(s) for s in range(int(n_salt))]))
        )
        c = c.withColumn("salt", F.pmod(F.col("c_id"), F.lit(int(n_salt))).cast("int"))
        keys = ["cell", "salt"]
    return q, c, keys


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


def build_ivf_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    *,
    n_cells: int | None = None,
    kmeans_iters: int = 3,
    max_cluster_size: int = 8192,
    bucket_table: str | None = None,
    n_buckets: int = 32,
) -> None:
    """Train the quantizer (deterministic mini-Lloyd on a bounded
    lowest-id sample) and materialize the cell-partitioned corpus.
    ``n_cells=None`` auto-scales from one count() so expected cell size
    stays bounded (the SemDeDup knob).

    ``bucket_table`` (a managed-table FQN) ADDITIONALLY writes the
    corpus BUCKETED BY cell: a bucketed scan reports its hash
    distribution to the planner, so ``ivf_search_distributed``'s
    per-cell cogroup plans with NO corpus-side exchange — the index's
    one-time shuffle really is amortized across every search. The
    dir-partitioned copy stays the small-batch path (partition-pruned
    scans); opting into both layouts costs 2x index storage, which at
    n_probe/n_cells scanned per serving query is the cheap side of the
    trade. The table name lands in the index meta so append/search
    discover it."""
    _require_long_id(df, id_col, "build_ivf_index")
    spark = df.sparkSession
    if n_cells is None:
        n_cells = auto_n_cells(df.count(), max_cluster_size)
    centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, v array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned = assign_cells(df, id_col, vec_col, centroids)
    corpus = assigned.select(id_col, "v", F.col("cluster").alias("cell"))
    corpus.write.mode("overwrite").partitionBy("cell").parquet(f"{path}/corpus")
    if bucket_table is not None:
        (
            corpus.write.mode("overwrite")
            .format("parquet")
            .bucketBy(int(n_buckets), "cell")
            .saveAsTable(bucket_table)
        )
    spark.createDataFrame(
        [(id_col, bucket_table, int(n_buckets))],
        "id_col string, bucket_table string, n_buckets int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


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


def _load_meta(path: str, spark=None) -> dict:
    """Index meta (id_col, optional bucket_table) — artifact read (local
    fast path or Hadoop-FS stream); absent for pre-meta indexes
    (path-corpus only)."""
    import os

    if is_local_path(path):
        if not os.path.isdir(f"{local_path_or_raise(path, 'ivf index meta read')}/meta"):
            return {}
    else:
        spark = require_session(spark, path, "ivf index meta read")
        if not DriverFS(spark, path, "ivf index meta read").isdir(f"{path}/meta"):
            return {}
    t = _artifact_table(path, "meta", "ivf index meta read", spark).to_pydict()
    return {
        "id_col": t["id_col"][0],
        "bucket_table": t["bucket_table"][0],
        "n_buckets": t["n_buckets"][0],
    }


def _np_equal(a, b) -> bool:
    import numpy as np

    return a.shape == b.shape and bool(np.array_equal(a, b))


def _corpus_rows(corpus_dir: str, spark=None) -> int:
    """Total stored rows, footer metadata only, ZERO Spark jobs on any
    reachable scheme: pyarrow ``count_rows`` on local paths; on any
    other scheme a driver-side footer walk through the session's
    Hadoop FileSystem (``fsops.driver_parquet_row_count`` — KB of
    positional reads per file). r14 ran a full Spark ``count()`` here
    remotely, which made every ``check_bucket_table`` audit on an
    object store scan the corpus row-group data to answer a question
    the footers already hold. Unreachable schemes raise the named
    error."""
    if is_local_path(corpus_dir):
        import pyarrow.dataset as ds

        local = local_path_or_raise(corpus_dir, "ivf corpus row count")
        return ds.dataset(local, format="parquet", partitioning="hive").count_rows()
    from youtube_analytics_lakehouse_databricks_spark.fsops import driver_parquet_row_count

    spark = require_session(spark, corpus_dir, "ivf corpus row count")
    return driver_parquet_row_count(spark, corpus_dir, "ivf corpus row count")


def _require_batch_layout_absent(fs: DriverFS, corpus_dir: str, op: str) -> None:
    """Refuse a corpus laid out ``batch_id=K/cell=J`` (the layout earlier
    versions' streamed ingest wrote). This module appends, folds and
    audits top-level ``cell=J`` partitions only: mixing the two in one
    directory breaks parquet partition discovery on the next read, and
    a fold or audit that ignored the ``batch_id`` level would misread
    the corpus. Routed through DriverFS: on an unreachable scheme the
    guard RAISES rather than silently seeing no directory (the
    corruption it exists to prevent would otherwise land unguarded)."""
    if batch_partition_ids(fs, corpus_dir):
        raise ValueError(
            f"{op}: {corpus_dir} holds batch_id=K/cell=J partitions, a "
            "layout this index does not append to, fold or audit; rebuild "
            "it from the source vectors with build_ivf_index or "
            "build_ivfpq_index"
        )


_APPEND_SENTINEL_PREFIX = ".append_inprogress_"
# _FOLD_LOCK_NAME is fsops.COMPACT_LOCK_NAME (imported above): the
# index_health fold_lock row must never probe a different name than
# maintenance_lock actually takes


def _append_sentinels(fs, corpus_dir: str) -> list[str]:
    """Names of the driver-side append sentinels currently under the
    corpus — one per in-flight (or crashed) batch append."""
    return fs.listnames(corpus_dir, prefix=_APPEND_SENTINEL_PREFIX)


def _raise_pending_fold(corpus_dir: str, stage: str, op: str):
    raise ValueError(
        f"{op}: a compaction fold is pending under {corpus_dir} "
        f"({stage} exists) — rows appended during the fold's window "
        "would be silently lost when its staged cell partitions swap "
        "in; run compact_ivf_index(spark, path) to finish (or "
        "discard) the fold, then retry the append"
    )


@contextmanager
def _append_window(spark: SparkSession, corpus_dir: str, op: str):
    """Appends and ``compact_ivf_index`` are mutually exclusive: the
    fold deletes and replaces the very ``cell=K`` dirs a batch append
    writes into, so rows appended inside the fold's window are silently
    lost when the staged partitions swap in. This context manager is
    the append-side half of the enforcement; with the fold-side half
    (sentinel re-check + growth abort in ``compact_ivf_index``) the
    window is CLOSED on any list-after-write-consistent filesystem, in
    every interleaving:

    1. probe the fold's stage directory — present means a fold is in
       flight, committed-but-unapplied, or crash litter; refuse (named)
       in all three, the resolution is one ``compact_ivf_index`` call;
    2. drop a dot-file SENTINEL under the corpus (invisible to Spark
       readers and to the footer walks), marking the append window;
    3. RE-probe the stage dir: a fold that began between (1) and (2)
       may not have seen the sentinel, so the append withdraws (sentinel
       removed, named error) instead of racing it. After this point any
       fold either sees the sentinel and refuses/aborts, or already
       staged — in which case this re-probe sees ITS stage dir;
    4. run the writes; the sentinel is removed on success AND on error.

    A sentinel left by a CRASHED append blocks folds (never data) until
    removed; the fold's error names the file — delete it once no append
    is running."""
    from youtube_analytics_lakehouse_databricks_spark.fsops import StagedFold

    fs = DriverFS(spark, corpus_dir, op)
    _require_batch_layout_absent(fs, corpus_dir, op)
    stage = StagedFold(fs, corpus_dir).stage_dir
    if fs.isdir(stage):
        _raise_pending_fold(corpus_dir, stage, op)
    token = f"{corpus_dir}/{_APPEND_SENTINEL_PREFIX}{uuid4().hex[:12]}"
    # exclusive create, not the committed-write protocol: presence is
    # the whole signal (content incidental), and the committed write's
    # transient `.inprogress` sibling would itself match the sentinel
    # prefix in listings
    fs.create_exclusive(token, op)
    try:
        if fs.isdir(stage):
            _raise_pending_fold(corpus_dir, stage, op)
        yield
    finally:
        fs.delete(token)


def check_bucket_table(spark: SparkSession, path: str) -> None:
    """Raise (named) when the index's bucketed copy has DIVERGED from
    its dir-partitioned corpus — the crash window the appends document:
    the dual write is two separate commits, so a driver death between
    them leaves ``ivf_search`` (dir corpus) and the distributed search
    (bucket table) serving different row sets with no error. One
    driver-side footer count + one count over the bucket table; run it
    after a crashed append (recovery = one ``rebuild_bucket_copy`` call
    — the dir corpus remains the source of truth) or as a periodic
    audit next to ``ivf_cell_stats``. No-op for unbucketed indexes."""
    meta = _load_meta(path, spark)
    if not meta.get("bucket_table"):
        return
    fs = DriverFS(spark, path, "check_bucket_table")
    corpus_dir = (
        f"{path}/corpus_pq" if fs.isdir(f"{path}/corpus_pq") else f"{path}/corpus"
    )
    if not fs.isdir(corpus_dir):
        # neither layout present: a 0-row count here would report a
        # misleading "divergence" instead of the real problem
        raise ValueError(
            f"check_bucket_table: {path} has neither corpus_pq/ nor "
            "corpus/ — not an IVF index root (or the corpus was "
            "deleted); nothing to audit against the bucket table"
        )
    n_dir = _corpus_rows(corpus_dir, spark)
    n_bucket = spark.table(meta["bucket_table"]).count()
    if n_dir != n_bucket:
        # an append between its two commits diverges TRANSIENTLY by
        # design — if its window sentinel is up, say so instead of
        # sending the operator straight to a rebuild it doesn't need
        live = _append_sentinels(fs, corpus_dir)
        if live:
            raise ValueError(
                f"check_bucket_table: {corpus_dir} holds {n_dir} rows "
                f"but bucket table {meta['bucket_table']} holds "
                f"{n_bucket} — an append is IN FLIGHT "
                f"({', '.join(live)}), and its dual write commits the "
                "dir corpus first, so this divergence is likely its "
                "normal window; re-run the check after the append "
                "completes before concluding a crash (recovery, if it "
                "did crash: rebuild_bucket_copy)"
            )
        raise ValueError(
            f"check_bucket_table: {corpus_dir} holds {n_dir} rows but "
            f"bucket table {meta['bucket_table']} holds {n_bucket} — an "
            "append crashed between its two writes; run "
            "rebuild_bucket_copy(spark, path) to regenerate the bucket "
            "copy from the dir-partitioned corpus (the source of truth)"
        )


def rebuild_bucket_copy(spark: SparkSession, path: str) -> None:
    """Regenerate the bucketed serving copy from the dir-partitioned
    corpus — the one-call recovery for the dual write's documented crash
    window (``check_bucket_table`` detects it; the dir corpus is the
    source of truth, so the rebuild is a full overwrite with the
    build's exact bucket spec, restoring the distributed searches'
    exchange elision). Sniffs the layout (flat ``corpus/`` vs
    compressed ``corpus_pq/``) like the other maintenance does; raises
    on unbucketed indexes (nothing to rebuild — a wrong path must not
    report success) and while an append's window sentinel is up (a
    rebuild that reads the dir corpus mid-append, then overwrites the
    bucket table AFTER the append's own bucket commit, silently drops
    the appended rows from the bucket copy — re-diverging the pair the
    rebuild exists to reconcile)."""
    meta = _load_meta(path, spark)
    if not meta.get("bucket_table"):
        raise ValueError(
            f"rebuild_bucket_copy: {path} has no bucket_table in its "
            "meta — the index was built without the bucketed serving "
            "copy (nothing to rebuild)"
        )
    fs = DriverFS(spark, path, "rebuild_bucket_copy")
    corpus_dir = (
        f"{path}/corpus_pq" if fs.isdir(f"{path}/corpus_pq") else f"{path}/corpus"
    )
    live = _append_sentinels(fs, corpus_dir)
    if live:
        raise ValueError(
            f"rebuild_bucket_copy: append(s) in flight under "
            f"{corpus_dir} ({', '.join(live)}) — a rebuild racing an "
            "append can overwrite the bucket table without the "
            "appended rows; wait for the append to finish (a sentinel "
            "left by a CRASHED append is safe to delete once no append "
            "is running), then rerun"
        )
    (
        spark.read.parquet(corpus_dir)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(int(meta["n_buckets"]), "cell")
        .saveAsTable(meta["bucket_table"])
    )
    # POST-verify: the sentinel probe above is check-then-act, so an
    # append STARTING mid-rebuild could still land corpus rows the
    # overwrite (planned from the pre-append listing) doesn't carry —
    # re-count both sides now (footer walk: cheap) and fail LOUDLY
    # instead of returning success with the pair silently re-diverged.
    # An append whose corpus commit lands after this check is safe: its
    # bucket append then lands on the rebuilt table, keeping the pair
    # in sync.
    n_dir = _corpus_rows(corpus_dir, spark)
    n_bucket = spark.table(meta["bucket_table"]).count()
    if n_dir != n_bucket:
        raise ValueError(
            f"rebuild_bucket_copy: an append raced the rebuild — the "
            f"dir corpus now holds {n_dir} rows but the just-rebuilt "
            f"bucket table {meta['bucket_table']} holds {n_bucket}; "
            "wait for appends to quiesce and rerun (the dir corpus is "
            "unharmed — only the bucket copy is stale)"
        )


def append_ivf_index(df: DataFrame, id_col: str, vec_col: str, path: str) -> None:
    """Assign a NEW batch against the frozen quantizer and append its
    rows into their cell partitions — one Arrow pass over the batch, the
    stored corpus is never re-read or re-assigned. (Re-training the
    quantizer on a grown corpus would reassign stored vectors — the same
    reason curate_incremental freezes its centroids; rebuild the index
    when the corpus has drifted enough to warrant it.)

    With a ``bucket_table``, the append is a NON-ATOMIC dual write (dir
    corpus first, bucket copy second — two separate commits): a crash
    between them leaves the two serving copies diverged. Detect with
    ``check_bucket_table`` after any crashed append; the dir corpus is
    the source of truth.

    Refuses (named) while a ``compact_ivf_index`` fold is pending under
    the corpus, and marks its own window with a driver-side sentinel the
    fold refuses past — appending into cell dirs the fold is about to
    replace would silently lose the batch (see ``_append_window``)."""
    _require_long_id(df, id_col, "append_ivf_index")
    with _append_window(df.sparkSession, f"{path}/corpus", "append_ivf_index"):
        centroids = load_ivf_centroids(path, df.sparkSession)
        assigned = assign_cells(df, id_col, vec_col, centroids)
        batch = assigned.select(id_col, "v", F.col("cluster").alias("cell"))
        batch.write.mode("append").partitionBy("cell").parquet(f"{path}/corpus")
        meta = _load_meta(path, df.sparkSession)
        if meta.get("bucket_table"):
            # append with the SAME bucket spec: Spark validates it against
            # the table, so the co-located layout can't silently degrade
            batch.write.mode("append").format("parquet").bucketBy(
                int(meta["n_buckets"]), "cell"
            ).saveAsTable(meta["bucket_table"])


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
    driver-side collect sizes the probe set; for corpus-sized query sets
    use ``ivf_search_distributed``, which never collects). Each executor
    task scans pruned corpus rows once, computes this partition's
    candidates for every query probing that cell (numpy matmul), and
    only candidate rows (<= partitions * |queries| * k) ever shuffle for
    the global re-rank.

    ``exclude_self`` defaults OFF: serving queries and the stored corpus
    are usually different id namespaces, and the dedup-shape default
    would silently drop any corpus vector whose id numerically collides
    with an unrelated query id. Set it True only when the query batch IS
    a corpus subset keyed identically (the ivf_topk-parity shape)."""
    import numpy as np

    _require_long_id(queries, id_col, "ivf_search")
    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError("ivf_search: empty query batch")
    centroids = load_ivf_centroids(path, spark)
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    try:
        q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    except ValueError:
        raise ValueError(
            f"ivf_search: ragged {vec_col} dimensions in the query batch"
        ) from None
    if q_mat.shape[1] != centroids.shape[1]:
        raise ValueError(
            f"ivf_search: {vec_col} is {q_mat.shape[1]}-dim but the index "
            f"was built on {centroids.shape[1]}-dim vectors"
        )
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    sims = (q_mat / q_norm) @ centroids.T
    # stable argsort: exact ties probe the LOWEST cell (the ivf_topk /
    # oracle tie-break)
    probes = np.argsort(-sims, axis=1, kind="stable")[:, : int(n_probe)]
    by_cell: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for c in probes[qi]:
            by_cell.setdefault(int(c), []).append(qi)
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


def ivf_search_distributed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_probe: int = 2,
    k: int = 5,
    exclude_self: bool = False,
    n_salt: int = 1,
) -> DataFrame:
    """``ivf_search`` for CORPUS-SIZED external query sets: no driver
    collect anywhere. The query side probes its cells in one Arrow pass
    (broadcast centroids, n_probe rows per query), the stored corpus
    joins in ALREADY CELL-PARTITIONED (the index's one-time shuffle,
    amortized across every search), and one groupBy(cell) exchange of
    the QUERY rows co-locates them with their cells — the ivf_topk
    shape, minus the corpus-side assignment pass and its shuffle, which
    the index paid at build time.

    Completes the serving matrix: small batch -> ``ivf_search``
    (partition-pruned scan); huge batch -> this (no pruning — a
    corpus-sized query set probes essentially every cell); self-search
    without an index -> ``similarity.ivf_topk``. Results are
    bit-identical to ``ivf_search`` on the same index (parity test).

    Exchange accounting (the honest version): with the default
    dir-partitioned corpus, the per-cell cogroup must still hash BOTH
    sides on cell (the on-disk layout is invisible to the planner) — the
    saving over ivf_topk is the corpus-side Arrow ASSIGNMENT pass. With
    ``build_ivf_index(bucket_table=...)``, the corpus scans AS a
    bucketed table whose hash distribution the planner trusts, the
    corpus-side Exchange is ELIDED (plan-asserted in tests), and only
    the query rows shuffle — the index's one-time shuffle amortized
    across every search.

    ``n_salt`` is the HOT-CELL guard: the per-cell kernel materializes
    one cell's rows per task, and appends assign into FROZEN cells — a
    drifted corpus piles into few of them (detect with
    ``ivf_cell_stats``), turning those tasks into stragglers or OOMs.
    ``n_salt > 1`` sub-splits every cell by ``pmod(id, n_salt)``
    (corpus rows once, query probe rows replicated per salt), bounding
    the per-task group at ~1/n_salt of the hottest cell. Results stay
    bit-identical (a global top-k neighbor is top-k within any group
    containing it, and the final re-rank window is unchanged — parity
    test); the costs are query-row replication (xn_salt) and, with a
    bucketed corpus, the loss of the exchange elision (the cogroup now
    keys on (cell, salt), which the cell-bucketed layout no longer
    satisfies)."""
    import numpy as np

    _require_long_id(queries, id_col, "ivf_search_distributed")
    if int(n_salt) < 1:
        raise ValueError(f"ivf_search_distributed: n_salt must be >= 1, got {n_salt}")
    centroids = load_ivf_centroids(path, spark)
    q = _probe_frame(
        queries, id_col, vec_col, centroids, n_probe, "ivf_search_distributed"
    )
    meta = _load_meta(path, spark)
    if meta.get("bucket_table"):
        c = spark.table(meta["bucket_table"])
    else:
        c = spark.read.parquet(f"{path}/corpus")
    c = c.select(F.col(id_col).alias("c_id"), F.col("v").alias("c_vec"), "cell")
    q, c, keys = _salt_cogroup_sides(q, c, n_salt)
    kk = int(k)
    excl = bool(exclude_self)

    def per_cell(qs, corp):
        import pandas as pd

        if len(corp) == 0 or len(qs) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "cosine": []})
        c_ids = corp["c_id"].to_numpy(dtype=np.int64)
        c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in corp["c_vec"]])
        c_norm = np.sqrt((c_mat * c_mat).sum(axis=1))
        q_ids = qs["any_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qs["vec"]])
        q_norm = np.sqrt((q_mat * q_mat).sum(axis=1))
        cos = np.round((q_mat @ c_mat.T) / np.outer(q_norm, c_norm), 6)
        out_q, out_n, out_c = topk_pairs(q_ids, c_ids, cos, kk, excl)
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, "cosine": out_c})

    # cogroup, not union+groupBy: each side keeps its own distribution
    # requirement, so a bucketed corpus satisfies its side WITHOUT an
    # Exchange while the (much smaller) query side shuffles to match
    hits = (
        q.groupBy(*keys)
        .cogroup(c.groupBy(*keys))
        .applyInPandas(per_cell, "query_id long, neighbor_id long, cosine double")
    )
    return _rank_topk(hits, "cosine", kk)


def ivf_cell_stats(
    spark: SparkSession, path: str, *, n_cells: int | None = None
) -> DataFrame:
    """(cell, n_rows, frac, skew): per-cell occupancy of the persisted
    corpus — the drift detector for the frozen-quantizer contract.

    ``append_ivf_index``/``append_ivfpq_index`` both assign into FROZEN
    cells, so a corpus whose distribution drifts
    piles into few of them. Occupancy skew is exactly what degrades
    serving at scale: a probed hot cell dominates the pruned scan's
    bytes, and the distributed searches' per-cell kernel materializes
    one cell per task — the straggler/OOM shape. ``skew`` is
    n_rows / (total / n_cells), i.e. 1.0 = perfectly balanced; read
    ``max(skew)`` periodically and either pass ``n_salt`` to the
    distributed searches (``suggest_n_salt`` turns this frame into the
    bounded mitigation, no rebuild) or rebuild the index when the
    quantizer no longer fits the corpus. Cells with ZERO rows don't
    appear (they waste probe budget — a search that probes an empty
    cell scans nothing and finds nothing — rather than memory or
    recall; their count is n_cells minus this frame's rows).

    Works on both layouts (flat and compressed, sniffed like the
    compaction does); one count aggregation over the cell partition
    column, no vector/code bytes read."""
    fs = DriverFS(spark, path, "ivf_cell_stats")
    corpus_dir = (
        f"{path}/corpus_pq" if fs.isdir(f"{path}/corpus_pq") else f"{path}/corpus"
    )
    if not fs.isdir(corpus_dir):
        raise ValueError(
            f"ivf_cell_stats: no corpus under {path} — wrong index "
            "path, or its corpus was removed"
        )
    # centroid count from the KB-sized artifact driver-side — still
    # scheme-safe (load_ivf_centroids is two-branched since r14: pyarrow
    # locally, Hadoop-streamed remotely), without the Spark job the r13
    # version paid per drift poll; callers that already hold the count
    # (index_health) pass n_cells= and skip the artifact read entirely
    if n_cells is None:
        n_cells = int(len(load_ivf_centroids(path, spark)))
    counts = spark.read.parquet(corpus_dir).groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy()
    total = F.sum("n_rows").over(w)
    return counts.select(
        "cell",
        "n_rows",
        (F.col("n_rows") / total).alias("frac"),
        (F.col("n_rows") * F.lit(n_cells) / total).alias("skew"),
    )


def compact_ivf_index(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_cell: int = 1,
    lock_takeover_after: float | None = None,
) -> int:
    """Fold each cell partition's accumulated append files into one
    file per cell — the small-file maintenance for the BATCH-append
    layout. Every ``append_ivf_index``/``append_ivfpq_index`` lands one
    parquet file per touched cell, so a year of daily appends leaves
    ~365 files per cell whose open/footer cost taxes every pruned scan
    (and every ``_corpus_rows`` footer walk). Measured (r14): 60 small
    appends onto a 32-cell index left 16,805 corpus files and made the
    partition-pruned search read 7.30 s; after the fold (32 files) the
    same search reads 1.64 s — a 4.5x tax that grows with append count
    while the DATA doesn't. Only cells holding more than
    ``max_files_per_cell`` files rewrite; returns the number of
    cells folded (0 = nothing to do). Works on both persisted layouts
    (flat ``corpus/`` and compressed ``corpus_pq/``, sniffed); a
    ``batch_id=K/cell=J`` corpus raises the named layout error.

    Safety contract: maintenance window, crash-RECOVERABLE, not
    reader-atomic — the ``fsops.StagedFold`` stage-and-swap protocol.
    Concurrent APPENDS are NOT safe here (batch appends land in the
    very ``cell=K`` dirs the fold deletes and replaces, so rows
    appended between the consolidation read and the swap would be
    lost) — quiesce writers for the window. Since r15 the window is
    ENFORCED in both directions, not just documented, and CLOSED on
    any list-after-write-consistent filesystem (local, HDFS, modern
    S3): the appends refuse (named error) while this fold's stage
    directory exists AND mark their own window with a dot-file
    sentinel, double-checking the stage dir after the sentinel lands
    (``_append_window``); the fold refuses to start past a sentinel,
    re-checks sentinels before swapping (an append whose window opened
    before staging is caught here even if its rows haven't landed
    yet), and re-lists every still-pending cell's parquet files
    against the consolidation-time snapshot carried in its manifest —
    a sentinel or any growth aborts the whole apply (stage discarded,
    ALL originals including the appended rows intact, named error). A
    sentinel left by a CRASHED append blocks folds, never data, until
    deleted; the error names the file. Folds also exclude EACH OTHER
    via an exclusive-create lock held for the whole call (a concurrent
    fold's recover() re-applying the committed manifest mid-swap would
    destroy a cell); the lock releases on every exception, so only a
    process death strands it — named error, delete and rerun.
    Consolidated cell
    partitions stage under a dot-directory readers ignore, a committed
    manifest + marker gate the apply (delete original cell dir, rename
    staged one in, per cell, idempotently), and a crash at any point
    either leaves the originals intact (before the marker) or is
    finished by the next call. The bucketed serving copy (if any) is
    untouched: compaction changes FILE layout only, never the row set,
    so ``check_bucket_table`` stays green."""
    fs = DriverFS(spark, path, "compact_ivf_index")
    corpus_dir = (
        f"{path}/corpus_pq" if fs.isdir(f"{path}/corpus_pq") else f"{path}/corpus"
    )
    if not fs.isdir(corpus_dir):
        raise ValueError(
            f"compact_ivf_index: no corpus under {path} — wrong index "
            "path, or a bootstrap that never ingested"
        )
    from youtube_analytics_lakehouse_databricks_spark.fsops import StagedFold

    _require_batch_layout_absent(fs, corpus_dir, "compact_ivf_index")
    staging = StagedFold(fs, corpus_dir)

    def finish(manifest: dict) -> int:
        # Apply order, chosen so NO interleaving loses rows:
        # 1. COMPLETE crash-interrupted swaps first (original cell dir
        #    absent: a prior apply crashed between its delete and its
        #    rename, so the staged partition is the ONLY copy — it must
        #    land regardless of sentinels/growth, and appends cannot
        #    have written into that window: the stage dir existed
        #    throughout, so the append-side guard refused them).
        # 2. SENTINEL abort before touching any intact original: a
        #    sentinel under the corpus is an append whose window opened
        #    before this fold staged (or crash litter from one) — its
        #    rows may land in a pending cell dir at ANY later instant,
        #    including between the growth re-list and the swap, so the
        #    re-list alone cannot clear it. Discard the stage
        #    (originals intact) and name the files.
        # 3. GROWTH abort: for every still-pending cell, re-list its
        #    parquet files against the consolidation-time snapshot; any
        #    difference means a writer bypassed the sentinel protocol —
        #    discard the stage, originals INCLUDING the new rows
        #    intact. (Manifests committed before the snapshot field
        #    existed apply unchecked — recovery compatibility.)
        # 4. Swap, idempotently per cell.
        # Post-swap appends are safe by construction: they land in the
        # NEW cell dir, which nothing here touches again.
        # last-moment ownership re-check (see maintenance_lock): on a
        # non-atomic-create filesystem a racer may have slipped past
        # the read-back; losing here raises WITHOUT cleanup — the
        # stage now belongs to the winner
        lock_confirm()
        pending = [
            cell
            for cell in manifest["cells"]
            if fs.isdir(f"{staging.stage_dir}/cell={cell}")
        ]
        for cell in list(pending):
            if not fs.isdir(f"{corpus_dir}/cell={cell}"):
                fs.rename(
                    f"{staging.stage_dir}/cell={cell}", f"{corpus_dir}/cell={cell}"
                )
                pending.remove(cell)
        if pending:
            tokens = _append_sentinels(fs, corpus_dir)
            if tokens:
                staging.cleanup()
                raise RuntimeError(
                    f"compact_ivf_index: append(s) in flight under "
                    f"{corpus_dir} ({', '.join(tokens)}) — their rows "
                    "could land in a cell this fold is about to replace; "
                    "staged fold discarded, originals intact. Wait for "
                    "the appends to finish and rerun; a sentinel left by "
                    "a CRASHED append must be deleted manually once no "
                    "append is running."
                )
        snapshot = manifest.get("files")
        if snapshot is not None:
            for cell in pending:
                now = sorted(
                    f
                    for f in fs.listnames(f"{corpus_dir}/cell={cell}")
                    if f.endswith(".parquet")
                )
                if now != snapshot[str(cell)]:
                    staging.cleanup()
                    raise RuntimeError(
                        f"compact_ivf_index: cell={cell} under "
                        f"{corpus_dir} changed between the consolidation "
                        "read and the swap (a writer appended inside the "
                        "maintenance window) — staged fold discarded, "
                        "originals intact; quiesce writers and rerun"
                    )
        lock_confirm()  # and once more, just before the first delete
        for cell in pending:
            fs.delete(f"{corpus_dir}/cell={cell}")
            fs.rename(f"{staging.stage_dir}/cell={cell}", f"{corpus_dir}/cell={cell}")
        staging.cleanup()
        return len(manifest["cells"])

    # Fold-vs-fold mutual exclusion (fsops.maintenance_lock): the
    # sentinels guard against APPENDS, but a second concurrent fold is
    # just as destructive — runner B's recover() can re-apply the
    # committed manifest while runner A is mid-swap (B deletes original
    # cell=K, renames the staged copy in; A then deletes that freshly
    # swapped-in dir, which by now is the ONLY copy), or B's recover()
    # can discard A's uncommitted stage mid-consolidation. And the
    # append-refusal error text actively tells operators to run
    # compact_ivf_index, so the concurrent-fold case is an invited one.
    from youtube_analytics_lakehouse_databricks_spark.fsops import maintenance_lock

    with maintenance_lock(
        fs, corpus_dir, "compact_ivf_index",
        takeover_stale_after=lock_takeover_after,
    ) as lock_confirm:
        committed = staging.recover()
        if committed is not None:
            return finish(committed)

        tokens = _append_sentinels(fs, corpus_dir)
        if tokens:
            raise ValueError(
                f"compact_ivf_index: append(s) in flight under {corpus_dir} "
                f"({', '.join(tokens)}) — the fold would race them; wait for "
                "the appends to finish, then rerun. A sentinel left by a "
                "CRASHED append blocks folds (never data) until deleted — "
                "each is a driver-side marker file, safe to remove once no "
                "append is running."
            )

        cells = []
        # per-cell file snapshot, taken with the fold-candidate listing:
        # the manifest carries it so finish() can abort (instead of
        # losing rows) if any cell grew between this read and the swap.
        # Listed BEFORE the Spark consolidation read, so a file landing
        # in between is seen by the read but not the snapshot — finish()
        # then aborts conservatively (safe: originals intact) rather
        # than guessing whether the staged fold captured it.
        snapshot: dict[str, list[str]] = {}
        for name in fs.listnames(corpus_dir, prefix="cell="):
            files = sorted(
                f
                for f in fs.listnames(f"{corpus_dir}/{name}")
                if f.endswith(".parquet")
            )
            if len(files) > int(max_files_per_cell):
                cell_id = name.split("=", 1)[1]
                cells.append(int(cell_id))
                snapshot[cell_id] = files
        if not cells:
            return 0
        cells.sort()
        rows = spark.read.parquet(corpus_dir).filter(F.col("cell").isin(cells))
        # repartition BY cell: each cell's rows land in one task, so the
        # staged partition is exactly one file per cell
        (
            rows.repartition(len(cells), "cell")
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(staging.stage_dir)
        )
        manifest = {"cells": cells, "files": snapshot}
        staging.commit(manifest)
        return finish(manifest)


def index_health(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_cell: int = 1,
    skew_threshold: float = 4.0,
    target_max_rows_per_task: int | None = None,
    sentinel_stale_after: float = 3600.0,
) -> DataFrame:
    """One-call serving-health matrix for a persisted batch index —
    the composition of every detector this module grew one at a time,
    each row naming its remediation so the operations runbook is a
    query, not four docstrings. Columns:
    ``(check, ok, observed, remediation)``; rows:

    - ``pending_fold`` — a ``compact_ivf_index`` stage dir under the
      corpus (in-flight fold, committed-but-unapplied, or crash
      litter; appends are refused while it exists). Remediation: run
      ``compact_ivf_index`` to finish or discard it.
    - ``append_sentinels`` — the appends' in-flight markers (folds are
      refused while any exists). Fresh sentinels are healthy
      concurrency (``ok`` stays true); one older than
      ``sentinel_stale_after`` seconds is a crashed append blocking
      maintenance. Remediation: verify no append is running, delete
      the named file(s).
    - ``fold_lock`` — the fold-vs-fold exclusive lock. Fresh = a fold
      is legitimately running (``ok`` stays true); stale = its process
      died holding it. Remediation: verify no fold is running, delete
      the lock, rerun ``compact_ivf_index``.
    - ``fragmentation`` — per-cell parquet FILE counts vs
      ``max_files_per_cell`` (the batch-append small-file tax: 60
      appends measured 4.5x slower pruned scans, r14). Remediation:
      ``compact_ivf_index``.
    - ``skew`` — per-cell OCCUPANCY vs ``skew_threshold`` (drift into
      frozen cells: straggler/OOM shape for the per-cell kernels).
      Remediation: ``n_salt=`` on the distributed searches — computed
      exactly via ``suggest_n_salt`` when
      ``target_max_rows_per_task`` is given — or rebuild.
    - ``empty_cells`` — unoccupied cells (wasted probe budget).
      Remediation: rebuild with fewer ``n_cells``.
    - ``bucket_divergence`` — dir-corpus vs bucket-table row counts
      (the dual write's crash window; ``check_bucket_table``'s test).
      Remediation: ``rebuild_bucket_copy``.

    Costs ONE Spark aggregation over the cell partition column (shared
    by skew/empty/divergence-dir-side) plus one bucket-table count when
    bucketed; file counts are driver-side listings. Works on flat and
    compressed layouts (sniffed); a ``batch_id=K/cell=J`` corpus
    raises the named layout error."""
    from youtube_analytics_lakehouse_databricks_spark.fsops import StagedFold

    fs = DriverFS(spark, path, "index_health")
    corpus_dir = (
        f"{path}/corpus_pq" if fs.isdir(f"{path}/corpus_pq") else f"{path}/corpus"
    )
    if not fs.isdir(corpus_dir):
        raise ValueError(
            f"index_health: no corpus under {path} — wrong index path, "
            "or a bootstrap that never ingested"
        )
    _require_batch_layout_absent(fs, corpus_dir, "index_health")

    rows: list[tuple[str, bool, str, str]] = []

    stage = StagedFold(fs, corpus_dir).stage_dir
    pending = fs.isdir(stage)
    rows.append((
        "pending_fold",
        not pending,
        f"fold stage dir {'PRESENT' if pending else 'absent'}: {stage}",
        "compact_ivf_index(spark, path) finishes or discards it; "
        "appends are refused until then" if pending else "",
    ))

    import time as _time

    def _marker_ages(names: list[str]) -> dict[str, float]:
        # tolerate the healthy race: a marker listed a moment ago may be
        # deleted (append finished, fold released) before its status
        # read — skip it rather than surfacing a raw FileNotFound out of
        # a health check whose whole point is observing live concurrency
        now_ms = _time.time() * 1000.0
        ages: dict[str, float] = {}
        for t in names:
            try:
                st = fs._fs.getFileStatus(fs._path(f"{corpus_dir}/{t}"))
            except Exception:
                continue
            ages[t] = max(0.0, now_ms - st.getModificationTime()) / 1000.0
        return ages

    ages = _marker_ages(_append_sentinels(fs, corpus_dir))
    stale = sorted(t for t, age in ages.items() if age > float(sentinel_stale_after))
    rows.append((
        "append_sentinels",
        not stale,
        f"{len(ages)} sentinel(s); oldest {max(ages.values(), default=0.0):.0f}s "
        f"(stale after {sentinel_stale_after:.0f}s); stale: {stale or 'none'}",
        "" if not stale else (
            "a crashed append left its sentinel and is blocking folds — "
            "clear_stale_markers(spark, path, older_than=) removes it "
            "after re-checking the age (refusing if an append went "
            "live); stale: "
            + ", ".join(f"{corpus_dir}/{t}" for t in stale)
        ),
    ))

    lock_ages = _marker_ages(
        [_FOLD_LOCK_NAME] if fs.exists(f"{corpus_dir}/{_FOLD_LOCK_NAME}") else []
    )
    lock_stale = any(a > float(sentinel_stale_after) for a in lock_ages.values())
    rows.append((
        "fold_lock",
        not lock_stale,
        "no fold lock" if not lock_ages else (
            f"fold lock held {max(lock_ages.values()):.0f}s "
            f"(stale after {sentinel_stale_after:.0f}s)"
        ),
        "" if not lock_stale else (
            "a fold's PROCESS died holding its lock and is blocking "
            "folds — clear_stale_markers(spark, path, older_than=) "
            f"removes {corpus_dir}/{_FOLD_LOCK_NAME} after re-checking "
            "the age; then rerun compact_ivf_index"
        ),
    ))

    per_cell_files = {
        name: sum(
            1
            for f in fs.listnames(f"{corpus_dir}/{name}")
            if f.endswith(".parquet")
        )
        for name in fs.listnames(corpus_dir, prefix="cell=")
    }
    over = sum(1 for n in per_cell_files.values() if n > int(max_files_per_cell))
    rows.append((
        "fragmentation",
        over == 0,
        f"{sum(per_cell_files.values())} parquet files across "
        f"{len(per_cell_files)} occupied cells; {over} cells over the "
        f"{max_files_per_cell}-file budget "
        f"(max {max(per_cell_files.values(), default=0)}/cell)",
        "compact_ivf_index(spark, path) — the append-layout small-file "
        "tax measured 4.5x on pruned scans" if over else "",
    ))

    # centroid COUNT from the KB-sized artifact, driver-side (pyarrow
    # locally, Hadoop-streamed remotely), read ONCE and passed through
    # to ivf_cell_stats — neither a Spark job nor a doubled artifact
    # read for a number one load already holds
    n_cells = int(len(load_ivf_centroids(path, spark)))
    stats = ivf_cell_stats(spark, path, n_cells=n_cells).collect()
    hot = max(stats, key=lambda r: r["n_rows"], default=None)
    max_skew = float(hot["skew"]) if hot is not None else 0.0
    skew_ok = max_skew <= float(skew_threshold)
    if target_max_rows_per_task:
        salt_txt = (
            f"pass n_salt={suggest_n_salt(stats, target_max_rows_per_task)} "
            "to the distributed searches"
        )
    else:
        salt_txt = (
            "suggest_n_salt(stats, target_max_rows_per_task) -> pass "
            "n_salt= to the distributed searches"
        )
    rows.append((
        "skew",
        skew_ok,
        "empty corpus" if hot is None else (
            f"max skew {max_skew:.2f} (cell {hot['cell']}, "
            f"{hot['n_rows']} rows) vs threshold {skew_threshold}"
        ),
        "" if skew_ok else f"{salt_txt}; rebuild the index if drift persists",
    ))

    occupied = len(stats)
    empties_ok = occupied * 2 >= n_cells
    rows.append((
        "empty_cells",
        empties_ok,
        f"{n_cells - occupied}/{n_cells} cells empty",
        "" if empties_ok else (
            "rebuild with fewer n_cells — empty cells spend probe "
            "budget scanning nothing"
        ),
    ))

    meta = _load_meta(path, spark)
    if meta.get("bucket_table"):
        n_dir = sum(r["n_rows"] for r in stats)
        n_bucket = spark.table(meta["bucket_table"]).count()
        in_sync = n_dir == n_bucket
        # a dual-write append diverges the pair TRANSIENTLY by design;
        # with a FRESH sentinel up, the row stays ok and the remediation
        # is "re-check later" — not the rebuild this same matrix's
        # remediation would immediately refuse while the append runs
        fresh_appends = [t for t in ages if t not in stale]
        transient = not in_sync and bool(fresh_appends)
        rows.append((
            "bucket_divergence",
            in_sync or transient,
            f"dir corpus {n_dir} rows vs bucket table "
            f"{meta['bucket_table']} {n_bucket} rows"
            + (
                f" (append in flight: {', '.join(fresh_appends)} — "
                "likely its normal two-commit window)" if transient else ""
            ),
            (
                "" if in_sync else (
                    "re-run index_health after the in-flight append "
                    "completes before concluding a crash" if transient else (
                        "rebuild_bucket_copy(spark, path) — the dir "
                        "corpus is the source of truth"
                    )
                )
            ),
        ))
    else:
        rows.append((
            "bucket_divergence", True, "unbucketed index (no dual write)", "",
        ))

    return spark.createDataFrame(
        rows, "check string, ok boolean, observed string, remediation string"
    )


def clear_stale_markers(
    spark: SparkSession, path: str, *, older_than: float = 3600.0
) -> DataFrame:
    """One-call remediation for the runbook's two manual marker steps
    (r16): delete the maintenance protocol's STALE dot-file markers —
    ``.append_inprogress_*`` sentinels a crashed append left blocking
    folds, and the ``.compact_lock`` a dead fold process stranded —
    and report exactly what was removed. Refuses (named error, nothing
    deleted) when ANY marker under ``path`` is younger than
    ``older_than`` seconds: a fresh marker is evidence of LIVE
    concurrency, and this call replaces the runbook's "verify no
    append/fold is running, then rm" with a checked version of the
    same precondition. Pass the same ``older_than`` you give
    ``index_health(sentinel_stale_after=)`` so the detector's "stale"
    and this remediation's agree.

    Scans the markers where the protocol puts them: under the sniffed
    corpus layout (``corpus_pq``/``corpus``). Returns ``(marker, kind,
    age_sec)`` rows for the deleted markers; empty = nothing to clear
    (healthy).

    Honest limit (same as the manual steps this replaces): the
    fresh-marker check and the deletes are not one atomic step, so run
    it like the maintenance it is — while no append/fold is being
    LAUNCHED. It is strictly safer than the bare ``rm`` it replaces:
    the age gate refuses the live-marker case outright and a marker
    released between listing and delete is a no-op."""
    fs = DriverFS(spark, path, "clear_stale_markers")
    if not fs.isdir(path):
        raise ValueError(
            f"clear_stale_markers: {path} does not exist — wrong index "
            "or artifact path"
        )
    marker_dirs = [
        d for d in (f"{path}/corpus_pq", f"{path}/corpus") if fs.isdir(d)
    ]
    import time as _time

    now_ms = _time.time() * 1000.0
    found: list[tuple[str, str, float]] = []
    for d in marker_dirs:
        names = [
            (n, "append_sentinel")
            for n in _append_sentinels(fs, d)
        ]
        if fs.exists(f"{d}/{_FOLD_LOCK_NAME}"):
            names.append((_FOLD_LOCK_NAME, "fold_lock"))
        for n, kind in names:
            try:
                st = fs._fs.getFileStatus(fs._path(f"{d}/{n}"))
            except Exception:
                continue  # released between list and stat: healthy race
            age = max(0.0, now_ms - st.getModificationTime()) / 1000.0
            found.append((f"{d}/{n}", kind, age))
    fresh = sorted(p for p, _k, a in found if a <= float(older_than))
    if fresh:
        raise ValueError(
            f"clear_stale_markers: marker(s) under {path} younger than "
            f"{older_than:.0f}s — an append or fold is likely LIVE and "
            "deleting its marker would re-open the lost-rows window the "
            "protocol closes; wait (or raise older_than only if you "
            f"have verified nothing is running): {', '.join(fresh)}"
        )
    for p, _kind, _age in found:
        fs.delete(p)
    return spark.createDataFrame(
        [(p, k, round(a, 1)) for p, k, a in found],
        "marker string, kind string, age_sec double",
    )


def suggest_n_salt(cell_stats, target_max_rows_per_task: int) -> int:
    """The drift detector's output → the bounded mitigation: the
    smallest ``n_salt`` whose sub-split of the HOTTEST cell fits the
    per-task budget — ceil(max(n_rows) / target). 1 = no salting
    needed. Closes the serving loop for a drifted corpus:
    ``ivf_cell_stats`` detects, this suggests, the distributed searches
    take ``n_salt=`` — no rebuild.

    ``cell_stats`` is the ``ivf_cell_stats`` DataFrame or its COLLECTED
    rows. Prefer the rows you already collected for the drift report:
    the stats frame's LINEAGE is the corpus-wide groupBy, so passing
    the DataFrame re-executes that scan for a max() over at most
    n_cells values. Size ``target_max_rows_per_task`` so one cell-salt
    group's vectors fit an executor task's memory with headroom
    (rows x d x 8 bytes for the kernel's float64 matrix)."""
    if int(target_max_rows_per_task) < 1:
        raise ValueError(
            "suggest_n_salt: target_max_rows_per_task must be >= 1, got "
            f"{target_max_rows_per_task}"
        )
    if isinstance(cell_stats, DataFrame):
        hottest = cell_stats.agg(F.max("n_rows").alias("m")).collect()[0]["m"]
    else:
        hottest = max((r["n_rows"] for r in cell_stats), default=None)
    if hottest is None:  # empty stats: nothing ingested yet
        return 1
    return max(1, -(-int(hottest) // int(target_max_rows_per_task)))


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
    bucket_table: str | None = None,
    n_buckets: int = 32,
) -> None:
    """Train the coarse quantizer AND per-subspace residual codebooks
    (both deterministic, both on the bounded lowest-id sample), then
    materialize the corpus as (id, codes) partitioned by cell — the
    16-32x-compressed serving layout.

    The residual codebooks train on normalize(x) - centroid[assign(x)]
    over the sample (the FAISS IVFPQ residual convention): residuals are
    centered near zero per cell, so the same code budget buys far more
    precision than PQ on the raw vectors.

    ``bucket_table`` mirrors ``build_ivf_index``'s knob for the
    distributed serving path: an ADDITIONAL copy of the code rows
    bucketed by cell, whose hash distribution the planner trusts, so
    ``ivfpq_search_distributed``'s per-cell cogroup plans with NO
    corpus-side Exchange. The double-storage trade is 16-32x cheaper
    here than on the flat index — both copies are code bytes."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel, _fit_codebooks

    _require_long_id(df, id_col, "build_ivfpq_index")
    spark = df.sparkSession
    if n_cells is None:
        n_cells = auto_n_cells(df.count(), max_cluster_size)
    centroids = _train_centroids(df, id_col, vec_col, n_cells, kmeans_iters)
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cell int, v array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")

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
    if bucket_table is not None:
        (
            codes.write.mode("overwrite")
            .format("parquet")
            .bucketBy(int(n_buckets), "cell")
            .saveAsTable(bucket_table)
        )
    spark.createDataFrame(
        [(id_col, bucket_table, int(n_buckets))],
        "id_col string, bucket_table string, n_buckets int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


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


def append_ivfpq_index(df: DataFrame, id_col: str, vec_col: str, path: str) -> None:
    """Encode a NEW batch against the frozen quantizer AND frozen
    codebooks and append into its cell partitions — one Arrow pass over
    the batch, stored codes never re-read (the frozen-state contract;
    rebuild when the residual distribution has drifted enough that
    pq-audit-style spot checks degrade).

    With a ``bucket_table``, the append is a NON-ATOMIC dual write —
    same crash window and ``check_bucket_table`` recovery contract as
    ``append_ivf_index``; same named refusal while a
    ``compact_ivf_index`` fold is pending under the corpus, same
    sentinel marking its own window (``_append_window``)."""
    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel

    _require_long_id(df, id_col, "append_ivfpq_index")
    with _append_window(df.sparkSession, f"{path}/corpus_pq", "append_ivfpq_index"):
        centroids = load_ivf_centroids(path, df.sparkSession)
        model = PQModel.load(f"{path}/pq_model", df.sparkSession)
        batch = _encode_ivfpq(df, id_col, vec_col, centroids, model.codebooks)
        batch.write.mode("append").partitionBy("cell").parquet(f"{path}/corpus_pq")
        meta = _load_meta(path, df.sparkSession)
        if meta.get("bucket_table"):
            # same bucket spec as the build: Spark validates it against
            # the table, so the co-located layout can't silently degrade
            batch.write.mode("append").format("parquet").bucketBy(
                int(meta["n_buckets"]), "cell"
            ).saveAsTable(meta["bucket_table"])


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
    import numpy as np

    _require_long_id(queries, id_col, "ivfpq_search")
    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError("ivfpq_search: empty query batch")
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    try:
        q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    except ValueError:
        raise ValueError(
            f"ivfpq_search: ragged {vec_col} dimensions in the query batch"
        ) from None
    return _ivfpq_scan(
        spark, path, q_ids, q_mat, id_col,
        n_probe=n_probe, k=k, exclude_self=exclude_self, op="ivfpq_search",
        vec_col=vec_col,
    )


def _ivfpq_scan(
    spark: SparkSession,
    path: str,
    q_ids,
    q_mat,
    id_col: str,
    *,
    n_probe: int,
    k: int,
    exclude_self: bool,
    op: str,
    vec_col: str,
) -> DataFrame:
    """ivfpq_search's body over a driver-resident query matrix — shared
    with ivfpq_search_refined so the two-stage search collects its query
    batch once, not once per stage."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel

    centroids = load_ivf_centroids(path, spark)
    books = np.asarray(
        PQModel.load(f"{path}/pq_model", spark).codebooks, dtype=np.float64
    )
    mm, n_codes, d_sub = books.shape
    if q_mat.shape[1] != centroids.shape[1]:
        raise ValueError(
            f"{op}: {vec_col} is {q_mat.shape[1]}-dim but the index "
            f"was built on {centroids.shape[1]}-dim vectors"
        )
    # probe with the RAW float64 matrix, exactly as ivf_search does — a
    # float32-truncated probe could flip a near-tie at the n_probe
    # boundary and break the refined search's bit-parity with the flat
    # index, which probes float64 and truncates only for the cosine
    probes_n = q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    probes = np.argsort(-(probes_n @ centroids.T), axis=1, kind="stable")[
        :, : int(n_probe)
    ]
    by_cell: dict[int, list[int]] = {}
    for qi in range(len(q_ids)):
        for c in probes[qi]:
            by_cell.setdefault(int(c), []).append(qi)
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


def ivfpq_search_distributed(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_probe: int = 2,
    k: int = 5,
    exclude_self: bool = False,
    n_salt: int = 1,
) -> DataFrame:
    """``ivfpq_search`` for CORPUS-SIZED external query sets: no driver
    collect anywhere (the ``ivf_search_distributed`` skeleton over the
    compressed layout — including its ``n_salt`` hot-cell guard: cells
    sub-split by ``pmod(id, n_salt)`` so a drifted cell can't OOM or
    straggle its kernel task; bit-identical results, parity-tested). The query side probes its cells in one Arrow
    pass (broadcast centroids, n_probe rows per query), the stored CODE
    rows join in already cell-partitioned, and the per-cell cogroup
    kernel builds each query's (m x n_codes) ADC table locally and
    scores every stored row as m lookups — candidates only (<= |queries|
    * n_probe * k rows) reach the global re-rank.

    Completes the compressed side of the serving matrix: small batch ->
    ``ivfpq_search`` (driver-bounded probe set, partition-pruned scan);
    huge batch -> this. Results are bit-identical to ``ivfpq_search`` on
    the same index in both exclude_self modes (parity test) — the probe
    reads the carried ``array<float>`` vector, which equals the
    collected path's raw-float64 probe whenever the input column is
    array<float> (the corpus contract; the ADC values float32-truncate
    identically in both paths).

    Exchange accounting (the ivf_search_distributed stance): with the
    default dir-partitioned code corpus, BOTH cogroup sides hash on
    cell; with ``build_ivfpq_index(bucket_table=...)`` the code rows
    scan as a bucketed table and the corpus-side Exchange is ELIDED
    (plan-asserted) — and because the bucketed copy holds m code bytes
    per row instead of d*4 vector bytes, even the query-side exchange
    dominates it at production widths."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel

    _require_long_id(queries, id_col, "ivfpq_search_distributed")
    if int(n_salt) < 1:
        raise ValueError(
            f"ivfpq_search_distributed: n_salt must be >= 1, got {n_salt}"
        )
    centroids = load_ivf_centroids(path, spark)
    books = np.asarray(
        PQModel.load(f"{path}/pq_model", spark).codebooks, dtype=np.float64
    )
    mm, _n_codes, d_sub = books.shape
    # one broadcast per artifact: the probe pass and the per-cell kernel
    # SHARE the centroid broadcast (bias term lookup), the codebooks ship
    # separately — no artifact reaches the executors twice
    cents_bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
    books_bc = spark.sparkContext.broadcast(books)
    q = _probe_frame(
        queries, id_col, vec_col, cents_bc, n_probe, "ivfpq_search_distributed"
    )
    meta = _load_meta(path, spark)
    if meta.get("bucket_table"):
        c = spark.table(meta["bucket_table"])
    else:
        c = spark.read.parquet(f"{path}/corpus_pq")
    c = c.select(F.col(id_col).alias("c_id"), "codes", "cell")
    q, c, keys = _salt_cogroup_sides(q, c, n_salt)
    kk = int(k)
    excl = bool(exclude_self)

    def per_cell(qs, corp):
        import pandas as pd

        if len(corp) == 0 or len(qs) == 0:
            return pd.DataFrame({"query_id": [], "neighbor_id": [], "adc_cosine": []})
        cents, books_ = cents_bc.value, books_bc.value
        cell = int(corp["cell"].iloc[0])
        c_ids = corp["c_id"].to_numpy(dtype=np.int64)
        codes = np.stack([np.asarray(cd, dtype=np.int64) for cd in corp["codes"]])
        q_ids = qs["any_id"].to_numpy(dtype=np.int64)
        q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qs["vec"]])
        qn = q_mat / np.maximum(
            np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30
        )
        # adc[q, row] = sum_s tbl[q, s, codes[row, s]] + <qn, centroid[cell]>
        # — accumulated in _ivfpq_scan's exact order (subspaces in s
        # order, bias LAST) so the float sums are bit-identical and the
        # 1e-6 rounding can never disagree at a boundary
        adc = np.zeros((len(q_ids), len(codes)))
        for s in range(mm):
            tbl = qn[:, s * d_sub : (s + 1) * d_sub] @ books_[s].T
            adc += tbl[:, codes[:, s]]
        adc += (qn @ cents[cell])[:, None]
        adc = np.round(adc, 6)
        out_q, out_n, out_c = topk_pairs(q_ids, c_ids, adc, kk, excl)
        return pd.DataFrame(
            {"query_id": out_q, "neighbor_id": out_n, "adc_cosine": out_c}
        )

    # cogroup, not union+groupBy: each side keeps its own distribution
    # requirement, so a bucketed code corpus satisfies its side WITHOUT
    # an Exchange while the query rows shuffle to match
    hits = (
        q.groupBy(*keys)
        .cogroup(c.groupBy(*keys))
        .applyInPandas(per_cell, "query_id long, neighbor_id long, adc_cosine double")
    )
    return _rank_topk(hits, "adc_cosine", kk)


def _validate_refined_pair(
    pq_path: str, flat_path: str, validate: bool, *, op: str, spark=None
) -> None:
    """The two indexes must be two LAYOUTS of one corpus under one
    quantizer — otherwise shortlisted candidates can be missing from the
    flat side and would silently drop from the re-rank (e.g. an
    append_ivfpq_index without its matching append_ivf_index). Both
    checks are driver-side footer reads; the row count walks EVERY
    fragment's footer, which on a huge index is a per-call listing cost
    — hot serving loops over a known-consistent pair can pass
    validate=False after the first call."""
    if not validate:
        return
    if not _np_equal(
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
            f"holds {n_flat} — appends diverged; append to both indexes "
            "(or rebuild) before refining"
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

    _require_long_id(queries, id_col, "ivfpq_search_refined")
    if int(refine) < int(k):
        raise ValueError(
            f"ivfpq_search_refined: refine={refine} must be >= k={k} — the "
            "shortlist is what the exact re-rank chooses from"
        )
    _validate_refined_pair(
        pq_path, flat_path, validate, op="ivfpq_search_refined", spark=spark
    )
    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError("ivfpq_search_refined: empty query batch")
    centroids = load_ivf_centroids(flat_path, spark)
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    try:
        q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    except ValueError:
        raise ValueError(
            f"ivfpq_search_refined: ragged {vec_col} dimensions in the "
            "query batch"
        ) from None
    if q_mat.shape[1] != centroids.shape[1]:
        raise ValueError(
            f"ivfpq_search_refined: {vec_col} is {q_mat.shape[1]}-dim but "
            f"the flat index was built on {centroids.shape[1]}-dim vectors"
        )
    # ONE query collect feeds both stages (the shared _ivfpq_scan body)
    shortlist = _ivfpq_scan(
        spark, pq_path, q_ids, q_mat, id_col,
        n_probe=n_probe, k=int(refine), exclude_self=exclude_self,
        op="ivfpq_search_refined", vec_col=vec_col,
    ).select("query_id", "neighbor_id").collect()
    pairs: dict[int, set] = {}
    for r in shortlist:
        pairs.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
    # same probe set as the shortlist pass AND as ivf_search: all three
    # probe with the RAW float64 matrix (truncation applies only to the
    # scored values) — a regime mismatch here could prune away a cell
    # whose candidates were already shortlisted and silently drop them
    # from the re-rank
    sims = (
        q_mat / np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-30)
    ) @ centroids.T
    probes = np.argsort(-sims, axis=1, kind="stable")[:, : int(n_probe)]
    probed = sorted({int(c) for qp in probes for c in qp})
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


def ivfpq_search_refined_distributed(
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
    n_salt: int = 1,
) -> DataFrame:
    """``ivfpq_search_refined`` for CORPUS-SIZED query sets: no driver
    collect anywhere. Stage 1 is ``ivfpq_search_distributed`` at
    ``k=refine`` (the ADC shortlist, candidates-only output); stage 2
    joins the shortlist pairs to the flat corpus (neighbor vectors) and
    the query vectors, then re-ranks per query with the collected path's
    exact regime — one matvec per query over its shortlisted neighbors
    (float32 stored vectors, float32-truncated queries, 1e-6 rounding),
    so results are bit-identical to ``ivfpq_search_refined`` on the same
    pair (parity test, both exclude_self modes).

    Exchange accounting: everything after the corpus scans is
    CANDIDATE-sized (<= |queries| * refine rows) — the shortlist's
    cogroup exchanges, one join against the flat corpus on neighbor_id
    (with corpus-sized query sets the candidate side at refine x
    |queries| DOMINATES the corpus side, so the corpus re-hash is not
    the bottleneck), one join against the query vectors, and the final
    per-query re-rank reuses the join's query_id hash. What the refine
    buys at this shape: the exact-cosine compute drops from
    queries x cell-occupancy (``ivf_search_distributed``) to
    queries x refine — the win when cells are large; when they aren't,
    the flat distributed search reads fewer total bytes (the measured
    probe series) and is the better call.

    Cell-pruning the stage-2 flat scan by the shortlist's probed cells
    was probed and REJECTED (r14): even a mid-sized batch probes nearly
    every cell (300 random queries x n_probe=2 touched 229 of 256 cells
    on a 200k-row corpus; pruned vs unpruned stage-2 measured 7.49 vs
    7.48 s), because independent queries spread across the quantizer.
    A batch clustered enough to probe few cells is small enough for the
    collected ``ivfpq_search_refined``, whose scan IS partition-pruned."""
    import numpy as np

    _require_long_id(queries, id_col, "ivfpq_search_refined_distributed")
    if int(refine) < int(k):
        raise ValueError(
            f"ivfpq_search_refined_distributed: refine={refine} must be >= "
            f"k={k} — the shortlist is what the exact re-rank chooses from"
        )
    _validate_refined_pair(
        pq_path, flat_path, validate, op="ivfpq_search_refined_distributed",
        spark=spark,
    )
    shortlist = ivfpq_search_distributed(
        spark, pq_path, queries, id_col, vec_col,
        n_probe=n_probe, k=int(refine), exclude_self=exclude_self,
        n_salt=n_salt,
    ).select("query_id", "neighbor_id")
    flat = spark.read.parquet(f"{flat_path}/corpus").select(
        F.col(id_col).alias("neighbor_id"), F.col("v").alias("c_vec")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    cand = shortlist.join(flat, "neighbor_id").join(qv, "query_id")
    kk = int(k)

    def rerank(pdf):
        import pandas as pd

        # the collected rerank's exact shape: one matvec of this query's
        # candidate rows against its float32-TRUNCATED vector — the
        # truncation is unconditional (exactly as ivfpq_search_refined's
        # q32 step), so the exact-cosine regime matches for array<double>
        # query columns too, not just array<float>
        q32 = np.asarray(pdf["q_vec"].iloc[0], dtype=np.float32).astype(np.float64)
        qn = max(float(np.linalg.norm(q32)), 1e-30)
        c_mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["c_vec"]])
        c_norm = np.maximum(np.sqrt((c_mat * c_mat).sum(axis=1)), 1e-30)
        cos = np.round((c_mat @ q32) / (qn * c_norm), 6)
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"],
                "neighbor_id": pdf["neighbor_id"],
                "cosine": cos,
            }
        )

    hits = cand.groupBy("query_id").applyInPandas(
        rerank, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(hits, "cosine", kk)


def ivfpq_audit(
    spark: SparkSession,
    path: str,
    vectors: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, recon_rel_err, cos_self): the compressed index's error
    budget measured next to its own stored codes (pq_audit's
    self-grading stance applied to IVFPQ): join the original vectors to
    the stored (cell, codes), reconstruct normalize(x) ~= centroid[cell]
    + decode(codes) per row, and report the relative L2 reconstruction
    error and the cosine between the normalized vector and its
    reconstruction (1.0 = lossless). One broadcast join on id + one
    Arrow pass; the codes are the join's small side only when the audit
    SAMPLE is small — audit a bounded sample at 100 TB, the same way the
    codebooks trained on one."""
    import numpy as np

    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel

    _require_long_id(vectors, id_col, "ivfpq_audit")
    centroids = load_ivf_centroids(path, spark)
    books = np.asarray(
        PQModel.load(f"{path}/pq_model", spark).codebooks, dtype=np.float64
    )
    mm, _n, d_sub = books.shape
    stored = spark.read.parquet(f"{path}/corpus_pq").select(id_col, "cell", "codes")
    joined = vectors.select(id_col, vec_col).join(stored, id_col, "inner")
    bc = spark.sparkContext.broadcast((centroids, books))

    def audit(batches):
        import pandas as pd

        cents, books_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"ivfpq_audit: ragged {vec_col} dimensions in batch"
                ) from None
            if mat.shape[1] != cents.shape[1]:
                raise ValueError(
                    f"ivfpq_audit: {vec_col} is {mat.shape[1]}-dim but the "
                    f"index was built on {cents.shape[1]}-dim vectors"
                )
            mn = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-30)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            recon = cents[cells].copy()
            for s in range(mm):
                recon[:, s * d_sub : (s + 1) * d_sub] += books_[s][codes[:, s]]
            rnorm = np.maximum(np.linalg.norm(recon, axis=1), 1e-30)
            rel = np.linalg.norm(mn - recon, axis=1)  # mn is unit: already relative
            cos = (mn * recon).sum(axis=1) / rnorm
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cell": cells.astype(np.int32),
                    "recon_rel_err": np.round(rel, 6),
                    "cos_self": np.round(cos, 6),
                }
            )

    return joined.mapInPandas(
        audit, f"{id_col} long, cell int, recon_rel_err double, cos_self double"
    )
