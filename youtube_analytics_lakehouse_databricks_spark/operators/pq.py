"""Product quantization: the 16-32x embedding-compression tier.

Scalar int8 (queries/vectorops.py `embedding_int8_quantization`) cuts
4x; PQ (Jegou et al. 2011, "Product Quantization for Nearest Neighbor
Search" — public semantics, engine-original distributed formulation)
cuts d*4 bytes to m code bytes: split the d dims into ``m`` subspaces,
learn a 256-entry codebook per subspace on a bounded sample, store each
vector as m code indices plus its float32 norm. (Spark/Arrow has no
uint8 array type, so the engine column is array<smallint> — 2m bytes in
flight; parquet's bit-packed dictionary encoding and any byte-packed
export recover the m-byte footprint at rest.) Search never
reconstructs: a query builds per-subspace inner-product TABLES
(m x 256 floats, driver-side, broadcast) and each corpus code scores as
m table lookups — the classic ADC (asymmetric distance computation)
scan, here for cosine via the stored norms.

Engine split (the IVF/classifier/PCA factoring):
- training is driver-side over a bounded LOWEST-ID sample (the
  _train_centroids stance — at 100 TB you train codebooks on a sample
  anyway), deterministic mini-Lloyd per subspace: init = first distinct
  sample rows, L2 assignment, mean re-center, no RNG;
- encoding is ONE Arrow pass (broadcast codebooks, per-batch argmin),
  zero shuffle, emitting (id, codes array<smallint>, norm float) — the
  stored corpus representation;
- search is ONE Arrow pass over the codes (broadcast tables) keeping
  per-partition top-k candidates; only candidate rows (<= partitions *
  queries * k) shuffle for the global re-rank — the cosine_topk shape
  at 1/16th the scan bytes.

Accuracy is SELF-GRADED the sketch_user_counts way: ``pq_audit``
computes per-vector reconstruction error and the exact-vs-ADC cosine
gap in one query, so the compression's error budget is measured next to
the data it compresses.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators._topk import topk_pairs
from youtube_analytics_lakehouse_databricks_spark.operators.mixing import require_integral_id

__all__ = ["PQModel", "train_pq", "pq_encode", "pq_topk", "pq_audit"]


@dataclass
class PQModel:
    """Per-subspace codebooks: numpy array (m, n_codes, d // m)."""

    codebooks: "object"

    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def n_codes(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dim(self) -> int:
        return self.codebooks.shape[0] * self.codebooks.shape[2]

    def save(self, spark: SparkSession, path: str) -> None:
        import numpy as np

        cb = np.asarray(self.codebooks, dtype=np.float64)
        rows = [
            (s, c, [float(x) for x in cb[s, c]])
            for s in range(cb.shape[0])
            for c in range(cb.shape[1])
        ]
        spark.createDataFrame(
            rows, "subspace int, code int, v array<double>"
        ).write.mode("overwrite").parquet(path)

    @classmethod
    def load(cls, path: str, spark=None) -> "PQModel":
        import numpy as np
        import pyarrow.parquet as pq_

        from youtube_analytics_lakehouse_databricks_spark.fsops import (
            driver_read_parquet,
            is_local_path,
            local_path_or_raise,
            require_session,
        )

        # pyarrow fast path locally; a KB-sized artifact streamed
        # through the session's Hadoop FileSystem on any other reachable
        # scheme (object-store-native serving — the ivf_index contract);
        # named error when the scheme is unreachable
        if is_local_path(path):
            t = pq_.read_table(local_path_or_raise(path, "PQModel.load")).to_pydict()
        else:
            t = driver_read_parquet(
                require_session(spark, path, "PQModel.load"), path, "PQModel.load"
            ).to_pydict()
        m = max(t["subspace"]) + 1
        n = max(t["code"]) + 1
        d_sub = len(t["v"][0])
        cb = np.zeros((m, n, d_sub))
        for s, c, v in zip(t["subspace"], t["code"], t["v"]):
            cb[s, c] = v
        return cls(codebooks=cb)


def _sample_matrix(df: DataFrame, id_col: str, vec_col: str, n: int):
    import numpy as np

    rows = df.select(id_col, vec_col).orderBy(id_col).limit(n).collect()
    if not rows:
        raise ValueError("train_pq: empty input")
    try:
        return np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    except ValueError:
        raise ValueError(
            f"train_pq: ragged {vec_col} dimensions in the training sample"
        ) from None


def _fit_codebooks(mat, m: int, n_codes: int, iters: int, op: str = "train_pq"):
    """Per-subspace deterministic mini-Lloyd over a float64 sample matrix
    (the driver-side kernel train_pq and build_ivfpq_index share):
    distinct-row init (first ``n_codes`` distinct subvectors in sample
    order), expanded-form L2 assignment with argmin-first-match = lowest
    code on ties, member-mean re-center, no RNG. Subspaces with fewer
    distinct subvectors than ``n_codes`` pad with zero rows."""
    import numpy as np

    d = mat.shape[1]
    if d % m != 0:
        raise ValueError(f"{op}: dim {d} is not divisible by m={m}")
    d_sub = d // m
    books = []
    for s in range(m):
        sub = mat[:, s * d_sub : (s + 1) * d_sub]
        # distinct-subvector init: duplicate sample rows must not
        # collapse two codebook entries onto one point
        _, first_idx = np.unique(sub, axis=0, return_index=True)
        init = sub[np.sort(first_idx)][:n_codes].copy()
        cents = init
        for _ in range(int(iters)):
            # L2 assignment via the expanded form; argmin ties take the
            # lowest code (np.argmin first-match), deterministic
            d2 = (
                (sub * sub).sum(axis=1, keepdims=True)
                - 2.0 * (sub @ cents.T)
                + (cents * cents).sum(axis=1)
            )
            assign = np.argmin(d2, axis=1)
            for c in range(len(cents)):
                members = sub[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents if len(cents) == n_codes else np.vstack(
            [cents, np.zeros((n_codes - len(cents), d_sub))]
        ))
    return np.stack(books)


def train_pq(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    m: int = 8,
    n_codes: int = 256,
    iters: int = 5,
    sample_rows: int = 8192,
) -> PQModel:
    """Fit per-subspace codebooks on the lowest-``sample_rows`` ids.
    Deterministic: distinct-row init (first ``n_codes`` distinct
    subvectors), L2 assignment, mean re-center, ``iters`` rounds, no
    RNG — same data, same model, any partitioning."""
    require_integral_id(df, id_col, "train_pq", hint="map string keys to a surrogate long first")
    mat = _sample_matrix(df, id_col, vec_col, max(int(sample_rows), n_codes))
    return PQModel(codebooks=_fit_codebooks(mat, m, n_codes, iters))


def pq_encode(
    df: DataFrame, id_col: str, vec_col: str, model: PQModel
) -> DataFrame:
    """(id, codes array<smallint>, norm float): one Arrow pass, zero
    shuffle. ``codes[s]`` indexes subspace ``s``'s codebook; ``norm`` is
    the original vector's L2 norm (ADC cosine needs it — it cannot be
    recovered from the codes)."""
    import numpy as np

    require_integral_id(df, id_col, "pq_encode", hint="map string keys to a surrogate long first")
    cb = np.asarray(model.codebooks, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(cb)
    mm, _n, d_sub = cb.shape

    def encode(batches):
        import pandas as pd

        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(f"pq_encode: NULL {vec_col} vector")
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"pq_encode: ragged {vec_col} dimensions in batch"
                ) from None
            if mat.shape[1] != mm * d_sub:
                raise ValueError(
                    f"pq_encode: {vec_col} is {mat.shape[1]}-dim but the "
                    f"model was trained on {mm * d_sub}-dim vectors"
                )
            codes = np.empty((len(mat), mm), dtype=np.int16)
            for s in range(mm):
                sub = mat[:, s * d_sub : (s + 1) * d_sub]
                cents = books[s]
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ cents.T)
                    + (cents * cents).sum(axis=1)
                )
                codes[:, s] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "codes": list(codes),
                    "norm": np.linalg.norm(mat, axis=1).astype(np.float32),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        encode, f"{id_col} long, codes array<smallint>, norm float"
    )


def pq_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    model: PQModel,
    *,
    k: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, neighbor_id, adc_cosine, rank): approximate cosine
    top-k over the ENCODED corpus — the ADC scan. The query batch is
    driver-collected (serving-bounded, the ivf_search contract); each
    query contributes an (m x n_codes) inner-product table, corpus codes
    score as m lookups, per-partition top-k candidates shuffle for the
    global re-rank. The corpus is never reconstructed."""
    import numpy as np

    require_integral_id(queries, id_col, "pq_topk", hint="map string keys to a surrogate long first")
    rows = queries.select(id_col, vec_col).orderBy(id_col).collect()
    if not rows:
        raise ValueError("pq_topk: empty query batch")
    q_ids = np.array([r[id_col] for r in rows], dtype=np.int64)
    q_mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    cb = np.asarray(model.codebooks, dtype=np.float64)
    mm, n_codes, d_sub = cb.shape
    if q_mat.shape[1] != mm * d_sub:
        raise ValueError(
            f"pq_topk: {vec_col} is {q_mat.shape[1]}-dim but the model "
            f"was trained on {mm * d_sub}-dim vectors"
        )
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1), 1e-30)
    # tables[q, s, c] = <query_q subspace_s, codebook_s[c]>
    tables = np.stack(
        [q_mat[:, s * d_sub : (s + 1) * d_sub] @ cb[s].T for s in range(mm)],
        axis=1,
    )
    bc = codes_df.sparkSession.sparkContext.broadcast((q_ids, q_norm, tables))
    kk = int(k)
    excl = bool(exclude_self)

    def scan(batches):
        import pandas as pd

        ids, qn, tbl = bc.value
        nq = len(ids)
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack([np.asarray(c, dtype=np.int64) for c in pdf["codes"]])
            norms = np.maximum(pdf["norm"].to_numpy(dtype=np.float64), 1e-30)
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            # ip[q, row] = sum_s tables[q, s, codes[row, s]]
            ip = np.zeros((nq, len(codes)))
            for s in range(tbl.shape[1]):
                ip += tbl[:, s, :][:, codes[:, s]]
            cos = np.round(ip / np.outer(qn, norms), 6)
            out_q, out_n, out_c = topk_pairs(ids, c_ids, cos, kk, excl)
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_cosine": out_c}
            )

    hits = codes_df.select(id_col, "codes", "norm").mapInPandas(
        scan, "query_id long, neighbor_id long, adc_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "adc_cosine", "rank")
    )


def pq_audit(
    df: DataFrame, id_col: str, vec_col: str, model: PQModel
) -> DataFrame:
    """(id, recon_rel_err, cos_self): per-vector compression error,
    measured next to the data — relative L2 reconstruction error and the
    cosine between the vector and its reconstruction (1.0 = lossless).
    One Arrow pass, zero shuffle (the sketch_user_counts self-grading
    stance applied to compression)."""
    import numpy as np

    cb = np.asarray(model.codebooks, dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast(cb)
    mm, _n, d_sub = cb.shape

    def audit(batches):
        import pandas as pd

        books = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            recon = np.empty_like(mat)
            for s in range(mm):
                sub = mat[:, s * d_sub : (s + 1) * d_sub]
                cents = books[s]
                d2 = (
                    (sub * sub).sum(axis=1, keepdims=True)
                    - 2.0 * (sub @ cents.T)
                    + (cents * cents).sum(axis=1)
                )
                recon[:, s * d_sub : (s + 1) * d_sub] = cents[np.argmin(d2, axis=1)]
            norms = np.maximum(np.linalg.norm(mat, axis=1), 1e-30)
            rnorms = np.maximum(np.linalg.norm(recon, axis=1), 1e-30)
            rel = np.linalg.norm(mat - recon, axis=1) / norms
            cos = (mat * recon).sum(axis=1) / (norms * rnorms)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "recon_rel_err": np.round(rel, 6),
                    "cos_self": np.round(cos, 6),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        audit, f"{id_col} long, recon_rel_err double, cos_self double"
    )
