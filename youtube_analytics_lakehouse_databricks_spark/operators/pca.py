"""Embedding PCA / whitening: the dimensionality-reduction pre-step.

Real vector pipelines shrink and decorrelate embeddings before the
expensive geometry (IVF/SemDeDup clustering, ANN indexes, int8 codes):
a 64-d embedding projected to its top-k principal axes keeps most of
the variance at a fraction of the storage and compute, and whitening
equalizes the axes so cosine thresholds mean the same thing in every
direction. The engine splits the operator the way it splits IVF and
the quality classifier — the corpus-sized work is distributed and
shuffle-free, the tiny dense solve is driver-side and DETERMINISTIC:

- ``train_pca``: ONE Arrow ``mapInPandas`` pass emits per-partition
  moment partials (count, sum, d*d raw second-moment sum) — constant
  rows per partition, so the driver collect is O(partitions * d^2)
  regardless of corpus size and the corpus itself never shuffles. The
  driver assembles the population covariance and extracts the top-k
  axes by FIXED-ITERATION POWER DEFLATION (deterministic init from the
  largest-norm covariance column, a fixed iteration count, canonical
  sign = largest-|coordinate| entry positive, then rank-1 deflation).
  numpy's ``eigh`` would be the classic choice; the fixed-iteration
  recurrence is chosen because it is EXPRESSIBLE — the DuckDB oracle
  unrolls the identical recurrence as chained CTEs (the mini-Lloyd /
  BPE / GD-epoch playbook), putting the trainer under the cross-engine
  hash-match regime instead of trusting a LAPACK black box.
- ``project_embeddings``: broadcast (mean, components), ONE Arrow
  ``mapInPandas`` pass, ZERO shuffle at any corpus size — the same
  shape as semantic decontamination. ``whiten=True`` additionally
  scales each axis by 1/sqrt(eigenvalue + eps).

At 100 TB: training reads the corpus once with no exchange and ships
d^2 doubles per partition to the driver; projection is embarrassingly
parallel. Nothing here is quadratic in rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "PCAModel",
    "PCAMoments",
    "compute_moments",
    "solve_pca",
    "train_pca",
    "project_embeddings",
]


def _kinded_rows(kinds: dict) -> list:
    """Encode arrays into the shared (kind, idx, vals) row layout: a kind
    maps to a vector (stored at idx 0) or a matrix (one row per idx).
    One codec for every PCA artifact — PCAModel and PCAMoments."""
    import numpy as np

    rows = []
    for kind, arr in kinds.items():
        a = np.asarray(arr, dtype=np.float64)
        if a.ndim == 1:
            rows.append((kind, 0, [float(x) for x in a]))
        else:
            rows += [(kind, i, [float(x) for x in a[i]]) for i in range(a.shape[0])]
    return rows


def _arrays_from_kinded(rows) -> dict:
    """Inverse of _kinded_rows over an iterable of Row-likes with
    kind/idx/vals fields: kind -> 1-d array (single idx 0) or 2-d array
    (rows in idx order)."""
    import numpy as np

    by: dict[str, dict[int, list]] = {}
    for r in rows:
        by.setdefault(r["kind"], {})[r["idx"]] = r["vals"]
    return {
        kind: (
            np.asarray(vals[0])
            if set(vals) == {0}
            else np.asarray([vals[i] for i in sorted(vals)])
        )
        for kind, vals in by.items()
    }


def _write_kinded(spark: SparkSession, path: str, kinds: dict) -> None:
    spark.createDataFrame(
        _kinded_rows(kinds), "kind string, idx int, vals array<double>"
    ).write.mode("overwrite").parquet(path)


def _read_kinded(spark: SparkSession, path: str) -> dict:
    return _arrays_from_kinded(spark.read.parquet(path).collect())


@dataclass
class PCAModel:
    """Fitted PCA: per-dimension mean, (k, d) principal axes (rows are
    unit-norm, canonical-signed), and their eigenvalues (the per-axis
    variance, used for whitening and variance-explained reporting)."""

    mean: "object"  # np.ndarray (d,)
    components: "object"  # np.ndarray (k, d)
    eigenvalues: "object"  # np.ndarray (k,)
    n_rows: int

    def explained_variance_ratio(self) -> list[float]:
        import numpy as np

        tot = float(getattr(self, "_total_variance", 0.0))
        if tot <= 0.0:
            return [0.0] * len(np.asarray(self.eigenvalues))
        return [float(e) / tot for e in np.asarray(self.eigenvalues)]

    def save(self, spark: SparkSession, path: str) -> None:
        _write_kinded(
            spark,
            path,
            {
                "mean": self.mean,
                "component": self.components,
                "eigenvalues": self.eigenvalues,
                "meta": [
                    float(self.n_rows),
                    float(getattr(self, "_total_variance", 0.0)),
                ],
            },
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PCAModel":
        import numpy as np

        by = _read_kinded(spark, path)
        comps = np.asarray(by["component"], dtype=np.float64)
        model = cls(
            mean=np.asarray(by["mean"], dtype=np.float64),
            components=comps if comps.ndim == 2 else comps[None, :],
            eigenvalues=np.asarray(by["eigenvalues"], dtype=np.float64),
            n_rows=int(by["meta"][0]),
        )
        model._total_variance = float(by["meta"][1])
        return model


def _power_deflation(cov, k: int, iters: int):
    """Top-k eigenpairs of a symmetric PSD matrix by fixed-iteration
    power iteration with rank-1 deflation. Fully deterministic: init is
    the largest-L2-norm column of the (deflated) matrix (lowest index on
    ties — numpy argmax semantics), exactly ``iters`` multiplications,
    canonical sign makes the largest-|coordinate| entry positive (lowest
    index on ties). The DuckDB oracle mirrors this recurrence verbatim;
    do not "improve" it with tolerance-based stopping or random init —
    determinism IS the contract."""
    import numpy as np

    A = np.asarray(cov, dtype=np.float64).copy()
    comps, eigs = [], []
    for _ in range(k):
        norms = np.linalg.norm(A, axis=0)
        j = int(np.argmax(norms))
        if norms[j] <= 0.0:
            raise ValueError(
                f"covariance rank < k: no direction left for component {len(comps)}"
            )
        v = A[:, j] / norms[j]
        for _ in range(iters):
            w = A @ v
            nw = float(np.linalg.norm(w))
            if nw == 0.0:
                raise ValueError(
                    "power iteration annihilated the iterate (rank-deficient "
                    "covariance) — lower k"
                )
            v = w / nw
        i = int(np.argmax(np.abs(v)))
        if v[i] < 0.0:
            v = -v
        lam = float(v @ A @ v)
        comps.append(v)
        eigs.append(lam)
        A = A - lam * np.outer(v, v)
    return np.asarray(comps), np.asarray(eigs)


@dataclass
class PCAMoments:
    """Sufficient statistics for PCA: (n, per-dim sum, d*d raw second
    moment). ADDITIVE — merging the moments of two disjoint corpora
    equals the moments of their union (up to float summation order), so
    a 100 TB corpus that appends daily refreshes its PCA with ONE pass
    over the NEW batch: ``moments.merge(compute_moments(batch))`` then
    ``solve_pca`` — the stored corpus is never re-read. The engine's
    incremental-state theme (curate_incremental's frames), applied to
    the embedding-compression pre-step."""

    n: int
    s: "object"  # np.ndarray (d,)
    o: "object"  # np.ndarray (d, d)

    def merge(self, other: "PCAMoments") -> "PCAMoments":
        import numpy as np

        if np.shape(self.s) != np.shape(other.s):
            raise ValueError(
                f"moment dimension mismatch: {np.shape(self.s)} vs {np.shape(other.s)}"
            )
        if np.shape(self.o) != np.shape(other.o):
            raise ValueError(
                "second-moment shape mismatch: "
                f"{np.shape(self.o)} vs {np.shape(other.o)}"
            )
        return PCAMoments(
            n=self.n + other.n,
            s=np.asarray(self.s) + np.asarray(other.s),
            o=np.asarray(self.o) + np.asarray(other.o),
        )

    def save(self, spark: SparkSession, path: str) -> None:
        _write_kinded(
            spark, path, {"meta": [float(self.n)], "s": self.s, "o": self.o}
        )

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "PCAMoments":
        by = _read_kinded(spark, path)
        return cls(n=int(by["meta"][0]), s=by["s"], o=by["o"])


def compute_moments(df: DataFrame, vec_col: str) -> PCAMoments:
    """ONE Arrow scan emitting per-partition (count, sum, raw second-
    moment) partials — no shuffle, O(partitions * d^2) bytes to the
    driver. The corpus-sized leg of PCA training, factored out so
    appends pay it over the new batch only (see PCAMoments.merge)."""
    import numpy as np

    def partials(batches):
        import pandas as pd

        n = 0
        s = None
        o = None
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"train_pca: NULL {vec_col} vector — filter docs "
                    "without embeddings out before fitting"
                )
            try:
                m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"train_pca: ragged {vec_col} dimensions in batch — "
                    "a corrupt (wrong-length) embedding is a data bug in "
                    "a PCA fit; fix it upstream (the assign_cells stance)"
                ) from None
            if s is not None and m.shape[1] != s.shape[0]:
                raise ValueError(
                    f"train_pca: {vec_col} dimension changed mid-scan "
                    f"({s.shape[0]} -> {m.shape[1]}) — mixed-dimension "
                    "embeddings cannot share one moment matrix"
                )
            n += m.shape[0]
            s = m.sum(axis=0) if s is None else s + m.sum(axis=0)
            oo = m.T @ m
            o = oo if o is None else o + oo
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s": [[float(x) for x in s]],
                    "o": [[float(x) for x in o.ravel()]],
                }
            )

    rows = (
        df.select(vec_col)
        .mapInPandas(partials, "n long, s array<double>, o array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("train_pca: empty input")
    n = sum(r["n"] for r in rows)
    d = len(rows[0]["s"])
    s = np.zeros(d)
    o = np.zeros((d, d))
    for r in rows:
        if len(r["s"]) != d:
            raise ValueError(
                f"train_pca: {vec_col} dimension differs across partitions "
                f"({d} vs {len(r['s'])}) — mixed-dimension embeddings "
                "cannot share one moment matrix"
            )
        s += np.asarray(r["s"])
        o += np.asarray(r["o"]).reshape(d, d)
    return PCAMoments(n=int(n), s=s, o=o)


def solve_pca(moments: PCAMoments, k: int, *, iters: int = 20) -> PCAModel:
    """Driver-side solve from sufficient statistics: population
    covariance via the moment identity, then the deterministic
    power-deflation recurrence. Same moments, same model — so the
    incremental path (merged moments) reproduces the full-corpus model
    up to float summation order.

    Precision constraint: the moment identity (o - n*mean*mean^T)/n
    cancels catastrophically when ||mean||^2 dominates the variance —
    trailing eigenvalues/components of a HIGH-OFFSET (far-from-centered)
    embedding space can lose most of their float64 precision. This is
    the deliberate price of ADDITIVE moments (the append-only refit
    needs them); typical learned embeddings are
    near-centered, where the identity is well-conditioned. For a corpus
    with a large known offset, subtract a fixed provisional center from
    the vectors before compute_moments and add it back to model.mean —
    the moments stay additive for any FIXED shift."""
    import numpy as np

    n = moments.n
    s = np.asarray(moments.s, dtype=np.float64)
    o = np.asarray(moments.o, dtype=np.float64)
    d = s.shape[0]
    if not (0 < k <= d):
        raise ValueError(f"k must be in 1..{d}, got {k}")
    mean = s / n
    cov = (o - n * np.outer(mean, mean)) / n
    comps, eigs = _power_deflation(cov, k, iters)
    model = PCAModel(mean=mean, components=comps, eigenvalues=eigs, n_rows=int(n))
    model._total_variance = float(np.trace(cov))
    return model


def train_pca(
    df: DataFrame,
    vec_col: str,
    k: int,
    *,
    iters: int = 20,
) -> PCAModel:
    """Fit PCA over an embedding column: ``compute_moments`` (one
    shuffle-free Arrow pass) + ``solve_pca`` (deterministic driver
    solve). For append-only corpora, persist the moments and use
    ``PCAMoments.merge`` + ``solve_pca`` instead of re-reading history."""
    return solve_pca(compute_moments(df, vec_col), k, iters=iters)


def project_embeddings(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    model: PCAModel,
    *,
    whiten: bool = False,
    eps: float = 1e-12,
) -> DataFrame:
    """(id, pc array<double>): project onto the model's axes in ONE Arrow
    pass — (mean, components) ride a broadcast, the plan has no Exchange
    at any corpus size. ``whiten=True`` scales axis c by
    1/sqrt(eigenvalue_c + eps) so downstream distances are isotropic."""
    import numpy as np

    comps = np.asarray(model.components, dtype=np.float64)
    mean = np.asarray(model.mean, dtype=np.float64)
    # deflation float residue can leave a trailing eigenvalue a hair
    # NEGATIVE on near-degenerate spectra — clip before the sqrt so
    # whitening degrades to a large-but-finite scale, never NaN
    scale = (
        1.0
        / np.sqrt(
            np.maximum(np.asarray(model.eigenvalues, dtype=np.float64), 0.0) + eps
        )
        if whiten
        else None
    )
    bc = df.sparkSession.sparkContext.broadcast((mean, comps, scale))

    def project(batches):
        import pandas as pd

        mu, c, sc = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            if pdf[vec_col].isna().any():
                raise ValueError(
                    f"project_embeddings: NULL {vec_col} vector — filter "
                    "docs without embeddings out (or left-join the "
                    "projections back) instead of projecting nothing"
                )
            try:
                m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            except ValueError:
                raise ValueError(
                    f"project_embeddings: ragged {vec_col} dimensions in "
                    "batch — a corrupt (wrong-length) embedding is a data "
                    "bug; fix it upstream (the assign_cells stance)"
                ) from None
            if m.shape[1] != mu.shape[0]:
                raise ValueError(
                    f"project_embeddings: {vec_col} is {m.shape[1]}-dim but "
                    f"the model was fitted on {mu.shape[0]}-dim embeddings "
                    "— wrong model for this corpus"
                )
            p = (m - mu) @ c.T
            if sc is not None:
                p = p * sc
            yield pd.DataFrame({id_col: pdf[id_col], "pc": list(p)})

    # id type derived from the input (string keys work — the decontam
    # operator's integral-id lesson applied at birth)
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        project, f"{id_col} {id_type}, pc array<double>"
    )
