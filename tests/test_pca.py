"""Embedding PCA: deterministic power-deflation training, zero-shuffle
projection, whitening, and the oracle-recurrence pin.

Evidence split: algorithm QUALITY is proven on planted anisotropic
structure (where PCA is meaningful — the driver's synthetic embeddings
are near-isotropic, so no method recovers axes there), cross-engine
EXACTNESS is the embedding_pca_project oracle row, and determinism is
pinned by an independent pure-numpy re-implementation of the exact
recurrence plus partition invariance."""

from __future__ import annotations

import numpy as np
import pytest

from youtube_analytics_lakehouse_databricks_spark.operators.pca import (
    PCAModel,
    _power_deflation,
    project_embeddings,
    train_pca,
)


def _planted(n: int = 400, d: int = 16, seed: int = 11) -> np.ndarray:
    """Anisotropic cloud: strong spectrum decay along random axes."""
    r = np.random.default_rng(seed)
    q, _ = np.linalg.qr(r.standard_normal((d, d)))
    scales = np.array([10.0, 5.0, 2.0, 1.0] + [0.05] * (d - 4))
    return r.standard_normal((n, d)) @ (q * scales).T + r.standard_normal(d)


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )


def _reference_power_deflation(cov, k, iters):
    """Independent re-derivation of the documented recurrence (kept
    deliberately naive — loops, no vectorized shortcuts)."""
    A = np.array(cov, dtype=np.float64)
    comps, eigs = [], []
    for _ in range(k):
        norms = [float(np.sqrt(sum(A[i, j] ** 2 for i in range(len(A))))) for j in range(len(A))]
        j = int(np.argmax(norms))
        v = A[:, j] / norms[j]
        for _ in range(iters):
            w = A @ v
            v = w / float(np.linalg.norm(w))
        i = int(np.argmax(np.abs(v)))
        if v[i] < 0:
            v = -v
        lam = float(v @ A @ v)
        comps.append(v)
        eigs.append(lam)
        A = A - lam * np.outer(v, v)
    return np.asarray(comps), np.asarray(eigs)


def test_recovers_planted_spectrum(spark):
    X = _planted()
    model = train_pca(_df(spark, X), "embedding", 4, iters=40)
    mu = X.astype(np.float32).astype(np.float64).mean(axis=0)
    Xc = X.astype(np.float32).astype(np.float64) - mu
    C = Xc.T @ Xc / len(X)
    w, V = np.linalg.eigh(C)
    top_w, top_V = w[::-1][:4], V[:, ::-1][:, :4]
    # eigenvalues within 1% (the gaps are wide; 40 iterations converge)
    assert np.allclose(model.eigenvalues, top_w, rtol=1e-2)
    # axes aligned up to sign
    for c in range(4):
        assert abs(float(model.components[c] @ top_V[:, c])) > 0.999
    evr = model.explained_variance_ratio()
    assert evr[0] > evr[1] > evr[2] > evr[3] > 0
    assert 0.9 < sum(evr) <= 1.0 + 1e-9  # top-4 carries ~all planted variance


def test_matches_independent_recurrence_exactly(spark):
    """The solver IS the documented recurrence — same covariance in, same
    (components, eigenvalues) out as a naive re-implementation, to float
    precision. This is what licenses the DuckDB CTE unroll."""
    X = _planted(n=200, d=8, seed=3)
    model = train_pca(_df(spark, X), "embedding", 3, iters=15)
    Xd = X.astype(np.float32).astype(np.float64)
    mu = Xd.sum(axis=0) / len(Xd)
    C = (Xd.T @ Xd - len(Xd) * np.outer(mu, mu)) / len(Xd)
    comps, eigs = _reference_power_deflation(C, 3, 15)
    assert np.allclose(model.eigenvalues, eigs, rtol=0, atol=1e-9)
    assert np.allclose(model.components, comps, rtol=0, atol=1e-9)


def test_partition_invariance_and_determinism(spark):
    X = _planted(n=300, d=12, seed=5)
    models = [
        train_pca(_df(spark, X).repartition(p), "embedding", 3, iters=20)
        for p in (1, 7)
    ]
    a, b = models
    # per-partition partials change float summation order; the solve is
    # contractive, so models agree far beyond the 1e-6 verdict precision
    assert np.allclose(a.eigenvalues, b.eigenvalues, atol=1e-9)
    assert np.allclose(a.components, b.components, atol=1e-8)
    assert a.n_rows == b.n_rows == 300


def test_projection_zero_shuffle_and_exact(spark):
    X = _planted(n=250, d=10, seed=9)
    df = _df(spark, X)  # createDataFrame already fans out across cores;
    # no .repartition here — that would put an input Exchange in the plan
    model = train_pca(df, "embedding", 2, iters=20)
    proj = project_embeddings(df, "vec_id", "embedding", model)
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # broadcast model, embarrassingly parallel
    got = {r["vec_id"]: np.asarray(r["pc"]) for r in proj.collect()}
    Xd = X.astype(np.float32).astype(np.float64)
    exp = (Xd - np.asarray(model.mean)) @ np.asarray(model.components).T
    for i in range(len(X)):
        assert np.allclose(got[i], exp[i], atol=1e-12)


def test_whitening_unit_variance(spark):
    X = _planted(n=500, d=12, seed=13)
    df = _df(spark, X)
    model = train_pca(df, "embedding", 3, iters=40)
    w = project_embeddings(df, "vec_id", "embedding", model, whiten=True)
    P = np.stack([np.asarray(r["pc"]) for r in w.collect()])
    # population variance of each whitened axis ~ 1
    assert np.allclose(P.var(axis=0), 1.0, rtol=5e-2)


def test_save_load_roundtrip(spark, tmp_path):
    X = _planted(n=120, d=8, seed=21)
    df = _df(spark, X)
    model = train_pca(df, "embedding", 2, iters=10)
    path = str(tmp_path / "pca_model")
    model.save(spark, path)
    back = PCAModel.load(spark, path)
    assert np.allclose(back.mean, model.mean, atol=0)
    assert np.allclose(back.components, model.components, atol=0)
    assert np.allclose(back.eigenvalues, model.eigenvalues, atol=0)
    assert back.n_rows == model.n_rows
    assert back.explained_variance_ratio() == model.explained_variance_ratio()
    a = project_embeddings(df, "vec_id", "embedding", back).collect()
    b = project_embeddings(df, "vec_id", "embedding", model).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_guards(spark):
    X = _planted(n=50, d=6, seed=2)
    with pytest.raises(ValueError, match="k must be"):
        train_pca(_df(spark, X), "embedding", 7)
    with pytest.raises(ValueError, match="empty"):
        train_pca(
            spark.createDataFrame([], "vec_id long, embedding array<float>"),
            "embedding",
            2,
        )
    # exactly-degenerate covariance (constant input): no direction left.
    # (Float deflation residue keeps NEAR-rank-deficient matrices above
    # exact zero, so the loud guard fires on the exactly-zero case; the
    # near case degrades to noise-scale eigenvalues, which
    # explained_variance_ratio exposes.)
    with pytest.raises(ValueError, match="rank"):
        _power_deflation(np.zeros((6, 6)), 1, 10)


def test_composes_with_semantic_dedup(spark):
    """The 100 TB composition the operator exists for: whiten-project the
    corpus down to the informative axes, then run SemDeDup on the compact
    vectors. Planted near-duplicate pairs survive the projection (a
    linear map sends x and x+eps to nearby points) and are folded by
    semantic_dedup over the PROJECTED column."""
    from pyspark.sql import functions as F

    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import (
        semantic_dedup,
    )

    X = _planted(n=200, d=16, seed=31)
    # plant 5 near-duplicate pairs: row 100+i is row i + tiny noise
    r = np.random.default_rng(99)
    for i in range(5):
        X[100 + i] = X[i] + 1e-3 * r.standard_normal(16)
    df = _df(spark, X)
    model = train_pca(df, "embedding", 4, iters=40)
    proj = project_embeddings(df, "vec_id", "embedding", model).select(
        "vec_id", F.col("pc").cast("array<float>").alias("pc")
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            proj, "vec_id", "pc", threshold=0.999, n_cells=16, keeper="min_id"
        ).collect()
    }
    assert len(out) == 200  # nothing silently dropped
    for i in range(5):
        a, b = out[i], out[100 + i]
        kept = [x for x in (a, b) if x["keep"]]
        dropped = [x for x in (a, b) if not x["keep"]]
        # the planted pair folds: exactly one survivor, the drop points home
        assert len(kept) == 1 and len(dropped) == 1, (i, a, b)
        assert dropped[0]["duplicate_of"] == kept[0]["vec_id"]



def test_string_ids_project(spark):
    """The projection derives its id type from the input — string-keyed
    corpora work (the decontam operator's integral-id lesson, applied
    at birth instead of retrofitted)."""
    X = _planted(n=30, d=6, seed=41)
    df = spark.createDataFrame(
        [(f"doc-{i}", [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id string, embedding array<float>",
    )
    model = train_pca(df, "embedding", 2, iters=10)
    out = project_embeddings(df, "vec_id", "embedding", model).collect()
    assert len(out) == 30 and out[0]["vec_id"].startswith("doc-")


def test_whiten_never_nan_on_degenerate_tail(spark):
    """A float-negative trailing eigenvalue (deflation residue on a
    near-degenerate spectrum) must clip, not sqrt to NaN."""
    model = PCAModel(
        mean=np.zeros(4),
        components=np.eye(4)[:2],
        eigenvalues=np.array([1.0, -1e-12]),
        n_rows=10,
    )
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    row = project_embeddings(df, "vec_id", "embedding", model, whiten=True).first()
    assert all(np.isfinite(row["pc"]))


def test_incremental_moments_match_full_fit(spark, tmp_path):
    """The append path: moments of batch A merged with moments of batch B
    reproduce the full-corpus model without re-reading A — a 100 TB
    corpus refreshes its PCA with one pass over the new batch. Agreement
    is up to float summation order, far inside the 1e-6 verdict
    precision."""
    from youtube_analytics_lakehouse_databricks_spark.operators.pca import (
        PCAMoments,
        compute_moments,
        solve_pca,
    )

    X = _planted(n=360, d=12, seed=17)
    a, b = X[:240], X[240:]
    full = train_pca(_df(spark, X), "embedding", 3, iters=20)
    ma = compute_moments(_df(spark, a), "embedding")
    # persist/restore between "runs" like curate_incremental's state
    path = str(tmp_path / "pca_moments")
    ma.save(spark, path)
    ma_back = PCAMoments.load(spark, path)
    assert ma_back.n == ma.n == 240
    mb = compute_moments(
        spark.createDataFrame(
            [(240 + i, [float(x) for x in row]) for i, row in enumerate(b)],
            "vec_id long, embedding array<float>",
        ),
        "embedding",
    )
    inc = solve_pca(ma_back.merge(mb), 3, iters=20)
    assert inc.n_rows == full.n_rows == 360
    assert np.allclose(inc.eigenvalues, full.eigenvalues, atol=1e-9)
    assert np.allclose(inc.components, full.components, atol=1e-8)
    assert np.allclose(inc.mean, full.mean, atol=1e-12)
    # dimension-mismatch merges fail loudly
    bad = compute_moments(
        spark.createDataFrame(
            [(0, [1.0, 2.0])], "vec_id long, embedding array<float>"
        ),
        "embedding",
    )
    with pytest.raises(ValueError, match="dimension mismatch"):
        ma_back.merge(bad)


def test_ragged_and_wrong_dim_guards(spark):
    """The kernels get the same loud named-failure treatment as
    assign_cells (r11 VERDICT #1): a ragged vector in a PCA fit or
    projection is a data bug — named error, never a raw np.stack shape
    trace; a wrong-dimension MODEL names the fitted d."""
    from youtube_analytics_lakehouse_databricks_spark.operators.pca import PCAMoments, compute_moments

    X = _planted(n=40, d=6, seed=5)
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(X)]
    ragged = spark.createDataFrame(
        rows + [(99, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        compute_moments(ragged, "embedding")
    with pytest.raises(Exception, match="ragged"):
        model6 = train_pca(_df(spark, X), "embedding", 2, iters=5)
        project_embeddings(ragged, "vec_id", "embedding", model6).collect()

    # wrong-dimension model: every vector is 4-dim, model fitted on 6
    model6 = train_pca(_df(spark, X), "embedding", 2, iters=5)
    four = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="6-dim"):
        project_embeddings(four, "vec_id", "embedding", model6).collect()

    # moment merge validates BOTH s and o shapes
    m = compute_moments(_df(spark, X), "embedding")
    bad = PCAMoments(n=m.n, s=m.s, o=np.zeros((3, 3)))
    with pytest.raises(ValueError, match="second-moment"):
        m.merge(bad)


def test_composes_with_ivf_ann(spark):
    """PCA as the ANN pre-step (the operator tour's claim, made
    evidence): project the 16-d corpus onto its 4 informative axes and
    run IVF ANN over the COMPACT vectors. Recall vs the exact top-k in
    the projected space stays high (the composition is sound), and the
    projected neighbors still recover most of the FULL-dim exact
    neighbors on planted-structure data (the projection kept the
    geometry that matters)."""
    from pyspark.sql import functions as F

    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    X = _planted(n=300, d=16, seed=37)
    df = _df(spark, X)
    model = train_pca(df, "embedding", 4, iters=40)
    proj = (
        project_embeddings(df, "vec_id", "embedding", model)
        .select("vec_id", F.col("pc").cast("array<float>").alias("pc"))
        .cache()
    )

    def pairs(out):
        return {(r["query_id"], r["neighbor_id"]) for r in out.collect()}

    K = 5
    ivf = pairs(ivf_topk(proj, "vec_id", "pc", n_cells=8, n_probe=3, k=K))
    exact_pc = pairs(cosine_topk(proj, "vec_id", "pc", k=K))
    exact_full = pairs(cosine_topk(df, "vec_id", "embedding", k=K))
    recall_same_space = len(ivf & exact_pc) / len(exact_pc)
    recall_vs_full = len(ivf & exact_full) / len(exact_full)
    print(f"recall same-space {recall_same_space:.3f} vs-full {recall_vs_full:.3f}")
    assert recall_same_space >= 0.85
    assert recall_vs_full >= 0.5


def test_whitened_int8_shrinks_similarity_error(spark):
    """project(whiten=True) -> int8 beats int8 -> project on the
    geometry downstream actually uses. Both pipelines deliver WHITENED
    similarities to ANN/dedup from int8-stored embeddings; quantizing
    BEFORE the projection spends the 127-level budget on the offset +
    top-axis-dominated raw max-abs scale, and whitening then AMPLIFIES
    that quantization noise on the low-variance axes — quantizing the
    already-whitened axes spreads the same budget over unit-variance
    coordinates. (Judging each space against its own exact cosines would
    be misleading: raw cosines are inflated toward 1 by the shared mean
    offset, hiding the damage.)"""
    import itertools

    X = _planted(n=120, d=16, seed=43)
    df = _df(spark, X)
    model = train_pca(df, "embedding", 4, iters=40)
    wproj = {
        r["vec_id"]: np.asarray(r["pc"])
        for r in project_embeddings(
            df, "vec_id", "embedding", model, whiten=True
        ).collect()
    }
    W = np.stack([wproj[i] for i in range(len(X))])  # exact whitened coords

    def int8_roundtrip(m):
        scale = np.maximum(np.abs(m).max(axis=1, keepdims=True), 1e-30)
        return np.round(m / scale * 127) * scale / 127

    # pipeline A: int8 in RAW space, then whiten-project the dequantized
    # vectors (the model's own transform, mirrored in numpy)
    comps = np.asarray(model.components)
    wscale = 1.0 / np.sqrt(np.maximum(np.asarray(model.eigenvalues), 0.0) + 1e-12)
    W_from_raw_q = ((int8_roundtrip(X) - np.asarray(model.mean)) @ comps.T) * wscale
    # pipeline B: whiten-project first, int8 the compact coords
    W_q = int8_roundtrip(W)

    def mean_cos_err(approx):
        t = W / np.linalg.norm(W, axis=1, keepdims=True)
        a = approx / np.linalg.norm(approx, axis=1, keepdims=True)
        idx = list(itertools.combinations(range(0, len(W), 7), 2))
        return float(
            np.mean([abs(float(t[i] @ t[j]) - float(a[i] @ a[j])) for i, j in idx])
        )

    raw_first_err = mean_cos_err(W_from_raw_q)
    whiten_first_err = mean_cos_err(W_q)
    print(f"int8 whitened-cos error raw-first {raw_first_err:.6f} "
          f"whiten-first {whiten_first_err:.6f}")
    # measured ~1.8x on this spectrum (whiten-first 0.0020 vs raw-first
    # 0.0035); the margin asserts a real, not epsilon, improvement
    assert whiten_first_err < 0.75 * raw_first_err
