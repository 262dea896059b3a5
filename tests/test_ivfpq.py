"""IVFPQ (operators/ivf_index.py): coarse cells + PQ-compressed
residuals — the FAISS IndexIVFPQ serving shape.

Contracts: the build is deterministic and partition-invariant; search
scans ONLY the probed cells' code rows (plan-asserted partition
pruning) over a corpus layout measured at a fraction of the flat-index
bytes; residual encoding beats raw-vector PQ at the same code budget;
recall against exact cosine is high on structured data and improves
with n_probe; the refined two-stage search equals flat IVF at an
exhaustive budget; guards are loud and named.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
    build_ivfpq_index,
    ivfpq_search,
)
from youtube_analytics_lakehouse_databricks_spark.operators.similarity import cosine_topk

N, D = 400, 16


def _planted(n=N, d=D, seed=13):
    """Anisotropic cloud (the test_pq corpus): residual codebooks have
    real structure to learn and exact top-k has real neighbors."""
    r = np.random.default_rng(seed)
    q, _ = np.linalg.qr(r.standard_normal((d, d)))
    scales = np.array([8.0, 5.0, 3.0, 2.0] + [0.4] * (d - 4))
    return r.standard_normal((n, d)) @ (q * scales).T


def _df(spark, X, start=0):
    return spark.createDataFrame(
        [(start + i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )


def _res(df):
    return sorted(map(tuple, df.collect()))


def _recall(spark, df, hits, k):
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(df, "vec_id", "embedding", k=k).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in hits.collect()}
    return len(got & exact) / len(exact)


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    df = _df(spark, _planted())
    build_ivfpq_index(
        df, "vec_id", "embedding", path,
        n_cells=8, kmeans_iters=3, m=8, n_codes=64, pq_iters=5,
    )
    return path, df


def test_build_is_deterministic_and_partition_invariant(spark, index, tmp_path):
    path, df = index
    repath = str(tmp_path / "re")
    build_ivfpq_index(
        df.repartition(13), "vec_id", "embedding", repath,
        n_cells=8, kmeans_iters=3, m=8, n_codes=64, pq_iters=5,
    )
    stored = lambda p: sorted(  # noqa: E731
        (r["vec_id"], r["cell"], tuple(r["codes"]))
        for r in spark.read.parquet(f"{p}/corpus_pq").collect()
    )
    assert stored(path) == stored(repath)


def test_recall_and_probe_monotonicity(spark, index):
    """ADC-over-residuals recall vs exact cosine: decent at 2 probes,
    near-exhaustive probing recovers most of the exact top-k despite the
    8-byte codes; recall is non-decreasing in n_probe."""
    path, df = index
    r2 = _recall(
        spark, df,
        ivfpq_search(spark, path, df, "vec_id", "embedding",
                     n_probe=2, k=10, exclude_self=True),
        k=10,
    )
    r8 = _recall(
        spark, df,
        ivfpq_search(spark, path, df, "vec_id", "embedding",
                     n_probe=8, k=10, exclude_self=True),
        k=10,
    )
    assert r8 >= r2, (r2, r8)
    assert r2 >= 0.35, r2
    assert r8 >= 0.55, r8


def test_residual_encoding_beats_raw_pq_at_same_budget(spark, index):
    """The reason IVFPQ encodes residuals: at the SAME code budget,
    reconstruction in the normalized space is strictly better through
    the centroid + residual-codes path than through raw-vector PQ codes
    (residuals are centered near zero per cell, so the codebooks spend
    their 64 entries on a tighter distribution)."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import load_ivf_centroids
    from youtube_analytics_lakehouse_databricks_spark.operators.pq import PQModel, pq_encode, train_pq

    path, df = index
    cents = load_ivf_centroids(path)
    books = np.asarray(PQModel.load(f"{path}/pq_model").codebooks)
    stored = {
        r["vec_id"]: (r["cell"], np.asarray(r["codes"]))
        for r in spark.read.parquet(f"{path}/corpus_pq").collect()
    }
    raw_model = train_pq(df, "vec_id", "embedding", m=8, n_codes=64, iters=5)
    raw_books = np.asarray(raw_model.codebooks)
    raw_codes = {
        r["vec_id"]: np.asarray(r["codes"])
        for r in pq_encode(df, "vec_id", "embedding", raw_model).collect()
    }
    rows = df.collect()
    d_sub = D // 8

    def decode(books_, codes):
        return np.concatenate([books_[s, codes[s]] for s in range(8)])

    err_resid, err_raw = 0.0, 0.0
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        xn = x / np.linalg.norm(x)
        cell, codes = stored[r["vec_id"]]
        recon_resid = cents[cell] + decode(books, codes)
        recon_raw = decode(raw_books, raw_codes[r["vec_id"]])
        recon_raw /= max(np.linalg.norm(recon_raw), 1e-30)
        err_resid += float(np.linalg.norm(xn - recon_resid) ** 2)
        err_raw += float(np.linalg.norm(xn - recon_raw) ** 2)
    assert err_resid < err_raw, (err_resid, err_raw)


def test_search_scan_is_partition_pruned(spark, index):
    """The scan is pruned to the probed cells: PartitionFilters names
    them and the scanned partition count is bounded by queries *
    n_probe (the flat-index contract, kept over the compressed rows)."""
    path, df = index
    queries = df.filter(F.col("vec_id") < 2)
    out = ivfpq_search(spark, path, queries, "vec_id", "embedding", n_probe=2, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell#" in line and " IN (" in line, line
    n_cells_scanned = line.split(" IN (")[1].split(")")[0].count(",") + 1
    assert n_cells_scanned <= 4, line
    assert len(out.collect()) > 0


def test_compressed_layout_bytes_measured(spark, tmp_path):
    """The second 100 TB factor: the scanned layout is the COMPRESSED
    one. Measured, not asserted from arithmetic — at a corpus size where
    payload dominates parquet framing (8k x 64-d), the corpus_pq
    directory is under 0.2x the flat (id, v, cell) layout's bytes; the
    raw-payload ratio is 16/264 ~ 0.06 and incompressible random floats
    keep the flat side honest. (At 400 x 16-d the same measurement reads
    ~0.7 — per-file framing dominates — which is why this test sizes the
    corpus instead of relaxing the threshold.)"""
    import os

    r = np.random.default_rng(41)
    X = r.standard_normal((8000, 64))
    df = _df(spark, X).repartition(8)
    path = str(tmp_path / "big")
    build_ivfpq_index(
        df, "vec_id", "embedding", path,
        n_cells=8, kmeans_iters=2, m=8, n_codes=64, pq_iters=3,
    )

    def dir_bytes(p):
        total = 0
        for root, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import load_ivf_centroids
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import assign_cells

    flat = f"{path}_flatcmp"
    assign_cells(df, "vec_id", "embedding", load_ivf_centroids(path)).select(
        "vec_id", "v", F.col("cluster").alias("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(flat)
    ratio = dir_bytes(f"{path}/corpus_pq") / dir_bytes(flat)
    assert ratio < 0.2, ratio


def test_guards(spark, index, tmp_path):
    path, df = index
    strdf = df.selectExpr("CAST(vec_id AS STRING) AS vec_id", "embedding")
    with pytest.raises(ValueError, match="integral id"):
        build_ivfpq_index(strdf, "vec_id", "embedding", str(tmp_path / "x"))
    with pytest.raises(ValueError, match="integral id"):
        ivfpq_search(spark, path, strdf, "vec_id", "embedding")
    with pytest.raises(ValueError, match="empty query"):
        ivfpq_search(spark, path, df.filter("vec_id < 0"), "vec_id", "embedding")
    wrongd = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=f"{D}-dim"):
        ivfpq_search(spark, path, wrongd, "vec_id", "embedding")
    ragged = spark.createDataFrame(
        [(1, [1.0] * D), (2, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivfpq_search: ragged embedding"):
        ivfpq_search(spark, path, ragged, "vec_id", "embedding")
    # a NULL query vector is named, alone or next to a real vector
    null_only = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivfpq_search: NULL embedding query vector"):
        ivfpq_search(spark, path, null_only, "vec_id", "embedding")
    null_mixed = spark.createDataFrame(
        [(1, None), (2, [1.0] * D)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivfpq_search: NULL embedding query vector"):
        ivfpq_search(spark, path, null_mixed, "vec_id", "embedding")


def _ivfpq_mirror_sql(
    d: int, n_cells: int, q_iters: int, m: int, n_codes: int,
    pq_iters: int, n_probe: int, k: int,
) -> str:
    """DuckDB mirror of build_ivfpq_index + ivfpq_search (corpus as
    queries, exclude_self): the quantizer unroll is the REGISTERED IVF
    oracle's `_quantizer_ctes` (same trainer, same sample bound), the
    residual codebook rounds mirror the registered PQ oracle's Lloyd CTE
    (expanded-form L2, lowest-code ties, empty codes keep centroids),
    and the ADC search mirrors the operator's accumulation order
    (subspace-ordered lookups, bias added last, 1e-6 rounding). Built
    here instead of a registry row because the 50-slot budget is full
    and every component recurrence is ALREADY oracled (`embedding_ivf_ann`,
    `embedding_pq_adc`) — this pins their COMPOSITION."""
    from youtube_analytics_lakehouse_databricks_spark.queries.vectorops import (
        _DOT_D_DD,
        _NORM_DD,
        _quantizer_ctes,
    )

    d_sub = d // m
    sp_values = ", ".join(f"({s})" for s in range(m))
    slice_expr = "{v}[s.s * {ds} + 1 : s.s * {ds} + {ds}]".format(v="{v}", ds=d_sub)

    def pq_round(kk: int) -> str:
        d2 = (
            f"{_DOT_D_DD.format(a='s.sv', b='s.sv')} - 2 * "
            f"{_DOT_D_DD.format(a='s.sv', b='c.v')} + "
            f"{_DOT_D_DD.format(a='c.v', b='c.v')}"
        )
        return f"""
        pa{kk} AS (
          SELECT rnk, sp, sv, code, row_number() OVER (
            PARTITION BY sp, rnk ORDER BY d2 ASC, code ASC) AS rn
          FROM (SELECT s.rnk, s.sp, s.sv, c.code, {d2} AS d2
                FROM rsub s JOIN pc{kk - 1} c ON c.sp = s.sp)
        ),
        pm{kk} AS (
          SELECT sp, code, i, avg(sv[i]) AS mv
          FROM (SELECT * FROM pa{kk} WHERE rn = 1), range(1, {d_sub + 1}) r(i)
          GROUP BY sp, code, i
        ),
        pmm{kk} AS (
          SELECT sp, code, list(mv ORDER BY i) AS mv FROM pm{kk} GROUP BY sp, code
        ),
        pc{kk} AS MATERIALIZED (
          SELECT p.sp, p.code, CASE WHEN mm.code IS NULL THEN p.v ELSE mm.mv END AS v
          FROM pc{kk - 1} p LEFT JOIN pmm{kk} mm ON mm.sp = p.sp AND mm.code = p.code
        )"""

    rounds = ",".join(pq_round(kk) for kk in range(1, pq_iters + 1))
    enc_d2 = (
        f"{_DOT_D_DD.format(a='cs.sv', b='cs.sv')} - 2 * "
        f"{_DOT_D_DD.format(a='cs.sv', b='c.v')} + "
        f"{_DOT_D_DD.format(a='c.v', b='c.v')}"
    )
    raw_norm = _NORM_DD.format(a="embedding")
    return f"""
    WITH RECURSIVE {_quantizer_ctes(n_cells, q_iters)},
    corpusn AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(x AS DOUBLE) / greatest(nrm, 1e-30)) AS v
      FROM (SELECT vec_id, embedding, {raw_norm} AS nrm FROM embeddings)
    ),
    fa AS MATERIALIZED (
      SELECT vec_id, v, cell, sim, row_number() OVER (
        PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn
      FROM (SELECT s.vec_id, s.v, c.cell, {_DOT_D_DD.format(a='s.v', b='c.v')} AS sim
            FROM corpusn s CROSS JOIN c{q_iters} c)
    ),
    resid AS MATERIALIZED (
      SELECT a.vec_id, a.cell,
             list_transform(list_zip(a.v, c.v), p -> p[1] - p[2]) AS rv
      FROM fa a JOIN c{q_iters} c ON c.cell = a.cell WHERE a.rn = 1
    ),
    rsub AS MATERIALIZED (
      SELECT r.vec_id, rr.rnk, s.s AS sp, {slice_expr.format(v='r.rv')} AS sv
      FROM resid r
      JOIN (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rnk
            FROM resid) rr ON rr.vec_id = r.vec_id,
           (VALUES {sp_values}) s(s)
    ),
    pc0 AS MATERIALIZED (
      SELECT sp, CAST(rn - 1 AS INT) AS code, sv AS v FROM (
        SELECT sp, sv, row_number() OVER (
          PARTITION BY sp ORDER BY first_rnk ASC) AS rn
        FROM (SELECT sp, sv, min(rnk) AS first_rnk FROM rsub GROUP BY sp, sv))
      WHERE rn <= {n_codes}
    ),{rounds},
    enc AS MATERIALIZED (
      SELECT vec_id, sp, code FROM (
        SELECT cs.vec_id, cs.sp, c.code, row_number() OVER (
          PARTITION BY cs.vec_id, cs.sp ORDER BY {enc_d2} ASC, c.code ASC) AS rn
        FROM (SELECT vec_id, rnk, sp, sv FROM rsub) cs
        JOIN pc{pq_iters} c ON c.sp = cs.sp) WHERE rn = 1
    ),
    cellof AS (SELECT vec_id, cell FROM fa WHERE rn = 1),
    probes AS (SELECT vec_id, cell, sim FROM fa WHERE rn <= {n_probe}),
    qsub AS (
      SELECT vec_id, s.s AS sp, {slice_expr.format(v='v')} AS sv
      FROM corpusn, (VALUES {sp_values}) s(s)
    ),
    tbl AS MATERIALIZED (
      SELECT q.vec_id AS query_id, q.sp, cb.code,
             {_DOT_D_DD.format(a='q.sv', b='cb.v')} AS ip_s
      FROM qsub q JOIN pc{pq_iters} cb ON cb.sp = q.sp
    ),
    ips AS (
      SELECT p.vec_id AS query_id, e.vec_id AS neighbor_id, p.sim, t.sp, t.ip_s
      FROM probes p
      JOIN cellof co ON co.cell = p.cell AND co.vec_id <> p.vec_id
      JOIN enc e ON e.vec_id = co.vec_id
      JOIN tbl t ON t.query_id = p.vec_id AND t.sp = e.sp AND t.code = e.code
    ),
    adc AS (
      SELECT query_id, neighbor_id,
             round(list_reduce(list_prepend(0.0, list(ip_s ORDER BY sp)),
                               (acc, x) -> acc + x) + any_value(sim), 6) AS adc_cosine
      FROM ips GROUP BY query_id, neighbor_id
    )
    SELECT query_id, neighbor_id, adc_cosine, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id
        ORDER BY adc_cosine DESC, neighbor_id ASC) AS rank
      FROM adc) WHERE rank <= {k}
    """


def test_search_matches_duckdb_mirror(spark, tmp_path):
    """Cross-engine pin for the COMPOSITION: a DuckDB rebuild of the
    whole IVFPQ path (quantizer unroll -> residuals -> residual Lloyd
    rounds -> encoding -> subspace-ordered ADC with the centroid bias)
    reproduces ivfpq_search row for row at oracle-tractable sizes."""
    import duckdb
    import pyarrow as pa

    d, n_cells, q_iters, m, n_codes, pq_iters, n_probe, k = 16, 4, 3, 4, 8, 3, 2, 5
    X = _planted(n=200, d=d, seed=31)
    df = _df(spark, X)
    path = str(tmp_path / "mirror")
    build_ivfpq_index(
        df, "vec_id", "embedding", path,
        n_cells=n_cells, kmeans_iters=q_iters,
        m=m, n_codes=n_codes, pq_iters=pq_iters,
    )
    got = _res(
        ivfpq_search(spark, path, df, "vec_id", "embedding",
                     n_probe=n_probe, k=k, exclude_self=True)
    )

    con = duckdb.connect()
    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(X)), pa.int64()),
            "embedding": pa.array(
                [[float(np.float32(v)) for v in row] for row in X],
                pa.list_(pa.float32()),
            ),
        }
    )
    con.register("embeddings", tbl)
    want = sorted(
        map(tuple, con.execute(
            _ivfpq_mirror_sql(d, n_cells, q_iters, m, n_codes,
                              pq_iters, n_probe, k)
        ).fetchall())
    )
    assert len(got) == len(want) and len(got) > 0
    assert got == want


def test_refined_search_with_exhaustive_budget_equals_flat_ivf(spark, tmp_path):
    """Two-stage retrieval parity: with a refine budget covering every
    probed candidate, the ADC shortlist + exact re-rank reproduces
    ivf_search on the flat index BIT FOR BIT (both indexes share the
    deterministic quantizer, so they probe the same cells; the re-rank
    uses the flat regime's float32 vectors, truncated queries, and 1e-6
    rounding). A small budget then trades that equivalence for a cheaper
    re-rank but must still beat ADC-only recall."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        build_ivf_index,
        ivf_search,
        ivfpq_search_refined,
    )

    X = _planted(n=300, d=D, seed=47)
    df = _df(spark, X)
    pq_path = str(tmp_path / "pq")
    flat_path = str(tmp_path / "flat")
    build_ivfpq_index(
        df, "vec_id", "embedding", pq_path,
        n_cells=8, kmeans_iters=3, m=8, n_codes=64, pq_iters=5,
    )
    build_ivf_index(df, "vec_id", "embedding", flat_path, n_cells=8, kmeans_iters=3)

    got = _res(
        ivfpq_search_refined(
            spark, pq_path, flat_path, df, "vec_id", "embedding",
            n_probe=2, refine=300, k=5, exclude_self=True,
        )
    )
    want = _res(
        ivf_search(spark, flat_path, df, "vec_id", "embedding",
                   n_probe=2, k=5, exclude_self=True)
    )
    assert got == want

    # a bounded budget: exact-cosine re-rank of a 20-candidate shortlist
    # must recall at least as much of the exact top-k as the raw ADC
    # ranking it refines
    refined = ivfpq_search_refined(
        spark, pq_path, flat_path, df, "vec_id", "embedding",
        n_probe=2, refine=20, k=5, exclude_self=True,
    )
    adc_only = ivfpq_search(
        spark, pq_path, df, "vec_id", "embedding",
        n_probe=2, k=5, exclude_self=True,
    )
    assert _recall(spark, df, refined, 5) >= _recall(spark, df, adc_only, 5)

    with pytest.raises(ValueError, match="refine=3 must be >= k=5"):
        ivfpq_search_refined(
            spark, pq_path, flat_path, df, "vec_id", "embedding",
            refine=3, k=5,
        )

    # array<double> queries: the refine pass must probe with the SAME
    # float32-truncated matrix the shortlist pass used — a float64 probe
    # could prune away a cell the shortlist came from and silently drop
    # its candidates from the re-rank
    ddf = df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    got64 = _res(
        ivfpq_search_refined(
            spark, pq_path, flat_path, ddf, "vec_id", "embedding",
            n_probe=2, refine=300, k=5, exclude_self=True,
        )
    )
    want64 = _res(
        ivf_search(spark, flat_path, ddf, "vec_id", "embedding",
                   n_probe=2, k=5, exclude_self=True)
    )
    assert got64 == want64


def test_refined_search_guards_diverged_indexes(spark, tmp_path):
    """The two-index precondition fails LOUDLY, not silently: a pq/flat
    pair with different quantizers raises, and a pair whose corpora
    diverged (extra rows on one side only) raises naming the row counts
    — the silent-drop alternative would return stale neighbors with
    clean ranks."""
    import os
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        build_ivf_index,
        ivfpq_search_refined,
    )

    X = _planted(n=120, seed=53)
    df = _df(spark, X)
    pq_path = str(tmp_path / "pq")
    flat_path = str(tmp_path / "flat")
    build_ivfpq_index(df, "vec_id", "embedding", pq_path,
                      n_cells=4, kmeans_iters=2, m=8, n_codes=32, pq_iters=3)
    build_ivf_index(df, "vec_id", "embedding", flat_path,
                    n_cells=4, kmeans_iters=2)

    # different quantizer: flat index trained at another cell count
    other_flat = str(tmp_path / "flat_other")
    build_ivf_index(df, "vec_id", "embedding", other_flat,
                    n_cells=8, kmeans_iters=2)
    with pytest.raises(ValueError, match="DIFFERENT quantizers"):
        ivfpq_search_refined(spark, pq_path, other_flat, df,
                             "vec_id", "embedding", refine=10, k=5)

    # diverged corpora: one cell file of the pq side written twice
    pq2 = str(tmp_path / "pq2")
    shutil.copytree(pq_path, pq2)
    cell_dir = next(
        f"{pq2}/corpus_pq/{c}"
        for c in sorted(os.listdir(f"{pq2}/corpus_pq"))
        if c.startswith("cell=")
    )
    part = next(f for f in os.listdir(cell_dir) if f.endswith(".parquet"))
    shutil.copy(f"{cell_dir}/{part}", f"{cell_dir}/dup-{part}")
    extra = spark.read.parquet(f"{cell_dir}/{part}").count()
    with pytest.raises(ValueError, match=f"{120 + extra} rows.*120"):
        ivfpq_search_refined(spark, pq2, flat_path, df,
                             "vec_id", "embedding", refine=10, k=5)


def test_refined_validate_false_same_results_on_consistent_pair(spark, tmp_path):
    """validate=False (the hot-serving knob) skips the footer checks but
    changes nothing else on a consistent index pair."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        build_ivf_index,
        ivfpq_search_refined,
    )

    X = _planted(n=120, seed=57)
    df = _df(spark, X)
    pq_path, flat_path = str(tmp_path / "pq"), str(tmp_path / "flat")
    build_ivfpq_index(df, "vec_id", "embedding", pq_path,
                      n_cells=4, kmeans_iters=2, m=8, n_codes=32, pq_iters=3)
    build_ivf_index(df, "vec_id", "embedding", flat_path,
                    n_cells=4, kmeans_iters=2)
    kw = dict(n_probe=2, refine=20, k=5, exclude_self=True)
    a = _res(ivfpq_search_refined(spark, pq_path, flat_path, df,
                                  "vec_id", "embedding", **kw))
    b = _res(ivfpq_search_refined(spark, pq_path, flat_path, df,
                                  "vec_id", "embedding", validate=False, **kw))
    assert a == b and len(a) > 0
