"""Persisted IVF index (operators/ivf_index.py): build / search.

Contracts under test: search over the persisted index is bit-identical
to ivf_topk given the same quantizer; the search SCAN is partition-
pruned to the probed cells; guards are loud and named.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
    build_ivf_index,
    ivf_search,
)
from youtube_analytics_lakehouse_databricks_spark.operators.similarity import ivf_topk

N, D = 240, 12


def _vecs(n=N, d=D, seed=7):
    r = np.random.default_rng(seed)
    return r.standard_normal((n, d))


def _df(spark, X, start=0):
    return spark.createDataFrame(
        [(start + i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )


def _res(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    df = _df(spark, _vecs())
    build_ivf_index(df, "vec_id", "embedding", path, n_cells=8, kmeans_iters=3)
    return path, df


def test_search_matches_ivf_topk_bit_for_bit(spark, index):
    """Same quantizer, same corpus-as-queries -> the persisted-index
    search reproduces ivf_topk exactly (cell assignment, probe
    tie-break, 1e-6 rounding, rank order)."""
    path, df = index
    got = _res(
        ivf_search(
            spark, path, df, "vec_id", "embedding", n_probe=2, k=5,
            exclude_self=True,  # corpus-as-queries IS the parity shape
        )
    )
    want = _res(ivf_topk(df, "vec_id", "embedding", n_cells=8, n_probe=2, k=5))
    assert got == want

    # parity must hold for array<double> input too: ivf_topk truncates
    # vectors to float32 through its Arrow schema, and ivf_search
    # truncates the query matrix the same way after probing
    ddf = df.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        dpath = f"{td}/index64"
        build_ivf_index(ddf, "vec_id", "embedding", dpath, n_cells=8, kmeans_iters=3)
        got64 = _res(
            ivf_search(
                spark, dpath, ddf, "vec_id", "embedding", n_probe=2, k=5,
                exclude_self=True,
            )
        )
        want64 = _res(
            ivf_topk(ddf, "vec_id", "embedding", n_cells=8, n_probe=2, k=5)
        )
        assert got64 == want64


def test_search_scan_is_partition_pruned(spark, index):
    """A small query batch reads only its probed cell directories — the
    PartitionFilters on the corpus scan name the probed cells, and the
    scanned partition count is bounded by queries * n_probe."""
    path, df = index
    queries = df.filter(F.col("vec_id") < 2)  # 2 queries, n_probe=2
    out = ivf_search(spark, path, queries, "vec_id", "embedding", n_probe=2, k=3)
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "cell#" in line and " IN (" in line, line
    n_cells_scanned = line.split(" IN (")[1].split(")")[0].count(",") + 1
    assert n_cells_scanned <= 4, line
    assert len(out.collect()) > 0


def test_guards(spark, index, tmp_path):
    path, df = index
    strdf = df.selectExpr("CAST(vec_id AS STRING) AS vec_id", "embedding")
    with pytest.raises(ValueError, match="integral id"):
        build_ivf_index(strdf, "vec_id", "embedding", str(tmp_path / "x"))
    with pytest.raises(ValueError, match="integral id"):
        ivf_search(spark, path, strdf, "vec_id", "embedding")
    with pytest.raises(ValueError, match="empty query"):
        ivf_search(spark, path, df.filter("vec_id < 0"), "vec_id", "embedding")
    wrongd = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=f"{D}-dim"):
        ivf_search(spark, path, wrongd, "vec_id", "embedding")
    # a NULL query vector is named, alone or next to a real vector
    null_only = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivf_search: NULL embedding query vector"):
        ivf_search(spark, path, null_only, "vec_id", "embedding")
    null_mixed = spark.createDataFrame(
        [(1, None), (2, [1.0] * D)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivf_search: NULL embedding query vector"):
        ivf_search(spark, path, null_mixed, "vec_id", "embedding")
    ragged = spark.createDataFrame(
        [(1, [1.0] * D), (2, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="ivf_search: ragged embedding"):
        ivf_search(spark, path, ragged, "vec_id", "embedding")
