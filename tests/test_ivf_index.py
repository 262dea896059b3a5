"""Persisted IVF index (operators/ivf_index.py): build / append / search.

Contracts under test: search over the persisted index is bit-identical
to ivf_topk given the same quantizer; the search SCAN is partition-
pruned to the probed cells; appends against the frozen quantizer leave
search results identical to a from-scratch build over the union (given
the same quantizer training corpus); guards are loud.
"""

from __future__ import annotations

import io
import os
import time
from contextlib import redirect_stdout

import numpy as np
import pytest
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
    append_ivf_index,
    build_ivf_index,
    ivf_search,
    load_ivf_centroids,
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


def _backdate(p, seconds=7200):
    t = time.time() - seconds
    os.utime(p, (t, t))


BATCH_LAYOUT_REFUSAL = "holds batch_id=K/cell=J partitions"


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


def test_append_equals_rebuild_under_frozen_quantizer(spark, index, tmp_path):
    """append_ivf_index assigns the new batch against the FROZEN
    quantizer; searching the appended index equals searching a
    from-scratch index built with the SAME quantizer over the union."""
    path, df = index
    X2 = _vecs(n=60, seed=11)
    batch = _df(spark, X2, start=N)
    append_ivf_index(batch, "vec_id", "embedding", path)

    union = df.unionByName(batch)
    got = _res(
        ivf_search(
            spark, path, union, "vec_id", "embedding", n_probe=2, k=5,
            exclude_self=True,
        )
    )
    # rebuild at the union but REUSING the frozen quantizer via ivf_topk
    # is not possible (it retrains) — instead rebuild the reference index
    # by assigning the union against the same persisted centroids
    ref_path = str(tmp_path / "ref")
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import assign_cells

    cents = load_ivf_centroids(path)
    assigned = assign_cells(union, "vec_id", "embedding", cents)
    assigned.select("vec_id", "v", F.col("cluster").alias("cell")).write.partitionBy(
        "cell"
    ).parquet(f"{ref_path}/corpus")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, v array<double>",
    ).write.parquet(f"{ref_path}/centroids")
    want = _res(
        ivf_search(
            spark, ref_path, union, "vec_id", "embedding", n_probe=2, k=5,
            exclude_self=True,
        )
    )
    assert got == want
    # the appended rows are actually searchable (a new vector's exact
    # duplicate planted in the batch must surface as its top neighbor)
    dup = _df(spark, X2[:1], start=9000)
    append_ivf_index(dup, "vec_id", "embedding", path)
    hit = (
        ivf_search(spark, path, dup, "vec_id", "embedding", n_probe=2, k=1)
        .collect()[0]
    )
    assert hit["neighbor_id"] == N and hit["cosine"] == 1.0


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


def test_distributed_search_matches_collect_path(spark, index):
    """ivf_search_distributed (no driver collect; query side probes via
    Arrow, corpus joins in pre-partitioned) returns bit-identical
    results to ivf_search on the same index — both exclude_self modes,
    external-namespace queries included."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        ivf_search_distributed,
    )

    path, df = index
    # external query namespace: fresh vectors whose ids collide with
    # corpus ids on purpose (the exclude_self distinction is visible)
    Q = _vecs(n=40, d=D, seed=99)
    queries = _df(spark, Q, start=0)
    for excl in (False, True):
        got = _res(
            ivf_search_distributed(
                spark, path, queries, "vec_id", "embedding",
                n_probe=2, k=5, exclude_self=excl,
            )
        )
        want = _res(
            ivf_search(
                spark, path, queries, "vec_id", "embedding",
                n_probe=2, k=5, exclude_self=excl,
            )
        )
        assert got == want, excl
    assert len(got) == 40 * 5


def test_distributed_search_has_no_corpus_assignment_pass(spark, index):
    """The stored corpus enters the distributed search ALREADY
    cell-partitioned: the plan's only Python evaluations are the query
    probe pass and the per-cell kernel — the corpus-side assign pass
    (ivf_topk's fused scan) is gone, paid once at build time."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        ivf_search_distributed,
    )

    path, df = index
    out = ivf_search_distributed(spark, path, df, "vec_id", "embedding")
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    # formatted explain lists each node twice (tree + numbered detail)
    assert plan.count("MapInPandas") == 2, plan  # ONE node: the query probe
    assert plan.count("FlatMapCoGroupsInPandas") == 2, plan  # ONE per-cell kernel


def test_bucketed_corpus_elides_its_search_exchange(spark, tmp_path):
    """build_ivf_index(bucket_table=...) stores the corpus bucketed by
    cell; ivf_search_distributed's cogroup then plans WITHOUT a
    corpus-side Exchange (the planner trusts the bucket distribution) —
    only the query rows shuffle on cell. Results stay bit-identical to
    the unbucketed path."""
    import re

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        ivf_search_distributed,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS ivfidx")
    df = _df(spark, _vecs(seed=21))
    plain = str(tmp_path / "plain")
    bucketed = str(tmp_path / "bucketed")
    build_ivf_index(df, "vec_id", "embedding", plain, n_cells=8, kmeans_iters=3)
    build_ivf_index(
        df, "vec_id", "embedding", bucketed, n_cells=8, kmeans_iters=3,
        bucket_table="ivfidx.corpus_b", n_buckets=8,
    )
    queries = _df(spark, _vecs(n=50, seed=22), start=5000)

    def plan_of(path):
        out = ivf_search_distributed(
            spark, path, queries, "vec_id", "embedding", n_probe=2, k=5
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        return out, buf.getvalue()

    out_p, plan_p = plan_of(plain)
    out_b, plan_b = plan_of(bucketed)

    def cell_exchanges(plan):
        # formatted explain puts Exchange args on their own line; each
        # exchange node contributes exactly one Arguments occurrence
        return len(re.findall(r"Arguments: hashpartitioning\(cell", plan))

    assert cell_exchanges(plan_p) == 2, plan_p  # both cogroup children shuffle
    assert cell_exchanges(plan_b) == 1, plan_b  # corpus side elided
    assert "Bucketed: true" in plan_b, plan_b
    assert _res(out_b) == _res(out_p)

    # appends keep the bucketed layout searchable and exchange-free
    batch = _df(spark, _vecs(n=30, seed=23), start=N + 1000)
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import append_ivf_index

    append_ivf_index(batch, "vec_id", "embedding", bucketed)
    append_ivf_index(batch, "vec_id", "embedding", plain)
    out_p2, _ = plan_of(plain)
    out_b2, plan_b2 = plan_of(bucketed)
    assert cell_exchanges(plan_b2) == 1, plan_b2
    assert _res(out_b2) == _res(out_p2)

    # salting over the BUCKETED corpus: the cogroup now keys on
    # (cell, salt), which the cell-bucketed layout no longer satisfies —
    # the planner must RE-INSERT the corpus exchange (a silently-kept
    # elision would mis-group rows) and results stay correct
    out_bs = ivf_search_distributed(
        spark, bucketed, queries, "vec_id", "embedding", n_probe=2, k=5,
        n_salt=2,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out_bs.explain("formatted")
    assert len(
        re.findall(r"Arguments: hashpartitioning\(cell", buf.getvalue())
    ) == 2, buf.getvalue()
    assert _res(out_bs) == _res(out_p2)


def test_salted_distributed_search_matches_unsalted(spark, index):
    """The hot-cell guard changes the physical grouping only: n_salt=3
    sub-splits every cell by pmod(id, 3) (bounded per-task groups), and
    the results are bit-identical to the unsalted path and to ivf_search
    — a global top-k neighbor is top-k within any group containing it,
    so the final re-rank window reconstructs the same answer."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        ivf_search_distributed,
    )

    path, df = index
    queries = _df(spark, _vecs(n=40, d=D, seed=77), start=0)
    want = _res(
        ivf_search(spark, path, queries, "vec_id", "embedding", n_probe=2, k=5)
    )
    for ns in (1, 3):
        got = _res(
            ivf_search_distributed(
                spark, path, queries, "vec_id", "embedding",
                n_probe=2, k=5, n_salt=ns,
            )
        )
        assert got == want, ns
    with pytest.raises(ValueError, match="n_salt must be >= 1"):
        ivf_search_distributed(
            spark, path, queries, "vec_id", "embedding", n_salt=0
        )


def test_cell_stats_detects_append_drift(spark, index, tmp_path):
    """ivf_cell_stats is the rebuild/salt trigger: on the freshly-built
    index occupancy is spread; after appending a pile of near-identical
    vectors (drifted distribution -> one frozen cell) the hot cell's
    skew stands out. Stats sum to the corpus and frac to 1."""
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        append_ivf_index,
        ivf_cell_stats,
    )

    path, df = index
    drifted = str(tmp_path / "drifted")
    shutil.copytree(path, drifted)
    before = {r["cell"]: r for r in ivf_cell_stats(spark, drifted).collect()}
    n_corpus = spark.read.parquet(f"{drifted}/corpus").count()
    assert sum(r["n_rows"] for r in before.values()) == n_corpus
    assert abs(sum(r["frac"] for r in before.values()) - 1.0) < 1e-9
    max_before = max(r["skew"] for r in before.values())

    # drift: one tight cluster, corpus-sized, lands in ONE frozen cell
    hot = np.tile(_vecs(n=1, d=D, seed=5), (n_corpus, 1)) + 1e-3 * _vecs(
        n=n_corpus, d=D, seed=6
    )
    append_ivf_index(_df(spark, hot, start=10_000), "vec_id", "embedding", drifted)
    after = ivf_cell_stats(spark, drifted).collect()
    assert sum(r["n_rows"] for r in after) == 2 * n_corpus
    assert max(r["skew"] for r in after) > 2 * max_before


def test_cell_stats_on_empty_index_raises_named(spark, tmp_path):
    """An index whose corpus/ is gone has no occupancy to report —
    named error, not a raw path failure."""
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import ivf_cell_stats

    path = str(tmp_path / "empty")
    build_ivf_index(
        _df(spark, _vecs(n=20)), "vec_id", "embedding", path, n_cells=2,
    )
    shutil.rmtree(f"{path}/corpus")
    with pytest.raises(ValueError, match="no corpus under"):
        ivf_cell_stats(spark, path)


def test_check_bucket_table_detects_diverged_dual_write(spark, tmp_path):
    """The bucketed copy is maintained by a NON-ATOMIC dual write: a
    crash between the dir-corpus append and the bucket-table append
    leaves the two serving copies diverged with no error at read time.
    check_bucket_table is the named detector; in-sync pairs (including
    right after a healthy append) pass, a simulated half-append raises."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        check_bucket_table,
        ivf_search_distributed,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS ivfidx")
    df = _df(spark, _vecs(n=80, seed=31))
    path = str(tmp_path / "dual")
    build_ivf_index(
        df, "vec_id", "embedding", path, n_cells=4, kmeans_iters=2,
        bucket_table="ivfidx.dual_b", n_buckets=4,
    )
    check_bucket_table(spark, path)  # fresh build: in sync
    batch = _df(spark, _vecs(n=20, seed=32), start=500)
    append_ivf_index(batch, "vec_id", "embedding", path)
    check_bucket_table(spark, path)  # healthy dual append: in sync

    # simulate the crash window: rows land in the dir corpus only
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import assign_cells

    half = _df(spark, _vecs(n=10, seed=33), start=900)
    cents = load_ivf_centroids(path)
    assign_cells(half, "vec_id", "embedding", cents).select(
        "vec_id", "v", F.col("cluster").alias("cell")
    ).write.mode("append").partitionBy("cell").parquet(f"{path}/corpus")

    # while an append's window sentinel is up, the SAME divergence is
    # likely the dual write's normal transient window — the detector
    # says so instead of prescribing a rebuild, and rebuild itself
    # refuses (racing an append would re-diverge the pair)
    import os as _os

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        rebuild_bucket_copy as _rebuild,
    )

    token = f"{path}/corpus/.append_inprogress_live"
    with open(token, "w") as fh:
        fh.write("append_ivf_index")
    with pytest.raises(ValueError, match="append is IN FLIGHT"):
        check_bucket_table(spark, path)
    with pytest.raises(ValueError, match="append\\(s\\) in flight"):
        _rebuild(spark, path)
    _os.remove(token)

    with pytest.raises(ValueError, match="an\\s+append crashed between its two writes"):
        check_bucket_table(spark, path)
    # the searches themselves still run (the detector is the contract)
    assert len(
        ivf_search_distributed(
            spark, path, df.filter("vec_id < 3"), "vec_id", "embedding", k=3
        ).collect()
    ) == 9

    # recovery is ONE call: rebuild_bucket_copy regenerates the bucketed
    # copy from the dir corpus (source of truth); the detector passes
    # again and the distributed search (bucket table) agrees with the
    # collected search (dir corpus) on the recovered rows
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        ivf_search,
        rebuild_bucket_copy,
    )

    rebuild_bucket_copy(spark, path)
    check_bucket_table(spark, path)
    queries = df.filter("vec_id < 3")
    key = lambda r: (r["query_id"], r["rank"])
    got = ivf_search_distributed(
        spark, path, queries, "vec_id", "embedding", n_probe=2, k=5
    ).collect()
    want = ivf_search(
        spark, path, queries, "vec_id", "embedding", n_probe=2, k=5
    ).collect()
    assert sorted(got, key=key) == sorted(want, key=key)
    # the recovered bucket copy really holds the half-appended rows
    assert spark.table("ivfidx.dual_b").count() == 110

    # unbucketed index: detector no-op, rebuild raises (nothing to rebuild)
    plain = str(tmp_path / "plain")
    build_ivf_index(df, "vec_id", "embedding", plain, n_cells=4, kmeans_iters=2)
    check_bucket_table(spark, plain)
    with pytest.raises(ValueError, match="no bucket_table"):
        rebuild_bucket_copy(spark, plain)


def test_suggest_n_salt_bounds_the_hot_cell(spark, index, tmp_path):
    """detector -> suggestion -> search: on a planted drift pile the
    suggestion is exactly ceil(hottest / target); feeding it back into
    the distributed search keeps results bit-identical (the n_salt
    parity contract) while bounding every cogroup task at ~target
    rows."""
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        append_ivf_index,
        ivf_cell_stats,
        ivf_search_distributed,
        suggest_n_salt,
    )

    path, df = index
    drifted = str(tmp_path / "drifted_salt")
    shutil.copytree(path, drifted)
    n_corpus = spark.read.parquet(f"{drifted}/corpus").count()
    hot = np.tile(_vecs(n=1, d=D, seed=5), (n_corpus, 1)) + 1e-3 * _vecs(
        n=n_corpus, d=D, seed=6
    )
    append_ivf_index(_df(spark, hot, start=10_000), "vec_id", "embedding", drifted)
    stats = ivf_cell_stats(spark, drifted)
    rows = stats.collect()
    hottest = max(r["n_rows"] for r in rows)
    target = 25
    # collected rows are the documented cheap input (the frame's lineage
    # is the corpus groupBy); both input forms agree
    ns = suggest_n_salt(rows, target)
    assert suggest_n_salt(stats, target) == ns
    assert ns == -(-hottest // target) > 1
    # ceil semantics: a budget >= the hottest cell needs no salt
    assert suggest_n_salt(stats, hottest) == 1
    with pytest.raises(ValueError, match="target_max_rows_per_task"):
        suggest_n_salt(stats, 0)
    queries = df.filter("vec_id < 3")
    key = lambda r: (r["query_id"], r["rank"])
    salted = ivf_search_distributed(
        spark, drifted, queries, "vec_id", "embedding", n_probe=2, k=5, n_salt=ns
    ).collect()
    plain_rows = ivf_search_distributed(
        spark, drifted, queries, "vec_id", "embedding", n_probe=2, k=5
    ).collect()
    assert sorted(salted, key=key) == sorted(plain_rows, key=key)


def test_compact_ivf_index_folds_append_files(spark, index, tmp_path, monkeypatch):
    """The batch-append layout's small-file maintenance: four appends
    leave multiple files per cell; compaction folds every over-budget
    cell to ONE file with the row set and search results bit-identical,
    is idempotent (second call folds nothing), recovers from a
    simulated crash mid-apply, and refuses a batch_id=K/cell=J corpus."""
    import os
    import shutil

    import youtube_analytics_lakehouse_databricks_spark.fsops as fsops
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        append_ivf_index,
        compact_ivf_index,
        ivf_search,
    )

    path, df = index
    target = str(tmp_path / "compactable")
    shutil.copytree(path, target)
    for i in range(4):
        append_ivf_index(
            _df(spark, _vecs(n=24, seed=40 + i), start=20_000 + 100 * i),
            "vec_id", "embedding", target,
        )
    corpus = f"{target}/corpus"

    def files_per_cell():
        return {
            d: sum(1 for f in os.listdir(f"{corpus}/{d}") if f.endswith(".parquet"))
            for d in os.listdir(corpus)
            if d.startswith("cell=")
        }

    before_files = files_per_cell()
    assert max(before_files.values()) > 1  # the appends really fragmented
    n_rows_before = _corpus_rows(corpus)
    queries = df.filter("vec_id < 3")
    want = _res(ivf_search(spark, target, queries, "vec_id", "embedding",
                           n_probe=2, k=5))

    # simulated crash mid-apply: the first cell-partition rename dies
    # AFTER the manifest+marker committed; the next call must finish
    orig_rename = fsops.DriverFS.rename
    state = {"crashed": False}

    def flaky_rename(self, src, dst):
        if "/cell=" in src and not state["crashed"]:
            state["crashed"] = True
            raise IOError("simulated crash mid-apply")
        return orig_rename(self, src, dst)

    with monkeypatch.context() as m:
        m.setattr(fsops.DriverFS, "rename", flaky_rename)
        with pytest.raises(IOError, match="simulated crash"):
            compact_ivf_index(spark, target)
    folded = compact_ivf_index(spark, target)  # recovery finishes the fold
    assert folded == sum(1 for v in before_files.values() if v > 1)

    after_files = files_per_cell()
    assert set(after_files) == set(before_files)  # no cell lost
    assert max(after_files.values()) == 1
    assert _corpus_rows(corpus) == n_rows_before
    got = _res(ivf_search(spark, target, queries, "vec_id", "embedding",
                          n_probe=2, k=5))
    assert got == want
    assert compact_ivf_index(spark, target) == 0  # idempotent

    # batch_id=K/cell=J layout: named refusal
    streamed = str(tmp_path / "streamed")
    shutil.copytree(path, streamed)
    os.makedirs(f"{streamed}/corpus/batch_id=0", exist_ok=True)
    with pytest.raises(ValueError, match=BATCH_LAYOUT_REFUSAL):
        compact_ivf_index(spark, streamed)


def test_index_health_matrix(spark, index, tmp_path):
    """index_health is the one-call composition of every detector: on a
    fixture that is simultaneously FRAGMENTED (appends), DRIFTED (a hot
    pile into one frozen cell), DIVERGED (half-append into the dir
    corpus only), and mid-FOLD (stage dir present), every row flags
    with its remediation named; after the remediations run, every row
    is green. batch_id=K/cell=J and missing corpora raise named errors."""
    import os
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        compact_ivf_index,
        index_health,
        rebuild_bucket_copy,
    )
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import assign_cells

    spark.sql("CREATE DATABASE IF NOT EXISTS ivfidx")
    df = _df(spark, _vecs(n=80, seed=41))
    path = str(tmp_path / "health")
    build_ivf_index(
        df, "vec_id", "embedding", path, n_cells=8, kmeans_iters=2,
        bucket_table="ivfidx.health_b", n_buckets=4,
    )
    # a fresh multi-task build itself writes several files per cell —
    # fragmentation.ok is defined as "compact_ivf_index would be a
    # no-op", so normalize once before the green baseline
    compact_ivf_index(spark, path)
    healthy = {r["check"]: r for r in index_health(spark, path).collect()}
    assert set(healthy) == {
        "pending_fold", "append_sentinels", "fold_lock", "fragmentation",
        "skew", "empty_cells", "bucket_divergence",
    }
    assert all(r["ok"] for r in healthy.values()), healthy
    assert all(r["remediation"] == "" for r in healthy.values())

    # fragment + drift: a tight corpus-sized pile lands in ONE frozen
    # cell across several appends
    hot = np.tile(_vecs(n=1, d=D, seed=42), (200, 1)) + 1e-3 * _vecs(
        n=200, d=D, seed=43
    )
    for i in range(3):
        append_ivf_index(
            _df(spark, hot, start=50_000 + 1_000 * i), "vec_id", "embedding", path
        )
    # diverge: rows land in the dir corpus only (simulated crash window)
    cents = load_ivf_centroids(path)
    assign_cells(
        _df(spark, _vecs(n=10, seed=44), start=90_000), "vec_id", "embedding", cents
    ).select("vec_id", "v", F.col("cluster").alias("cell")).write.mode(
        "append"
    ).partitionBy("cell").parquet(f"{path}/corpus")
    # mid-fold: the stage dir is present
    os.makedirs(f"{path}/corpus/.compact_tmp", exist_ok=True)

    sick = {
        r["check"]: r
        for r in index_health(
            spark, path, target_max_rows_per_task=100
        ).collect()
    }
    assert not sick["pending_fold"]["ok"]
    assert "compact_ivf_index" in sick["pending_fold"]["remediation"]
    assert not sick["fragmentation"]["ok"]
    assert "compact_ivf_index" in sick["fragmentation"]["remediation"]
    assert not sick["skew"]["ok"]
    # target_max_rows_per_task wires suggest_n_salt's exact answer in
    assert "n_salt=" in sick["skew"]["remediation"]
    import re

    n_salt = int(re.search(r"n_salt=(\d+)", sick["skew"]["remediation"]).group(1))
    assert n_salt >= 6  # hottest cell holds >= 600 planted rows, target 100
    assert not sick["bucket_divergence"]["ok"]
    assert "rebuild_bucket_copy" in sick["bucket_divergence"]["remediation"]

    # run the named remediations; the matrix goes green
    shutil.rmtree(f"{path}/corpus/.compact_tmp")
    assert compact_ivf_index(spark, path) > 0
    rebuild_bucket_copy(spark, path)
    after = {
        r["check"]: r
        for r in index_health(spark, path, skew_threshold=100.0).collect()
    }
    for check in ("pending_fold", "fragmentation", "bucket_divergence"):
        assert after[check]["ok"], after[check]

    # append sentinels: a FRESH one is healthy concurrency (folds are
    # refused but nothing is wrong); a STALE one is a crashed append
    # blocking maintenance — flagged with the file named
    token = f"{path}/corpus/.append_inprogress_stale"
    with open(token, "w") as fh:
        fh.write("append_ivf_index")
    row = {
        r["check"]: r for r in index_health(spark, path).collect()
    }["append_sentinels"]
    assert row["ok"] and "1 sentinel(s)" in row["observed"]
    os.utime(token, (1, 1))  # backdate far past the staleness budget
    row = {
        r["check"]: r for r in index_health(spark, path).collect()
    }["append_sentinels"]
    assert not row["ok"]
    assert ".append_inprogress_stale" in row["remediation"]
    os.remove(token)

    # fold lock: fresh = a fold is legitimately running; stale = its
    # process died holding it
    lock = f"{path}/corpus/.compact_lock"
    with open(lock, "w") as fh:
        fh.write("compact_ivf_index")
    row = {r["check"]: r for r in index_health(spark, path).collect()}["fold_lock"]
    assert row["ok"] and "held" in row["observed"]
    os.utime(lock, (1, 1))
    row = {r["check"]: r for r in index_health(spark, path).collect()}["fold_lock"]
    assert not row["ok"] and ".compact_lock" in row["remediation"]
    os.remove(lock)

    # named refusals: missing corpus and batch_id=K/cell=J layout
    with pytest.raises(ValueError, match="no corpus under"):
        index_health(spark, str(tmp_path / "nope"))
    streamed = str(tmp_path / "health_streamed")
    base, _ = index
    shutil.copytree(base, streamed)
    os.makedirs(f"{streamed}/corpus/batch_id=0", exist_ok=True)
    with pytest.raises(ValueError, match=BATCH_LAYOUT_REFUSAL):
        index_health(spark, streamed)


def test_batch_id_layout_refused_by_append_and_health(spark, index, tmp_path):
    """A corpus holding batch_id=K/cell=J partitions (written by an
    earlier version's streamed ingest) is input from outside: appending
    top-level cell=J partitions beside it would break partition
    discovery, so append_ivf_index and index_health both refuse with
    the one named message. The guard lists through the Hadoop FS, so it
    fires through a file: URI too. compact_ivf_index's refusal is in
    test_compact_ivf_index_folds_append_files."""
    import shutil

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        index_health,
    )

    path, df = index
    target = str(tmp_path / "batch_id_layout")
    shutil.copytree(path, target)
    os.makedirs(f"{target}/corpus/batch_id=0")
    for where in (target, f"file:{target}"):
        with pytest.raises(ValueError, match=BATCH_LAYOUT_REFUSAL):
            append_ivf_index(
                _df(spark, _vecs(n=8, seed=3), start=50_000),
                "vec_id", "embedding", where,
            )
    assert not [n for n in os.listdir(f"{target}/corpus") if n.startswith(".append")]
    with pytest.raises(ValueError, match=BATCH_LAYOUT_REFUSAL):
        index_health(spark, target)


def test_clear_stale_markers_contract(spark, tmp_path):
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        build_ivf_index,
        clear_stale_markers,
        index_health,
    )

    with pytest.raises(ValueError, match="does not exist"):
        clear_stale_markers(spark, str(tmp_path / "missing"))

    path = str(tmp_path / "bidx")
    build_ivf_index(
        _df(spark, _vecs(n=120, d=8, seed=3)), "vec_id", "embedding", path,
        n_cells=4, kmeans_iters=2,
    )
    # nothing to clear: empty report
    assert clear_stale_markers(spark, path).collect() == []

    sentinel = f"{path}/corpus/.append_inprogress_deadbeef"
    lock = f"{path}/corpus/.compact_lock"
    for p in (sentinel, lock):
        with open(p, "w") as fh:
            fh.write("crashed")

    # FRESH markers: refuse the whole call, delete nothing
    with pytest.raises(ValueError, match="younger than.*LIVE"):
        clear_stale_markers(spark, path)
    assert os.path.exists(sentinel) and os.path.exists(lock)

    # one stale + one fresh still refuses (live concurrency in flight)
    _backdate(sentinel)
    with pytest.raises(ValueError, match="younger than"):
        clear_stale_markers(spark, path)
    assert os.path.exists(sentinel)

    # both stale: cleared, reported with kinds and ages, and the
    # index_health rows the markers were blocking go green
    _backdate(lock)
    report = sorted(
        (r["marker"], r["kind"], r["age_sec"])
        for r in clear_stale_markers(spark, path).collect()
    )
    assert [(m, k) for m, k, _ in report] == [
        (sentinel, "append_sentinel"), (lock, "fold_lock"),
    ]
    assert all(a > 3600 for _m, _k, a in report)
    assert not os.path.exists(sentinel) and not os.path.exists(lock)
    health = {r["check"]: r for r in index_health(spark, path).collect()}
    assert health["append_sentinels"]["ok"] and health["fold_lock"]["ok"]
    # and index_health's stale remediation names this helper
    with open(sentinel, "w") as fh:
        fh.write("crashed")
    _backdate(sentinel)
    health = {r["check"]: r for r in index_health(spark, path).collect()}
    assert "clear_stale_markers" in health["append_sentinels"]["remediation"]
    clear_stale_markers(spark, path)


def test_compactions_take_over_stranded_lock(spark, tmp_path):
    """r16: lock_takeover_after= automates the stale-lock remediation
    for scheduled maintenance — a fold blocked by a stranded (backdated)
    lock succeeds when the threshold passes, refuses while fresh."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
    )

    bpath = str(tmp_path / "bidx2")
    build_ivf_index(
        _df(spark, _vecs(n=120, d=8, seed=3)), "vec_id", "embedding", bpath,
        n_cells=4, kmeans_iters=2,
    )
    append_ivf_index(
        _df(spark, _vecs(n=20, d=8, seed=9), start=5_000), "vec_id", "embedding", bpath
    )
    block = f"{bpath}/corpus/.compact_lock"
    with open(block, "w") as fh:
        fh.write("dead:process")
    _backdate(block)
    with pytest.raises(ValueError, match="another fold holds the lock"):
        compact_ivf_index(spark, bpath)
    assert compact_ivf_index(spark, bpath, lock_takeover_after=3600) > 0
    assert not os.path.exists(block)


def test_compaction_append_mutual_exclusion_flat(spark, index, tmp_path, monkeypatch):
    """The r15 quiescence enforcement, flat layout, both directions:
    (a) append-side — append_ivf_index refuses (named) while a fold's
        stage directory exists under the corpus;
    (b) fold-side — a file landing in a folded cell between the
        consolidation read and the swap aborts the apply (named error,
        stage discarded) with EVERY original file — including the
        racing writer's — intact; a rerun then folds cleanly."""
    import os
    import shutil

    import youtube_analytics_lakehouse_databricks_spark.fsops as fsops
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        compact_ivf_index,
    )

    path, _df_built = index
    target = str(tmp_path / "excl_flat")
    shutil.copytree(path, target)
    for i in range(2):
        append_ivf_index(
            _df(spark, _vecs(n=24, seed=90 + i), start=30_000 + 100 * i),
            "vec_id", "embedding", target,
        )
    corpus = f"{target}/corpus"

    # (a) append refuses while the stage dir exists — in-flight fold,
    # committed-but-unapplied fold, and crash litter all look like this
    os.makedirs(f"{corpus}/.compact_tmp", exist_ok=True)
    with pytest.raises(ValueError, match="compaction fold is pending"):
        append_ivf_index(
            _df(spark, _vecs(n=4, seed=99), start=40_000),
            "vec_id", "embedding", target,
        )
    shutil.rmtree(f"{corpus}/.compact_tmp")

    # (b) racing writer lands one more parquet file in a folded cell
    # after the consolidation read (simulated at commit time — the last
    # instant before the swap): the apply must abort, not lose the file
    n_rows_before = _corpus_rows(corpus)
    orig_commit = fsops.StagedFold.commit
    injected = {}

    def inject_then_commit(self, manifest):
        cell = manifest["cells"][0]
        cell_dir = f"{corpus}/cell={cell}"
        src = next(
            f for f in sorted(os.listdir(cell_dir)) if f.endswith(".parquet")
        )
        dst = f"{cell_dir}/part-racing-writer.snappy.parquet"
        shutil.copy(f"{cell_dir}/{src}", dst)
        injected["path"] = dst
        return orig_commit(self, manifest)

    with monkeypatch.context() as m:
        m.setattr(fsops.StagedFold, "commit", inject_then_commit)
        with pytest.raises(RuntimeError, match="changed between the consolidation"):
            compact_ivf_index(spark, target)
    assert os.path.exists(injected["path"])  # racing file survived
    assert not os.path.exists(f"{corpus}/.compact_tmp")  # stage discarded
    n_rows_after_abort = _corpus_rows(corpus)
    assert n_rows_after_abort > n_rows_before  # originals + racing rows
    # quiesced rerun folds everything, racing rows included
    assert compact_ivf_index(spark, target) > 0
    assert _corpus_rows(corpus) == n_rows_after_abort

    # (c) sentinel protocol, fold side: a healthy append leaves no
    # sentinel behind; a present sentinel refuses the fold at START
    # (named, stage never created) and aborts it at FINISH (stage
    # discarded) even when no rows have landed yet
    def sentinels():
        return [f for f in os.listdir(corpus) if f.startswith(".append_inprogress_")]

    append_ivf_index(
        _df(spark, _vecs(n=8, seed=101), start=60_000), "vec_id", "embedding", target
    )
    assert sentinels() == []  # healthy append cleaned up its window
    token = f"{corpus}/.append_inprogress_testcrash"
    with open(token, "w") as fh:
        fh.write("append_ivf_index")
    with pytest.raises(ValueError, match="append\\(s\\) in flight"):
        compact_ivf_index(spark, target)
    assert not os.path.exists(f"{corpus}/.compact_tmp")  # never staged
    os.remove(token)

    # fragment again so the next fold has work, then open an append
    # window DURING consolidation (the last instant before commit): the
    # fold must abort at finish even though no rows landed yet — the
    # append could still write into a pending cell after the re-list
    append_ivf_index(
        _df(spark, _vecs(n=8, seed=103), start=80_000), "vec_id", "embedding", target
    )

    def sentinel_then_commit(self, manifest):
        with open(token, "w") as fh2:
            fh2.write("append_ivf_index")
        return orig_commit(self, manifest)

    with monkeypatch.context() as m:
        m.setattr(fsops.StagedFold, "commit", sentinel_then_commit)
        with pytest.raises(RuntimeError, match="append\\(s\\) in flight"):
            compact_ivf_index(spark, target)
    assert not os.path.exists(f"{corpus}/.compact_tmp")  # stage discarded
    os.remove(token)
    assert compact_ivf_index(spark, target) > 0  # unblocked

    # (d) sentinel protocol, append side: a fold that stages between
    # the append's stage-dir probe and its sentinel write is caught by
    # the post-sentinel RE-probe — the append withdraws (named error)
    # and removes its own sentinel
    orig_ce = fsops.DriverFS.create_exclusive

    def stage_sneaks_in(self, p, text):
        orig_ce(self, p, text)
        if ".append_inprogress_" in p:
            os.makedirs(f"{corpus}/.compact_tmp", exist_ok=True)

    with monkeypatch.context() as m:
        m.setattr(fsops.DriverFS, "create_exclusive", stage_sneaks_in)
        with pytest.raises(ValueError, match="compaction fold is pending"):
            append_ivf_index(
                _df(spark, _vecs(n=4, seed=102), start=70_000),
                "vec_id", "embedding", target,
            )
    assert sentinels() == []  # the withdrawn append left no sentinel
    shutil.rmtree(f"{corpus}/.compact_tmp")

    # (e) fold-vs-fold: a held lock refuses a second fold (named); the
    # lock is released on every exit, including the exception paths the
    # earlier scenarios took (no .compact_lock residue at this point)
    assert not os.path.exists(f"{corpus}/.compact_lock")
    with open(f"{corpus}/.compact_lock", "w") as fh:
        fh.write("compact_ivf_index")
    with pytest.raises(ValueError, match="another fold holds the lock"):
        compact_ivf_index(spark, target)
    os.remove(f"{corpus}/.compact_lock")
    compact_ivf_index(spark, target)  # unblocked (0 or more cells)
    assert not os.path.exists(f"{corpus}/.compact_lock")  # released


def test_fold_aborts_without_cleanup_when_lock_ownership_lost(
    spark, index, tmp_path, monkeypatch
):
    """The maintenance lock's last-moment re-check: when a fold finds
    the lock content is no longer its token (a racer slipped past the
    non-atomic create and read-back), it must abort BEFORE any swap and
    WITHOUT cleaning up — the stage and the lock now belong to the
    winner. Clearing the (simulated) foreign lock lets recovery finish
    the committed fold with rows intact."""
    import os
    import shutil

    import youtube_analytics_lakehouse_databricks_spark.fsops as fsops
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        compact_ivf_index,
    )

    path, _df_built = index
    target = str(tmp_path / "lock_lost")
    shutil.copytree(path, target)
    for i in range(2):
        append_ivf_index(
            _df(spark, _vecs(n=16, seed=120 + i), start=200_000 + 100 * i),
            "vec_id", "embedding", target,
        )
    corpus = f"{target}/corpus"
    n_total = _corpus_rows(corpus)

    orig_read = fsops.DriverFS.read_text
    calls = {"n": 0}

    def foreign_after_first(self, p):
        if p.endswith(".compact_lock"):
            calls["n"] += 1
            if calls["n"] > 1:  # acquisition confirm passes; re-checks lose
                return "foreign:deadbeef"
        return orig_read(self, p)

    with monkeypatch.context() as m:
        m.setattr(fsops.DriverFS, "read_text", foreign_after_first)
        with pytest.raises(ValueError, match="another fold holds the lock"):
            compact_ivf_index(spark, target)
    # no cleanup: the committed stage and the lock are the winner's now
    assert os.path.isdir(f"{corpus}/.compact_tmp")
    assert os.path.exists(f"{corpus}/.compact_lock")
    assert _corpus_rows(corpus) == n_total  # nothing destroyed

    # operator clears the (here: simulated) foreign lock; recovery then
    # finishes the committed fold
    os.remove(f"{corpus}/.compact_lock")
    assert compact_ivf_index(spark, target) > 0
    assert not os.path.isdir(f"{corpus}/.compact_tmp")
    assert _corpus_rows(corpus) == n_total


def test_fold_recovery_completes_only_copy_before_sentinel_abort(
    spark, index, tmp_path, monkeypatch
):
    """The finish() apply order under the worst compound state: a fold
    crashed mid-apply (one cell's original already deleted — the staged
    partition is the ONLY copy) and a sentinel appeared before the
    rerun. Recovery must land the only-copy cell FIRST (losing it to
    the sentinel abort would destroy data), then abort the rest with
    their originals intact; clearing the sentinel lets a fresh fold
    finish the job. Row totals preserved at every step."""
    import os
    import shutil

    import youtube_analytics_lakehouse_databricks_spark.fsops as fsops
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        compact_ivf_index,
        ivf_search,
    )

    path, df = index
    target = str(tmp_path / "compound")
    shutil.copytree(path, target)
    for i in range(3):
        append_ivf_index(
            _df(spark, _vecs(n=24, seed=110 + i), start=100_000 + 100 * i),
            "vec_id", "embedding", target,
        )
    corpus = f"{target}/corpus"
    n_total = _corpus_rows(corpus)
    queries = df.filter("vec_id < 3")
    want = _res(ivf_search(spark, target, queries, "vec_id", "embedding",
                           n_probe=2, k=5))

    # crash mid-apply: first cell's original deleted, rename dies
    orig_rename = fsops.DriverFS.rename
    state = {"crashed": False, "cell": None}

    def flaky_rename(self, src, dst):
        if "/cell=" in src and not state["crashed"]:
            state["crashed"] = True
            state["cell"] = dst
            raise IOError("simulated crash mid-apply")
        return orig_rename(self, src, dst)

    with monkeypatch.context() as m:
        m.setattr(fsops.DriverFS, "rename", flaky_rename)
        with pytest.raises(IOError, match="simulated crash"):
            compact_ivf_index(spark, target)
    assert not os.path.isdir(state["cell"])  # the only-copy state is real

    # an append window opens before the recovery rerun
    token = f"{corpus}/.append_inprogress_compound"
    with open(token, "w") as fh:
        fh.write("append_ivf_index")
    with pytest.raises(RuntimeError, match="append\\(s\\) in flight"):
        compact_ivf_index(spark, target)
    assert os.path.isdir(state["cell"])  # only-copy cell LANDED anyway
    assert not os.path.exists(f"{corpus}/.compact_tmp")  # rest discarded
    assert _corpus_rows(corpus) == n_total  # nothing lost anywhere

    os.remove(token)
    assert compact_ivf_index(spark, target) > 0  # fresh fold finishes
    assert _corpus_rows(corpus) == n_total
    got = _res(ivf_search(spark, target, queries, "vec_id", "embedding",
                          n_probe=2, k=5))
    assert got == want


def test_compaction_append_mutual_exclusion_compressed(spark, tmp_path, monkeypatch):
    """Same two-direction enforcement on the sniffed corpus_pq layout:
    append_ivfpq_index refuses past a pending fold, and the fold aborts
    (rows intact) when a code file lands mid-window."""
    import os
    import shutil

    import youtube_analytics_lakehouse_databricks_spark.fsops as fsops
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivf_index,
    )

    df = _df(spark, _vecs(n=120, seed=75))
    path = str(tmp_path / "excl_pq")
    build_ivfpq_index(df, "vec_id", "embedding", path, n_cells=4, kmeans_iters=2, m=4)
    for i in range(2):
        append_ivfpq_index(
            _df(spark, _vecs(n=20, seed=85 + i), start=6_000 + 100 * i),
            "vec_id", "embedding", path,
        )
    corpus = f"{path}/corpus_pq"

    os.makedirs(f"{corpus}/.compact_tmp", exist_ok=True)
    with pytest.raises(ValueError, match="compaction fold is pending"):
        append_ivfpq_index(
            _df(spark, _vecs(n=4, seed=95), start=7_000),
            "vec_id", "embedding", path,
        )
    shutil.rmtree(f"{corpus}/.compact_tmp")

    n_rows_before = _corpus_rows(corpus)
    orig_commit = fsops.StagedFold.commit

    def inject_then_commit(self, manifest):
        cell = manifest["cells"][0]
        cell_dir = f"{corpus}/cell={cell}"
        src = next(
            f for f in sorted(os.listdir(cell_dir)) if f.endswith(".parquet")
        )
        shutil.copy(f"{cell_dir}/{src}", f"{cell_dir}/part-racing.snappy.parquet")
        return orig_commit(self, manifest)

    with monkeypatch.context() as m:
        m.setattr(fsops.StagedFold, "commit", inject_then_commit)
        with pytest.raises(RuntimeError, match="changed between the consolidation"):
            compact_ivf_index(spark, path)
    assert not os.path.exists(f"{corpus}/.compact_tmp")
    assert _corpus_rows(corpus) > n_rows_before  # nothing lost
    assert compact_ivf_index(spark, path) > 0  # quiesced rerun succeeds


def test_compact_ivf_index_leaves_bucket_copy_consistent(spark, tmp_path):
    """Compaction rewrites FILE layout only — after a healthy dual
    append and a fold, check_bucket_table stays green and the
    distributed (bucket-table) search still matches the collected
    (dir-corpus) search."""
    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        check_bucket_table,
        compact_ivf_index,
        ivf_search,
        ivf_search_distributed,
    )

    spark.sql("CREATE DATABASE IF NOT EXISTS ivfidx")
    df = _df(spark, _vecs(n=80, seed=51))
    path = str(tmp_path / "dual_compact")
    build_ivf_index(
        df, "vec_id", "embedding", path, n_cells=4, kmeans_iters=2,
        bucket_table="ivfidx.dual_compact_b", n_buckets=4,
    )
    for i in range(3):
        append_ivf_index(
            _df(spark, _vecs(n=20, seed=60 + i), start=700 + 100 * i),
            "vec_id", "embedding", path,
        )
    assert compact_ivf_index(spark, path) > 0
    check_bucket_table(spark, path)  # row sets still agree
    queries = df.filter("vec_id < 3")
    key = lambda r: (r["query_id"], r["rank"])
    got = ivf_search_distributed(
        spark, path, queries, "vec_id", "embedding", n_probe=2, k=5
    ).collect()
    want = ivf_search(
        spark, path, queries, "vec_id", "embedding", n_probe=2, k=5
    ).collect()
    assert sorted(got, key=key) == sorted(want, key=key)


def test_compact_ivf_index_compressed_layout(spark, tmp_path):
    """The sniffed corpus_pq branch: appends fragment the CODE rows the
    same way; compaction folds them with ADC search results
    bit-identical and the code row count preserved."""
    import os

    from youtube_analytics_lakehouse_databricks_spark.operators.ivf_index import (
        _corpus_rows,
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivf_index,
        ivfpq_search,
    )

    df = _df(spark, _vecs(n=120, seed=71))
    path = str(tmp_path / "pq_compact")
    build_ivfpq_index(
        df, "vec_id", "embedding", path, n_cells=4, kmeans_iters=2, m=4
    )
    for i in range(4):
        append_ivfpq_index(
            _df(spark, _vecs(n=20, seed=80 + i), start=5_000 + 100 * i),
            "vec_id", "embedding", path,
        )
    corpus = f"{path}/corpus_pq"
    queries = df.filter("vec_id < 3")
    want = _res(ivfpq_search(spark, path, queries, "vec_id", "embedding",
                             n_probe=2, k=5))
    n_before = _corpus_rows(corpus)
    assert compact_ivf_index(spark, path) > 0
    per_cell = {
        d: sum(1 for f in os.listdir(f"{corpus}/{d}") if f.endswith(".parquet"))
        for d in os.listdir(corpus)
        if d.startswith("cell=")
    }
    assert max(per_cell.values()) == 1
    assert _corpus_rows(corpus) == n_before == 200
    got = _res(ivfpq_search(spark, path, queries, "vec_id", "embedding",
                            n_probe=2, k=5))
    assert got == want
