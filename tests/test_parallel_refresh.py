"""Concurrent MV refresh: dependency barriers hold, a ready view does not
wait for an unrelated sibling, and the result is identical to a
sequential refresh (dbt threads:4 parity — reference dbt/profiles.yml:12)."""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.plans.registry import (
    PipelineGraph,
    ViewDef,
    ensure_schemas,
)


def test_parallel_refresh_respects_depth_barriers(spark):
    ensure_schemas(spark, ("silver",))
    started: dict[str, int] = {}
    lock = threading.Lock()
    seq = iter(range(100))

    def leaf(tag):
        def build(s):
            with lock:
                started[tag] = next(seq)
            return s.range(3).select(F.col("id"), F.lit(tag).alias("src"))

        return build

    def combined(s):
        with lock:
            started["c"] = next(seq)
        # reads BOTH deps: fails unless the level barrier wrote them first
        return s.table("silver.par_a").unionByName(s.table("silver.par_b"))

    g = PipelineGraph()
    g.register(ViewDef("par_a", "silver", (), leaf("a")))
    g.register(ViewDef("par_b", "silver", (), leaf("b")))
    g.register(ViewDef("par_c", "silver", ("par_a", "par_b"), combined))
    refreshed = g.refresh(spark)

    assert refreshed == ["silver.par_a", "silver.par_b", "silver.par_c"]
    # c only starts after the whole first level completes
    assert started["c"] > started["a"] and started["c"] > started["b"]
    assert spark.table("silver.par_c").count() == 6
    assert set(
        r["src"] for r in spark.table("silver.par_c").select("src").distinct().collect()
    ) == {"a", "b"}


def test_scoped_refresh_pulls_upstream_only(spark):
    ensure_schemas(spark, ("silver",))
    g = PipelineGraph()
    g.register(ViewDef("sc_a", "silver", (), lambda s: s.range(1)))
    g.register(ViewDef("sc_b", "silver", ("sc_a",), lambda s: s.table("silver.sc_a")))
    g.register(ViewDef("sc_other", "silver", (), lambda s: s.range(2)))
    refreshed = g.refresh(spark, only={"sc_b"})
    assert refreshed == ["silver.sc_a", "silver.sc_b"]


def test_ready_view_does_not_wait_for_unrelated_slow_sibling(spark):
    """A view whose only dependency is written starts while an unrelated
    sibling of that dependency is still building."""
    ensure_schemas(spark, ("silver",))
    dependent_started = threading.Event()
    waited = {}

    def slow(s):
        # returns once the dependent view has started (or after 60 s)
        waited["ok"] = dependent_started.wait(timeout=60)
        return s.range(1)

    def dependent(s):
        dependent_started.set()
        return s.table("silver.rdy_fast")

    g = PipelineGraph()
    g.register(ViewDef("rdy_slow", "silver", (), slow))
    g.register(ViewDef("rdy_fast", "silver", (), lambda s: s.range(2)))
    g.register(ViewDef("rdy_dep", "silver", ("rdy_fast",), dependent))
    refreshed = g.refresh(spark)

    assert waited["ok"], "rdy_dep waited for rdy_slow"
    assert refreshed == ["silver.rdy_slow", "silver.rdy_fast", "silver.rdy_dep"]
    assert spark.table("silver.rdy_dep").count() == 2


def test_tasks_run_after_the_views_they_read(spark):
    ensure_schemas(spark, ("silver",))
    seen = []
    g = PipelineGraph()
    g.register(ViewDef("tsk_a", "silver", (), lambda s: s.range(3)))
    g.register(ViewDef("tsk_b", "silver", ("tsk_a",), lambda s: s.table("silver.tsk_a")))
    tasks = {"count_b": (["silver.tsk_b"], lambda: seen.append(spark.table("silver.tsk_b").count()))}
    assert g.refresh(spark, tasks=tasks) == ["silver.tsk_a", "silver.tsk_b"]
    assert seen == [3]
