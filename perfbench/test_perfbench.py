"""Tests for the benchmark's pure pieces; none starts a Spark session.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402
from channel import ChannelSource  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402
from tables import generate  # noqa: E402


def test_tables_same_seed_same_rows():
    a, b, c = generate(7, 0.002), generate(7, 0.002), generate(8, 0.002)
    assert list(a) == list(b)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])


def test_channel_source_same_seed_same_payloads():
    def payloads(seed, gen):
        return list(ChannelSource(seed, gen, n_videos=60, n_days=3).fetch(None))

    assert payloads(5, 1) == payloads(5, 1)
    assert payloads(5, 1) != payloads(6, 1)
    assert payloads(5, 1) != payloads(5, 2)
    tables = [t for t, _ in payloads(5, 1)]
    assert tables.count("videos_raw") == 2  # 60 videos in 50-item pages
    assert tables.count("analytics_video_daily_raw") == 60


def test_channel_expected_gold_rows():
    rows = ChannelSource(1, 3, n_videos=10, n_days=4).expected_gold_rows()
    assert rows["gold.gold_channel_daily_summary"] == 4
    assert rows["gold.gold_video_daily_summary"] == 40
    # "" is filtered; lowercase values are upper()ed, not new keys
    assert rows["gold.gold_video_traffic_source_daily_summary"] == 40 * 4
    assert rows["gold.gold_video_country_daily_summary"] == 40 * 4
    assert rows["gold.gold_video_device_daily_summary"] == 40 * 3


def test_materialize_ctes_leaves_named_windows():
    from workloads import materialize_ctes

    sql = (
        "WITH RECURSIVE a AS (SELECT 1 AS x), r(n) AS (SELECT 1), b AS (SELECT * FROM a) "
        "SELECT CAST(x AS DOUBLE), sum(x) OVER w FROM b WINDOW w AS (ORDER BY x)"
    )
    assert materialize_ctes(sql) == (
        "WITH RECURSIVE a AS MATERIALIZED (SELECT 1 AS x), r(n) AS (SELECT 1), "
        "b AS MATERIALIZED (SELECT * FROM a) "
        "SELECT CAST(x AS DOUBLE), sum(x) OVER w FROM b WINDOW w AS (ORDER BY x)"
    )


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_times_subtract_child_coverage():
    spans = [
        Span("op", 0, 10, None, 1, 0),
        Span("a", 1, 4, 0, 1, 0),
        Span("b", 3, 6, 0, 1, 0),  # overlaps a: the union counts once
        Span("a.x", 1, 2, 1, 1, 0),
    ]
    assert self_times(spans) == [5, 2, 3, 1]


def test_tracer_nesting_jobs_and_restore():
    class Mod:
        @staticmethod
        def work(n):
            return n * 2

    jobs = iter(range(0, 100, 3))
    tracer = Tracer(lambda: next(jobs))
    orig = Mod.work
    tracer.wrap(Mod, "work", lambda n: None if n < 0 else "work")
    with tracer.span("op"):
        assert Mod.work(2) == 4
        assert Mod.work(-1) == -2  # None label: no span
    tracer.close()
    assert Mod.work is orig
    names = [s.name for s in tracer.spans]
    assert names == ["op", "work"]
    assert tracer.spans[1].parent == 0
    assert tracer.spans[1].jobs == 3 and tracer.spans[0].jobs == 9


def test_tracer_pool_threads_nest_under_open_span():
    from concurrent.futures import ThreadPoolExecutor

    tracer = Tracer()

    def view(i):
        with tracer.span(f"view{i}"):
            pass

    with tracer.span("refresh"):
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(view, range(2)))
    assert {s.parent for s in tracer.spans[1:]} == {0}


def test_summarize_stage_times_jobs_and_residual():
    tracer = Tracer()
    tracer.spans = [
        Span("runner.run_pipeline", 0, 10, None, 1, 300),
        Span("quality.checks.run", 1, 4, 0, 1, 100),
        Span("ops.run_log.log", 4, 5, 0, 1, 2),
        Span("ops.run_log.log", 9, 9.5, 0, 1, 1),
        Span("query.q1_pricing_summary", 20, 21, None, 2, 3),
    ]
    out = metrics.summarize(tracer, {"q1_pricing_summary": "tpch_like"}, n_ops=2, n_passes=1)
    assert out["quality.checks.run_s"] == 3 and out["quality.checks.run_jobs"] == 100
    assert out["ops.run_log.log_s"] == 1.5 and out["ops.run_log.log_jobs"] == 3
    assert out["runner.residual_s"] == 10 - 4.5
    assert out["query.q1_pricing_summary_s"] == 1 and out["queries.tpch_like.jobs"] == 3
    assert out["ops.smoke.smoke_s"] == 0  # idle layer
    assert out["session.jobs_per_op"] == 303 / 2


def test_metric_names_match_benchmark_json():
    from workloads import WORKLOADS, headline

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == metrics.per_layer_names(list(headline()))


def test_view_names_match_pipeline_graph():
    from youtube_analytics_lakehouse_databricks_spark.models.pipeline import build_graph

    views = build_graph().views.values()
    assert [v.name for v in views if v.schema == "silver"] == metrics.SILVER_VIEWS
    assert [v.name for v in views if v.schema == "gold"] == metrics.GOLD_MARTS
