"""Metric names and the span -> per-layer summary.

Every name here must match ``BENCHMARK.json``; ``test_perfbench.py``
checks that. A layer a workload leaves idle reports 0.
"""

from __future__ import annotations

import statistics

from spans import Tracer, self_times

# The 14 silver views and 5 gold marts of models/pipeline.build_graph().
SILVER_VIEWS = [
    "dim_country_reference", "silver_channels", "silver_video_stats_snapshot",
    "silver_video_metadata_scd2", "silver_videos", "fact_channel_daily_metrics",
    "fact_video_daily_metrics", "fact_video_traffic_source_metrics",
    "fact_video_country_metrics", "fact_video_device_metrics",
    "dim_traffic_source", "dim_country", "dim_device", "dim_date",
]
GOLD_MARTS = [
    "gold_channel_daily_summary", "gold_video_daily_summary",
    "gold_video_country_daily_summary", "gold_video_device_daily_summary",
    "gold_video_traffic_source_daily_summary",
]
QUERY_MODULES = ["tpch_like", "relational", "advanced", "extended", "textops", "vectorops"]

END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}

# Stage spans, reported as ``<span>_s``; True adds ``<span>_jobs`` (only
# for spans that never overlap another span, see spans.py).
STAGES = {
    "sources.envelope.ingest": True,
    "ops.contract_check.validate": False,
    "plans.registry.refresh": True,
    "quality.checks.build": False,
    "quality.checks.run": True,
    "ops.smoke.smoke": True,
    "ops.run_log.log": True,
}


def per_layer_names(headline: list[str]) -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    out: dict[str, str] = {}
    for stage, with_jobs in STAGES.items():
        out[f"{stage}_s"] = "s"
        if with_jobs:
            out[f"{stage}_jobs"] = "count"
    for v in SILVER_VIEWS:
        out[f"models.silver.{v}_s"] = "s"
    for m in GOLD_MARTS:
        out[f"models.gold.{m}_s"] = "s"
    out["runner.residual_s"] = "s"
    for q in headline:
        out[f"query.{q}_s"] = "s"
    for m in QUERY_MODULES:
        out[f"queries.{m}.jobs"] = "count"
    out["session.jobs_per_op"] = "count"
    out["session.jvm_gc_s"] = "s"
    out["traced.pass_s"] = "s"
    return out


def summarize(tracer: Tracer, module_of: dict[str, str], n_ops: int, n_passes: int) -> dict[str, float]:
    """Per-layer metrics from the spans of a traced run. A stage's time is
    the median over ops of its per-op total (the run log is written twice
    per op). ``module_of`` maps each headline query to its module."""
    per_op: dict[tuple[str, int | None], dict[str, float]] = {}
    for span, own in zip(tracer.spans, self_times(tracer.spans)):
        acc = per_op.setdefault((span.name, span.op), {"s": 0.0, "jobs": 0, "self": 0.0})
        acc["s"] += span.end - span.start
        acc["jobs"] += span.jobs
        acc["self"] += own

    def med(name: str, field: str = "s") -> float:
        vals = [v[field] for (n, _), v in per_op.items() if n == name]
        return float(statistics.median(vals)) if vals else 0.0

    out = dict.fromkeys(per_layer_names(list(module_of)), 0.0)
    for stage, with_jobs in STAGES.items():
        out[f"{stage}_s"] = med(stage)
        if with_jobs:
            out[f"{stage}_jobs"] = med(stage, "jobs")
    for v in SILVER_VIEWS:
        out[f"models.silver.{v}_s"] = med(f"models.silver.{v}")
    for m in GOLD_MARTS:
        out[f"models.gold.{m}_s"] = med(f"models.gold.{m}")
    out["runner.residual_s"] = med("runner.run_pipeline", "self")
    for q, module in module_of.items():
        out[f"query.{q}_s"] = med(f"query.{q}")
        jobs = sum(v["jobs"] for (n, _), v in per_op.items() if n == f"query.{q}")
        out[f"queries.{module}.jobs"] += jobs / max(n_passes, 1)
    root_jobs = sum(s.jobs for s in tracer.spans if s.parent is None)
    out["session.jobs_per_op"] = root_jobs / max(n_ops, 1)
    return out
