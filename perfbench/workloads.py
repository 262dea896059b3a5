"""The benchmark's workloads. Each is one client in a closed loop.

A workload has ``setup()`` (untimed inputs and state), an op list for one
pass (``ops()``: name -> callable returning the op's output),
``check(name, output)`` (run after the passes, untimed; returns problems,
empty when correct), ``span_of(name)`` (the op's root span) and
``trace(tracer)`` (installs the spans of its layers).

The engine is driven from outside: runner.run_pipeline and the query
registry.
"""

from __future__ import annotations

import hashlib
import os
import random
import re

from pyspark.sql import SparkSession

import bench
from channel import TODAY, ChannelSource
from spans import Tracer
from tables import write as write_tables
from tools.check_oracle import TABLES, normalize
from youtube_analytics_lakehouse_databricks_spark import runner, storage
from youtube_analytics_lakehouse_databricks_spark.ops.run_log import latest_run_status
from youtube_analytics_lakehouse_databricks_spark.plans import registry as plans_registry
from youtube_analytics_lakehouse_databricks_spark.queries import registry
from youtube_analytics_lakehouse_databricks_spark.quality import checks as quality_checks
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import append_envelopes, envelope_rows
from youtube_analytics_lakehouse_databricks_spark.sources.fixtures import run_contexts

QUERY_SF = 0.01
MEDALLION_DBS = ("bronze", "silver", "gold", "ops")
_CTE_HEAD = re.compile(r"(?<!WINDOW )\b(\w+) AS \(")


def materialize_ctes(sql: str) -> str:
    """``sql`` with each CTE (not a named WINDOW) declared MATERIALIZED.
    DuckDB inlines a CTE at every reference, so the SemDeDup oracle's
    unrolled k-means chain reruns once per reference (~20 s a run). Over
    the sf0.01 testdata and a seeded table set, all 30 oracles returned
    the same rows materialized as plain, in ~7 s instead of ~27 s."""
    return _CTE_HEAD.sub(r"\1 AS MATERIALIZED (", sql)


class PipelineRun:
    """One op = one triggered ``runner.run_pipeline`` on the third
    generation of a seeded channel, after two prior generations were
    ingested (the ``runner.main`` 3-generation shape). Without the
    optimize stage: its ~107 jobs add ~13 s to every run, which the run
    budget does not allow (see README.md)."""

    name = "pipeline_run"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.work = spark, work
        self.sources = [ChannelSource(seed, gen) for gen in (1, 2, 3)]
        self.ctxs = run_contexts(3)

    def setup(self) -> None:
        """Empty warehouse, then the two prior generations' envelopes:
        the rows two ``ingest`` calls would write into a fresh warehouse,
        with one append per bronze table."""
        for db in MEDALLION_DBS:
            self.spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        self.spark.catalog.clearCache()
        plans_registry.ensure_schemas(self.spark)
        rows: dict[str, list[tuple]] = {}
        for src, ctx in zip(self.sources[:2], self.ctxs[:2]):
            for table, batch in envelope_rows(ctx, src.fetch(ctx)).items():
                rows.setdefault(table, []).extend(batch)
        for table, batch in rows.items():
            append_envelopes(self.spark, table, batch)

    def span_of(self, op: str) -> str:
        return "runner.run_pipeline"

    def ops(self) -> dict:
        return {
            "run_pipeline": lambda: runner.run_pipeline(
                self.spark, self.sources[2], self.ctxs[2], today=TODAY
            )
        }

    def check(self, name: str, report: dict) -> list[str]:
        problems = []
        if report.get("status") != "success":
            problems.append(f"status {report.get('status')}")
        failed = [
            n for n, r in report.get("quality", {}).items()
            if not r["passed"] and r["severity"] == "error"
        ]
        if failed:
            problems.append(f"error checks failed: {failed}")
        # The in-run smoke sees this run's log row before finalize sets
        # its status; the finalized status is checked after the run.
        smoke_failed = [
            n for n, r in report.get("smoke", {}).items()
            if not r["passed"] and n != "latest_run_success"
        ]
        if smoke_failed:
            problems.append(f"smoke checks failed: {smoke_failed}")
        status = latest_run_status(self.spark)
        if status != "success":
            problems.append(f"finalized run status {status}")
        for table, want in self.sources[2].expected_gold_rows().items():
            got = self.spark.table(table).count()
            if got != want:
                problems.append(f"{table}: {got} rows, expected {want}")
        return problems

    def trace(self, tracer: Tracer) -> None:
        for attr, label in (
            ("ingest", "sources.envelope.ingest"),
            ("validate_bronze_contract", "ops.contract_check.validate"),
            ("gold_quality_checks", "quality.checks.build"),
            ("smoke_checks", "ops.smoke.smoke"),
            ("init_run_log", "ops.run_log.log"),
            ("finalize_run", "ops.run_log.log"),
        ):
            tracer.wrap(runner, attr, label)
        tracer.wrap(quality_checks, "run_checks", "quality.checks.run")
        tracer.wrap(plans_registry.PipelineGraph, "refresh", "plans.registry.refresh")

        def view_label(df, fqn, *args, **kwargs):
            parent = tracer.current()
            if parent is None or parent.name != "plans.registry.refresh":
                return None
            schema, table = fqn.split(".", 1)
            return f"models.{schema}.{table}"

        tracer.wrap(storage, "write_table", view_label)


def _digest(rows: list[tuple]) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()[:16]


def headline() -> dict[str, str]:
    """The ``bench.HEADLINE`` rows that are in the query registry, each
    mapped to its module under ``queries/``. The bench-only rows are left
    out: their index and model caches live at fixed paths under /tmp,
    outside a run's own directory."""
    reg = registry()
    return {
        n: reg[n].builder.__module__.rsplit(".", 1)[-1] for n in bench.HEADLINE if n in reg
    }


class QuerySuite:
    """One pass = the registry's headline queries in a seeded order over
    seeded tables. Each query's result is collected to the driver as
    Arrow, inside the op's time, so the check needs no second execution;
    after the passes it is compared with the DuckDB oracle."""

    name = "query_suite"

    def __init__(self, spark: SparkSession, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.data = os.path.join(work, "data")
        self.reg = registry()
        self.rng = random.Random(seed)
        self.oracle = None
        self.seen: dict[str, tuple] = {}

    def setup(self) -> None:
        write_tables(self.seed, QUERY_SF, self.data)

    def _query(self, name: str):
        return self.reg[name].builder(self.spark, self.data).toArrow()

    def span_of(self, op: str) -> str:
        return f"query.{op}"

    def ops(self) -> dict:
        names = list(headline())
        self.rng.shuffle(names)
        return {n: (lambda n=n: self._query(n)) for n in names}

    def _duck(self):
        if self.oracle is None:
            import duckdb

            con = duckdb.connect()
            for t in TABLES:
                path = os.path.join(self.data, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            self.oracle = con
        return self.oracle

    def check(self, name: str, out) -> list[str]:
        """First pass: rows equal the DuckDB oracle's. Later passes: the
        same row count and order-insensitive hash as the first."""
        table = _naive_timestamps(out)
        rows = list(zip(*(c.to_pylist() for c in table.columns))) if table.num_columns else []
        got = normalize(rows, table.column_names)
        summary = (len(got), _digest(got))
        if name in self.seen:
            first = self.seen[name]
            return [] if summary == first else [f"{summary} differs from the first pass's {first}"]
        self.seen[name] = summary
        res = self._duck().execute(materialize_ctes(self.reg[name].oracle))
        duck_cols = [d[0] for d in res.description]
        if sorted(table.column_names) != sorted(duck_cols):
            return [f"columns {sorted(table.column_names)} != {sorted(duck_cols)}"]
        want = normalize(res.fetchall(), duck_cols)
        if got != want:
            return [f"{summary} != oracle's {(len(want), _digest(want))}"]
        return []

    def trace(self, tracer: Tracer) -> None:
        """Each query op is one span, opened by the run loop; nothing
        below it is wrapped."""


def _naive_timestamps(table):
    """Arrow timestamps come back UTC-zoned; the oracle's are naive."""
    import pyarrow as pa

    fields = [
        pa.field(f.name, pa.timestamp(f.type.unit)) if pa.types.is_timestamp(f.type) else f
        for f in table.schema
    ]
    return table.cast(pa.schema(fields))


WORKLOADS = {w.name: w for w in (PipelineRun, QuerySuite)}
