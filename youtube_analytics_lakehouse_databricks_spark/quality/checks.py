"""Data-quality checks: the dbt test surface as reusable DataFrame checks.

Each check returns a *violations DataFrame* (rows = failures, like dbt
singular tests) wrapped in a CheckResult; a test run asserts every
non-warn check is empty (reference: dbt/models/schema.yml:18-126 schema
tests; dbt/tests/*.sql singular tests).

`run_checks` does not count the violation frames one by one. The checks
that read the same frame become one aggregate over it: grouped by the
uniqueness grain first when one of them has a grain, with conditional
counts, a max and distinct counts of the offending values on top — the
shared-aggregate idea of "Building Advanced SQL Analytics From Low-Level
Plan Operators" (SIGMOD 2021). Every count equals ``violations.count()``;
the violation frames stay for drilling into a failed check.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark.storage import local_frame


@dataclass(frozen=True)
class Measure:
    """How ``run_checks`` folds a check into the one aggregate over
    ``source`` that all checks on that frame share. ``kind`` is
    - "dups": groups of the grain ``cols`` holding more than one row;
    - "rows": rows where ``expr`` holds;
    - "max": ``finish(max(expr))``, a 0/1 violation count;
    - "values": distinct non-NULL values of ``expr`` (NULL for a good
      row), an expression over ``cols`` only;
    - "orphans": distinct non-NULL ``cols[0]`` keys missing from
      ``parent``."""

    source: DataFrame
    kind: str
    cols: tuple[str, ...] = ()
    expr: Column | None = None
    finish: Callable[[Column], Column] | None = None
    parent: DataFrame | None = None


@dataclass
class CheckResult:
    name: str
    violations: DataFrame
    severity: str = "error"  # "error" | "warn"
    # None: run_checks counts the violations frame on its own
    measure: Measure | None = field(default=None, repr=False)

    def count(self) -> int:
        return self.violations.count()

    def passed(self) -> bool:
        return self.count() == 0


def unique_grain(df: DataFrame, grain: list[str], name: str | None = None) -> CheckResult:
    """GROUP BY grain HAVING count(*) > 1
    (dbt/tests/test_gold_*_unique.sql:1-8)."""
    v = df.groupBy(*grain).agg(F.count(F.lit(1)).alias("dup_cnt")).filter(F.col("dup_cnt") > 1)
    return CheckResult(name or f"unique({','.join(grain)})", v, measure=Measure(df, "dups", tuple(grain)))


def _any(conds: list[Column]) -> Column:
    cond: Column = F.lit(False)
    for c in conds:
        cond = cond | c
    return cond


def not_null(df: DataFrame, cols: list[str], name: str | None = None) -> CheckResult:
    """not_null schema test (dbt/models/schema.yml)."""
    cond = _any([F.col(c).isNull() for c in cols])
    return CheckResult(
        name or f"not_null({','.join(cols)})", df.filter(cond), measure=Measure(df, "rows", expr=cond)
    )


def relationships(
    child: DataFrame, parent: DataFrame, key: str, name: str | None = None
) -> CheckResult:
    """FK orphan check child->parent = anti-join must be empty
    (dbt relationships test, schema.yml:48-53 etc.)."""
    v = (
        child.filter(F.col(key).isNotNull())
        .join(parent.select(key), key, "left_anti")
        .select(key)
        .distinct()
    )
    return CheckResult(
        name or f"relationships({key})", v, measure=Measure(child, "orphans", (key,), parent=parent)
    )


def accepted_values(
    df: DataFrame, col: str, values: list[str], name: str | None = None
) -> CheckResult:
    """accepted_values schema test (schema.yml:90-98 device enum)."""
    bad = F.col(col).isNotNull() & ~F.col(col).isin(values)
    v = df.filter(bad).select(col).distinct()
    measure = Measure(df, "values", (col,), expr=F.when(bad, F.col(col)))
    return CheckResult(name or f"accepted_values({col})", v, measure=measure)


def non_negative(df: DataFrame, cols: list[str], name: str | None = None) -> CheckResult:
    """coalesce(metric,0) < 0 violations
    (dbt/tests/test_gold_metrics_non_negative.sql:19-21)."""
    cond = _any([F.coalesce(F.col(c), F.lit(0)) < 0 for c in cols])
    return CheckResult(
        name or f"non_negative({','.join(cols)})", df.filter(cond), measure=Measure(df, "rows", expr=cond)
    )


def freshness(
    df: DataFrame, date_col: str, max_lag_days: int, today: str | None = None, name: str | None = None
) -> CheckResult:
    """max(date) recency vs an injectable 'today'
    (dbt/tests/test_gold_freshness_recency.sql:1-14; injectable today per
    SURVEY §5 so tests are deterministic)."""
    today_col = F.to_date(F.lit(today)) if today else F.current_date()

    def stale(max_date: Column) -> Column:
        return max_date.isNull() | (F.datediff(today_col, max_date) > max_lag_days)

    v = df.agg(F.max(date_col).alias("max_date")).filter(stale(F.col("max_date")))
    measure = Measure(
        df, "max", expr=F.col(date_col), finish=lambda m: F.when(stale(m), 1).otherwise(0)
    )
    return CheckResult(name or f"freshness({date_col}<= {max_lag_days}d)", v, measure=measure)


def warn_unknown_values(
    df: DataFrame, col: str, known: list[str], name: str | None = None
) -> CheckResult:
    """Warn-only monitor: distinct upper(col) not in the known list
    (dbt/tests/warn_new_traffic_source_ids.sql:1-39)."""
    present = F.col(col).isNotNull() & (F.trim(F.col(col)) != "")
    observed = df.filter(present).select(F.upper(F.col(col)).alias(col)).distinct()
    known_df = local_frame(df.sparkSession, [(k,) for k in known], f"{col} string")
    v = observed.join(known_df, col, "left_anti")
    unknown = F.upper(F.col(col))
    measure = Measure(df, "values", (col,), expr=F.when(present & ~unknown.isin(known), unknown))
    return CheckResult(name or f"warn_unknown({col})", v, severity="warn", measure=measure)


def _fused_counts(measures: list[Measure]) -> list[int | None]:
    """The violation counts of checks sharing one source, from one
    aggregate over it; None for a check that cannot ride it (a second
    grain, or distinct values outside the grain)."""
    grain = next((m.cols for m in measures if m.kind == "dups"), None)
    frame = measures[0].source
    if grain is not None:
        partial = [F.count(F.lit(1)).alias("__rows")]
        for i, m in enumerate(measures):
            if m.kind == "rows":
                partial.append(F.count(F.when(m.expr, 1)).alias(f"__p{i}"))
            elif m.kind == "max":
                partial.append(F.max(m.expr).alias(f"__p{i}"))
        frame = frame.groupBy(*grain).agg(*partial)
    aggs: dict[int, Column] = {}
    for i, m in enumerate(measures):
        if m.kind == "dups":
            if m.cols == grain:
                aggs[i] = F.count(F.when(F.col("__rows") > 1, 1))
        elif m.kind == "rows":
            aggs[i] = F.coalesce(F.sum(f"__p{i}"), F.lit(0)) if grain else F.count(F.when(m.expr, 1))
        elif m.kind == "max":
            aggs[i] = m.finish(F.max(f"__p{i}") if grain else F.max(m.expr))
        elif grain is None or set(m.cols) <= set(grain):
            if m.kind == "values":
                aggs[i] = F.count_distinct(m.expr)
            else:  # orphans: left-join the parent's distinct keys, count the misses
                key, hit = m.cols[0], f"__hit{i}"
                keys = m.parent.select(key).distinct().withColumn(hit, F.lit(True))
                frame = frame.join(keys, key, "left")
                aggs[i] = F.count_distinct(F.when(F.col(key).isNotNull() & F.col(hit).isNull(), F.col(key)))
    row = frame.agg(*[a.alias(f"__c{i}") for i, a in aggs.items()]).collect()[0]
    return [row[f"__c{i}"] if i in aggs else None for i in range(len(measures))]


def run_checks(checks: list[CheckResult]) -> dict[str, dict]:
    """Evaluate all checks; returns {name: {count, severity, passed}} in
    input order. The checks on one source frame share one aggregate
    (_fused_counts); a check without a measure, or one that cannot ride
    its source's aggregate, counts its violations on its own."""
    counts: dict[int, int] = {}
    by_source: dict[int, list[int]] = {}
    for i, c in enumerate(checks):
        if c.measure is not None:
            by_source.setdefault(id(c.measure.source), []).append(i)
    for idxs in by_source.values():
        for i, n in zip(idxs, _fused_counts([checks[i].measure for i in idxs])):
            if n is not None:
                counts[i] = n
    out = {}
    for i, c in enumerate(checks):
        n = counts[i] if i in counts else c.count()
        out[c.name] = {"count": n, "severity": c.severity, "passed": n == 0}
    return out
