"""Data-quality checks: the dbt test surface as reusable DataFrame checks.

Each check returns a *violations DataFrame* (rows = failures, like dbt
singular tests) wrapped in a CheckResult; a test run asserts every
non-warn check is empty (reference: dbt/models/schema.yml:18-126 schema
tests; dbt/tests/*.sql singular tests).

Checks are lazily-planned DataFrames — a full `run_checks` over a mart
issues one job per check; at scale, violations counts ride the same
Catalyst plans as the models themselves (count() with pushdown).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class CheckResult:
    name: str
    violations: DataFrame
    severity: str = "error"  # "error" | "warn"

    def count(self) -> int:
        return self.violations.count()

    def passed(self) -> bool:
        return self.count() == 0


def unique_grain(df: DataFrame, grain: list[str], name: str | None = None) -> CheckResult:
    """GROUP BY grain HAVING count(*) > 1
    (dbt/tests/test_gold_*_unique.sql:1-8)."""
    v = df.groupBy(*grain).agg(F.count(F.lit(1)).alias("dup_cnt")).filter(F.col("dup_cnt") > 1)
    return CheckResult(name or f"unique({','.join(grain)})", v)


def not_null(df: DataFrame, cols: list[str], name: str | None = None) -> CheckResult:
    """not_null schema test (dbt/models/schema.yml)."""
    cond: Column = F.lit(False)
    for c in cols:
        cond = cond | F.col(c).isNull()
    return CheckResult(name or f"not_null({','.join(cols)})", df.filter(cond))


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
    return CheckResult(name or f"relationships({key})", v)


def accepted_values(
    df: DataFrame, col: str, values: list[str], name: str | None = None
) -> CheckResult:
    """accepted_values schema test (schema.yml:90-98 device enum)."""
    v = df.filter(F.col(col).isNotNull() & ~F.col(col).isin(values)).select(col).distinct()
    return CheckResult(name or f"accepted_values({col})", v)


def non_negative(df: DataFrame, cols: list[str], name: str | None = None) -> CheckResult:
    """coalesce(metric,0) < 0 violations
    (dbt/tests/test_gold_metrics_non_negative.sql:19-21)."""
    cond: Column = F.lit(False)
    for c in cols:
        cond = cond | (F.coalesce(F.col(c), F.lit(0)) < 0)
    return CheckResult(name or f"non_negative({','.join(cols)})", df.filter(cond))


def freshness(
    df: DataFrame, date_col: str, max_lag_days: int, today: str | None = None, name: str | None = None
) -> CheckResult:
    """max(date) recency vs an injectable 'today'
    (dbt/tests/test_gold_freshness_recency.sql:1-14; injectable today per
    SURVEY §5 so tests are deterministic)."""
    today_col = F.to_date(F.lit(today)) if today else F.current_date()
    v = (
        df.agg(F.max(date_col).alias("max_date"))
        .withColumn("today", today_col)
        .filter(
            F.col("max_date").isNull()
            | (F.datediff(F.col("today"), F.col("max_date")) > max_lag_days)
        )
    )
    return CheckResult(name or f"freshness({date_col}<= {max_lag_days}d)", v)


def warn_unknown_values(
    df: DataFrame, col: str, known: list[str], name: str | None = None
) -> CheckResult:
    """Warn-only monitor: distinct upper(col) not in the known list
    (dbt/tests/warn_new_traffic_source_ids.sql:1-39)."""
    observed = (
        df.filter(F.col(col).isNotNull() & (F.trim(F.col(col)) != ""))
        .select(F.upper(F.col(col)).alias(col))
        .distinct()
    )
    known_df = observed.sparkSession.createDataFrame([(k,) for k in known], f"{col} string")
    v = observed.join(known_df, col, "left_anti")
    return CheckResult(name or f"warn_unknown({col})", v, severity="warn")


def run_checks(checks: list[CheckResult]) -> dict[str, dict]:
    """Evaluate all checks; returns {name: {count, severity, passed}}.
    Each check's violations are counted once; ``passed`` derives from that
    count instead of counting again."""
    out = {}
    for c in checks:
        n = c.count()
        out[c.name] = {"count": n, "severity": c.severity, "passed": n == 0}
    return out
