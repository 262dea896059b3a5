"""Bronze catalog contract validation: type + nullability drift detection.

Re-expresses the reference's information_schema check (reference:
scripts/unity_catalog_setup.py:18-37 expected contract, :195-236
missing-table / type-mismatch / nullability-mismatch sweep) on the Spark
catalog. Errors accumulate (one pass reports everything) and the caller
decides whether to raise — the same shape as the reference's
collect-then-raise.

Nullability caveat: parquet-backed saveAsTable tables register every
column nullable regardless of the writer schema, so DECLARED nullability
is only checked when the backing format records constraints (Delta).
``scan_nulls=True`` adds a data-level sweep instead — one aggregate scan
per table counting NULLs in the NOT NULL columns — which catches actual
contract violations on any format (use it in post-deploy smoke, not per
ingest).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from youtube_analytics_lakehouse_databricks_spark import contract, storage


def validate_bronze_contract(
    spark: SparkSession,
    schema: str = "bronze",
    tables: list[str] | None = None,
    check_declared_nullability: bool | None = None,
    scan_nulls: bool = False,
) -> list[str]:
    """Return every contract violation ('' == compliant warehouse).

    Checks per table: exists, all 7 envelope columns present, exact Spark
    type match, and (when the catalog records it, or via scan_nulls) the
    NOT NULL constraint."""
    tables = tables if tables is not None else contract.BRONZE_TABLES
    if check_declared_nullability is None:
        check_declared_nullability = storage.TABLE_FORMAT == "delta"

    expected = {f.name: f for f in contract.BRONZE_SCHEMA.fields}
    errors: list[str] = []
    for table in tables:
        fqn = f"{schema}.{table}"
        if not spark.catalog.tableExists(fqn):
            errors.append(f"Missing table: {fqn}")
            continue
        actual = {f.name: f for f in spark.table(fqn).schema.fields}
        for col, exp in expected.items():
            got = actual.get(col)
            if got is None:
                errors.append(f"Missing column: {fqn}.{col}")
                continue
            if got.dataType != exp.dataType:
                errors.append(
                    f"Type mismatch for {fqn}.{col} "
                    f"(expected={exp.dataType.simpleString()}, actual={got.dataType.simpleString()})"
                )
            elif check_declared_nullability and got.nullable and not exp.nullable:
                errors.append(
                    f"Nullability mismatch for {fqn}.{col} (expected=NO, actual=YES)"
                )
        if scan_nulls:
            cols = [c for c, exp in expected.items() if not exp.nullable and c in actual]
            if cols:
                counts = (
                    spark.table(fqn)
                    .agg(*[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in cols])
                    .collect()[0]
                )
                for c in cols:
                    if counts[c]:
                        errors.append(
                            f"NOT NULL violated: {fqn}.{c} has {counts[c]} NULL row(s)"
                        )
    return errors


def raise_on_contract_errors(errors: list[str]) -> None:
    """Raise with the full violation list, like the reference's
    collect-then-raise (unity_catalog_setup.py:233-236)."""
    if errors:
        details = "\n".join(f" - {e}" for e in errors)
        raise RuntimeError(f"Bronze contract validation failed:\n{details}")
