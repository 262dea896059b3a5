"""Catalog contract checker: drift injection tests (reference:
scripts/unity_catalog_setup.py:195-236)."""

from __future__ import annotations

import datetime as dt

import pytest

from youtube_analytics_lakehouse_databricks_spark.ops.contract_check import (
    raise_on_contract_errors,
    validate_bronze_contract,
)
from youtube_analytics_lakehouse_databricks_spark.plans.registry import ensure_schemas
from youtube_analytics_lakehouse_databricks_spark.sources.envelope import append_envelopes


def _envelope_row(payload: str = "{}", snap: dt.date = dt.date(2025, 6, 1)):
    return (snap, dt.datetime(2025, 6, 1, 12), "youtube", "req-1", "v1", "run-1", payload)


def test_compliant_tables_pass(spark):
    ensure_schemas(spark)
    for t in ["channels_raw", "videos_raw"]:
        append_envelopes(spark, t, [_envelope_row()])
    assert validate_bronze_contract(spark, tables=["channels_raw", "videos_raw"]) == []


def test_missing_table_reported(spark):
    ensure_schemas(spark)
    errors = validate_bronze_contract(spark, tables=["nonexistent_raw"])
    assert errors == ["Missing table: bronze.nonexistent_raw"]


def test_type_drift_detected(spark):
    ensure_schemas(spark)
    # snapshot_date drifted to STRING, payload missing
    spark.createDataFrame(
        [("2025-06-01", dt.datetime(2025, 6, 1), "youtube", "r", "v1", "run")],
        "snapshot_date string, ingest_ts_utc timestamp, source_system string, "
        "request_id string, schema_version string, run_id string",
    ).write.mode("overwrite").saveAsTable("bronze.drifted_raw")
    errors = validate_bronze_contract(spark, tables=["drifted_raw"])
    assert any("Type mismatch for bronze.drifted_raw.snapshot_date" in e and "expected=date" in e for e in errors)
    assert "Missing column: bronze.drifted_raw.payload" in errors
    with pytest.raises(RuntimeError, match="Bronze contract validation failed"):
        raise_on_contract_errors(errors)


def test_null_scan_catches_data_level_violation(spark):
    ensure_schemas(spark)
    spark.createDataFrame(
        [(dt.date(2025, 6, 1), dt.datetime(2025, 6, 1), "youtube", None, "v1", "run", "{}")],
        "snapshot_date date, ingest_ts_utc timestamp, source_system string, "
        "request_id string, schema_version string, run_id string, payload string",
    ).write.mode("overwrite").saveAsTable("bronze.nulled_raw")
    errors = validate_bronze_contract(spark, tables=["nulled_raw"], scan_nulls=True)
    assert errors == ["NOT NULL violated: bronze.nulled_raw.request_id has 1 NULL row(s)"]
    # declared-metadata-only pass misses it on parquet (documented caveat)
    assert validate_bronze_contract(spark, tables=["nulled_raw"]) == []
