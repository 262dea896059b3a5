"""JSONL corpus source: the de-facto interchange format of LLM text
pipelines (one JSON doc per line), read with an explicit schema and a
corrupt-record AUDIT instead of silent drops.

Scale notes: ``spark.read.json`` with an explicit schema is a streaming
line parser — no sampling pass, no schema inference job, splittable per
file; PERMISSIVE mode routes malformed lines into a corrupt-record
column instead of failing the task (the multi-TB reality: some shard
always carries a truncated line). The audit frame holds the contract:
a line that does not parse yields an audit row, never a task failure
and never silent loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORRUPT_COL = "_corrupt_record"


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    *,
    schema: str = "doc_id long, text string",
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """(docs, audit): parsed documents + one audit row per rejected line.

    Rejected = unparseable JSON, or parseable but missing the id (a doc
    the pipeline could never address, dedup, or audit downstream).
    ``docs`` carries exactly the schema's columns, id non-null;
    ``audit`` is (reason, raw) with the offending line preserved.
    """
    raw = (
        spark.read.schema(f"{schema}, {CORRUPT_COL} string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )
    corrupt = F.col(CORRUPT_COL).isNotNull()
    no_id = F.col(id_col).isNull()
    docs = raw.filter(~corrupt & ~no_id).drop(CORRUPT_COL)
    audit = raw.filter(corrupt | no_id).select(
        F.when(corrupt, F.lit("malformed_json"))
        .otherwise(F.lit("missing_id"))
        .alias("reason"),
        F.coalesce(F.col(CORRUPT_COL), F.to_json(F.struct("*"))).alias("raw"),
    )
    return docs, audit


def write_jsonl_corpus(df: DataFrame, path: str) -> None:
    """One JSON object per line, one file tree per partition — the
    inverse of read_jsonl_corpus for handing a curated corpus to
    JSONL-consuming tools."""
    df.write.mode("overwrite").json(path)
