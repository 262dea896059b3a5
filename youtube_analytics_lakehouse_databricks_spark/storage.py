"""Storage backend selection: Delta when available, parquet fallback.

The reference sits on Delta (`USING DELTA`, DELETE/UPDATE/OPTIMIZE —
lakeflow/bootstrap_unity_catalog.sql:25, job_tasks/ops/*). delta-spark is
not installed in this build environment, so every write path in the
engine goes through this module: with Delta on the classpath the
fast paths light up (metadata-only DELETE, keyed MERGE, OPTIMIZE);
without it the semantically-identical parquet rewrites run instead.

Only capability detection lives here — callers never import delta
directly. ``local_frame`` turns driver-side rows into a JVM
``LocalRelation`` for those writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def local_frame(spark: SparkSession, rows: list, schema: T.StructType | str) -> DataFrame:
    """Driver-side ``rows`` as a DataFrame over a JVM ``LocalRelation``.

    ``createDataFrame(list, schema)`` plans a ``LogicalRDD`` over a
    pickled ``parallelize``, so every job over it runs its tasks through
    Python workers. Here each row goes
    through the schema's own ``toInternal`` (dates -> epoch days, naive
    timestamps -> epoch us, exactly as ``createDataFrame`` converts them)
    into one Arrow table, which Spark turns into a ``LocalRelation`` with
    the same schema, nullability included. A NULL in a non-nullable
    field raises, as ``createDataFrame`` does."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    internal = [schema.toInternal(r) for r in rows]
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(arrow_schema):
        col = pa.array([r[i] for r in internal], type=field.type)
        if col.null_count and not field.nullable:
            raise ValueError(f"field {field.name}: NULL in a non-nullable field")
        columns.append(col)
    return spark.createDataFrame(pa.Table.from_arrays(columns, schema=arrow_schema))


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


TABLE_FORMAT = "delta" if delta_available() else "parquet"


def write_table(
    df: DataFrame,
    fqn: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    writer = df.write.mode(mode).format(TABLE_FORMAT)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(fqn)


def delete_where(spark: SparkSession, fqn: str, condition: str) -> None:
    """DELETE FROM fqn WHERE condition.

    Delta: a metadata-level delete (only touched files rewrite).
    Parquet: staged rewrite of the complement — same result, O(table).
    """
    if TABLE_FORMAT == "delta":
        spark.sql(f"DELETE FROM {fqn} WHERE {condition}")
        return
    remaining = spark.table(fqn).filter(f"NOT ({condition})")
    swap_overwrite(spark, remaining, fqn)


def merge_upsert(
    spark: SparkSession,
    target_fqn: str,
    updates: DataFrame,
    keys: list[str],
    order: list[str],
    partition_by: tuple[str, ...] = (),
) -> None:
    """Latest-wins upsert of ``updates`` into ``target_fqn``.

    Delta: MERGE ... WHEN MATCHED AND source is strictly newer THEN UPDATE
    WHEN NOT MATCHED THEN INSERT (touched files only). "Newer" is the exact
    lexicographic tuple comparison over ``order`` — a>b OR (a=b AND ...) —
    and the updates are pre-deduplicated to one row per key (Delta MERGE
    errors on multiple source matches), so the result is identical to the
    parquet fallback's union + row_number.
    Parquet: union + row_number + swap.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    if TABLE_FORMAT == "delta":
        from delta.tables import DeltaTable

        deduped = (
            updates.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        tgt = DeltaTable.forName(spark, target_fqn)
        cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
        newer = _lexicographic_newer("s", "t", order)
        (
            tgt.alias("t")
            .merge(deduped.alias("s"), cond)
            .whenMatchedUpdateAll(condition=newer)
            .whenNotMatchedInsertAll()
            .execute()
        )
        return
    combined = spark.table(target_fqn).unionByName(updates)
    merged = combined.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    swap_overwrite(spark, merged, target_fqn, partition_by)


def _lexicographic_newer(s: str, t: str, order: list[str]) -> str:
    """SQL condition: tuple (s.o1, s.o2, ...) > (t.o1, t.o2, ...) in
    lexicographic order — s.o1 > t.o1 OR (s.o1 = t.o1 AND s.o2 > t.o2) ...
    NULL-safe is not needed: order columns are NOT NULL envelope metadata."""
    terms = []
    for i, c in enumerate(order):
        eqs = [f"{s}.{order[j]} = {t}.{order[j]}" for j in range(i)]
        terms.append("(" + " AND ".join([*eqs, f"{s}.{c} > {t}.{c}"]) + ")")
    return " OR ".join(terms)


def table_partitioning(spark: SparkSession, fqn: str) -> tuple[str, ...]:
    try:
        return tuple(c.name for c in spark.catalog.listColumns(fqn) if c.isPartition)
    except Exception:
        return ()


def swap_overwrite(
    spark: SparkSession, df: DataFrame, fqn: str, partition_by: tuple[str, ...] = ()
) -> None:
    """Overwrite a table that the plan may be reading from, via a staging
    table (direct self-overwrite is rejected), then invalidate caches.
    Preserves the target's existing partition layout unless overridden."""
    if not partition_by and spark.catalog.tableExists(fqn):
        partition_by = table_partitioning(spark, fqn)
    staging = fqn.replace(".", "__") + "__staging"
    df.write.mode("overwrite").format(TABLE_FORMAT).saveAsTable(staging)
    writer = spark.table(staging).write.mode("overwrite").format(TABLE_FORMAT)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(fqn)
    spark.sql(f"DROP TABLE {staging}")
    spark.catalog.refreshTable(fqn)
