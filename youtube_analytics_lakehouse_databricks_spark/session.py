"""SparkSession factory.

Mirrors the reference's runtime intent (`databricks.yml:21`
PERFORMANCE_OPTIMIZED, serverless triggered pipeline) with the OSS knobs that
matter: AQE on (runtime re-plan, skew-join handling), UTC session timezone
(so results are comparable with UTC-naive engines like DuckDB), Arrow for
the pandas-UDF slow path, and shuffle partitions sized to cores for local
runs — on a real cluster, leave `spark.sql.shuffle.partitions` to AQE's
coalescing with a high initial value instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "youtube_analytics_lakehouse_databricks_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a Delta-style analytics session.

    Local default: ``local[$SPARK_GRAFT_CPUS]`` with shuffle partitions =
    cores. Cluster deployments pass ``master=None`` with a pre-configured
    environment and a larger ``shuffle_partitions`` (AQE coalesces down).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE's coalescing floor is 1 MB per post-shuffle partition — a
        # byte heuristic that serializes COMPUTE-heavy exchanges whose
        # payload is small: the IVF per-cell matmul exchange (~1 MB of
        # vectors at bench scale) coalesced to ONE task, running every
        # cell's Arrow kernel sequentially (measured via tools/
        # stage_probe.py; guide §2.5's skew story with bytes standing in
        # for work). 64k keeps such exchanges at several-per-core tasks;
        # a 3-way interleaved sweep (16k / 64k / 1m over the affected
        # queries) showed 16k over-splits the small RELATIONAL exchanges
        # (exact_dedup 0.44 -> 0.68 s med) while 1m serializes the Arrow
        # kernels (bucket_ann 1.44 vs 1.02 med) — 64k wins the sum.
        # Scale-adaptive by construction: with parallelismFirst (default
        # true) the target is totalBytes/parallelism floored at this
        # value, so any exchange carrying >= 64k * cores (2 MB here)
        # coalesces exactly as before — at 100 TB the conf is inert.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 24g, NOT the machine's 128g: in local mode all executor threads
        # share the driver JVM heap, and an oversized heap lets G1's
        # young generation balloon between collections — measured on the
        # allocation-heavy shingle self-join (the since-deleted
        # ngram_jaccard_pairs row, sf0.1): with a 90g heap, identical
        # back-to-back runs swung 1.8-10.4 s wall with 2-22 s of GC, and
        # never converged; at 16-24g the same runs settle at 1.2-1.7 s
        # with bounded GC. Big
        # per-node datasets spill via MEMORY_AND_DISK instead of growing
        # the heap, which is also the right cluster posture (real
        # executors run 4-8g per 4-8 cores). Override with
        # SPARK_GRAFT_DRIVER_MEM when a tool genuinely needs more.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Shuffle cleanup is reference-triggered (ContextCleaner), so a
        # high-query-churn session accumulates dead shuffle files until
        # the JVM happens to GC — measured 2-4x slowdowns after ~1,000
        # stale block files. The default periodicGC of 30 min is tuned
        # for batch jobs; an interactive analytics session wants it tight.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # The reference relies on non-ANSI element_at/array_position NULL
        # semantics (SURVEY §7.4.4); keep ANSI off to match.
        .config("spark.sql.ansi.enabled", "false")
        # WRONG-RESULTS GUARD: Spark 4.1's partitioning-aware union
        # (UnionExec reporting its children's common hash partitioning so
        # a downstream groupBy elides its exchange) returns duplicate
        # group keys when both union children are fed by the SAME reused
        # exchange under AQE — reproduced on this exact build with
        # paragraph_dedup over an id-prepartitioned scan: groupBy(doc_id)
        # over union(exempt-units, semi-joined-units) emitted 678 rows
        # for 500 docs, the same doc aggregated separately per branch
        # (pinned by tests/test_paragraph_dedup.py::
        # test_prepartitioned_input_no_duplicate_keys). The elided
        # exchange is a minor win; silent duplicate aggregates are not.
        .config("spark.sql.unionOutputPartitioning", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
