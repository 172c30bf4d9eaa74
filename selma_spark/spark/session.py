"""SparkSession factory with the configs this pipeline depends on.

Tuned for the engine's execution profile: arrow-vectorized python UDFs
over documents (batch size bounds per-batch memory, mirroring the
reference's bounded-memory settings, reference rewriter.rs:556-568),
AQE for runtime re-planning/skew handling, and shuffle parallelism
sized to the core count."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_cpus() -> int:
    """Local parallelism: $SPARK_GRAFT_CPUS, else this host's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def get_spark(
    cpus: int | None = None,
    app_name: str = "selma-spark",
    arrow_batch_rows: int = 1024,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = default_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # relational shell: let Catalyst/AQE do the planning
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime bloom-filter pruning for the big shuffle joins (dedup
        # hash joins, LSH band joins): the probe side skips rows whose
        # keys can't match before the shuffle
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        # arrow hop JVM<->python: the only serialization boundary in the
        # hot path; cap batch rows so giant documents don't blow memory
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        # keep scans splittable at 100TB scale
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    from .shipping import ensure_shipped

    ensure_shipped(spark)
    return spark
