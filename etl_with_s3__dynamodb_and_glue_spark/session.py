"""SparkSession factory.

The reference delegates session construction to AWS Glue
(reference glue_job.py:26-28); here we own it. Defaults are chosen for
correctness-at-scale first:

- AQE on (runtime join-strategy pick, skew-join splitting, post-shuffle
  partition coalescing) — SURVEY.md §4.
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- shuffle partitions sized to the local core count for tests; on a real
  cluster this is overridden (or left to AQE's coalescing with a high
  initial partition number).
- Arrow enabled for the pandas_udf slow path.
- a whole-stage codegen class cache that holds the registry's working
  set. Spark's default keeps 100 compiled classes, fewer than one warm
  LLM-curation batch generates (about 105), so every such batch
  recompiled most of them; one pass over the whole registry at sf0.001
  generates about 2,000 distinct classes. See ``CODEGEN_CACHE_ENTRIES``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: about twice the ~2,000 distinct
# classes one full-registry pass generates at sf0.001 (2,012-2,029
# counted from CodegenMetrics), so a session that repeats registry plans
# reuses their compiled classes instead of evicting them. Holding a
# registry pass's classes took ~15 MB more Metaspace, so a full cache
# costs a few tens of MB.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "etl-s3-ddb-glue-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, falling back
    to all cores) so the bench harness contract holds; on a cluster the
    caller passes the real master or relies on spark-submit.

    Static confs (``spark.driver.memory``, the codegen cache size) take
    effect only when this call launches the JVM. A session built
    elsewhere, such as a driver's vanilla one, keeps Spark's defaults,
    so its codegen cache holds 100 classes.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Local mode runs driver + all executor threads in ONE JVM; the
    # 1g spark-submit default starves 32 task threads (observed
    # GCLocker stalls and heap OOM on the LSH self-joins). Only
    # effective at JVM launch — a no-op if a session already exists.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
