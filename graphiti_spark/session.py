"""SparkSession factory tuned for this engine.

Local-mode testing (local[N]) stands in for a multi-executor cluster;
every setting below is one that matters identically on a real cluster:
AQE (runtime re-plan + skew-join splitting), UTC session timezone
(oracle comparability), Arrow for pandas-UDF exchange, shuffle
partitions sized to parallelism instead of the 200 default.

The whole-stage codegen class cache is sized to the engine's plans.
Spark keeps generated classes in an LRU of
`spark.sql.codegen.cache.maxEntries` entries, 100 by default, while one
run through the flagship plans needs 657 distinct classes (measured;
see `CODEGEN_CACHE_ENTRIES`). At the default every warm `build_graph` +
`force_outputs` pass evicted and recompiled about 190 classes (Janino,
14–20 ms each, then JIT-compiled again by the JVM); at the engine's
size warm passes reuse their classes, and a plan variant that AQE picks
on some passes only is compiled once.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Generated classes one session compiles on its first run through every
# flagship plan (build_graph + force_outputs over 39,960 turns, a
# run_pipeline base + increment, the five-recipe search rotation,
# q_curation_pipeline over 2,000 documents; local[4], unbounded cache):
# 657, MEASURED with CodegenMetrics' compile counter. Later runs add 0-23
# classes per plan whose generated code differs per call. The cache holds
# about three times the working set; entries averaged 7.1 KB of source
# (kept as the cache key) and 2.9 KB of bytecode, about 20 MB when full.
CODEGEN_CACHE_ENTRIES = 2000

# Engine SQL settings, shared by get_spark and the spark-submit entry
# point (scripts/submit_job.py). Static confs among them (the codegen
# cache) only take effect on the builder, before the session starts.
ENGINE_SQL_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    # The cache is keyed by source code. With the stage id in the class
    # name, identical code became a new entry whenever a later pass's
    # adaptive re-plan numbered the same stage differently: 945 classes
    # per run through the plans instead of 657.
    "spark.sql.codegen.useIdInClassName": "false",
}


def _default_driver_memory() -> str:
    """A quarter of the host's physical memory, 1 to 48 GB. The driver
    JVM grows its heap toward the maximum, and a maximum above what the
    host has lets it grow until the kernel kills it."""
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, max(1024, phys_mb // 4))}m"


def get_spark(
    app_name: str = "graphiti_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # parse parallelism out of local[N] for shuffle sizing
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if inner == "*" else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config(map=ENGINE_SQL_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
