"""SparkSession factory.

Single place where engine-level Spark configuration lives. Local mode
runs `local[$SPARK_GRAFT_CPUS]` (`local[*]` when unset), and that core
count also sizes shuffle partitions and file-listing jobs; the driver
heap is $SPARK_GRAFT_DRIVER_MEM (8g). On a real cluster the same code
runs unchanged — only master/memory configs differ, and those come
from spark-submit, not from here.

Scale posture:
- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join
  splitting, dynamic broadcast decisions).
- shuffle.partitions default kept modest locally; AQE coalesces up,
  cluster deployments set ~2-3x total cores.
- Arrow enabled for the pandas-UDF paths (vectorized Python).
- Session timezone pinned to UTC so timestamp semantics are
  deterministic across environments.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ~10 MB broadcast threshold is Spark's default; raise a bit — our
    # dims (region/nation/date-like) are tiny even at 100 TB fact scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # keep partition values (e.g. day=2026-01-05) as strings — type
    # inference would silently turn the ETL `day` column into a DATE
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
    "spark.sql.parquet.aggregatePushdown": "true",
    # runtime bloom-filter join pruning: a selective dim filter injects
    # a might_contain() semi-filter on the fact side pre-shuffle
    # (pinned by test_runtime_bloom_filter_prunes_fact_side)
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Python call-site capture for DataFrame error context costs ~3
    # py4j round-trips per DataFrame op (a conf.get + origin set/clear)
    # — measured ~30-40% of plan-construction time on multi-op builders.
    # A batch engine takes the error message without the Python line
    # origin; debugging sessions can flip it back on per-run.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Janino-compiled classes kept per JVM. Spark's default of 100 is
    # below one unit's working set, so LRU eviction recompiled every
    # class each time a unit repeated. Distinct classes measured
    # (CodegenMetrics compile count under an unbounded cache, 4 cores):
    # perfbench analytics_mix set-up plus three passes 278, an
    # ingest_incremental run with six cycles 93, bench.py's 51-entry
    # loop at sf0.1 1110 — the largest, so 4096 is the smallest power
    # of two at least twice it. A static conf: it takes effect when
    # the session (and so the JVM's code generator) starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # A read of more than 32 paths (parallelPartitionDiscovery.threshold)
    # lists them in a Spark job of min(paths, this) tasks; Spark's
    # default of 10000 is one task per path. Measured on 4 cores:
    # building a per-path read of 512 CSVs in 4 day dirs took 2.4-3.2 s
    # with one task per path and 0.32-0.45 s with 4 tasks, against
    # 0.05-0.09 s for a read of the 4 directories (warm JVM). One task per core
    # keeps the parallel listing for large lake tables on hdfs:/s3a:.
    "spark.sql.sources.parallelPartitionDiscovery.parallelism": os.environ.get(
        "SPARK_GRAFT_CPUS", "32"
    ),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def cluster_conf(
    total_cores: int,
    executor_mem_gb: int = 32,
) -> dict[str, str]:
    """Recommended overrides for a REAL cluster run at ~100 TB — the
    documented delta from the local `_DEFAULTS` (pass to `get_spark`
    as overrides, or mirror into spark-submit --conf):

    - shuffle.partitions ≈ 2-3× total cores: enough granularity for
      AQE to coalesce DOWN (it never splits up non-skewed partitions),
      sized so a ~200 MB-per-partition shuffle of a multi-TB stage
      fits executor memory with headroom.
    - maxPartitionBytes stays 128 MB (scan-task sizing is about
      per-task decode cost, not cluster size).
    - advisoryPartitionSizeInBytes 128 MB guides AQE's coalescing and
      skew-split target.
    - autoBroadcastJoinThreshold stays 64 MB: dims are the same size
      regardless of fact scale; raising it further risks driver OOM
      collecting a mis-estimated side.
    - RocksDB state store for streaming: state beyond executor-heap
      scale (sessionization over millions of users) spills to local
      disk instead of OOMing.

    Not overridden here: `_DEFAULTS`' `spark.sql.codegen.cache.maxEntries`.
    The codegen cache lives in each JVM — the driver and every
    executor keep their own — and the conf is static, so it must reach
    every JVM at launch (spark-submit --conf, or the session builder
    before the SparkContext starts); setting it on a running session
    changes nothing.
    """
    return {
        "spark.sql.shuffle.partitions": str(max(2 * total_cores, 200)),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 * 1024 * 1024),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }


def get_spark(app_name: str = "reactionetl-etl-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Master resolution: $SPARK_GRAFT_MASTER > local[$SPARK_GRAFT_CPUS] >
    local[*]. On a cluster, spark-submit's --master wins because an
    existing session is returned as-is.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
