"""SparkSession factory with scale-aware defaults.

The engine is designed for a multi-executor cluster reading ~100 TB; the same
config surface works on ``local[N]`` for correctness tests. Decisions:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB static
  partition counts are always wrong somewhere; AQE re-plans per stage.
- ``spark.sql.shuffle.partitions`` defaults to the local core count for
  local mode; on a real cluster callers pass ``shuffle_partitions`` sized
  ~2-3× total cores (AQE coalesces down).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (naive-UTC) and are cluster-invariant.
- Arrow enabled for every pandas-UDF / toPandas hop.
- The whole-stage-codegen cache (``spark.sql.codegen.cache.maxEntries``)
  must hold a session's working set of generated classes. Spark keys
  compiled classes by code text in an LRU of 100 by default (4 segments
  of 25 that evict on their own), and a pass that walks more classes than
  that in a fixed order misses on nearly every lookup: each warm pass
  recompiles what the last one compiled. Measured at sf0.01, 4 cores: the
  MEAD graph generates 84 classes, the 29 ``bench.R1_KEYS`` queries about
  330 and the 244-query registry 3,148. With 4096 a warm registry pass
  compiles 75 classes instead of 4,213; after it, the JVM holds about
  410 MB more heap and 24 MB more Metaspace (599 and 229 MB after a GC).
- ``local[N]`` defaults to the CPUs the process may run on (its affinity
  mask), not the host's count, so a pinned run does not oversubscribe.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))


def get_spark(
    app_name: str = "talkinghead_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master=None`` → honor an externally-provided master (spark-submit /
    cluster manager) and fall back to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{DEFAULT_CPUS}]")
    shuffle_partitions = shuffle_partitions or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The per-worker model cache and the zip-finder release both need reused workers.
        .config("spark.python.worker.reuse", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Fixture parquet stores TIMESTAMP(NANOS) (events.ts) which Spark
        # cannot map to TimestampType; read as long and convert in catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # 128 MB parquet split targets healthy task sizes at any SF.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Must hold a session's working set of generated classes (see Decisions).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
