"""SparkSession factory with scale-appropriate defaults.

The reference engine is a single-threaded Python process
(`/root/reference/mriya.py` — no threading imports anywhere); its only
"tuning" is transport chunk sizes (`data_connector.py:23,38,365`). Here
the equivalent knobs are Spark's: AQE for runtime re-planning, Arrow for
any Python exchange, broadcast threshold for dimension joins, shuffle
partitions sized to cores locally (a real cluster would size to
2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from mriya_spark.cachedir import cache_dir as _cache_dir
from mriya_spark.cachedir import cache_root as _cache_root

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "mriya_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Settings rationale (100 TB posture, local[*] test reality):

    - AQE on + coalesce + skew-join: runtime re-partitioning is the
      scale story for every shuffle this engine emits.
    - Arrow on: all pandas_udf / applyInPandas paths (MinHash, vector
      ops) move data in columnar batches, never per-row pickle.
    - UTC session timezone: required for value-identical comparison
      with the DuckDB oracle (naive UTC timestamps).
    - parquet timestamps are read as-is (fixtures are timestamp[ms]/[ns];
      Spark truncates ns->us losslessly for these fixtures).
    - codegen class cache of 2000 entries: a pipeline that re-runs its
      plan shapes (an export iteration, every stream micro-batch)
      needs ~134 generated classes, and Spark's default of 100 makes
      the LRU evict each class just before its next use, so every run
      recompiles all of them. Check with
      ``CodegenMetrics.METRIC_COMPILATION_TIME().getCount()``, which
      stays flat across warm runs. The conf is static: a session this
      function did not build (``getOrCreate`` on a running context)
      keeps 100 entries, stays correct and pays the recompiles.
    """
    _cache_dir()  # establish the 0700 cache root before Spark writes under it
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        # fixtures' events.ts is parquet TIMESTAMP(NANOS), which Spark
        # refuses natively; read as long and convert in the catalog
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python DataSource filter pushdown (salesforce_mock connector)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        # user-scoped (saveAsTable data is trusted on re-read; shared
        # predictable /tmp paths are plantable — r5 verdict)
        .config("spark.sql.warehouse.dir", os.path.join(_cache_root(), "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Dderby.system.home={os.path.join(_cache_root(), 'derby')}",
        )
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
