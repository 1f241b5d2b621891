"""SparkSession factory for the engine.

The reference (``/root/reference/COPY_MSQL_TO_SILVER.py:28-37``) configures a
JDBC connection and relies on a Databricks-managed session; this engine owns
its session and configures it for OLAP workloads:

* AQE on (runtime re-planning, partition coalescing, skew-join handling) —
  essential at 100 TB where static plans misestimate.
* ``spark.sql.shuffle.partitions`` sized to the local core count for tests;
  on a real cluster this should be ~2-3x total executor cores (or left to AQE
  coalescing with a high initial value).
* Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle and are deterministic across environments.
* Arrow enabled: every pandas_udf / applyInPandas boundary transfers
  columnar batches instead of pickled rows.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from nrtwithdeltalake_spark._protobuf_compat import ensure_protobuf

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def _default_driver_memory() -> str:
    """48g, capped at half the host's physical memory: the JVM heap
    must leave room for the Python driver and the host's other work."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(48 * 1024, half_mb)}m"


def build_spark(
    app_name: str = "nrtwithdeltalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    # must run before the JVM launches: workers inherit the PYTHONPATH /
    # env this sets (see _protobuf_compat module docstring)
    ensure_protobuf()
    master = master or f"local[{DEFAULT_CPUS}]"
    n_shuffle = shuffle_partitions or int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition SIZE, not to max parallelism:
        # with the default (true) AQE keeps many tiny post-shuffle tasks
        # whose launch overhead dominates small stages; honoring size
        # (64 MB advisory) is also the right call on a 1000-executor
        # cluster — measured ~10% off headline runtime at sf0.1
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # let the registered 'versioned' Python DataSource receive
        # pushed filters (stats-based file skipping + pyarrow row-group
        # skipping in sources/datasource.py); off by default in Spark 4.1
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's reader rejects
        # by default; read as long and convert in sources.catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast joins for dimension tables (region/nation/supplier/part).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
