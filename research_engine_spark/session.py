"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N]; the config below is written for a
multi-executor cluster (AQE, Arrow, explicit shuffle partitioning) and
degrades gracefully to local mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Python workers fork from this daemon module (see its docstring), so it
# must be importable wherever a worker starts, or every Python job fails.
# get_spark always builds a local master, where the driver's copy of the
# package is the workers' copy, so its parent directory goes into
# spark.executorEnv.PYTHONPATH, which Spark merges into the workers'
# PYTHONPATH; the workers no longer rely on the driver's cwd. On a real
# cluster (spark-submit), ship the package with spark.submit.pyFiles or an
# installed wheel so executors can import the daemon when they start;
# addPyFile alone comes too late.
_DAEMON_MODULE = "research_engine_spark._daemon"
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "research_engine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    cores: local[N] parallelism; defaults to $SPARK_GRAFT_CPUS or '*'.
    shuffle_partitions: defaults to max(cores, 32) locally; on a real
    cluster this should be ~2-3x total executor cores (set via
    spark-submit --conf, which wins over these defaults).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env}]" if env else "local[*]"
        n = int(env) if env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores
    if shuffle_partitions is None:
        shuffle_partitions = max(n, 16)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(max(n, 8)))
        # input split size, parameterised (guide §6): local single-file
        # test tables are 20-130MB with multi-MB row groups, so 128MB
        # splits serialize their scans onto 1-2 tasks; 16MB restores scan
        # parallelism without fragmenting small files (openCostInBytes
        # still packs them). On a real cluster with TB-scale inputs set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m+ to cut task-scheduling
        # overhead (§2.2: fewer, larger map tasks).
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.python.daemon.module", _DAEMON_MODULE)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def wide(df: DataFrame) -> DataFrame:
    """Parallelism floor before CPU-heavy per-row work (tokenize /
    explode / hashing): a small or compacted table arrives as one
    parquet split, which would serialize the whole map stage onto one
    task (guide §2.5 input skew). Round-robins up to the session
    parallelism; a no-op when the scan is already wide (at real scale it
    always is). Results are partitioning-independent, so plans above are
    unchanged."""
    p = int(df.sparkSession.sparkContext.defaultParallelism)
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df
