"""SparkSession factory with scale-oriented defaults.

Local mode is a test harness only; every config below is chosen so the
same plans hold on a multi-executor cluster (AQE, skew-join handling,
Arrow batching, sane shuffle partitioning).

Python workers fork from :mod:`deepie_spark.worker_daemon`, not the
stock ``pyspark.daemon``: on Python < 3.13 the stock worker re-reads
the whole ``pyspark.zip`` directory (once per zip importer) at the start
of every task: 0.15-0.3 s of CPU per task on a 4-core host, where 80
one-row ``mapInArrow`` tasks at ``local[2]`` took 22 s with the stock
daemon and 3.7 s with this one.  The executor's Python imports the
daemon module before any task runs, so the checkout root (the parent of
the ``deepie_spark`` package) goes on the executors' ``PYTHONPATH``;
without it a driver started outside the checkout cannot start the
daemon and every Python UDF fails.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding the ``deepie_spark`` package
_CHECKOUT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "deepie_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS (driver contract) or all local
    cores. ``shuffle_partitions`` defaults to the core count — on a real
    cluster you'd size this to ~2-3x total executor cores / target
    128-256 MB shuffle blocks; AQE coalescing then trims small partitions
    at runtime.

    Python workers run from :mod:`deepie_spark.worker_daemon`, which
    stops them re-reading ``pyspark.zip`` on every task; the checkout
    root is put on ``spark.executorEnv.PYTHONPATH`` so the daemon (and
    every kernel's ``deepie_spark`` import) resolves whatever the
    driver's working directory is.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # local testdata is one parquet file; cap split size so scans
        # parallelize like a real many-file table would (4 MB splits)
        .config("spark.sql.files.maxPartitionBytes", "4194304")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/tmp")
        .config("spark.python.daemon.module", "deepie_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _CHECKOUT_ROOT)
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_parallelism(df, target: int | None = None):
    """Repartition only when the input is under-partitioned.

    CPU-heavy per-row stages (shingling, hashing, Arrow UDFs) must run at
    cluster parallelism; a production table arrives in many splits so
    this is a no-op there, but a single small local parquet would
    otherwise pin the whole stage to one or two cores.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
