"""SparkSession factory.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
configuration is cluster-safe: AQE handles shuffle sizing / skew at scale,
Arrow powers every pandas/mapInArrow exchange, and shuffle partitions are
left to AQE coalescing (initial value sized by env for local runs).

Local masters also start PySpark's worker daemon through
``dataset_dedupe_estimator_spark._pyworker`` (``spark.python.daemon.module``).
Before CPython 3.13 every Python task re-read the zip directories of
``pyspark.zip`` and the spark-core jar from ``importlib.invalidate_caches()``,
~0.17 s of CPU per task before the UDF ran; the daemon keeps a directory
whose archive is unchanged. It is set for ``local[...]`` only, because only
there does ``get_spark`` itself put this package on the workers'
``PYTHONPATH`` before the JVM starts. On a cluster, pass
``--conf spark.python.daemon.module=dataset_dedupe_estimator_spark._pyworker``
to spark-submit, with the package on the executors' ``PYTHONPATH``: the
daemon imports it before any task runs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB
    # (hot chunk hashes / hot shingles) and harmless locally.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all Python<->JVM exchanges (mapInArrow chunker, pandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Broadcast small dimension tables aggressively (region/nation/supplier
    # and per-run dedup maps are tiny next to lineitem/chunk tables).
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Parquet scan tuning: vectorized reader on, sane split size.
    "spark.sql.parquet.enableVectorizedReader": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Keep timestamps deterministic across engines (oracle comparisons).
    "spark.sql.session.timeZone": "UTC",
    # No \r progress bars garbling programmatic stdout (bench JSON line).
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "dataset-dedupe-estimator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32) when no cluster
    master is configured — on a real cluster, pass master=None and launch via
    spark-submit so the cluster manager decides.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Make this package importable by executor-side Python workers no matter
    # the caller's cwd (mapInArrow/pandas-UDF closures reference it). On a
    # real cluster, ship the package via --py-files instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pkg_root}{os.pathsep}{pypath}" if pypath else pkg_root
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Local single-JVM runs need driver heap for 32 concurrent tasks.
    if master and master.startswith("local"):
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    # local-cluster executors are separate JVMs that need not see PYTHONPATH
    effective = master or os.environ.get("SPARK_MASTER", "")
    if effective == "local" or effective.startswith("local["):
        conf["spark.python.daemon.module"] = "dataset_dedupe_estimator_spark._pyworker"
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
