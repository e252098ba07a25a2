"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are tuned for the local[32] test harness but express the same knobs
a cluster deployment uses: Arrow-batched UDF transfer, AQE with skew-join
splitting, explicit shuffle partition sizing.
"""

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "a5spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or return the running) session with the engine's defaults.

    Python workers fork from a5spark.worker_daemon, not pyspark.daemon. Every
    Python task starts with importlib.invalidate_caches(), and on Python 3.11
    that makes each of the ~16 zipimporters over pyspark.zip / py4j-*.zip
    re-read the archive's central directory: 110-155 ms per task, most of
    the 270-420 ms a 1-partition no-op Python job cost on a 4-CPU host
    (63-100 ms in the JVM alone). A radius, kNN or PIP request runs 4-6 such
    stages. The daemon re-reads an archive only when its stat changed.
    It is a daemon module, not a patch applied on `import a5spark`, because
    PythonRDD tasks (query frames built from Python lists) run on workers
    that never import a5spark; the import-time patch gained ~15% on the
    spatial_queries benchmark, the daemon ~50%.

    A --py-files deployment cannot use the hook: the zip reaches a worker's
    path per task, after the daemon has started, so the daemon could not
    import a5spark. Such a deployment builds its own session, as
    scripts/submit_pipeline.py does.

    The daemon starts as `python -m a5spark.worker_daemon` in the driver's
    working directory, so the directory that contains a5spark goes on the
    Python workers' PYTHONPATH through spark.executorEnv.PYTHONPATH (Spark
    appends the driver's own PYTHONPATH to it); without it a driver that
    imports a5spark through sys.path from any other directory fails every
    Python task."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(32, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE re-plan (notably: coalesce tiny shuffle partitions) on TOP
        # of cached plans — the compact/cover operators persist cover-sized
        # frames, and without this every post-shuffle kernel-UDF stage runs
        # at full spark.sql.shuffle.partitions width over ~KB of data, each
        # task paying a Python-worker round-trip (~0.7 s/task measured on
        # this host; compact_cover spent 180 s of executor time at <1% CPU)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "a5spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", pkg_parent)
    )
    return builder.getOrCreate()
