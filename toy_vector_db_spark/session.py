"""SparkSession builder with scale-aware defaults.

Defaults are tuned so the same code runs on local[32] for tests and on a
multi-executor cluster unchanged: AQE on (runtime re-plan, skew-join
handling, partition coalescing), Arrow on (fast pandas UDF transfer),
shuffle partitions sized from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Adaptive execution: runtime shuffle-partition coalescing, skew-join
    # splitting, and dynamic join-strategy switching. Essential at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every pandas UDF / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Broadcast small dimension tables aggressively (region/nation/centroids).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Keep scan partitions in the 128 MB sweet spot.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # PySpark's daemon, minus the per-task zip-directory re-read (the
    # ~200 ms Python-worker floor; see pyworker.py and DEPLOYMENT.md).
    "spark.python.daemon.module": "toy_vector_db_spark.pyworker",
    # List up to this many paths on the driver instead of in a Spark job
    # (default 32). Reading N explicit one-row parquet files on a 4-core
    # host, best of 4: with the job, 33 files took 406 ms, 64 files
    # 392 ms and 1,024 files 4,356 ms; listed on the driver, 64 files
    # took 27 ms, 1,024 files 170 ms and 2,048 files 348 ms, still below
    # the job's own floor. Catalog manifests, index segments and
    # partitioned index layouts (178 cluster directories) stay under it.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2048",
}


def get_spark(app_name: str = "toy_vector_db_spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 if unset);
    ``shuffle_partitions`` defaults to the same CPU count — on a real
    cluster you'd set it to ~2-3x total cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # local mode folds every executor into the driver JVM: with 32
    # concurrent tasks an 8g heap GC-thrashes (bench variance measured
    # up to 5x on expression-heavy queries). On a real cluster this
    # setting governs only the driver; executors are sized separately.
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "32g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_SESSION_TMP: str | None = None


def session_scratch_dir(prefix: str = "scratch") -> str:
    """A fresh directory under a per-process scratch root that lives
    until interpreter exit (cleaned by atexit), NOT until the creating
    function returns.

    Streaming workload queries sink results here so they can return a
    lazily-read DataFrame over the sink files instead of collect()-ing
    the result through the driver to outlive a function-local tempdir —
    the anti-pattern flagged in round 3 (driver OOM at scale). On a
    cluster the analogous location is a job-scoped path on shared
    storage (object store / HDFS), cleaned by the orchestrator."""
    global _SESSION_TMP
    import atexit
    import shutil
    import tempfile
    if _SESSION_TMP is None:
        _SESSION_TMP = tempfile.mkdtemp(prefix="spark_graft_session_")
        atexit.register(shutil.rmtree, _SESSION_TMP, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix + "_", dir=_SESSION_TMP)
