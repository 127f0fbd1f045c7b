"""SparkSession bootstrap with the engine's recommended configuration.

Mirrors the reference's recommended session config (Arrow on, AQE on,
partition coalescing — /root/reference/docs/performance.rst:163-189) and
additionally makes the repo root importable on executor Python workers so
pandas-UDF closures that reference this package resolve by import.
"""

from __future__ import annotations

import os
from concurrent.futures import Future, ThreadPoolExecutor
from pathlib import Path

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

_REPO_ROOT = str(Path(__file__).resolve().parent.parent)


def _export_pythonpath() -> None:
    """Ensure executor python workers can import this package.

    Must run before the JVM starts: local-mode python workers inherit the
    JVM's environment, which inherits ours.
    """
    existing = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + existing if existing else "")
        )


def start_job(spark: SparkSession, fn, *args, **kwargs) -> Future:
    """Run ``fn(*args, **kwargs)`` on its own driver thread and return
    its Future — the one way the fitters and samplers race independent
    jobs (Spark schedules jobs from separate driver threads in
    parallel). The thread inherits the caller's local properties (job
    group, description, tags), so its jobs are attributed to the
    caller's group exactly like jobs submitted inline. Exceptions
    surface from ``.result()``."""
    inherit = inheritable_thread_target(spark)
    # pyspark hands back the session itself when pinned-thread mode is
    # off: there are then no per-thread properties to carry over
    target = fn if inherit is spark else inherit(fn)
    pool = ThreadPoolExecutor(max_workers=1)
    future = pool.submit(target, *args, **kwargs)
    pool.shutdown(wait=False)
    return future


def get_spark(
    app_name: str = "spark-bestfit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession tuned for this engine.

    Defaults are scale-oriented: AQE handles runtime partition coalescing
    and skew joins; Arrow accelerates every pandas-UDF boundary.
    """
    _export_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions else int(cpus)),
        )
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
