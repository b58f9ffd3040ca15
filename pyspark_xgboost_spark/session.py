"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` but every conf here is chosen to be
correct on a real multi-executor cluster: AQE on (runtime re-plan +
skew-join splitting + partition coalescing), Arrow on (all our Python
boundaries are pandas-batched), UTC session timezone (parquet timestamps
compare bit-for-bit against the DuckDB oracle).

Python workers start through ``pyspark_xgboost_spark.worker``
(``spark.python.worker.module``). On CPython before 3.13, stock
``pyspark.worker`` re-reads the central directory of ``pyspark.zip``
(and of every other zip on the path) at the start of every task, which
cost 0.1-0.4 s a task. ``pyspark.daemon`` imports a worker module only
if its name starts with ``pyspark``; this one does, so the daemon
imports it before it forks, and a worker's first task is covered too.
With ``spark.python.use.daemon=false`` Spark runs the module with
``python -m``, and it runs ``pyspark.worker`` as ``__main__``. The
setting is fixed here and is not meant to be tuned. A session built
without ``get_spark`` keeps the stock worker and pays the re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` if set, else a third of physical memory,
    at most 32g. A fixed 32g heap cap let one driver JVM grow past what a
    16 GB host holds, and the kernel OOM killer took it (or a neighbour);
    two drivers side by side (a test run beside its smoke sweep) must
    both fit."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, min(32, ram_gb // 3))}g"


def get_spark(
    app_name: str = "pyspark_xgboost_spark",
    cpus: int | None = None,
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        # The generated-class cache defaults to 100 entries; a session
        # that runs the full query surface compiles several codegen
        # units per query, so warmup-compiled classes get evicted
        # before the timed run and Janino recompiles mid-bench (shows
        # up as multi-second spikes on giant expression trees). Static
        # conf — takes effect on first session creation in the JVM.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Python workers start through pyspark_xgboost_spark.worker, which
        # stops each task from re-reading pyspark.zip (0.1-0.4 s a task;
        # see that module)
        .config("spark.python.worker.module", "pyspark_xgboost_spark.worker")
        # The daemon imports that module before it serves any task, so a
        # worker that cannot import this package fails every Python task,
        # even a UDF pickled by value: put the package's root on the
        # workers' path, whatever the driver's cwd
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Conf-as-boolean parsing (reference O26 _getConfBoolean) lives in
# pyspark_xgboost_spark.utils.get_conf_boolean — the single copy.
