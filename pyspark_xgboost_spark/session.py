"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]`` but every conf here is chosen to be
correct on a real multi-executor cluster: AQE on (runtime re-plan +
skew-join splitting + partition coalescing), Arrow on (all our Python
boundaries are pandas-batched), UTC session timezone (parquet timestamps
compare bit-for-bit against the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


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
    )
    for k, v in (extra_confs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Conf-as-boolean parsing (reference O26 _getConfBoolean) lives in
# pyspark_xgboost_spark.utils.get_conf_boolean — the single copy.
