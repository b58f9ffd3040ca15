"""Multi-executor (local-cluster) topology test.

The reference runs a dedicated local-cluster suite
(tests/xgboost/xgboost_local_cluster_test.py:59-93, base session at
tests/tests.py:48-77) because ``local[*]`` shares one JVM and one
Python path — it cannot catch closure-serialization failures, executor
environment gaps, or cross-process rendezvous bugs. ``local-cluster``
spawns REAL executor JVMs with their own Python workers, which is how
this test found (and now pins) the deployment contract: the package
must be on the executors' PYTHONPATH (on a real cluster: pip install /
--py-files), since executor Python workers do not inherit the driver's
sys.path.

Runs in a subprocess so the session fixture's local[*] JVM is not
disturbed (one JVM cannot host two Spark masters).
"""

from __future__ import annotations

import subprocess
import sys
import textwrap

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, "/root/repo")
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local-cluster[2,2,4096]")
             .appName("lc-test")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.executorEnv.PYTHONPATH", "/root/repo")
             .config("spark.python.worker.module", "pyspark_xgboost_spark.worker")
             .config("spark.ui.enabled", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F
    from pyspark_xgboost_spark.ml.estimator import XgboostRegressor
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_discount", "l_tax", "l_extendedprice")
    assembled = VectorAssembler(
        inputCols=["l_quantity", "l_discount", "l_tax"], outputCol="features"
    ).transform(li.withColumn("label", F.col("l_extendedprice")))
    model = XgboostRegressor(n_estimators=2, max_depth=2, num_workers=2).fit(assembled)
    rows = model.transform(assembled).select("label", "prediction").collect()
    mae = sum(abs(r.label - r.prediction) for r in rows) / len(rows)
    mean_label = sum(r.label for r in rows) / len(rows)
    assert len(rows) == 6000, len(rows)
    assert mae < mean_label, (mae, mean_label)
    # a cross-JVM shuffle aggregate too (exercises exchange serialization)
    agg = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
           .groupBy("l_returnflag")
           .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("c"))
           .collect())
    assert len(agg) == 3
    # the other closure-shipping operator families: grouped-map UDAF,
    # Python UDTF, iterative CC (localCheckpoint across executors), and
    # applyInPandasWithState streaming — each must survive real
    # executor-side deserialization, not just driver-side fork
    from pyspark_xgboost_spark.registry import all_queries
    qs = all_queries()
    for name in ("udaf_group_median", "udtf_ngrams",
                 "dedup_groups_connected", "events_stream_stateful_user_stats",
                 # round 5: Python DataSource readers and mapInArrow
                 # funcs also pickle to executor Python workers
                 "scan_python_datasource", "multimodal_arrow_byte_stats"):
        n = qs[name](spark, "/root/testdata/sf0.001").count()
        assert n > 0, name
    print("LC_OK", round(mae, 2))
    spark.stop()
    """
)


def test_barrier_training_across_executor_jvms(request):
    """Distributed fit + transform + shuffle agg on 2 real executor
    JVMs: closure pickling, executor PYTHONPATH contract, socket
    rendezvous across process boundaries, Arrow boundary per executor.

    The subprocess is LAUNCHED AT COLLECTION TIME (conftest
    pytest_collection_modifyitems) so its ~40s overlaps the rest of
    the suite; this test joins and asserts. Falls back to a
    synchronous launch when invoked outside the full-suite hook."""
    proc = getattr(request.config, "_lc_proc", None)
    if proc is None:
        proc = subprocess.Popen(
            [sys.executable, "-c", _SCRIPT],
            stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT,
            text=True,
        )
    out, _ = proc.communicate(timeout=480)
    assert proc.returncode == 0, out[-4000:]
    assert "LC_OK" in out
