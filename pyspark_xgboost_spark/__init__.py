"""pyspark_xgboost_spark — a PySpark-native analytics + distributed-GBT engine.

Re-expresses the capabilities of the reference library
``mengxr/pyspark-xgboost`` (see /root/reference, SURVEY.md) Spark-first:

* an ML surface (``XgboostRegressor`` / ``XgboostClassifier`` estimators and
  their Models) matching the reference's public API
  (reference: sparkdl/xgboost/__init__.py:1-5),
* the relational / window / set-op / streaming operator surface over the
  driver's star schema (SURVEY.md §2.3),
* LLM-data-pipeline operators: dedup, similarity search, text analysis,
  multimodal column plumbing.

Everything is public PySpark DataFrame/SQL API; the only imperative kernel
is the gradient-boosting math, which runs inside Arrow-batched
``mapInArrow`` / ``arrow_udf`` boundaries (the architecture the reference
builds around the XGBoost C++ core with ``mapInPandas`` / ``pandas_udf``).
"""

__version__ = "0.1.0"

__all__ = [
    "XgboostRegressor",
    "XgboostClassifier",
    "XgboostRegressorModel",
    "XgboostClassifierModel",
    "TrainingCallback",
    "LearningRateScheduler",
]

_BOOSTER_EXPORTS = {"TrainingCallback", "LearningRateScheduler"}


def __getattr__(name):
    # Lazy: importing the ML surface pulls in pyspark.ml; keep top-level
    # import cheap for query-only users.
    if name in _BOOSTER_EXPORTS:
        from pyspark_xgboost_spark.ml import booster as _bst

        return getattr(_bst, name)
    if name in __all__:
        from pyspark_xgboost_spark.ml import estimator as _est

        return getattr(_est, name)
    raise AttributeError(name)
