"""PySpark ML Estimators/Models: the reference's public API surface.

Re-implements the four public classes of the reference
(sparkdl/xgboost/__init__.py:1-5): ``XgboostRegressor``,
``XgboostClassifier``, ``XgboostRegressorModel``,
``XgboostClassifierModel`` — Spark-first:

* input contract: ``featuresCol`` is MLlib VectorUDT (dense or sparse)
  or an ``array<numeric>`` column; unwrapped via
  ``pyspark.ml.functions.vector_to_array(..., 'float32')`` exactly as
  the reference does (xgboost_core.py:441),
* training runs inside ``mapInArrow`` on Arrow record batches (the
  reference uses ``mapInPandas``, xgboost_core.py:512-513): one fit
  task for every gang size (``tracker.fit``), which runs as a barrier
  stage with socket histogram allreduce over one star topology above
  one worker (reference O11/O22) and as a plain one-partition task at
  one worker (reference O12),
* the classifier infers its objective from the label cardinality
  inside the training task (``data.label_objective``), where the
  reference runs a driver-side countDistinct job first (O4,
  xgboost_core.py:328-337),
* inference is an iterator ``arrow_udf`` so the model deserializes once
  per Python worker, not per batch (reference xgboost_core.py:590-612,
  a pandas UDF), and the feature matrix is read from the Arrow list
  column without per-row arrays (``data.features_matrix``),
* classifier output math matches the reference: binary margins stacked
  ±m with sigmoid, multiclass softmax, prediction = argmax of
  *probability* (xgboost_core.py:665-679), raw/probability re-wrapped
  with ``array_to_vector`` (xgboost_core.py:744-753).
"""

from __future__ import annotations

import base64
import logging
from collections.abc import Iterator
from typing import Any

import numpy as np
import pyarrow as pa
from pyspark import cloudpickle, keyword_only
from pyspark.ml import Estimator, Model
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.linalg import VectorUDT
from pyspark.ml.param import Param, Params
from pyspark.ml.util import (
    DefaultParamsReader,
    DefaultParamsWriter,
    MLReadable,
    MLReader,
    MLWritable,
    MLWriter,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyspark_xgboost_spark.ml import booster as kernel
from pyspark_xgboost_spark.ml import tracker
from pyspark_xgboost_spark.ml.data import features_matrix
from pyspark_xgboost_spark.ml.params import (
    KERNEL_PARAM_DEFAULTS,
    PYSPARK_SPECIFIC_PARAMS,
    UNSUPPORTED_INIT_PARAMS,
    _ClassifierColumnParams,
    _RegressorColumnParams,
    convert_scalar,
)
from pyspark_xgboost_spark.sources import read_parquet

_logger = logging.getLogger("pyspark_xgboost_spark.ml")

# Spark-integration knobs (reference xgboost_core.py:59-107).
SPARK_INTEGRATION_DEFAULTS: dict[str, Any] = dict(
    num_workers=1,
    use_gpu=False,
    force_repartition=False,
    use_external_storage=False,
    external_storage_precision=5,
    # training continuation + callbacks (reference xgboost.py:26-45;
    # persistence model.py:104-128): object-valued params, skipped in
    # JSON metadata and persisted via parquet / cloudpickle instead
    xgb_model=None,
    callbacks=None,
)

# params whose values are live Python objects — excluded from the JSON
# paramMap on save (reference skipParams, model.py:104)
_OBJECT_PARAMS = frozenset({"xgb_model", "callbacks"})

_ALL_STAMPED_DEFAULTS: dict[str, Any] = {**KERNEL_PARAM_DEFAULTS, **SPARK_INTEGRATION_DEFAULTS}
# eval_metric default None can't live in a ParamMap; '' means 'use the
# objective's default metric'.
_ALL_STAMPED_DEFAULTS["eval_metric"] = ""


def _stamp_kernel_params(cls) -> None:
    """Stamp one Param per kernel/integration knob onto the class
    (reference _set_pyspark_xgb_cls_param_attrs, xgboost_core.py:759-808)."""
    for name in _ALL_STAMPED_DEFAULTS:
        setattr(
            cls,
            name,
            Param(Params._dummy(), name, f"{name} for the GBT training kernel"),
        )


class _XgboostParamsBase:
    """Shared param plumbing for estimators and models."""

    def _set_stamped_defaults(self) -> None:
        self._setDefault(**_ALL_STAMPED_DEFAULTS)
        self._setDefault(arbitraryParamsDict={})

    def setParams(self, **kwargs):
        """Known params set directly; unknown kwargs pool into
        arbitraryParamsDict (reference xgboost_core.py:249-258)."""
        extra: dict[str, Any] = dict(self.getOrDefault(self.arbitraryParamsDict))
        for name, value in kwargs.items():
            if name in UNSUPPORTED_INIT_PARAMS:
                raise ValueError(f"param {name!r} is not supported")
            value = convert_scalar(value)
            if self.hasParam(name):
                self._set(**{name: value})
            else:
                extra[name] = value
        if extra:
            self._set(arbitraryParamsDict=extra)
        return self

    def _gen_kernel_params_dict(self) -> dict[str, Any]:
        """Collect kernel hyper-params: stamped params (defaults +
        overrides) plus the arbitrary passthrough dict
        (reference _gen_xgb_params_dict, xgboost_core.py:125-134)."""
        out: dict[str, Any] = {}
        for name in KERNEL_PARAM_DEFAULTS:
            if name in PYSPARK_SPECIFIC_PARAMS:
                continue
            out[name] = self.getOrDefault(getattr(self, name))
        out.update(self.getOrDefault(self.arbitraryParamsDict))
        if not out.get("eval_metric"):
            out["eval_metric"] = None
        # out-of-core knobs ride into the kernel (reference passes them
        # to the DMatrix build, xgboost_core.py:392-401)
        out["use_external_storage"] = bool(
            self.getOrDefault(getattr(self, "use_external_storage"))
        )
        out["external_storage_precision"] = int(
            self.getOrDefault(getattr(self, "external_storage_precision"))
        )
        return out

    def _validate_params(self) -> None:
        """Pre-flight checks (reference xgboost_core.py:187-238)."""
        if self.getOrDefault(getattr(self, "num_workers")) < 1:
            raise ValueError("num_workers must be >= 1")
        init_model = self.getOrDefault(getattr(self, "xgb_model"))
        if init_model is not None and not isinstance(init_model, kernel.Booster):
            raise ValueError(
                "xgb_model must be a Booster (e.g. model.get_booster()), "
                f"got {type(init_model).__name__}"
            )
        cbs = self.getOrDefault(getattr(self, "callbacks"))
        if cbs is not None and not isinstance(cbs, (list, tuple)):
            raise ValueError("callbacks must be a list of TrainingCallback objects")
        if self.getOrDefault(getattr(self, "force_repartition")) and (
            self.getOrDefault(getattr(self, "num_workers")) == 1
        ):
            _logger.warning(
                "force_repartition is set but num_workers is 1 — there is "
                "no need for a repartition"
            )
        if self.getOrDefault(getattr(self, "use_gpu")):
            # reference validation (xgboost_core.py:216-238): tree_method
            # must be gpu_hist/None and the cluster must schedule task
            # GPUs — raise, don't warn, on misconfiguration even though
            # this build's kernel runs CPU-only.
            tree_method = self.getOrDefault(self.arbitraryParamsDict).get("tree_method")
            if tree_method is not None and tree_method != "gpu_hist":
                raise ValueError(
                    "tree_method should be 'gpu_hist' or None when use_gpu "
                    f"is True, found {tree_method!r}."
                )
            from pyspark.sql import SparkSession

            # resolve a session like the reference (getOrCreate, not
            # getActiveSession) — use_gpu misconfiguration must not pass
            # validation just because no session was active yet
            session = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
            gpu_per_task = session.sparkContext.getConf().get(
                "spark.task.resource.gpu.amount"
            )
            if not gpu_per_task or int(float(gpu_per_task)) < 1:
                raise RuntimeError(
                    "the spark cluster does not have the necessary GPU "
                    "configuration for the spark task (set "
                    "spark.task.resource.gpu.amount); cannot run "
                    "GPU training"
                )
            if int(float(gpu_per_task)) > 1:
                _logger.warning(
                    "%s GPU cores configured per spark task, but "
                    "training uses only one GPU core per task",
                    gpu_per_task,
                )
            _logger.warning(
                "use_gpu validated, but this build runs the CPU histogram "
                "kernel; continuing on CPU"
            )
        if self.getOrDefault(getattr(self, "use_external_storage")):
            # reference restriction: no weights/base margin in external-
            # storage mode (xgboost_core.py:77-84)
            has_weight = self.isDefined(self.weightCol) and self.getOrDefault(self.weightCol)
            has_margin = (
                self.hasParam("baseMarginCol")
                and self.isDefined(getattr(self, "baseMarginCol"))
                and self.getOrDefault(getattr(self, "baseMarginCol"))
            )
            if has_weight or has_margin:
                raise ValueError(
                    "use_external_storage does not support weightCol or "
                    "baseMarginCol"
                )
        if self.isDefined(self.validationIndicatorCol) and self.getOrDefault(
            self.validationIndicatorCol
        ):
            pass
        else:
            esr = self.getOrDefault(getattr(self, "early_stopping_rounds"))
            if esr and int(esr) > 0:
                raise ValueError(
                    "early_stopping_rounds requires validationIndicatorCol "
                    "(row-level train/validation split flag)"
                )


def _features_to_array_col(dataset: DataFrame, features_col: str) -> F.Column:
    """VectorUDT → array<float> via vector_to_array; array<numeric> cast
    to array<float> directly (reference handles VectorUDT only)."""
    dt = dataset.schema[features_col].dataType
    if isinstance(dt, VectorUDT):
        return vector_to_array(F.col(features_col), dtype="float32").alias("values")
    if isinstance(dt, T.ArrayType):
        return F.col(features_col).cast(T.ArrayType(T.FloatType())).alias("values")
    raise TypeError(
        f"featuresCol {features_col!r} must be VectorUDT or array<numeric>, got {dt}"
    )


class _XgboostEstimator(Estimator, _XgboostParamsBase, MLReadable, MLWritable):
    _objective_fixed: str | None = None  # regressor pins reg:squarederror
    # the classifier's training task infers its objective from the labels
    _infers_labels = False

    @keyword_only
    def __init__(self, **kwargs):
        super().__init__()
        self._set_stamped_defaults()
        self._setDefault(
            featuresCol="features", labelCol="label", predictionCol="prediction"
        )
        self.setParams(**kwargs)

    # -- train-side dataflow ------------------------------------------------
    def _select_training_columns(self, dataset: DataFrame) -> tuple[DataFrame, dict]:
        """Narrow projection + canonical aliases (reference O1,
        xgboost_core.py:437-467). Column pruning reaches the scan."""
        cols = [
            _features_to_array_col(dataset, self.getOrDefault(self.featuresCol)),
            F.col(self.getOrDefault(self.labelCol)).cast("double").alias("label"),
        ]
        flags = dict(
            has_weight=False,
            has_base_margin=False,
            has_validation=False,
            distinct_labels=self._infers_labels,
        )
        if self.isDefined(self.weightCol) and self.getOrDefault(self.weightCol):
            cols.append(F.col(self.getOrDefault(self.weightCol)).cast("double").alias("weight"))
            flags["has_weight"] = True
        if self.isDefined(self.validationIndicatorCol) and self.getOrDefault(
            self.validationIndicatorCol
        ):
            cols.append(
                F.col(self.getOrDefault(self.validationIndicatorCol))
                .cast("boolean")
                .alias("validationIndicator")
            )
            flags["has_validation"] = True
        if self.isDefined(self.baseMarginCol) and self.getOrDefault(self.baseMarginCol):
            if self.getOrDefault(getattr(self, "num_workers")) > 1:
                # reference: base margin unsupported distributed (xgboost.py:50-54)
                raise ValueError("baseMarginCol is not supported with num_workers > 1")
            cols.append(
                F.col(self.getOrDefault(self.baseMarginCol)).cast("double").alias("baseMargin")
            )
            flags["has_base_margin"] = True
        return dataset.select(*cols), flags

    def _fit(self, dataset: DataFrame):
        self._validate_params()
        narrowed, flags = self._select_training_columns(dataset)
        params = self._gen_kernel_params_dict()
        if self._objective_fixed:
            # a DEFAULT, not an override: the reference forwarded a
            # user-supplied objective verbatim (O19 kwargs passthrough),
            # so reg:absoluteerror / reg:quantileerror stay reachable —
            # but a regressor only accepts regression objectives
            user_obj = params.get("objective")
            if user_obj in (None, "reg:squarederror"):
                params["objective"] = self._objective_fixed
            elif not str(user_obj).startswith("reg:"):
                raise ValueError(
                    f"XgboostRegressor requires a reg:* objective, got {user_obj!r}"
                )

        init_model = self.getOrDefault(getattr(self, "xgb_model"))
        init_model_json = init_model.save_json() if init_model is not None else None
        callbacks = self.getOrDefault(getattr(self, "callbacks"))

        booster_json = tracker.fit(
            narrowed,
            params,
            flags,
            int(self.getOrDefault(getattr(self, "num_workers"))),
            force_repartition=bool(self.getOrDefault(getattr(self, "force_repartition"))),
            init_model_json=init_model_json,
            callbacks=callbacks,
        )
        booster = kernel.Booster.load_json(booster_json)
        model = self._create_model(booster)
        self._copyValues(model)
        return model

    def _create_model(self, booster: kernel.Booster):
        raise NotImplementedError

    # -- persistence --------------------------------------------------------
    def write(self) -> MLWriter:
        return _ParamsOnlyWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _ParamsOnlyReader(cls)


# ---------------------------------------------------------------------------
# Models
# ---------------------------------------------------------------------------


class _XgboostModelBase(Model, _XgboostParamsBase, MLReadable, MLWritable):
    def __init__(self, booster: kernel.Booster | None = None):
        super().__init__()
        self._set_stamped_defaults()
        self._setDefault(
            featuresCol="features", labelCol="label", predictionCol="prediction"
        )
        self._booster = booster

    def get_booster(self) -> kernel.Booster:
        """Underlying fitted booster (reference xgboost_core.py:553-560)."""
        return self._booster

    def get_feature_importances(self, importance_type: str = "weight") -> dict:
        """Reference O23 (xgboost_core.py:533-551)."""
        return self._booster.get_score(importance_type=importance_type)

    def _predict_struct_col(self, dataset: DataFrame) -> F.Column:
        cols = [_features_to_array_col(dataset, self.getOrDefault(self.featuresCol))]
        if self.isDefined(self.baseMarginCol) and self.getOrDefault(self.baseMarginCol):
            cols.append(
                F.col(self.getOrDefault(self.baseMarginCol)).cast("double").alias("baseMargin")
            )
        return F.struct(*cols)

    def write(self) -> MLWriter:
        return _ModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _ModelReader(cls)


class XgboostRegressorModel(_XgboostModelBase, _RegressorColumnParams):
    """Scores rows with a scalar double predictionCol (reference
    xgboost_core.py:573-631)."""

    def _transform(self, dataset: DataFrame) -> DataFrame:
        booster_json = self._booster.save_json()
        has_bm = bool(
            self.isDefined(self.baseMarginCol) and self.getOrDefault(self.baseMarginCol)
        )

        @F.arrow_udf("double")
        def predict_udf(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
            # deserialize once per python worker (iterator UDF form —
            # reference xgboost_core.py:590-599)
            bst = kernel.Booster.load_json(booster_json)
            for batch in it:
                X = features_matrix(batch.field("values"))
                bm = batch.field("baseMargin").to_numpy(zero_copy_only=False) if has_bm else None
                yield pa.array(bst.predict(X, base_margin=bm))

        pred_col = self.getOrDefault(self.predictionCol)
        return dataset.withColumn(pred_col, predict_udf(self._predict_struct_col(dataset)))


class XgboostClassifierModel(_XgboostModelBase, _ClassifierColumnParams):
    """Emits rawPrediction (margins), prediction (argmax of probability)
    and probability columns (reference xgboost_core.py:634-756)."""

    @property
    def numClasses(self) -> int:
        return max(2, self._booster.num_class)

    def _transform(self, dataset: DataFrame) -> DataFrame:
        booster_json = self._booster.save_json()
        has_bm = bool(
            self.isDefined(self.baseMarginCol) and self.getOrDefault(self.baseMarginCol)
        )

        @F.arrow_udf(
            "rawPrediction array<double>, prediction double, probability array<double>"
        )
        def predict_udf(it: Iterator[pa.Array]) -> Iterator[pa.Array]:
            bst = kernel.Booster.load_json(booster_json)
            binary = bst.objective == "binary:logistic"
            for batch in it:
                X = features_matrix(batch.field("values"))
                bm = batch.field("baseMargin").to_numpy(zero_copy_only=False) if has_bm else None
                margins = bst.predict(X, output_margin=True, base_margin=bm)
                if binary:
                    # reference: stack ±margin, sigmoid → [1-p, p]
                    # (xgboost_core.py:665-675)
                    raw = np.column_stack([-margins, margins])
                    p1 = 1.0 / (1.0 + np.exp(-margins))
                    probs = np.column_stack([1.0 - p1, p1])
                else:
                    raw = margins
                    e = np.exp(margins - margins.max(axis=1, keepdims=True))
                    probs = e / e.sum(axis=1, keepdims=True)
                preds = probs.argmax(axis=1).astype(np.float64)
                # every row's vector has the same length: one offsets array
                k = raw.shape[1]
                offsets = pa.array(np.arange(0, len(raw) * k + 1, k, dtype=np.int32))
                yield pa.StructArray.from_arrays(
                    [
                        pa.ListArray.from_arrays(offsets, pa.array(raw.ravel())),
                        pa.array(preds),
                        pa.ListArray.from_arrays(offsets, pa.array(probs.ravel())),
                    ],
                    names=["rawPrediction", "prediction", "probability"],
                )

        struct_col = "_prediction_struct"
        out = dataset.withColumn(struct_col, predict_udf(self._predict_struct_col(dataset)))
        # honor empty output-col names by skipping (reference
        # xgboost_core.py:738-756)
        raw_col = self.getOrDefault(self.rawPredictionCol)
        pred_col = self.getOrDefault(self.predictionCol)
        prob_col = self.getOrDefault(self.probabilityCol)
        if raw_col:
            out = out.withColumn(raw_col, array_to_vector(F.col(f"{struct_col}.rawPrediction")))
        if pred_col:
            out = out.withColumn(pred_col, F.col(f"{struct_col}.prediction"))
        if prob_col:
            out = out.withColumn(prob_col, array_to_vector(F.col(f"{struct_col}.probability")))
        return out.drop(struct_col)


# ---------------------------------------------------------------------------
# Estimators
# ---------------------------------------------------------------------------


class XgboostRegressor(_XgboostEstimator, _RegressorColumnParams):
    """GBT regressor Estimator (reference sparkdl/xgboost/xgboost.py:7-92).

    >>> reg = XgboostRegressor(n_estimators=50, max_depth=4)
    >>> model = reg.fit(train_df)   # train_df: features VectorUDT, label
    >>> model.transform(test_df)    # adds double predictionCol
    """

    _objective_fixed = "reg:squarederror"

    def _create_model(self, booster: kernel.Booster) -> XgboostRegressorModel:
        return XgboostRegressorModel(booster)


class XgboostClassifier(_XgboostEstimator, _ClassifierColumnParams):
    """GBT classifier Estimator (reference sparkdl/xgboost/xgboost.py:98-189).

    Objective inferred from the label cardinality with the reference's
    O4 rules (xgboost_core.py:328-337): 2 → binary:logistic,
    >2 → multi:softprob with num_class set, a user-set objective kept.
    The labels must be exactly 0..k-1. The reference counts them with a
    driver-side countDistinct job before training; here the training
    task does it (``data.label_objective``), distributed through the
    allgather the ranks already make, so a fit runs one Spark job.
    """

    _objective_fixed = None
    _infers_labels = True

    @keyword_only
    def __init__(self, **kwargs):
        super().__init__(**kwargs)
        self._setDefault(rawPredictionCol="rawPrediction", probabilityCol="probability")

    def _create_model(self, booster: kernel.Booster) -> XgboostClassifierModel:
        return XgboostClassifierModel(booster)


for _cls in (XgboostRegressor, XgboostClassifier, XgboostRegressorModel, XgboostClassifierModel):
    _stamp_kernel_params(_cls)


# ---------------------------------------------------------------------------
# Persistence (reference model.py:95-233 — DefaultParams metadata + model
# JSON inside a 1-row parquet; callbacks cloudpickled into metadata and
# the init booster as its own 1-row parquet, model.py:104-128)
# ---------------------------------------------------------------------------

_INIT_BOOSTER_SAVE_PATH = "init_booster"


def _save_shared_metadata(instance, path: str, sc, spark) -> None:
    """Metadata save with object-valued params handled like the
    reference (model.py:104-128): callbacks are cloudpickled to base64
    in extraMetadata (best-effort, version-fragile — warned), the init
    booster goes to ``<path>/init_booster`` as a 1-row parquet, and
    neither appears in the JSON paramMap."""
    json_params = {
        p.name: v for p, v in instance._paramMap.items() if p.name not in _OBJECT_PARAMS
    }
    extra: dict[str, Any] = {}
    cbs = instance.getOrDefault(getattr(instance, "callbacks"))
    if cbs is not None:
        _logger.warning(
            "the callbacks param is saved using cloudpickle and is not a "
            "fully self-contained format; it may fail to load with "
            "different versions of dependencies"
        )
        extra["serialized_callbacks"] = base64.encodebytes(
            cloudpickle.dumps(cbs)
        ).decode("ascii")
    init_b = instance.getOrDefault(getattr(instance, "xgb_model"))
    if init_b is not None:
        extra["init_booster"] = _INIT_BOOSTER_SAVE_PATH
    DefaultParamsWriter.saveMetadata(
        instance, path, sc, extraMetadata=extra, paramMap=json_params
    )
    if init_b is not None:
        spark.createDataFrame([(init_b.save_json(),)], ["init_booster"]).repartition(
            1
        ).write.mode("overwrite").parquet(f"{path}/{_INIT_BOOSTER_SAVE_PATH}")


def _restore_shared_metadata(instance, metadata: dict, spark, path: str) -> None:
    """Best-effort restore of the object-valued params (reference
    loadMetadataAndInstance, model.py:129-158)."""
    if "serialized_callbacks" in metadata:
        try:
            instance._set(
                callbacks=cloudpickle.loads(
                    base64.decodebytes(metadata["serialized_callbacks"].encode("ascii"))
                )
            )
        except Exception as e:  # noqa: BLE001 — best-effort by contract
            _logger.warning("fails to load the callbacks param due to %s", e)
    if "init_booster" in metadata:
        row = read_parquet(spark, f"{path}/{metadata['init_booster']}").collect()[0]
        instance._set(xgb_model=kernel.Booster.load_json(row["init_booster"]))


class _ParamsOnlyWriter(MLWriter):
    def __init__(self, instance):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path: str) -> None:
        _save_shared_metadata(self.instance, path, self.sc, self.sparkSession)


class _ParamsOnlyReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self.cls = cls

    def load(self, path: str):
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        _check_saved_class(metadata, self.cls)
        instance = self.cls()
        DefaultParamsReader.getAndSetParams(instance, metadata)
        _restore_shared_metadata(instance, metadata, self.sparkSession, path)
        instance._resetUid(metadata["uid"])
        return instance


class _ModelWriter(MLWriter):
    def saveImpl(self, path: str) -> None:
        _save_shared_metadata(self.instance, path, self.sc, self.sparkSession)
        model_json = self.instance._booster.save_json()
        spark = self.sparkSession
        spark.createDataFrame([(model_json,)], ["model_json"]).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{path}/model")

    def __init__(self, instance):
        super().__init__()
        self.instance = instance


class _ModelReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self.cls = cls

    def load(self, path: str):
        metadata = DefaultParamsReader.loadMetadata(path, self.sc)
        _check_saved_class(metadata, self.cls)
        row = read_parquet(self.sparkSession, f"{path}/model").collect()[0]
        instance = self.cls(kernel.Booster.load_json(row["model_json"]))
        DefaultParamsReader.getAndSetParams(instance, metadata)
        _restore_shared_metadata(instance, metadata, self.sparkSession, path)
        instance._resetUid(metadata["uid"])
        return instance


def _check_saved_class(metadata: dict, cls) -> None:
    """Refuse to load another class's artifacts (reference
    model.py:138-139; negative test xgboost_local_test.py:407-408)."""
    saved = metadata.get("class", "")
    if not saved.endswith(cls.__name__):
        raise RuntimeError(
            f"cannot load {saved!r} artifacts as {cls.__name__}"
        )
