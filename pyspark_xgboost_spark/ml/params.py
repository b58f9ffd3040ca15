"""Param system: shared-mixin columns + reflected booster hyper-params.

Mirrors the reference's design (SURVEY §1.4): column names are
``pyspark.ml.Param``s via shared mixins; the training-kernel
hyper-parameter schema is REFLECTED from the kernel's defaults and
stamped onto the estimator class (reference:
sparkdl/xgboost/utils.py:14-26 reflects xgboost signatures;
sparkdl/xgboost/xgboost_core.py:759-808 stamps them). Unknown kwargs
flow into ``arbitraryParamsDict`` and reach the kernel verbatim
(reference xgboost_core.py:249-258; mixin utils.py:29-45).

The reference's exclusion-list comma bug (xgboost_core.py:33-37 —
'validationIndicatorCol' 'baseMarginCol' concatenating into one string)
is deliberately NOT replicated; see SURVEY §1.4 note.
"""

from __future__ import annotations

import numpy as np
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.param.shared import (
    HasFeaturesCol,
    HasLabelCol,
    HasPredictionCol,
    HasProbabilityCol,
    HasRawPredictionCol,
    HasValidationIndicatorCol,
    HasWeightCol,
)

__all__ = [
    "HasArbitraryParamsDict",
    "HasBaseMarginCol",
    "_RegressorColumnParams",
    "_ClassifierColumnParams",
    "KERNEL_PARAM_DEFAULTS",
    "PYSPARK_SPECIFIC_PARAMS",
    "UNSUPPORTED_INIT_PARAMS",
]


class HasArbitraryParamsDict(Params):
    """Passthrough dict for kwargs not explicitly modeled as Params
    (reference sparkdl/xgboost/utils.py:29-45)."""

    arbitraryParamsDict = Param(
        Params._dummy(),
        "arbitraryParamsDict",
        "Dict of kwargs forwarded verbatim to the training kernel.",
    )

    def setArbitraryParamsDict(self, value):
        return self._set(arbitraryParamsDict=value)

    def getArbitraryParamsDict(self):
        return self.getOrDefault(self.arbitraryParamsDict)


class HasBaseMarginCol(Params):
    """Column holding per-row initial margin (reference
    sparkdl/xgboost/utils.py:48-61)."""

    baseMarginCol = Param(
        Params._dummy(),
        "baseMarginCol",
        "Column of per-row base margins added to the model's raw prediction.",
        typeConverter=TypeConverters.toString,
    )

    def setBaseMarginCol(self, value):
        return self._set(baseMarginCol=value)

    def getBaseMarginCol(self):
        return self.getOrDefault(self.baseMarginCol)


class _RegressorColumnParams(
    HasFeaturesCol,
    HasLabelCol,
    HasWeightCol,
    HasPredictionCol,
    HasValidationIndicatorCol,
    HasBaseMarginCol,
    HasArbitraryParamsDict,
):
    pass


class _ClassifierColumnParams(
    _RegressorColumnParams, HasProbabilityCol, HasRawPredictionCol
):
    pass


def convert_scalar(value):
    """numpy scalar → python scalar so Param values serialize
    (reference xgboost_core.py:763-772)."""
    if isinstance(value, np.generic):
        return value.item()
    return value


# Kernel hyper-params reflected from the kernel's own defaults table —
# the moral equivalent of reflecting xgboost's __init__/fit/predict
# signatures. Extra Spark-integration knobs follow the reference's set
# (xgboost_core.py:59-107).
from pyspark_xgboost_spark.ml import booster as _kernel  # noqa: E402

KERNEL_PARAM_DEFAULTS: dict = dict(_kernel.DEFAULT_PARAMS)

# Params that belong to the Spark layer, never forwarded to the kernel
# (reference _pyspark_specific_params, comma bug fixed).
PYSPARK_SPECIFIC_PARAMS = frozenset(
    {
        "featuresCol",
        "labelCol",
        "weightCol",
        "predictionCol",
        "probabilityCol",
        "rawPredictionCol",
        "validationIndicatorCol",
        "baseMarginCol",
        "arbitraryParamsDict",
        "num_workers",
        "use_gpu",
        "force_repartition",
        "use_external_storage",
        "external_storage_precision",
    }
)

# Denylist (reference xgboost_core.py:39-54).
UNSUPPORTED_INIT_PARAMS = frozenset({"gpu_id"})
