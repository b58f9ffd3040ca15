"""ML estimator/model tests, mirroring the reference's test strategy
(SURVEY §5): behavioral goldens, param system, persistence round-trips,
meta-algorithm integration. Single-node numpy GBT is the oracle (no
xgboost in this environment)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.linalg import Vectors

from pyspark_xgboost_spark.ml import booster as kernel
from pyspark_xgboost_spark.ml.estimator import (
    XgboostClassifier,
    XgboostClassifierModel,
    XgboostRegressor,
    XgboostRegressorModel,
)


@pytest.fixture(scope="module")
def reg_train(spark):
    return spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0.0),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 1.0),
            (Vectors.dense(4.0, 5.0, 6.0), 2.0),
            (Vectors.sparse(3, {1: 6.0, 2: 7.5}), 3.0),
        ]
        * 25,
        ["features", "label"],
    )


@pytest.fixture(scope="module")
def cls_train(spark):
    return spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 1),
        ]
        * 50,
        ["features", "label"],
    )


def _chk_regressor_fit_transform_matches_local_kernel(spark, reg_train):
    """Spark fit must equal a direct kernel fit on the same rows
    (behavioral golden — the reference compares against single-node
    xgboost the same way, xgboost_local_test.py:329-334)."""
    params = dict(n_estimators=20, max_depth=3, learning_rate=0.3)
    model = XgboostRegressor(**params).fit(reg_train)
    out = model.transform(reg_train).collect()

    X = np.array([[1, 2, 3], [0, 1, 5.5], [4, 5, 6], [0, 6, 7.5]] * 25, dtype=np.float32)
    y = np.array([0, 1, 2, 3] * 25, dtype=float)
    direct = kernel.train(X, y, {**params, "objective": "reg:squarederror"})
    expected = dict(zip(y[:4], direct.predict(X[:4])))
    for r in out:
        assert abs(r.prediction - expected[r.label]) < 1e-3


def _chk_binary_classifier_outputs(spark, cls_train):
    model = XgboostClassifier(n_estimators=15, max_depth=3).fit(cls_train)
    rows = model.transform(cls_train).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0
    for r in rows[:4]:
        probs = r.probability.toArray()
        assert len(probs) == 2 and abs(probs.sum() - 1.0) < 1e-9
        raw = r.rawPrediction.toArray()
        assert abs(raw[0] + raw[1]) < 1e-9  # ± margin stack
        assert r.prediction == float(np.argmax(probs))


def _chk_multiclass_classifier(spark):
    df = spark.createDataFrame(
        [
            (Vectors.dense(1.0, 2.0, 3.0), 0),
            (Vectors.dense(4.0, 5.0, 6.0), 1),
            (Vectors.sparse(3, {1: 1.0, 2: 5.5}), 2),
        ]
        * 40,
        ["features", "label"],
    )
    model = XgboostClassifier(n_estimators=10, max_depth=3).fit(df)
    assert model.numClasses == 3
    rows = model.transform(df).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0
    assert len(rows[0].probability.toArray()) == 3


def _chk_label_validation(spark):
    """Labels must be exactly 0..k-1. The training task checks them and
    the driver raises its message, at one worker and at two."""
    gap = spark.createDataFrame(
        [(Vectors.dense(1.0), 1), (Vectors.dense(2.0), 3)] * 10, ["features", "label"]
    )
    # k=3 and max=2, but 1.5 is not a class index
    fractional = spark.createDataFrame(
        [(Vectors.dense(float(v)), v) for v in (0.0, 1.5, 2.0)] * 10, ["features", "label"]
    )
    one = spark.createDataFrame([(Vectors.dense(1.0), 0)] * 10, ["features", "label"])
    for workers in (1, 2):
        for bad in (gap, fractional):
            with pytest.raises(ValueError, match="contiguous integers 0"):
                XgboostClassifier(n_estimators=2, num_workers=workers).fit(bad)
        with pytest.raises(ValueError, match="needs >= 2 distinct labels, found 1"):
            XgboostClassifier(n_estimators=2, num_workers=workers).fit(one)


def _chk_param_system(spark):
    est = XgboostRegressor(n_estimators=9, max_depth=4, unknown_thing="zz")
    assert est.getOrDefault(est.n_estimators) == 9
    assert est.getArbitraryParamsDict() == {"unknown_thing": "zz"}
    with pytest.raises(ValueError, match="gpu_id"):
        XgboostRegressor(gpu_id=0)
    # numpy scalar conversion (reference xgboost_core.py:763-772)
    est2 = XgboostRegressor(n_estimators=np.int64(11))
    v = est2.getOrDefault(est2.n_estimators)
    assert v == 11 and not isinstance(v, np.generic)
    # copy keeps params (CrossValidator requirement)
    c = est.copy()
    assert c.getOrDefault(c.n_estimators) == 9


def _chk_early_stopping_requires_validation_col(spark, reg_train):
    with pytest.raises(ValueError, match="validationIndicatorCol"):
        XgboostRegressor(n_estimators=50, early_stopping_rounds=5).fit(reg_train)


def _chk_model_persistence_roundtrip(spark, reg_train, tmp_path):
    model = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    path = str(tmp_path / "m")
    model.save(path)
    loaded = XgboostRegressorModel.load(path)
    a = [r.prediction for r in model.transform(reg_train).collect()]
    b = [r.prediction for r in loaded.transform(reg_train).collect()]
    assert a == b
    with pytest.raises(Exception):
        XgboostClassifierModel.load(path)


def _chk_estimator_persistence_roundtrip(spark, tmp_path):
    est = XgboostRegressor(n_estimators=6, max_depth=2, foo_kw=1.5)
    path = str(tmp_path / "e")
    est.save(path)
    loaded = XgboostRegressor.load(path)
    assert loaded.getOrDefault(loaded.n_estimators) == 6
    assert loaded.getArbitraryParamsDict() == {"foo_kw": 1.5}


def _chk_pipeline_integration(spark, cls_train, tmp_path):
    pipe = Pipeline(stages=[XgboostClassifier(n_estimators=8)])
    pm = pipe.fit(cls_train)
    path = str(tmp_path / "p")
    pm.save(path)
    loaded = PipelineModel.load(path)
    rows = loaded.transform(cls_train).collect()
    assert np.mean([r.prediction == r.label for r in rows]) == 1.0


def _chk_weights_shift_fit(spark):
    df = spark.createDataFrame(
        [
            (Vectors.dense(0.0), 0.0, 1.0),
            (Vectors.dense(0.0), 10.0, 100.0),
        ]
        * 30,
        ["features", "label", "w"],
    )
    model = XgboostRegressor(n_estimators=20, weightCol="w").fit(df)
    pred = model.transform(df).collect()[0].prediction
    assert pred > 8.0  # pulled toward the heavy label


def _chk_missing_zero_semantics(spark):
    """missing=0: sparse inactive entries treated as absent
    (reference caveat, xgboost_core.py:780-784)."""
    df = spark.createDataFrame(
        [
            (Vectors.sparse(2, {0: 1.0}), 0.0),
            (Vectors.dense(1.0, 2.0), 1.0),
        ]
        * 20,
        ["features", "label"],
    )
    m = XgboostRegressor(n_estimators=10, missing=0.0).fit(df)
    rows = m.transform(df).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, r.prediction)
    assert abs(by_label[0.0]) < 0.1 and abs(by_label[1.0] - 1.0) < 0.1


def _chk_validation_early_stopping(spark):
    rows = [
        (Vectors.dense(float(i % 10), float((i * 3) % 7)), float(i % 10) * 2.0, i % 5 == 0)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["features", "label", "isVal"])
    m = XgboostRegressor(
        n_estimators=300, max_depth=3, early_stopping_rounds=8, validationIndicatorCol="isVal"
    ).fit(df)
    b = m.get_booster()
    assert len(b.trees) < 300
    assert b.best_score is not None and b.best_score < 1.5


def _chk_feature_importances(spark, reg_train):
    model = XgboostRegressor(n_estimators=10).fit(reg_train)
    imp = model.get_feature_importances()
    assert imp and all(v > 0 for v in imp.values())


def _chk_crossvalidator_integration(spark, cls_train):
    """Meta-algorithm compatibility (reference xgboost_local_test.py:
    466-476): the estimator must survive ParamGridBuilder copy()
    semantics and CrossValidator's fit loop."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    est = XgboostClassifier(n_estimators=5, max_depth=2)
    grid = (
        ParamGridBuilder()
        .addGrid(est.n_estimators, [3, 5])
        .addGrid(est.max_depth, [2, 3])
        .build()
    )
    cv = CrossValidator(
        estimator=est,
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(),
        numFolds=2,
        seed=42,
        parallelism=2,
    )
    cv_model = cv.fit(cls_train)
    assert len(cv_model.avgMetrics) == 4
    assert max(cv_model.avgMetrics) > 0.9  # separable fixture
    out = cv_model.bestModel.transform(cls_train)
    assert out.filter("prediction != label").count() == 0


def _chk_external_storage_parity(spark, reg_train):
    """Out-of-core training (memmap-spilled binned codes, reference O10
    xgboost data.py:45-92) must match in-memory training up to the
    significant-digit narrowing (reference external-storage parity test,
    xgboost_cluster_test.py:118-125)."""
    in_mem = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    ext = XgboostRegressor(
        n_estimators=10, max_depth=3, use_external_storage=True
    ).fit(reg_train)
    a = np.array([r.prediction for r in in_mem.transform(reg_train).collect()])
    b = np.array([r.prediction for r in ext.transform(reg_train).collect()])
    assert np.allclose(a, b, atol=1e-3)


def _chk_external_storage_rejects_weight(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(Vectors.dense(1.0, 2.0), 1.0)] * 10, ["features", "label"]
    ).withColumn("w", F.lit(2.0))
    with pytest.raises(ValueError, match="external_storage"):
        XgboostRegressor(use_external_storage=True, weightCol="w").fit(df)


def test_best_splits_masks_padded_bins():
    """Histogram slots are padded to the widest feature's cut count;
    with min_child_weight=0 a padded (zero-filled) slot plus a heavy
    missing bucket can win the argmax as an unrealizable 'split'
    (all real rows one side, missing the other, at a threshold the
    feature doesn't have). _best_splits must mask b >= len(edges[f])
    to -inf so the chosen split is always a real cut (round-1 advice)."""
    from pyspark_xgboost_spark.ml.booster import _best_splits

    nbp1 = 5  # 4 real bin slots + missing bucket
    hist_g = np.zeros((1, 2, nbp1))
    hist_h = np.zeros((1, 2, nbp1))
    # feature 0: 3 real cuts, a modest valid split at b=0
    hist_g[0, 0, :4] = [-4.0, 1.0, 1.0, 1.0]
    hist_h[0, 0, :4] = [1.0, 1.0, 1.0, 1.0]
    hist_h[0, 0, -1] = 0.5
    # feature 1: ONE real cut (slots 2,3 are padding) + missing mass
    hist_g[0, 1, :2] = [-4.0, -3.0]
    hist_h[0, 1, :2] = [1.0, 3.0]
    hist_g[0, 1, -1] = 6.0
    hist_h[0, 1, -1] = 0.5

    edge_counts = [3, 1]
    # unmasked argmax picks the unrealizable slot — the bug scenario
    _, f0, b0, *_ = _best_splits(hist_g, hist_h, 1.0, 0.0, 0.0, None)
    assert b0[0] >= edge_counts[f0[0]]
    # masked: a realizable split, still finite positive gain
    g1, f1, b1, *_ = _best_splits(hist_g, hist_h, 1.0, 0.0, 0.0, edge_counts)
    assert np.isfinite(g1[0]) and g1[0] > 0
    assert b1[0] < edge_counts[f1[0]]


def _chk_train_with_initial_model(spark, reg_train, tmp_path):
    """Training continuation (reference xgb_model param; save/load with
    init booster, model.py:111-128; test_train_with_initial_model,
    xgboost_local_test.py:502-517): continue from a fitted booster,
    round-trip the estimator through save/load, and refit identically."""
    path = str(tmp_path / "reg2")
    reg1 = XgboostRegressor(n_estimators=5, max_depth=3)
    init_booster = reg1.fit(reg_train).get_booster()

    reg2 = XgboostRegressor(max_depth=2, n_estimators=2, xgb_model=init_booster)
    model21 = reg2.fit(reg_train)
    # continued booster carries old + new trees
    assert len(model21.get_booster().trees) == len(init_booster.trees) + 2
    pred21 = [r.prediction for r in model21.transform(reg_train).collect()]

    reg2.save(path)
    reg2b = XgboostRegressor.load(path)
    assert reg2b.getOrDefault(reg2b.xgb_model) is not None
    model22 = reg2b.fit(reg_train)
    pred22 = [r.prediction for r in model22.transform(reg_train).collect()]
    np.testing.assert_allclose(pred21, pred22, atol=1e-12)


def _chk_continuation_matches_straight_run(spark, reg_train):
    """5 rounds + 5 continued rounds on the same data must equal one
    10-round run exactly: bin edges recompute identically and the margin
    trajectory is the same, so rounds 6-10 grow the same trees."""
    base = XgboostRegressor(n_estimators=10, max_depth=3).fit(reg_train)
    first = XgboostRegressor(n_estimators=5, max_depth=3).fit(reg_train)
    cont = XgboostRegressor(
        n_estimators=5, max_depth=3, xgb_model=first.get_booster()
    ).fit(reg_train)
    a = [r.prediction for r in base.transform(reg_train).collect()]
    b = [r.prediction for r in cont.transform(reg_train).collect()]
    np.testing.assert_allclose(a, b, atol=1e-12)


def _chk_callbacks(spark, reg_train, tmp_path):
    """Callbacks persistence (reference test_callbacks,
    xgboost_local_test.py:478-500): cloudpickled into estimator
    metadata, restored on load, and actually applied during fit."""
    from pyspark_xgboost_spark.ml.booster import LearningRateScheduler

    path = str(tmp_path / "cb_est")

    def custom_learning_rate(boosting_round):
        return 1.0 / (boosting_round + 1)

    cb = [LearningRateScheduler(custom_learning_rate)]
    regressor = XgboostRegressor(n_estimators=5, max_depth=3, callbacks=cb)
    regressor.save(path)
    loaded = XgboostRegressor.load(path)
    assert loaded.getOrDefault(loaded.callbacks) is not None

    model_direct = regressor.fit(reg_train)
    model_loaded = loaded.fit(reg_train)
    a = [r.prediction for r in model_direct.transform(reg_train).collect()]
    b = [r.prediction for r in model_loaded.transform(reg_train).collect()]
    np.testing.assert_allclose(a, b, atol=1e-12)

    # the schedule really changes training vs the default constant lr
    plain = XgboostRegressor(n_estimators=5, max_depth=3).fit(reg_train)
    c = [r.prediction for r in plain.transform(reg_train).collect()]
    assert not np.allclose(a, c)


def _chk_callback_early_stop(spark, reg_train):
    """after_iteration returning True stops training (TrainingCallback
    protocol)."""
    from pyspark_xgboost_spark.ml.booster import TrainingCallback

    class StopAfter(TrainingCallback):
        def __init__(self, n):
            self.n = n

        def after_iteration(self, rnd, score):
            return rnd + 1 >= self.n

    model = XgboostRegressor(
        n_estimators=50, max_depth=3, callbacks=[StopAfter(3)]
    ).fit(reg_train)
    assert len(model.get_booster().trees) == 3


def test_callback_sees_score_without_early_stopping():
    """With an eval_set, after_iteration must receive the eval metric
    even when early_stopping_rounds is 0 (TrainingCallback contract:
    score is None only without an eval set)."""
    from pyspark_xgboost_spark.ml.booster import TrainingCallback, train

    rng = np.random.RandomState(7)
    X = rng.rand(200, 3).astype(np.float32)
    y = X @ np.array([1.0, -2.0, 0.5]) + 0.1 * rng.rand(200)
    seen = []

    class Recorder(TrainingCallback):
        def after_iteration(self, rnd, score):
            seen.append(score)
            return False

    train(
        X, y, {"n_estimators": 3, "max_depth": 2},
        eval_set=(X[:50], y[:50]), callbacks=[Recorder()],
    )
    assert len(seen) == 3 and all(s is not None for s in seen)

    seen.clear()
    train(X, y, {"n_estimators": 2, "max_depth": 2}, callbacks=[Recorder()])
    assert seen == [None, None]  # no eval set → no score


def test_best_iteration_offset_under_continuation():
    """Continuing with xgb_model: best_iteration counts TOTAL rounds
    (xgboost semantics), so it can index the combined booster's trees."""
    from pyspark_xgboost_spark.ml.booster import train

    rng = np.random.RandomState(11)
    X = rng.rand(300, 3).astype(np.float32)
    y = X @ np.array([1.0, -2.0, 0.5]) + 0.05 * rng.rand(300)
    init = train(X, y, {"n_estimators": 4, "max_depth": 2})
    cont = train(
        X, y,
        {"n_estimators": 6, "max_depth": 2, "early_stopping_rounds": 50},
        eval_set=(X[:60], y[:60]),
        xgb_model=init,
    )
    assert cont.best_iteration is not None
    assert cont.best_iteration >= 4  # offset by the init model's rounds
    assert cont.best_iteration < len(cont.trees)


def test_continuation_num_class_mismatch_raises():
    """Multi-class xgb_model + single-output params (and vice versa)
    must raise at validation, not crash later in raw_margin reshape."""
    from pyspark_xgboost_spark.ml.booster import train

    rng = np.random.RandomState(3)
    X = rng.rand(120, 3).astype(np.float32)
    y3 = (rng.rand(120) * 3).astype(np.int64).astype(np.float64)
    multi = train(
        X, y3, {"objective": "multi:softprob", "num_class": 3, "n_estimators": 2}
    )
    # same objective string but a different class count
    with pytest.raises(ValueError, match="num_class"):
        train(
            X, y3,
            {"objective": "multi:softprob", "num_class": 4, "n_estimators": 2},
            xgb_model=multi,
        )
    # multi-class init model into default regression params: the
    # objective check fires first and names the mismatch
    with pytest.raises(ValueError, match="objective|num_class"):
        train(X, y3, {"n_estimators": 2}, xgb_model=multi)


def test_get_score_rejects_unsupported_type_without_splits():
    """The importance type is checked before the trees are walked: a
    booster with no splits must reject "gain" just as one with splits
    does, not return an empty dict."""
    rng = np.random.RandomState(5)
    y = rng.rand(50)
    flat = kernel.train(np.ones((50, 2), np.float32), y, {"n_estimators": 2})
    split = kernel.train(rng.rand(50, 2).astype(np.float32), y, {"n_estimators": 2})
    assert flat.get_score() == {}
    assert split.get_score()
    for b in (flat, split):
        with pytest.raises(ValueError, match="importance_type"):
            b.get_score("gain")


def test_max_bin_beyond_uint16_codes_rejected():
    """Bin codes are uint16: at max_bin=100000 a 70,000-row column with
    5 % NaN gets 99,956 cuts and a missing sentinel past 65535, which
    wrapped into a real bin. The kernel and the estimator (on the
    driver, before any barrier stage) reject it; 65535 still keeps
    every NaN row in the sentinel."""
    rng = np.random.RandomState(11)
    X = rng.rand(70_000, 1).astype(np.float32)
    nan = rng.rand(70_000) < 0.05
    X[nan, 0] = np.nan
    with pytest.raises(ValueError, match="max_bin"):
        kernel.train(X, X[:, 0] * 0.0, {"max_bin": 100_000, "n_estimators": 1})
    for est in (XgboostRegressor(max_bin=100_000), XgboostClassifier(max_bin=70_000, num_workers=2)):
        with pytest.raises(ValueError, match="max_bin"):
            est._validate_params()
    XgboostRegressor(max_bin=kernel.MAX_BIN)._validate_params()

    edges = kernel.compute_bin_edges(X, kernel.MAX_BIN)
    codes = kernel.bin_matrix(X, edges, float("nan"))[0]
    sentinel = kernel.n_bins_p1(edges) - 1
    assert (codes[nan] == sentinel).all()
    assert (codes[~nan] < sentinel).all()


# sha256 prefixes of ``save_json()`` and of ``predict(...).tobytes()`` (plus
# best_iteration, exact best_score / iteration-range margins where a case has
# them), recorded with the fixed-point kernel that builds only the smaller
# child of each split. Its sums are exact, so the same models come out of
# 2 and 3 ranks (tests/test_distributed.py). The four cases with missing
# cells were re-recorded when cells equal to a non-NaN ``missing`` left the
# sketch and the split of missing from present values (bin -1) came in.
# The two eval-set cases were re-recorded when the eval metric became
# fixed point (best_score's last bits, and so the model hash, moved).
_KERNEL_GOLDENS = {
    "regression_depth5": {
        "model": "35c55f3cee52e40c",
        "predict": "cd89453892d4f1ab",
    },
    "multiclass": {
        "model": "7b3b3fed6bc56812",
        "predict": "a221b4b4fbd0aa82",
    },
    "multiclass_nan_eval_early_stop": {
        "best_iteration": "31",
        "best_score": "0x1.3184ce49841e3p-1",
        "model": "d7b1316738123817",
        "predict": "636707c3e0801d16",
    },
    "binary_nan": {
        "model": "034aeb982e710667",
        "predict": "464c08495e00ec10",
    },
    "missing_zero": {
        "model": "d51bb144c63e43b2",
        "predict": "23a7115af5c6b3ca",
    },
    "max_depth_0": {
        "model": "cfb037d89872ce51",
        "predict": "f261d81fd9d3a0ca",
    },
    "external_storage": {
        "model": "f92c4d4566868110",
        "predict": "cd89453892d4f1ab",
    },
    "eval_early_stop": {
        "best_iteration": "12",
        "best_score": "0x1.1798401fd31c3p+0",
        "model": "48a3bb403148bb4e",
        "predict": "62a1869c4ca12499",
    },
    "continuation": {
        "model": "c45de2f1b2044067",
        "predict": "10ed4b395b961534",
    },
    "iteration_range": {
        "raw_margin_1_4": "29ec858d88058312",
        "reg_raw_margin_2_6": "1d735fe239bcf9ae",
        "model": "7b3b3fed6bc56812",
        "predict": "a221b4b4fbd0aa82",
    },
}


def _sha(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:16]


def _kernel_golden_data(seed: int, n: int = 1500, f: int = 5):
    rng = np.random.RandomState(seed)
    X = rng.randn(n, f).astype(np.float32)
    X[:, 3] = np.round(X[:, 3] * 2)  # a coarse feature: few cut points, exact zeros
    X[:, 4] = (rng.rand(n) < 0.3).astype(np.float32)  # binary feature
    score = X[:, 0] - 0.7 * X[:, 1] * X[:, 2] + 0.4 * X[:, 3]
    return X, score, rng


def _kernel_golden_case(name: str, train=None) -> dict[str, str]:
    """The golden hashes of one case, with every model fitted by
    ``train`` (``kernel.train`` by default; the multi-rank tests pass
    one that fits on several ranks). ``best_score`` is recorded exactly
    (``float.hex``) and is part of the model hash; the eval metric's sums
    are exact, so a multi-rank fit reproduces it bit for bit."""
    train = train or kernel.train
    X, score, rng = _kernel_golden_data(17)
    reg = {"objective": "reg:squarederror", "n_estimators": 8, "max_depth": 5, "max_bin": 32}
    y3 = np.digitize(score, np.quantile(score, [1 / 3, 2 / 3])).astype(np.float64)
    multi = {"objective": "multi:softprob", "num_class": 3, "n_estimators": 5,
             "max_depth": 4, "max_bin": 16}
    out: dict[str, str] = {}
    if name == "regression_depth5":
        b = train(X, score, reg)
    elif name == "multiclass":
        b = train(X, y3, multi)
    elif name == "multiclass_nan_eval_early_stop":
        X = X.copy()
        X[rng.rand(*X.shape) < 0.05] = np.nan
        b = train(X[:1000], y3[:1000], {**multi, "n_estimators": 40, "learning_rate": 0.8,
                                        "gamma": 1.0, "early_stopping_rounds": 2},
                  eval_set=(X[1000:], y3[1000:]))
        out["best_iteration"] = str(b.best_iteration)
    elif name == "binary_nan":
        Xn = X.copy()
        Xn[rng.rand(*X.shape) < 0.05] = np.nan
        yb = (score > 0).astype(np.float64)
        b = train(Xn, yb, {"objective": "binary:logistic", "n_estimators": 6,
                           "max_depth": 6, "max_bin": 24})
        X = Xn
    elif name == "missing_zero":
        b = train(X, score, {**reg, "missing": 0.0})
    elif name == "max_depth_0":
        b = train(X, score, {**reg, "max_depth": 0})
    elif name == "external_storage":
        b = train(X, score, {**reg, "use_external_storage": True})
    elif name == "eval_early_stop":
        # NaN and missing=0.0 both route through the eval-set margins
        yn = score + rng.randn(len(score)) * 0.8
        X = X.copy()
        X[rng.rand(*X.shape) < 0.05] = np.nan
        b = train(X[:1000], yn[:1000], {**reg, "n_estimators": 60, "learning_rate": 0.5,
                                        "early_stopping_rounds": 3, "missing": 0.0},
                  eval_set=(X[1000:], yn[1000:]))
        out["best_iteration"] = str(b.best_iteration)
    elif name == "continuation":
        init = train(X, y3, {**multi, "n_estimators": 2})
        b = train(X, y3, {**multi, "n_estimators": 3, "max_depth": 3}, xgb_model=init)
    elif name == "iteration_range":
        b = train(X, y3, multi)
        out["raw_margin_1_4"] = _sha(b.raw_margin(X, iteration_range=(1, 4)).tobytes())
        r = train(X, score, reg)
        out["reg_raw_margin_2_6"] = _sha(r.raw_margin(X, iteration_range=(2, 6)).tobytes())
    else:
        raise KeyError(name)
    if b.best_score is not None:
        out["best_score"] = b.best_score.hex()
    out["model"] = _sha(b.save_json().encode())
    out["predict"] = _sha(b.predict(X).tobytes())
    return out


@pytest.mark.parametrize("case", sorted(_KERNEL_GOLDENS))
def test_kernel_goldens(case):
    assert _kernel_golden_case(case) == _KERNEL_GOLDENS[case]


def test_missing_cells_stay_out_of_the_sketch(monkeypatch):
    """Cells equal to a non-NaN ``missing`` are missing before the
    sketch: each column gets the cuts, and the model the predictions, it
    gets with NaN in those cells (XGBoost's sketch skips missing cells)."""
    X, score, _ = _kernel_golden_data(17)
    Xn = X.copy()
    Xn[Xn == 0.0] = np.nan
    sketch, seen = kernel.compute_bin_edges, []
    monkeypatch.setattr(
        kernel, "compute_bin_edges", lambda *a, **k: seen.append(sketch(*a, **k)) or seen[-1]
    )
    reg = {"objective": "reg:squarederror", "n_estimators": 4, "max_depth": 4, "max_bin": 32}
    zero = kernel.train(X, score, {**reg, "missing": 0.0})
    nan = kernel.train(Xn, score, reg)
    assert len(seen) == 2
    for j, (e0, en) in enumerate(zip(*seen)):
        np.testing.assert_array_equal(e0, en, err_msg=f"feature {j}")
    np.testing.assert_array_equal(zero.predict(X), nan.predict(Xn))


def test_missing_splits_from_a_single_present_value():
    """A feature whose present cells hold one value has no cut, yet the
    trees must tell its missing cells from its present ones (XGBoost's
    split below the lowest value), whether missing is NaN or 0.0."""
    X = np.array([[1.0, np.nan], [1.0, 2.0]] * 20, dtype=np.float32)
    y = np.array([0.0, 1.0] * 20)
    reg = {"objective": "reg:squarederror", "n_estimators": 10}
    for Xm, params in ((X, reg), (np.nan_to_num(X), {**reg, "missing": 0.0})):
        b = kernel.train(Xm, y, params)
        np.testing.assert_allclose(b.predict(Xm[:2]), [0.0, 1.0], atol=0.05)
        assert np.array_equal(kernel.Booster.load_json(b.save_json()).predict(Xm), b.predict(Xm))


def _record_batches(values, labels, indicator=None):
    import pyarrow as pa

    cols = {
        "values": pa.array(values, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.float64()),
    }
    if indicator is not None:
        cols["validationIndicator"] = pa.array(indicator, pa.bool_())
    return pa.RecordBatch.from_pydict(cols)


def test_batches_to_matrices_reads_arrow_lists():
    import pyarrow as pa

    from pyspark_xgboost_spark.ml.data import batches_to_matrices, features_matrix

    a = _record_batches([[1, 2], [3, None]], [0.0, 1.0])
    b = _record_batches([[5, 6]], [None])
    train, val = batches_to_matrices(iter([a, b]), distinct_labels=True)
    assert val is None
    np.testing.assert_array_equal(train.X, np.array([[1, 2], [3, np.nan], [5, 6]], np.float32))
    assert train.X.dtype == np.float32
    np.testing.assert_array_equal(train.y, [0.0, 1.0, np.nan])  # a null label reads as NaN
    np.testing.assert_array_equal(train.labels, [0.0, 1.0])  # ... and is not a label

    # a slice keeps its own rows: offsets move, the child array does not
    lists = pa.array([[9, 9], [1, 2], [3, 4], [9, 9]], pa.list_(pa.float32()))
    np.testing.assert_array_equal(features_matrix(lists.slice(1, 2)), [[1, 2], [3, 4]])
    chunked = pa.chunked_array([lists.slice(0, 1), lists.slice(2, 2)])
    np.testing.assert_array_equal(features_matrix(chunked), [[9, 9], [3, 4], [9, 9]])

    for ragged in ([[1, 2], [3]], [[1, 2], None], [None]):
        with pytest.raises(ValueError, match="inconsistent dimensions"):
            batches_to_matrices(iter([_record_batches(ragged, [0.0] * len(ragged))]))


def test_batches_to_matrices_validation_split_and_empty():
    from pyspark_xgboost_spark.ml.data import batches_to_matrices

    batch = _record_batches(
        [[0, 0], [1, 1], [2, 2], [3, 3]], [0.0, 1.0, 2.0, 1.0], [False, True, None, True]
    )
    train, val = batches_to_matrices(iter([batch]), has_validation=True, distinct_labels=True)
    # a null indicator is a training row
    np.testing.assert_array_equal(train.X, [[0, 0], [2, 2]])
    np.testing.assert_array_equal(train.y, [0.0, 2.0])
    np.testing.assert_array_equal(val.X, [[1, 1], [3, 3]])
    np.testing.assert_array_equal(train.labels, [0.0, 2.0])
    np.testing.assert_array_equal(val.labels, [1.0])

    train, val = batches_to_matrices(iter([]), has_validation=True, distinct_labels=True)
    assert train.X.shape == (0, 0) and len(train.y) == 0 and len(train.labels) == 0
    assert val.X.shape == (0, 0)
    train, val = batches_to_matrices(iter([batch.slice(0, 0)]))
    assert train.X.shape == (0, 0) and val is None and train.labels is None


def test_label_objective_rules():
    from pyspark_xgboost_spark.ml.data import label_objective

    assert label_objective([[1.0, 0.0]], {})["objective"] == "binary:logistic"
    multi = label_objective([[0.0], [2.0, 1.0]], {"objective": "reg:squarederror"})
    assert (multi["objective"], multi["num_class"]) == ("multi:softprob", 3)
    # a user-set objective is kept
    assert label_objective([[0.0, 1.0]], {"objective": "multi:softprob"})["num_class"] == 2
    assert label_objective([[0.0, 1.0, 2.0]], {"objective": "binary:logistic"}) == {
        "objective": "binary:logistic"
    }
    for bad in ([0.0, 1.5, 2.0], [1.0, 2.0], [-1.0, 0.0], [0.0, 1.0, np.nan]):
        with pytest.raises(ValueError, match="contiguous integers"):
            label_objective([bad], {})
    with pytest.raises(ValueError, match="found 0"):
        label_objective([[], []], {})


def test_distributed_label_union(spark):
    """Each rank holds only some of the classes; the objective comes from
    the union of every rank's labels. The input's plan ends in
    coalesce(2), so the fit keeps its two partitions as the two shards."""
    from pyspark_xgboost_spark.ml.tracker import _plan_tail_is_repartition

    for shard1, k, objective in (([1.0, 2.0], 3, "multi:softprob"), ([1.0], 2, "binary:logistic")):
        rows = [(Vectors.dense(float(i), float(i % 3)), 0.0) for i in range(60)] + [
            (Vectors.dense(float(i), float(i % 3)), shard1[i % len(shard1)]) for i in range(60)
        ]
        df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2)).toDF(
            "features", "label"
        ).coalesce(2)
        assert _plan_tail_is_repartition(df.select("features", "label"))
        shards = df.rdd.mapPartitions(lambda it: [sorted({r.label for r in it})]).collect()
        assert shards == [[0.0], shard1]
        model = XgboostClassifier(n_estimators=3, max_depth=2, num_workers=2).fit(df)
        assert model.numClasses == k
        assert model.get_booster().objective == objective


def test_worker_modules_skip_pyspark_ml():
    """The modules a Python worker loads for training and scoring must not
    pull in ``pyspark.ml`` (through ``ml.estimator`` or otherwise)."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "import pyspark_xgboost_spark.ml.data, pyspark_xgboost_spark.ml.booster\n"
        "import pyspark_xgboost_spark.ml.tracker\n"
        "bad = [m for m in sys.modules if m == 'pyspark.ml' or m.startswith('pyspark.ml.')\n"
        "       or m == 'pyspark_xgboost_spark.ml.estimator']\n"
        "print(bad)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"


def test_external_storage_leaves_no_temp_dir(tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    X, score, _ = _kernel_golden_data(3, n=300)
    params = {"n_estimators": 3, "max_depth": 3, "use_external_storage": True}
    kernel.train(X, score, params).predict(X)
    assert not list(tmp_path.glob("gbt_ext_*"))


def test_sibling_histogram_is_parent_minus_child_bit_for_bit():
    """On fixed-point gradients a node's histogram minus one child's is
    the other child's direct build, bit for bit, whatever the row order;
    on the raw floats of the same rows it is not."""
    rng = np.random.RandomState(5)
    n, f, nbp1 = 5000, 3, 17
    B = rng.randint(0, nbp1, size=(f, n)).astype(np.uint16)
    g_raw = rng.randn(1, n) * 10.0 ** rng.uniform(-6, 6, n)
    h_raw = rng.rand(1, n) * 10.0 ** rng.uniform(-6, 3, n)
    g, h = g_raw.copy(), h_raw.copy()
    kernel._fixed_point(g, h, kernel.LocalComm())
    assert (h > 0).all()
    left = rng.rand(n) < 0.3

    def build(g, h, rows, order):
        # rows of the node in slot 0, every other row past the built slot
        out = np.empty((2, 1, f, nbp1))
        pos = np.where(rows, 0, nbp1)[order]
        kernel._build_histograms(B[:, order], g[0][order], h[0][order], pos, out)
        return out

    every = np.ones(n, dtype=bool)
    for order in (np.arange(n), rng.permutation(n)):
        sibling = build(g, h, every, order) - build(g, h, left, order)
        assert np.array_equal(sibling, build(g, h, ~left, np.arange(n)))
    raw = build(g_raw, h_raw, every, np.arange(n)) - build(g_raw, h_raw, left, np.arange(n))
    assert not np.array_equal(raw, build(g_raw, h_raw, ~left, np.arange(n)))


def test_fixed_point_grid():
    """g rounds to the nearest and h up to a multiple of a power-of-two
    step that leaves 2**52 steps for the largest possible sum."""
    g = np.array([[3.0, -1.25, 1e-20, 0.0]])
    h = np.array([[1.0, 1e-16, 0.25, 0.0]])
    gq, hq = g.copy(), h.copy()
    kernel._fixed_point(gq, hq, kernel.LocalComm())
    g_step = 2.0 ** (math.ceil(math.log2(3.0 * 4)) - 52)
    h_step = 2.0 ** (2 - 52)
    np.testing.assert_array_equal(gq, np.rint(g / g_step) * g_step)
    np.testing.assert_array_equal(hq, [[1.0, h_step, 0.25, 0.0]])
    zero = np.zeros((2, 3))
    kernel._fixed_point(zero, np.ones((2, 3)), kernel.LocalComm())
    assert not zero.any()


@pytest.mark.parametrize(
    "metric,objective,num_class",
    [("rmse", "reg:squarederror", 0), ("logloss", "binary:logistic", 0),
     ("mlogloss", "multi:softprob", 3)],
)
def test_eval_metric_is_free_of_row_order(metric, objective, num_class):
    """The eval metric rounds each row's weighted loss and weight to a
    fixed-point grid, so its sums, and the score, have the same bits in
    any row order (a plain float sum's last bits follow the order)."""
    rng = np.random.RandomState(5)
    n = 2000
    obj = kernel._Objective(objective, num_class)
    K = max(num_class, 1)
    margin = rng.randn(K, n) * 3
    y = rng.randint(0, max(num_class, 2), n).astype(np.float64)
    if metric == "rmse":
        y = rng.randn(n) * 7
    w = rng.rand(n) * 3
    ref = kernel._eval_metric(metric, obj, margin, y, w, kernel.LocalComm())
    for _ in range(5):
        p = rng.permutation(n)
        got = kernel._eval_metric(metric, obj, margin[:, p], y[p], w[p], kernel.LocalComm())
        assert got.hex() == ref.hex()


def test_split_gain_ignores_empty_sides_at_zero_lambda():
    """At ``reg_lambda=0`` and ``min_child_weight=0`` an empty side of a
    candidate split makes a 0/0 gain; that NaN must not win the argmax
    and stop the node (the fit grew one split per tree, MSE 1.57 here)."""
    rng = np.random.RandomState(0)
    X = rng.randn(500, 2).astype(np.float32)
    y = 2 * X[:, 0] + X[:, 1]

    def fit(**extra):
        b = kernel.train(X, y, {"objective": "reg:squarederror", "n_estimators": 5,
                                "max_depth": 4, **extra})
        return sum(len(t.feature) for t in b.trees), float(((b.predict(X) - y) ** 2).mean())

    nodes, mse = fit(reg_lambda=0.0, min_child_weight=0.0)
    assert nodes > 15 and mse < 0.5
    assert (nodes, mse) == pytest.approx(fit(reg_lambda=0.0, min_child_weight=1.0), rel=0.2)


@pytest.mark.parametrize(
    "objective", ["reg:squarederror", "binary:logistic", "multi:softprob"]
)
def test_train_rejects_non_finite_labels_and_bad_weights(objective):
    """A NaN (a null label) or infinite label, a non-finite or negative
    weight, or a ``multi:softprob`` label that is no class index, raises
    instead of training single-leaf trees with NaN predictions (or
    crashing in, or silently skipping, the softmax gradient's hot class)."""
    X, score, _ = _kernel_golden_data(9, n=500)
    y = (score > 0).astype(np.float64)
    params = {"objective": objective, "n_estimators": 2, "max_depth": 2}
    if objective == "multi:softprob":
        params["num_class"] = 2
    for bad in (np.nan, np.inf, -np.inf):
        yb = y.copy()
        yb[7] = bad
        with pytest.raises(ValueError, match="found 1 non-finite label"):
            kernel.train(X, yb, params)
        with pytest.raises(ValueError, match="found 1 non-finite label"):
            kernel.train(X[:400], y[:400], params, eval_set=(X[400:], yb[:100]))
    for bad in (np.nan, np.inf, -1.0):
        w = np.ones(len(y))
        w[3] = bad
        with pytest.raises(ValueError, match="found 1 non-finite or negative weight"):
            kernel.train(X, y, params, sample_weight=w)
    w = np.ones(len(y))
    w[3] = 0.0
    assert np.isfinite(kernel.train(X, y, params, sample_weight=w).predict(X)).all()
    if objective == "multi:softprob":
        # a finite label that is no class index has no hot class
        for bad in (2.0, -1.0, 0.5):
            yb = y.copy()
            yb[7] = bad
            with pytest.raises(ValueError, match="class indices 0..1; found 1 other"):
                kernel.train(X, yb, params)
            with pytest.raises(ValueError, match="class indices 0..1; found 1 other"):
                kernel.train(X[:400], y[:400], params, eval_set=(X[400:], yb[:100]))


def _chk_xgb_model_rejects_wrong_type(spark, reg_train):
    with pytest.raises(ValueError, match="xgb_model"):
        XgboostRegressor(xgb_model="not-a-booster").fit(reg_train)


def _chk_num_workers_param(spark):
    """Reference test_num_workers_param (xgboost_local_test.py:617-621)."""
    regressor = XgboostRegressor(num_workers=-1)
    with pytest.raises(ValueError):
        regressor._validate_params()
    classifier = XgboostClassifier(num_workers=0)
    with pytest.raises(ValueError):
        classifier._validate_params()


def _chk_use_gpu_param(spark):
    """Reference test_use_gpu_param (xgboost_local_test.py:622-630):
    tree_method must be gpu_hist/None with use_gpu, and a cluster
    without task GPU resources must raise at validation, not warn."""
    classifier = XgboostClassifier(use_gpu=True, tree_method="exact")
    with pytest.raises(ValueError, match="tree_method"):
        classifier._validate_params()
    regressor = XgboostRegressor(use_gpu=True, tree_method="exact")
    with pytest.raises(ValueError, match="tree_method"):
        regressor._validate_params()
    # valid tree_method, but this local session schedules no task GPUs
    for est in (
        XgboostRegressor(use_gpu=True, tree_method="gpu_hist"),
        XgboostRegressor(use_gpu=True),
        XgboostClassifier(use_gpu=True, tree_method="gpu_hist"),
        XgboostClassifier(use_gpu=True),
    ):
        with pytest.raises(RuntimeError, match="GPU"):
            est._validate_params()


def _chk_quantile_and_mae_objectives_reach_kernel(spark):
    """The reference forwarded user objectives verbatim (O19 kwargs
    passthrough) — reg:quantileerror / reg:absoluteerror must flow
    through XgboostRegressor into the kernel, and the fitted quantile
    models must show the pinball signature: empirical coverage tracks
    alpha and higher alpha dominates lower."""
    import numpy as np
    from pyspark.ml.feature import VectorAssembler
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.ml.estimator import XgboostRegressor
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_quantity", "l_discount", "l_tax", "l_extendedprice"
    )
    assembled = VectorAssembler(
        inputCols=["l_discount", "l_tax"], outputCol="features"
    ).transform(li.withColumn("label", F.col("l_quantity")))
    med = float(np.median([r["label"] for r in assembled.select("label").collect()]))

    preds = {}
    for a in (0.2, 0.8):
        model = XgboostRegressor(
            objective="reg:quantileerror",
            quantile_alpha=a,
            n_estimators=200,
            max_depth=3,
            learning_rate=0.3,
            base_score=med,
        ).fit(assembled)
        rows = model.transform(assembled).select("label", "prediction").collect()
        cov = sum(r["label"] <= r["prediction"] for r in rows) / len(rows)
        preds[a] = (cov, sum(r["prediction"] for r in rows) / len(rows))
        assert abs(cov - a) < 0.12, (a, cov)
    assert preds[0.8][1] > preds[0.2][1]  # upper quantile dominates

    mae_model = XgboostRegressor(
        objective="reg:absoluteerror",
        n_estimators=60,
        max_depth=3,
        learning_rate=0.3,
        base_score=med,
    ).fit(assembled)
    rows = mae_model.transform(assembled).select("label", "prediction").collect()
    mae = sum(abs(r["label"] - r["prediction"]) for r in rows) / len(rows)
    # MAE fit must beat the trivial constant-median predictor
    base = sum(abs(r["label"] - med) for r in rows) / len(rows)
    assert mae <= base + 1e-9

    import pytest as _pytest

    with _pytest.raises(ValueError, match="reg:\\* objective"):
        XgboostRegressor(objective="binary:logistic", n_estimators=2).fit(assembled)


def _chk_flagship_fit_memoized(spark):
    """A second consumer of the flagship fit must NOT retrain: the
    four ml_* headline queries share two fits via _FIT_CACHE (round-9
    verdict: retraining per consumer was ~8% of the whole bench)."""
    from pyspark_xgboost_spark.ml import flagship

    sf_dir = "/root/testdata/sf0.001"
    m1, a1 = flagship.fit_regressor(spark, sf_dir)
    m2, a2 = flagship.fit_regressor(spark, sf_dir)
    assert m1 is m2 and a1 is a2  # cache hit, no second training run
    c1, _ = flagship.fit_classifier(spark, sf_dir)
    c2, _ = flagship.fit_classifier(spark, sf_dir)
    assert c1 is c2
    # distinct kinds distinct entries
    assert m1 is not c1


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11):
# every Spark-backed ML behavioral test fans out over the shared
# session in one case — fits are independent jobs the scheduler
# interleaves; tmp_path users get their own mkdtemp dirs.
def test_ml_contracts_pooled(spark, reg_train, cls_train):
    import tempfile
    from pathlib import Path

    from tests.conftest import run_pooled

    frames = {'reg_train': reg_train, 'cls_train': cls_train}
    checks = []
    for fn, extra in [
        (_chk_regressor_fit_transform_matches_local_kernel, ['reg_train']),
        (_chk_binary_classifier_outputs, ['cls_train']),
        (_chk_multiclass_classifier, []),
        (_chk_label_validation, []),
        (_chk_param_system, []),
        (_chk_early_stopping_requires_validation_col, ['reg_train']),
        (_chk_model_persistence_roundtrip, ['reg_train', 'tmp_path']),
        (_chk_estimator_persistence_roundtrip, ['tmp_path']),
        (_chk_pipeline_integration, ['cls_train', 'tmp_path']),
        (_chk_weights_shift_fit, []),
        (_chk_missing_zero_semantics, []),
        (_chk_validation_early_stopping, []),
        (_chk_feature_importances, ['reg_train']),
        (_chk_crossvalidator_integration, ['cls_train']),
        (_chk_external_storage_parity, ['reg_train']),
        (_chk_external_storage_rejects_weight, []),
        (_chk_train_with_initial_model, ['reg_train', 'tmp_path']),
        (_chk_continuation_matches_straight_run, ['reg_train']),
        (_chk_callbacks, ['reg_train', 'tmp_path']),
        (_chk_callback_early_stop, ['reg_train']),
        (_chk_xgb_model_rejects_wrong_type, ['reg_train']),
        (_chk_num_workers_param, []),
        (_chk_use_gpu_param, []),
        (_chk_quantile_and_mae_objectives_reach_kernel, []),
        (_chk_flagship_fit_memoized, []),
    ]:
        def wrap(s, fn=fn, extra=extra):
            args = [
                Path(tempfile.mkdtemp(prefix='mlpool_'))
                if a == 'tmp_path' else frames[a]
                for a in extra
            ]
            fn(s, *args)
        wrap.__name__ = fn.__name__
        checks.append(wrap)
    run_pooled(spark, checks, workers=8)
