"""Arrow-batch → feature-matrix assembly (reference data.py rewrite), and
the classifier's label rules.

Both fit paths run inside ``mapInArrow`` and both models score in an
iterator ``arrow_udf``, so the data model here is Arrow record batches.
``features_matrix`` turns the ``values`` list column into the dense
float32 ``(n, f)`` matrix the kernel consumes straight from the list's
offsets and flat values (one copy, no per-row array objects), enforcing
uniform feature dimensionality (reference data.py:120-130).
``batches_to_matrices`` adds the label/weight/margin vectors and splits
train/validation rows by the boolean indicator inside the task, so the
split stays partition-local (reference data.py:158-160).

``label_objective`` is the classifier's objective inference (reference
O4, xgboost_core.py:328-337). It runs inside the training task, over
the task's distinct labels or, distributed, over every rank's labels
gathered in the allgather the ranks already make (tracker.py), so a
classifier fit needs no separate driver-side label job. This module is
imported by the Python workers and must not import ``ml.estimator`` or
``pyspark.ml``: a worker would pay for loading both.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

# A fit task yields one row: the model's JSON, which is an object and so
# starts with "{", or in its place the message of the label error that
# stopped the fit, which ``fit_result_json`` raises on the driver.
FIT_RESULT_SCHEMA = "model_json string"


class MatrixBundle:
    """``labels`` holds the sorted distinct non-null labels of the rows
    when ``batches_to_matrices`` was asked for them, else None."""

    __slots__ = ("X", "y", "w", "base_margin", "labels")

    def __init__(self, X, y, w, base_margin, labels=None):
        self.X = X
        self.y = y
        self.w = w
        self.base_margin = base_margin
        self.labels = labels


def features_matrix(values: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """``(n, f)`` float32 matrix of a list<float> column. Every row must be
    non-null and have the same length; a null element becomes NaN."""
    if isinstance(values, pa.ChunkedArray):
        values = values.combine_chunks()
    n = len(values)
    if n == 0:
        return np.empty((0, 0), dtype=np.float32)
    # ``offsets`` follows a slice of the list array, ``values`` does not
    offsets = values.offsets.to_numpy()
    lengths = np.diff(offsets)
    if values.null_count or lengths.min() != lengths.max():
        if values.null_count:
            lengths[~values.is_valid().to_numpy(zero_copy_only=False)] = 0
        raise ValueError(
            f"feature vectors have inconsistent dimensions: {np.unique(lengths).tolist()} "
            "(all rows must share one dimensionality)"
        )
    flat = values.values.slice(offsets[0], offsets[-1] - offsets[0])
    flat = flat.to_numpy(zero_copy_only=False).astype(np.float32, copy=False)
    return flat.reshape(n, int(lengths[0]))


def batches_to_matrices(
    batches: Iterator[pa.RecordBatch],
    has_weight: bool = False,
    has_base_margin: bool = False,
    has_validation: bool = False,
    distinct_labels: bool = False,
) -> tuple[MatrixBundle, MatrixBundle | None]:
    """Concatenate a record-batch iterator into (train, validation)
    matrix bundles. Validation is None unless has_validation."""
    parts = [b for b in batches if b.num_rows]
    if not parts:
        empty = MatrixBundle(
            np.empty((0, 0), np.float32),
            np.empty(0),
            None,
            None,
            np.empty(0) if distinct_labels else None,
        )
        return empty, (empty if has_validation else None)
    table = pa.Table.from_batches(parts)
    X = features_matrix(table.column("values"))
    label = table.column("label")
    y = label.to_numpy()  # a null label reads as NaN
    w = table.column("weight").to_numpy() if has_weight else None
    bm = table.column("baseMargin").to_numpy() if has_base_margin else None
    known = label.is_valid().to_numpy()  # nulls are not labels, as in countDistinct

    def bundle(rows: np.ndarray | None) -> MatrixBundle:
        def take(a):
            return a if a is None or rows is None else a[rows]

        y_rows = take(y)
        labels = np.unique(y_rows[take(known)]) if distinct_labels else None
        return MatrixBundle(take(X), y_rows, take(w), take(bm), labels)

    if not has_validation:
        return bundle(None), None
    mask = pc.fill_null(table.column("validationIndicator"), False).to_numpy()
    return bundle(~mask), bundle(mask)


def label_objective(label_sets: list, params: dict) -> dict:
    """The classifier's training params for the distinct labels in the
    union of ``label_sets``: ``binary:logistic`` for two classes,
    ``multi:softprob`` with ``num_class`` for more, and a user-set
    objective is kept. The labels must be exactly 0..k-1; anything else
    raises ValueError."""
    labels = np.unique(np.concatenate(label_sets))
    k = len(labels)
    if k < 2:
        raise ValueError(f"classifier needs >= 2 distinct labels, found {k}")
    if not np.array_equal(labels, np.arange(k)):
        raise ValueError(
            f"labels must be contiguous integers 0..{k - 1}, "
            f"found range [{float(labels[0])}, {float(labels[-1])}]"
        )
    params = dict(params)
    if params.get("objective") in (None, "reg:squarederror"):
        params["objective"] = "binary:logistic" if k == 2 else "multi:softprob"
    if params["objective"] == "multi:softprob":
        params["num_class"] = k
    return params


def fit_result(model_json_or_error: str) -> pa.RecordBatch:
    """A fit task's one-row output (``FIT_RESULT_SCHEMA``)."""
    return pa.RecordBatch.from_pydict({"model_json": [model_json_or_error]})


def fit_result_json(rows: list, empty_message: str) -> str:
    """The model JSON of a fit job's collected rows; a label error the
    task reported is raised here, on the driver, as ValueError."""
    if not rows:
        raise ValueError(empty_message)
    text = rows[0][0]
    if not text.startswith("{"):
        raise ValueError(text)
    return text
