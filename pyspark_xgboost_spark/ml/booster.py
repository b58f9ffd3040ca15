"""Pure-numpy histogram gradient-boosted trees — the training kernel.

The reference delegates tree learning to the XGBoost C++ core
(reference: sparkdl/xgboost/xgboost_core.py:18,414 calls
``xgboost.training.train``); this environment ships no xgboost, so the
kernel is re-implemented here with the same algorithm family
(depth-wise histogram GBT, second-order gradients, learned default
direction for missing values — Chen & Guestrin, KDD'16, public paper)
and the same objectives the reference configures
(reg:squarederror / binary:logistic / multi:softprob,
xgboost_core.py:328-337).

Distribution model: data-parallel histogram allreduce. Every worker
holds a row shard, computes local (grad, hess) histograms per
tree-node×feature×bin, and the histograms — NOT the rows — are summed
across workers. All workers then derive identical splits, so the
ensemble is bit-identical on every worker. This is the same
aggregation pattern XGBoost runs over Rabit; here the reduction is a
``Comm`` abstraction: in-process no-op ``LocalComm`` for single-worker
training, the socket star ``comm.SocketComm`` for Spark barrier-mode
training (see tracker.py). Histograms are O(nodes × features × bins) —
KBs to a few MB — regardless of shard row count, which is what makes
the pattern viable at 100 TB.

Data layout, chosen so that training and prediction are array passes
rather than per-node or per-tree Python loops:

* ``bin_matrix`` returns feature-major ``(f, n)`` codes. Tree growth
  keeps every row in place and carries a per-row slot; rows that reached
  a leaf go to an extra histogram slot that is dropped, instead of
  copying the live rows out at every level. A row's split code is one
  flat ``take``.
* A ``Booster`` packs its trees once into flat arrays with per-tree
  roots; leaves are self-loops. ``_walk`` moves every (tree, row) pair
  one level at a time, and margins are still summed tree by tree in
  ensemble order, so outputs are the same floats as a per-tree walk.
* Histogram subtraction (build the smaller child, derive its sibling)
  is left out: parent minus child rounds differently from a direct sum,
  so trees would no longer match the direct-sum kernel bit for bit.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import tempfile
from functools import cached_property
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------------------
# Communication abstraction (allreduce via allgather)
# ---------------------------------------------------------------------------


class LocalComm:
    """Single-worker 'cluster': reductions are identities."""

    n_workers = 1
    rank = 0

    def allreduce_sum(self, arr: np.ndarray) -> np.ndarray:
        return arr

    def allgather_rows(self, arr: np.ndarray) -> np.ndarray:
        return arr

    def allgather_bytes(self, b: bytes) -> list[bytes]:
        return [b]

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# Objectives
# ---------------------------------------------------------------------------


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def _softmax(m: np.ndarray) -> np.ndarray:
    e = np.exp(m - m.max(axis=1, keepdims=True))
    return e / e.sum(axis=1, keepdims=True)


class _Objective:
    """margin layout: (n,) for single-output, (n, K) for multiclass.

    Regression objectives beyond squared error mirror what reference
    users reached through the kwargs passthrough (O19 — the reference
    forwarded ``objective``/``quantile_alpha`` verbatim to xgboost):
    ``reg:absoluteerror`` (MAE; hess≈1 like xgboost's own
    approximation) and ``reg:quantileerror`` (pinball loss at
    ``quantile_alpha`` — the conditional-quantile / prediction-interval
    workhorse). Both have CONSTANT-magnitude gradients, so each round
    moves a leaf ≈ learning_rate toward the target — convergence is
    linear from ``base_score``: start it near the label's center
    (median) and budget n_estimators ≳ |target − base_score| /
    learning_rate (xgboost 2.x refines quantile leaves adaptively; the
    linear schedule is the honest simple kernel form, pinned by
    coverage tests)."""

    _SUPPORTED = (
        "reg:squarederror",
        "reg:absoluteerror",
        "reg:quantileerror",
        "binary:logistic",
        "multi:softprob",
    )

    def __init__(self, name: str, num_class: int, quantile_alpha: float = 0.5):
        if name not in self._SUPPORTED:
            raise ValueError(f"unsupported objective {name!r}")
        self.name = name
        self.num_class = num_class if name == "multi:softprob" else 1
        if not (0.0 < quantile_alpha < 1.0):
            raise ValueError(f"quantile_alpha must be in (0, 1), got {quantile_alpha}")
        self.quantile_alpha = float(quantile_alpha)

    def grad_hess(self, margin: np.ndarray, y: np.ndarray):
        if self.name == "reg:squarederror":
            return margin - y, np.ones_like(margin)
        if self.name == "reg:absoluteerror":
            return np.sign(margin - y), np.ones_like(margin)
        if self.name == "reg:quantileerror":
            a = self.quantile_alpha
            # d/dm of pinball: -a while under-predicting, (1-a) once over
            g = np.where(y > margin, -a, 1.0 - a)
            return g, np.ones_like(margin)
        if self.name == "binary:logistic":
            p = _sigmoid(margin)
            return p - y, np.maximum(p * (1.0 - p), 1e-16)
        p = _softmax(margin)  # (n, K)
        onehot = np.zeros_like(p)
        onehot[np.arange(len(y)), y.astype(np.int64)] = 1.0
        g = p - onehot
        h = np.maximum(2.0 * p * (1.0 - p), 1e-16)
        return g, h

    def margin_to_output(self, margin: np.ndarray) -> np.ndarray:
        if self.name.startswith("reg:"):
            return margin
        if self.name == "binary:logistic":
            return _sigmoid(margin)
        return _softmax(margin)

    def default_metric(self) -> str:
        return {
            "reg:squarederror": "rmse",
            "reg:absoluteerror": "mae",
            "reg:quantileerror": "quantile",
            "binary:logistic": "logloss",
            "multi:softprob": "mlogloss",
        }[self.name]


def _eval_metric_parts(metric, margin, y, w, quantile_alpha: float = 0.5) -> tuple[float, float]:
    """(weighted loss sum, weight sum) — allreduce-able across workers."""
    if len(y) == 0:
        return 0.0, 0.0
    w = np.ones(len(y)) if w is None else w
    sw = float(w.sum())
    if metric == "rmse":
        return float((w * (margin - y) ** 2).sum()), sw
    if metric == "mae":
        return float((w * np.abs(margin - y)).sum()), sw
    if metric == "quantile":
        a = quantile_alpha
        diff = y - margin
        pin = np.where(diff >= 0, a * diff, (a - 1.0) * diff)
        return float((w * pin).sum()), sw
    if metric == "logloss":
        p = np.clip(_sigmoid(margin), 1e-15, 1 - 1e-15)
        return float(-(w * (y * np.log(p) + (1 - y) * np.log(1 - p))).sum()), sw
    if metric == "mlogloss":
        p = np.clip(_softmax(margin), 1e-15, None)
        return float(-(w * np.log(p[np.arange(len(y)), y.astype(np.int64)])).sum()), sw
    raise ValueError(f"unknown metric {metric!r}")


def _eval_metric(metric, obj, margin, y, w, comm=None) -> float:
    num, den = _eval_metric_parts(
        metric, margin, y, w, getattr(obj, "quantile_alpha", 0.5)
    )
    if comm is not None and getattr(comm, "n_workers", 1) > 1:
        num, den = comm.allreduce_sum(np.array([num, den]))
    if den == 0:
        return math.inf
    return math.sqrt(num / den) if metric == "rmse" else num / den


# ---------------------------------------------------------------------------
# Quantile binning
# ---------------------------------------------------------------------------


def compute_bin_edges(
    X: np.ndarray, max_bin: int, comm: LocalComm | None = None, sample_rows: int = 65536
) -> list[np.ndarray]:
    """Per-feature quantile cut points shared by all workers.

    Each worker contributes an evenly-strided row sample (bounded, so the
    gathered payload is O(workers × sample × features) no matter the shard
    size); quantiles of the union define the global edges. Deterministic:
    identical inputs → identical edges on every worker.
    """
    comm = comm or LocalComm()
    if len(X) > sample_rows:
        stride = len(X) // sample_rows
        sample = X[::stride][:sample_rows]
    else:
        sample = X
    gathered = comm.allgather_rows(np.ascontiguousarray(sample, dtype=np.float32))
    edges: list[np.ndarray] = []
    qs = np.linspace(0, 1, max_bin + 1)[1:-1]
    for j in range(X.shape[1]):
        col = gathered[:, j]
        col = col[~np.isnan(col)]
        if len(col) == 0:
            edges.append(np.empty(0, dtype=np.float64))
            continue
        cuts = np.unique(np.quantile(col, qs, method="linear"))
        # drop cuts at/below min: 'x < cut' must split something
        cuts = cuts[cuts > col.min()]
        edges.append(cuts.astype(np.float64))
    return edges


def n_bins_p1(edges: list[np.ndarray]) -> int:
    """Histogram slots per feature: real bins 0..max_cuts, plus one shared
    missing sentinel at the global last slot."""
    longest = max((len(e) for e in edges), default=0)
    return longest + 2


def bin_matrix(X: np.ndarray, edges: list[np.ndarray], missing: float) -> np.ndarray:
    """float matrix ``(n, f)`` → feature-major ``(f, n)`` uint16 bin codes;
    the global last slot == missing.

    Feature-major so that each feature's codes are one contiguous run:
    the per-feature histogram ``bincount`` reads ``B[j]`` without a
    stride, and row routing reads every row's split code with one flat
    ``take`` (``B.ravel()[feature_of_row * n + row]``)."""
    n, f = X.shape
    sentinel = n_bins_p1(edges) - 1
    B = np.empty((f, n), dtype=np.uint16)
    for j in range(f):
        col = X[:, j].astype(np.float64)
        if not math.isnan(missing):
            col = np.where(col == missing, np.nan, col)
        nan_mask = np.isnan(col)
        codes = np.searchsorted(edges[j], col, side="right")
        codes[nan_mask] = sentinel
        B[j] = codes
    return B


# ---------------------------------------------------------------------------
# Tree (flat arrays)
# ---------------------------------------------------------------------------


class _Tree:
    __slots__ = ("feature", "threshold", "left", "right", "value", "default_left")

    def __init__(self):
        self.feature: list[int] = []
        self.threshold: list[float] = []
        self.left: list[int] = []
        self.right: list[int] = []
        self.value: list[float] = []
        self.default_left: list[bool] = []

    def to_dict(self) -> dict:
        return {
            "feature": self.feature,
            "threshold": self.threshold,
            "left": self.left,
            "right": self.right,
            "value": self.value,
            "default_left": self.default_left,
        }

    @classmethod
    def from_dict(cls, d: dict) -> "_Tree":
        t = cls()
        t.feature = list(d["feature"])
        t.threshold = list(d["threshold"])
        t.left = list(d["left"])
        t.right = list(d["right"])
        t.value = list(d["value"])
        t.default_left = list(d["default_left"])
        return t


class _Packed(NamedTuple):
    """Every node of a list of trees in flat arrays with per-tree roots.

    Leaves are self-loops: feature 0, threshold ``+inf``, default-left,
    and both children pointing back at the leaf. A walk can then move
    every (tree, row) pair down one level at a time for ``depth``
    levels with no per-tree mask: pairs that reached a leaf stay put."""

    feature: np.ndarray  # (nodes,) int64
    threshold: np.ndarray  # (nodes,) float64
    default_left: np.ndarray  # (nodes,) bool
    child: np.ndarray  # (2 * nodes,) int64: [2i] left, [2i + 1] right
    value: np.ndarray  # (nodes,) float64
    root: np.ndarray  # (trees,) int64
    depth: int  # levels of the deepest tree


def _pack(trees: list[_Tree]) -> _Packed:
    sizes = np.array([len(t.feature) for t in trees], dtype=np.int64)
    root = np.cumsum(sizes) - sizes
    offset = np.repeat(root, sizes)

    def cat(attr, dtype):
        return np.array([v for t in trees for v in getattr(t, attr)], dtype=dtype)

    feature = cat("feature", np.int64)
    leaf = feature < 0
    own = np.arange(len(feature), dtype=np.int64)
    left = np.where(leaf, own, cat("left", np.int64) + offset)
    right = np.where(leaf, own, cat("right", np.int64) + offset)
    depth, frontier = 0, root
    while True:
        frontier = frontier[~leaf[frontier]]
        if not len(frontier):
            break
        depth += 1
        frontier = np.concatenate([left[frontier], right[frontier]])
    return _Packed(
        feature=np.where(leaf, 0, feature),
        threshold=np.where(leaf, np.inf, cat("threshold", np.float64)),
        default_left=leaf | cat("default_left", bool),
        child=np.stack([left, right], axis=1).ravel(),
        value=cat("value", np.float64),
        root=root,
        depth=depth,
    )


# rows per walk block are chosen so that a block holds about this many
# (tree, row) pairs, which bounds the walk's temporaries to a few MB
_WALK_PAIRS = 1 << 18


def _walk(packed: _Packed, X: np.ndarray, missing: float, roots: np.ndarray) -> np.ndarray:
    """Leaf value of every row in every tree rooted at ``roots``:
    ``(len(roots), n)``. The one prediction function of this module:
    ``Booster.raw_margin`` and the eval-set margins in ``train`` both
    call it.

    Each level takes each pair's split feature, reads the row's value
    with one flat ``take`` from the row-major float64 block, and moves
    to ``child[2 * node + go_right]``. A NaN (or a value equal to
    ``missing``) fails both ``x < thr`` and ``x >= thr``, so it goes
    right at a default-right node and left at a default-left one; a
    block without NaN needs only ``x >= thr``."""
    X = np.ascontiguousarray(X, dtype=np.float32)
    n, n_feat = X.shape
    out = np.empty((len(roots), n), dtype=np.float64)
    step = max(1, _WALK_PAIRS // max(1, len(roots)))
    for lo in range(0, n, step):
        block = X[lo : lo + step].astype(np.float64)
        if not math.isnan(missing):
            block[block == missing] = np.nan
        has_nan = bool(np.isnan(block).any())
        flat = block.ravel()
        row_start = np.arange(len(block), dtype=np.int64) * n_feat
        node = np.repeat(roots[:, None], len(block), axis=1)
        for _level in range(packed.depth):
            x = flat.take(packed.feature.take(node) + row_start)
            thr = packed.threshold.take(node)
            if has_nan:
                go_right = np.where(packed.default_left.take(node), x >= thr, ~(x < thr))
            else:
                go_right = x >= thr
            node *= 2
            node += go_right
            node = packed.child.take(node)
        out[:, lo : lo + len(block)] = packed.value.take(node)
    return out


# ---------------------------------------------------------------------------
# Histogram split search
# ---------------------------------------------------------------------------


def _build_histograms(B, g, h, slot_of_row, n_slots, n_bins_p1):
    """(n_slots, n_features, max_bin+1) grad/hess sums via bincount over
    feature-major codes ``B``. A row whose slot is ``n_slots`` has
    settled in a leaf: it lands in one extra slot that is dropped, so
    live rows never need to be copied out."""
    f = B.shape[0]
    hist_g = np.empty((n_slots, f, n_bins_p1))
    hist_h = np.empty((n_slots, f, n_bins_p1))
    base = slot_of_row * n_bins_p1
    size = (n_slots + 1) * n_bins_p1
    kept = n_slots * n_bins_p1
    for j in range(f):
        idx = base + B[j]
        hist_g[:, j, :] = np.bincount(idx, weights=g, minlength=size)[:kept].reshape(
            n_slots, n_bins_p1
        )
        hist_h[:, j, :] = np.bincount(idx, weights=h, minlength=size)[:kept].reshape(
            n_slots, n_bins_p1
        )
    return hist_g, hist_h


def _best_splits(hist_g, hist_h, reg_lambda, gamma, min_child_weight, edge_counts=None):
    """Vectorized best (feature, bin, missing-direction) per node.

    Returns arrays over nodes: gain, feature, bin, default_left.
    Bin b means predicate 'x < edges[f][b]'; missing bucket is the last
    histogram slot and is assigned to whichever side scores better.

    ``edge_counts[f]`` = number of real cut points for feature f. The
    histogram is padded to the widest feature, so slots b >=
    edge_counts[f] are zero-filled; with min_child_weight=0 such a slot
    can tie/win the argmax (HR=0 passes the child-weight check), which
    would pick an unrealizable split. Those slots are masked to -inf
    before the argmax so the chosen split is always a real cut.
    """
    n_nodes, n_feat, nbp1 = hist_g.shape
    G_real = hist_g[:, :, :-1]
    H_real = hist_h[:, :, :-1]
    Gm = hist_g[:, :, -1]  # missing bucket (node, feat)
    Hm = hist_h[:, :, -1]
    G_tot = G_real.sum(axis=2) + Gm
    H_tot = H_real.sum(axis=2) + Hm

    GL = np.cumsum(G_real, axis=2)[:, :, :-1]  # split after bin b, b in [0, nb-2]
    HL = np.cumsum(H_real, axis=2)[:, :, :-1]
    GR = G_tot[:, :, None] - Gm[:, :, None] - GL
    HR = H_tot[:, :, None] - Hm[:, :, None] - HL

    parent = (G_tot**2) / (H_tot + reg_lambda)  # (node, feat)

    def gain_of(GLx, HLx, GRx, HRx):
        ok = (HLx >= min_child_weight) & (HRx >= min_child_weight)
        gain = 0.5 * (
            (GLx**2) / (HLx + reg_lambda)
            + (GRx**2) / (HRx + reg_lambda)
            - parent[:, :, None]
        ) - gamma
        return np.where(ok, gain, -np.inf)

    gain_ml = gain_of(GL + Gm[:, :, None], HL + Hm[:, :, None], GR, HR)  # missing→left
    gain_mr = gain_of(GL, HL, GR + Gm[:, :, None], HR + Hm[:, :, None])  # missing→right
    default_left = gain_ml >= gain_mr
    gain = np.where(default_left, gain_ml, gain_mr)  # (node, feat, nb-1)

    if edge_counts is not None and gain.shape[2] > 0:
        invalid = np.arange(gain.shape[2])[None, :] >= np.asarray(edge_counts)[:, None]
        gain = np.where(invalid[None, :, :], -np.inf, gain)

    if gain.shape[2] == 0:
        # no feature has any cut point (all-constant features): no splits
        neg = np.full(n_nodes, -np.inf)
        zero = np.zeros(n_nodes, dtype=np.int64)
        return neg, zero, zero, np.ones(n_nodes, dtype=bool), G_tot, H_tot
    flat = gain.reshape(n_nodes, -1)
    best_flat = np.argmax(flat, axis=1)
    best_gain = flat[np.arange(n_nodes), best_flat]
    best_feat = best_flat // gain.shape[2]
    best_bin = best_flat % gain.shape[2]
    best_dl = default_left[np.arange(n_nodes), best_feat, best_bin]
    return best_gain, best_feat, best_bin, best_dl, G_tot, H_tot


# ---------------------------------------------------------------------------
# Booster
# ---------------------------------------------------------------------------


class Booster:
    """A fitted GBT ensemble. JSON-serializable (reference stores the
    booster as a JSON string in a 1-row parquet — model.py:119-128; we
    keep the same persistence shape)."""

    def __init__(
        self,
        trees: list[_Tree],
        objective: str,
        num_class: int,
        base_score: float,
        missing: float,
        params: dict | None = None,
        best_iteration: int | None = None,
        best_score: float | None = None,
        feature_names: list[str] | None = None,
    ):
        self.trees = trees
        self.objective = objective
        self.num_class = num_class
        self.base_score = base_score
        self.missing = missing
        self.params = params or {}
        self.best_iteration = best_iteration
        self.best_score = best_score
        self.feature_names = feature_names

    # -- inference ---------------------------------------------------------
    def _group(self) -> int:
        return self.num_class if self.objective == "multi:softprob" else 1

    @cached_property
    def _packed(self) -> _Packed:
        return _pack(self.trees)

    def raw_margin(self, X: np.ndarray, iteration_range: tuple[int, int] | None = None) -> np.ndarray:
        k = self._group()
        n_rounds = len(self.trees) // k
        lo, hi = (0, n_rounds) if iteration_range is None else iteration_range
        leaves = _walk(self._packed, X, self.missing, self._packed.root[lo * k : hi * k])
        # summed tree by tree, in ensemble order, so margins are the same
        # floats as a one-tree-at-a-time walk would give
        if k == 1:
            m = np.full(len(X), self.base_score, dtype=np.float64)
            for v in leaves:
                m += v
            return m
        m = np.full((len(X), k), self.base_score, dtype=np.float64)
        for i, v in enumerate(leaves):
            m[:, i % k] += v
        return m

    def predict(self, X: np.ndarray, output_margin: bool = False, base_margin=None) -> np.ndarray:
        m = self.raw_margin(X)
        if base_margin is not None:
            m = m + np.asarray(base_margin, dtype=np.float64).reshape(m.shape[0], *m.shape[1:])
        if output_margin:
            return m
        obj = _Objective(self.objective, self.num_class)
        return obj.margin_to_output(m)

    # -- introspection -----------------------------------------------------
    def get_score(self, importance_type: str = "weight") -> dict[str, float]:
        """Feature importances (reference O23, xgboost_core.py:533-560)."""
        if importance_type != "weight":
            raise ValueError("only importance_type='weight' supported")
        scores: dict[int, float] = {}
        for t in self.trees:
            for f in t.feature:
                if f >= 0:
                    scores[f] = scores.get(f, 0.0) + 1.0
        names = self.feature_names or [f"f{i}" for i in range(max(scores, default=-1) + 1)]
        return {names[f]: v for f, v in sorted(scores.items())}

    # -- (de)serialization ---------------------------------------------------
    def save_json(self) -> str:
        return json.dumps(
            {
                "format": "pyspark_xgboost_spark.booster.v1",
                "objective": self.objective,
                "num_class": self.num_class,
                "base_score": self.base_score,
                "missing": None if math.isnan(self.missing) else self.missing,
                "params": self.params,
                "best_iteration": self.best_iteration,
                "best_score": self.best_score,
                "feature_names": self.feature_names,
                "trees": [t.to_dict() for t in self.trees],
            }
        )

    @classmethod
    def load_json(cls, s: str) -> "Booster":
        d = json.loads(s)
        return cls(
            trees=[_Tree.from_dict(t) for t in d["trees"]],
            objective=d["objective"],
            num_class=d["num_class"],
            base_score=d["base_score"],
            missing=float("nan") if d["missing"] is None else d["missing"],
            params=d.get("params") or {},
            best_iteration=d.get("best_iteration"),
            best_score=d.get("best_score"),
            feature_names=d.get("feature_names"),
        )


# ---------------------------------------------------------------------------
# Training
# ---------------------------------------------------------------------------

DEFAULT_PARAMS = dict(
    n_estimators=100,
    max_depth=6,
    learning_rate=0.3,
    reg_lambda=1.0,
    gamma=0.0,
    min_child_weight=1.0,
    max_bin=256,
    objective="reg:squarederror",
    num_class=0,
    quantile_alpha=0.5,
    base_score=0.5,
    missing=float("nan"),
    early_stopping_rounds=0,
    eval_metric=None,
    use_external_storage=False,
    external_storage_precision=5,
)


class TrainingCallback:
    """Minimal training-callback protocol (reference parity: the
    reference forwards xgboost's ``callbacks`` list into ``xgb.train``
    and persists it with cloudpickle — model.py:111-118, used in
    tests/xgboost/xgboost_local_test.py:478-500). Two hooks:

    * ``before_iteration(rnd, lr) -> float | None`` — may return a new
      learning rate for this boosting round;
    * ``after_iteration(rnd, score) -> bool`` — return True to stop
      training early (``score`` is the eval metric, or None without an
      eval set).
    """

    def before_iteration(self, rnd: int, lr: float):  # noqa: ARG002
        return None

    def after_iteration(self, rnd: int, score):  # noqa: ARG002
        return False


class LearningRateScheduler(TrainingCallback):
    """Per-round learning rate from a callable ``f(round) -> lr`` or a
    list of rates (mirrors xgboost.callback.LearningRateScheduler, the
    callback the reference's own test persists)."""

    def __init__(self, learning_rates):
        self.learning_rates = learning_rates

    def before_iteration(self, rnd: int, lr: float):
        if callable(self.learning_rates):
            return float(self.learning_rates(rnd))
        return float(self.learning_rates[rnd])


def _round_sig(X: np.ndarray, digits: int) -> np.ndarray:
    """Round to ``digits`` significant digits (the reference's LIBSVM
    spill applies the same lossy narrowing — data.py:26-41, precision
    param xgboost_core.py:85-89)."""
    out = X.copy()
    nz = (out != 0) & np.isfinite(out)
    if nz.any():
        mag = np.floor(np.log10(np.abs(out[nz])))
        scale = 10.0 ** (digits - 1 - mag)
        out[nz] = np.round(out[nz] * scale) / scale
    return out


def _spill_to_memmap(arr: np.ndarray, workdir: str, name: str) -> np.ndarray:
    """Write ``arr`` to a disk-backed memmap and return the mapped view.
    The Spark analogue of the reference's out-of-core DMatrix
    (file#cache, data.py:85-92): training state lives in page-cache-
    backed files, so resident memory is bounded by the OS, not the
    shard size."""
    path = os.path.join(workdir, f"{name}.mm")
    mm = np.memmap(path, dtype=arr.dtype, mode="w+", shape=arr.shape)
    mm[:] = arr
    mm.flush()
    return mm


def _grow_tree(B, edges, g, h, max_depth, reg_lambda, gamma, min_child_weight, lr, comm):
    """One depth-wise tree over feature-major bin codes ``B`` (f, n);
    histograms allreduced so all workers grow the identical tree.

    Returns ``(tree, delta)`` where ``delta`` is this shard's margin
    update (leaf value of the node each local row lands in). Rows are
    routed during growth anyway, so the per-round full-data re-traversal
    the margin update would otherwise need is free here — and bin-code
    routing (``code <= b``) is exactly the float predicate
    (``x < edges[f][b]``) because codes are searchsorted-right ranks.

    Rows stay in place: ``slot`` holds each row's frontier slot, and a
    row whose node became a leaf moves to the extra slot ``n_slots``,
    which the histograms drop. Nodes are numbered level by level, so a
    level's frontier is the contiguous id range after its parents and
    the whole level is decided with array ops over its slots.
    """
    n_feat, n = B.shape
    nbp1 = n_bins_p1(edges)
    edge_counts = np.array([len(e) for e in edges], dtype=np.int64)
    cuts = np.zeros((n_feat, max(1, int(edge_counts.max(initial=0)))))
    for j, e in enumerate(edges):
        cuts[j, : len(e)] = e
    codes = B.ravel()
    row = np.arange(n, dtype=np.int64)
    slot = np.zeros(n, dtype=np.int64)
    delta = np.zeros(n, dtype=np.float64)
    # per level, in _Tree.__slots__ order: (feature, threshold, left,
    # right, value, default_left) of the level's nodes
    levels: list[tuple[np.ndarray, ...]] = []
    first_id, n_slots = 0, 1
    # grad/hess totals of the last frontier, carried from its parents'
    # histograms so max-depth leaves need no extra histogram pass (or
    # allreduce)
    node_G: np.ndarray | None = None
    node_H: np.ndarray | None = None

    for depth in range(max_depth):
        hist_g, hist_h = _build_histograms(B, g, h, slot, n_slots, nbp1)
        # sum shard-local histograms across the cluster — the ONLY
        # cross-worker exchange in the training loop
        stacked = comm.allreduce_sum(np.stack([hist_g, hist_h]))
        hist_g, hist_h = stacked[0], stacked[1]
        gain, feat, bins, dleft, _, _ = _best_splits(
            hist_g, hist_h, reg_lambda, gamma, min_child_weight, edge_counts=edge_counts
        )
        # node totals: sum any single feature's histogram over its bins
        Gn = hist_g[:, 0, :].sum(axis=1)
        Hn = hist_h[:, 0, :].sum(axis=1)
        split = np.isfinite(gain) & (gain > 0) & (bins < edge_counts[feat])
        n_split = int(split.sum())
        rank = np.cumsum(split) - 1
        left = np.where(split, first_id + n_slots + 2 * rank, -1)
        # leaf: weight = -G/(H+λ) scaled by lr
        value = np.where(split, 0.0, -Gn / (Hn + reg_lambda) * lr)
        levels.append((
            np.where(split, feat, -1),
            np.where(split, cuts[feat, bins], 0.0),
            left,
            np.where(split, left + 1, -1),
            value,
            np.where(split, dleft, True),
        ))

        # rows whose slot became a leaf this level get their margin now
        leaf_now = np.append(~split, False)[slot]
        delta[leaf_now] = value[slot[leaf_now]]
        if n_split == 0:
            return _tree_of_levels(levels), delta
        if depth == max_depth - 1:
            # chosen-split child totals (missing bucket goes default
            # side) become the max-depth leaves below
            node_G = np.empty(2 * n_split)
            node_H = np.empty(2 * n_split)
            for c, s in enumerate(np.flatnonzero(split)):
                f, b = feat[s], bins[s]
                GL = hist_g[s, f, : b + 1].sum() + (hist_g[s, f, -1] if dleft[s] else 0.0)
                HL = hist_h[s, f, : b + 1].sum() + (hist_h[s, f, -1] if dleft[s] else 0.0)
                node_G[2 * c : 2 * c + 2] = GL, Gn[s] - GL
                node_H[2 * c : 2 * c + 2] = HL, Hn[s] - HL

        # route rows to child slots. Per slot (the extra settled slot
        # last): the feature to read, the first child slot (settled rows
        # and new leaves go to the next level's extra slot), and a
        # go-right table over bin codes. Missing is the single GLOBAL
        # sentinel code (bin_matrix); len(edges[f]) itself is a real bin
        # (values above the last cut).
        read_feat = np.append(np.where(split, feat, 0), 0)
        first_child = np.append(np.where(split, 2 * rank, 2 * n_split), 2 * n_split)
        go_right = np.zeros((n_slots + 1, nbp1), dtype=bool)
        sp = np.flatnonzero(split)
        go_right[sp, :-1] = np.arange(nbp1 - 1)[None, :] > bins[sp, None]
        go_right[sp, -1] = ~dleft[sp]
        code = codes[read_feat[slot] * n + row]
        slot = first_child[slot] + go_right.ravel()[slot * nbp1 + code]
        first_id += n_slots
        n_slots = 2 * n_split

    # any remaining frontier nodes at max depth become leaves
    if node_G is None or node_H is None:
        # max_depth == 0: no split level ran; fall back to one histogram
        hist_g, hist_h = _build_histograms(B, g, h, slot, n_slots, nbp1)
        stacked = comm.allreduce_sum(np.stack([hist_g, hist_h]))
        node_G = stacked[0][:, 0, :].sum(axis=1)
        node_H = stacked[1][:, 0, :].sum(axis=1)
    vals = -node_G / (node_H + reg_lambda) * lr
    no_split = np.full(n_slots, -1)
    levels.append((no_split, np.zeros(n_slots), no_split, no_split, vals, np.ones(n_slots, bool)))
    live = slot < n_slots
    delta[live] = vals[slot[live]]
    return _tree_of_levels(levels), delta


def _tree_of_levels(levels: list[tuple[np.ndarray, ...]]) -> _Tree:
    return _Tree.from_dict(
        {attr: np.concatenate(col).tolist() for attr, col in zip(_Tree.__slots__, zip(*levels))}
    )


def train(
    X: np.ndarray,
    y: np.ndarray,
    params: dict | None = None,
    sample_weight: np.ndarray | None = None,
    base_margin: np.ndarray | None = None,
    eval_set: tuple[np.ndarray, np.ndarray] | None = None,
    eval_weight: np.ndarray | None = None,
    comm: LocalComm | None = None,
    feature_names: list[str] | None = None,
    xgb_model: "Booster | None" = None,
    callbacks: list | None = None,
) -> Booster:
    """Fit a GBT ensemble. With a multi-worker ``comm``, X/y are this
    worker's shard and the returned booster is identical on all workers.

    ``xgb_model`` continues training from a previously fitted booster
    (reference xgb.train's ``xgb_model``; persistence model.py:111-128):
    margins start from its raw prediction, its trees are prepended to
    the result, and its base_score is adopted so the appended ensemble's
    predictions are consistent. ``callbacks`` follow the
    ``TrainingCallback`` protocol (per-round learning rate, early stop);
    with a multi-worker ``comm`` every rank runs the same deterministic
    callbacks so control flow stays lock-stepped."""
    p = dict(DEFAULT_PARAMS)
    p.update({k: v for k, v in (params or {}).items() if v is not None})
    comm = comm or LocalComm()

    X = np.ascontiguousarray(X, dtype=np.float32)
    y = np.asarray(y, dtype=np.float64)
    w = None if sample_weight is None else np.asarray(sample_weight, dtype=np.float64)

    obj = _Objective(
        p["objective"], int(p["num_class"] or 0), float(p.get("quantile_alpha", 0.5))
    )
    K = obj.num_class if p["objective"] == "multi:softprob" else 1
    missing = float(p["missing"])

    if bool(p.get("use_external_storage")):
        # out-of-core path (reference O10): lossy significant-digit
        # narrowing, then both the float features and the binned codes
        # live in disk-backed memmaps instead of process memory.
        X = _round_sig(X, int(p.get("external_storage_precision") or 5))
        workdir = tempfile.mkdtemp(prefix="gbt_ext_")
        try:
            X = _spill_to_memmap(X, workdir, "features")
            edges = compute_bin_edges(X, int(p["max_bin"]), comm)
            B = _spill_to_memmap(bin_matrix(X, edges, missing), workdir, "codes")
        finally:
            # the maps stay valid once their files are unlinked; the disk
            # space goes back when training drops the last view of them
            shutil.rmtree(workdir, ignore_errors=True)
    else:
        edges = compute_bin_edges(X, int(p["max_bin"]), comm)
        B = bin_matrix(X, edges, missing)

    init_trees: list[_Tree] = []
    if xgb_model is not None:
        if xgb_model.objective != p["objective"]:
            raise ValueError(
                f"xgb_model objective {xgb_model.objective!r} does not match "
                f"training objective {p['objective']!r}"
            )
        # symmetric check: a multi-class initial model with single-output
        # training params (or vice versa) would otherwise surface later
        # as an opaque numpy reshape error from raw_margin
        init_K = int(xgb_model.num_class) if int(xgb_model.num_class or 0) > 1 else 1
        if init_K != K:
            raise ValueError(
                f"xgb_model num_class {xgb_model.num_class} incompatible "
                f"with training num_class {K}"
            )
        # adopt the initial model's base_score: margins below start from
        # its raw prediction (which includes that base_score), and the
        # returned booster carries old + new trees over the same base
        p["base_score"] = float(xgb_model.base_score)
        init_trees = list(xgb_model.trees)
        margin = xgb_model.raw_margin(X).reshape(
            (len(X), K) if K > 1 else (len(X),)
        )
    elif K > 1:
        margin = np.full((len(X), K), float(p["base_score"]), dtype=np.float64)
    else:
        margin = np.full(len(X), float(p["base_score"]), dtype=np.float64)
    if base_margin is not None:
        margin = margin + np.asarray(base_margin, dtype=np.float64).reshape(margin.shape)

    has_eval = eval_set is not None
    if has_eval:
        eX = np.ascontiguousarray(eval_set[0], dtype=np.float32)
        ey = np.asarray(eval_set[1], dtype=np.float64)
        ew = None if eval_weight is None else np.asarray(eval_weight, dtype=np.float64)
        if xgb_model is not None:
            e_margin = xgb_model.raw_margin(eX).reshape(
                (len(eX), K) if K > 1 else (len(eX),)
            )
        elif K > 1:
            e_margin = np.full((len(eX), K), float(p["base_score"]), dtype=np.float64)
        else:
            e_margin = np.full(len(eX), float(p["base_score"]), dtype=np.float64)
    metric = p.get("eval_metric") or obj.default_metric()

    trees: list[_Tree] = []
    best_score = math.inf
    best_iteration = 0
    rounds_since_best = 0
    esr = int(p["early_stopping_rounds"] or 0)

    for rnd in range(int(p["n_estimators"])):
        lr_rnd = float(p["learning_rate"])
        for cb in callbacks or ():
            new_lr = cb.before_iteration(rnd, lr_rnd)
            if new_lr is not None:
                lr_rnd = float(new_lr)
        g, h = obj.grad_hess(margin, y)
        if w is not None:
            g = g * (w[:, None] if g.ndim == 2 else w)
            h = h * (w[:, None] if h.ndim == 2 else w)
        for k in range(K):
            gk = g[:, k] if K > 1 else g
            hk = h[:, k] if K > 1 else h
            tree, delta = _grow_tree(
                B,
                edges,
                np.ascontiguousarray(gk),
                np.ascontiguousarray(hk),
                int(p["max_depth"]),
                float(p["reg_lambda"]),
                float(p["gamma"]),
                float(p["min_child_weight"]),
                lr_rnd,
                comm,
            )
            trees.append(tree)
            if K > 1:
                margin[:, k] += delta
            else:
                margin += delta
            if has_eval and len(eX):
                one = _pack([tree])
                de = _walk(one, eX, missing, one.root)[0]
                if K > 1:
                    e_margin[:, k] += de
                else:
                    e_margin += de
        # the eval metric feeds BOTH early stopping and user callbacks:
        # with an eval_set, after_iteration must see the score even when
        # early_stopping_rounds is 0 (TrainingCallback contract — score
        # is None only without an eval set)
        score = None
        if has_eval and (esr > 0 or callbacks):
            score = _eval_metric(metric, obj, e_margin, ey, ew, comm)
        if esr > 0 and score is not None:
            if score < best_score - 1e-12:
                best_score = score
                best_iteration = rnd
                rounds_since_best = 0
            else:
                rounds_since_best += 1
                if rounds_since_best >= esr:
                    trees = trees[: (best_iteration + 1) * K]
                    break
        if any(cb.after_iteration(rnd, score) for cb in callbacks or ()):
            break

    # best_iteration indexes into the COMBINED booster: xgboost counts
    # total rounds across continuation, so offset by the initial model's
    # round count — a consumer using it as an iteration_range must land
    # on the right tree block
    init_rounds = len(init_trees) // K
    booster = Booster(
        trees=init_trees + trees,
        objective=p["objective"],
        num_class=int(p["num_class"] or 0),
        base_score=float(p["base_score"]),
        missing=missing,
        params={k: v for k, v in p.items() if k != "missing"},
        best_iteration=(init_rounds + best_iteration) if (has_eval and esr > 0) else None,
        best_score=(best_score if (has_eval and esr > 0 and best_score < math.inf) else None),
        feature_names=feature_names,
    )
    return booster
