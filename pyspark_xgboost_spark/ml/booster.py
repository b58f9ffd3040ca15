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

Exact sums, quantize first: each round's gradients and hessians are
rounded to multiples of a power of two sized from their global maxima
and the global row count (``_fixed_point``), so every partial sum of
any subset of rows is exact in float64. A model is then a function of
its rows alone — the same bits at any row order and any gang size —
and the kernel builds, as XGBoost's ``hist`` does, only the smaller
child of each split and derives its sibling as parent minus child,
which is exact too. The bin sketch (``compute_bin_edges``) is every row,
or above a row budget each feature's distinct values picked by a hash
of the value with their exact counts, so the edges do not depend on the
layout either. The eval-set metric rounds each row's loss and weight
the same way (``_eval_metric``), so early stopping is inside it too.

Data layout, chosen so that training and prediction are array passes
rather than per-node or per-tree Python loops:

* ``bin_matrix`` returns feature-major ``(f, n)`` codes. Tree growth
  keeps every row in place and carries its frontier slot times the
  histogram width; rows that reached a leaf go to an extra slot that no
  histogram reads, instead of copying the live rows out at every level.
  A row's split code is one flat ``take``, its child slot one lookup in
  a per-level ``(slots + 1, bins)`` table.
* A boosting round's class trees (one per class of ``multi:softprob``)
  grow level by level together: their histograms share one array, one
  allreduce and one split search per level (``_grow_trees``). Training
  margins are class-major ``(K, n)``.
* A ``Booster`` packs its trees once into flat arrays with per-tree
  roots; leaves are self-loops. ``_walk`` moves every (tree, row) pair
  one level at a time, and margins are still summed tree by tree in
  ensemble order, so outputs are the same floats as a per-tree walk.
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


def _softmax(m: np.ndarray, axis: int = -1) -> np.ndarray:
    # in place on one temporary: each fresh (K, n) temporary costs more
    # in page faults than the arithmetic it holds
    e = m - m.max(axis=axis, keepdims=True)
    np.exp(e, out=e)
    e /= e.sum(axis=axis, keepdims=True)
    return e


class _Objective:
    """Training margins are class-major ``(K, n)``, ``K = 1`` for a
    single output, so that softmax and its gradients reduce over K rows
    instead of along the short axis of an ``(n, K)`` array; the
    single-output objectives are elementwise, so a ``(1, n)`` margin
    broadcasts against ``(n,)`` labels. ``margin_to_output`` takes a
    booster's ``(n,)`` or ``(n, K)`` margins.

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
        p = _softmax(margin, axis=0)  # (K, n)
        h = 1.0 - p
        h *= p
        h *= 2.0
        np.maximum(h, 1e-16, out=h)
        np.subtract(p, y.astype(np.int64) == np.arange(len(p))[:, None], out=p)
        return p, h

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


def _eval_losses(metric, margin, y, w, quantile_alpha: float = 0.5) -> tuple[np.ndarray, np.ndarray]:
    """(weighted loss, weight) of every eval row. ``margin`` is laid
    out as in training: ``(K, n)``."""
    w = np.ones(len(y)) if w is None else np.array(w, dtype=np.float64)
    if metric == "rmse":
        return w * (margin - y) ** 2, w
    if metric == "mae":
        return w * np.abs(margin - y), w
    if metric == "quantile":
        a = quantile_alpha
        diff = y - margin
        return w * np.where(diff >= 0, a * diff, (a - 1.0) * diff), w
    if metric == "logloss":
        p = np.clip(_sigmoid(margin), 1e-15, 1 - 1e-15)
        return -w * (y * np.log(p) + (1 - y) * np.log(1 - p)), w
    if metric == "mlogloss":
        p = np.clip(_softmax(margin, axis=0), 1e-15, None)
        return -w * np.log(p[y.astype(np.int64), np.arange(len(y))]), w
    raise ValueError(f"unknown metric {metric!r}")


def _eval_metric(metric, obj, margin, y, w, comm) -> float:
    """The eval-set metric over every worker's eval rows. Each row's
    weighted loss and each weight are rounded to a multiple of a power
    of two sized from their global maxima and the global row count (as
    ``_fixed_point`` rounds gradients; one allgather of one row per
    rank), so both sums are exact in any order: the score, and with it
    every early-stopping decision, does not depend on how the eval rows
    are split across workers."""
    loss, w = _eval_losses(metric, margin, y, w, getattr(obj, "quantile_alpha", 0.5))
    stats = comm.allgather_rows(np.array([[loss.max(initial=0.0), w.max(initial=0.0), len(y)]]))
    n = stats[:, 2].sum()
    for i, a in enumerate((loss, w)):
        _round_to_grid(a, stats[:, i].max() * n, np.rint)
    num, den = comm.allreduce_sum(np.array([loss.sum(), w.sum()]))
    if den == 0:
        return math.inf
    return math.sqrt(num / den) if metric == "rmse" else num / den


# ---------------------------------------------------------------------------
# Quantile binning
# ---------------------------------------------------------------------------


def _value_hash(v: np.ndarray) -> np.ndarray:
    """A 64-bit hash (splitmix64) of each float32 value's bits: equal
    values hash equal wherever they are stored (callers make -0.0 0.0)."""
    z = v.view(np.uint32).astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _lowest_hashes(u: np.ndarray, k: int) -> np.ndarray:
    """The values of ``u`` whose hash is at most the k-th smallest hash
    (every value when there are at most k): of a subset of a set, this
    keeps every value the set itself would keep."""
    if len(u) <= k:
        return u
    hashes = _value_hash(u)
    return u[hashes <= np.partition(hashes, k - 1)[k - 1]]


def _weighted_quantiles(values: np.ndarray, counts: np.ndarray, qs: np.ndarray) -> np.ndarray:
    """``np.quantile(np.repeat(values, counts), qs)`` ("linear" method,
    ``values`` sorted) without materializing the repeat."""
    ends = np.cumsum(counts)
    at = qs * (ends[-1] - 1)
    lo = np.floor(at)
    hi = np.minimum(lo + 1, ends[-1] - 1)
    a, b = (values[np.searchsorted(ends, i, side="right")] for i in (lo, hi))
    return a + (b - a) * (at - lo)


def compute_bin_edges(
    X: np.ndarray, max_bin: int, comm: LocalComm | None = None, sample_rows: int = 65536
) -> list[np.ndarray]:
    """Per-feature quantile cut points shared by all workers, the same
    under any sharding and row order.

    Every rank sends its first ``sample_rows + 1`` rows. While the
    global row count fits ``sample_rows`` that is every row, and each
    feature's cuts are quantiles of all its values. Above it, each
    feature is sketched by its distinct values, so that duplicates cost
    nothing and keep their weight:

    * each rank sends, per feature, its min, its max and those of its
      distinct values with the ``sample_rows`` lowest ``_value_hash``es;
    * the candidates are the union's ``sample_rows`` lowest-hash values
      and its min and max, which are those of the global set of distinct
      values, whatever the layout;
    * one allreduce counts every rank's values, each at the lowest
      candidate at or above it, and the cuts are the quantiles of those
      counts.

    A feature with at most ``sample_rows`` distinct values thus gets the
    quantiles of all its rows; the payloads are about ``sample_rows``
    rows or values per feature, per rank and in the reduced counts.
    """
    comm = comm or LocalComm()
    X = np.asarray(X, dtype=np.float32)
    n_feat = X.shape[1]
    qs = np.linspace(0, 1, max_bin + 1)[1:-1]
    # at most sample_rows + 1 rows per rank: the gather holds every row
    # exactly when the global count fits the budget
    gathered = comm.allgather_rows(np.ascontiguousarray(X[: sample_rows + 1]))
    if len(gathered) <= sample_rows:
        columns = [c[~np.isnan(c)] for c in gathered.T]
        sketches = [(np.quantile(c, qs, method="linear"), c.min()) if len(c) else None
                    for c in columns]
    else:
        # + 0.0 makes -0.0 0.0, so that the two zeros are one value
        local = [np.unique(c[~np.isnan(c)] + np.float32(0.0), return_counts=True) for c in X.T]
        sent = [np.concatenate([u[:1], u[-1:], _lowest_hashes(u, sample_rows)]) for u, _ in local]
        pad = np.full((max(map(len, sent), default=0), n_feat), np.nan, dtype=np.float32)
        for j, s in enumerate(sent):
            pad[: len(s), j] = s
        union = [np.unique(c[~np.isnan(c)]) for c in comm.allgather_rows(pad).T]
        candidates = [
            np.unique(np.concatenate([u[:1], u[-1:], _lowest_hashes(u, sample_rows)]))
            for u in union
        ]
        counts = np.zeros((n_feat, max(map(len, candidates), default=0)))
        for j, ((u, rows), c) in enumerate(zip(local, candidates)):
            counts[j, : len(c)] = np.bincount(np.searchsorted(c, u), weights=rows, minlength=len(c))
        counts = comm.allreduce_sum(counts)
        sketches = [
            (_weighted_quantiles(c.astype(np.float64), counts[j, : len(c)], qs), c[0])
            if len(c) else None
            for j, c in enumerate(candidates)
        ]
    edges: list[np.ndarray] = []
    for sketch in sketches:
        if sketch is None:
            edges.append(np.empty(0, dtype=np.float64))
            continue
        quantiles, low = sketch
        # drop cuts at/below min: 'x < cut' must split something; + 0.0
        # makes a -0.0 cut 0.0, whichever zero the sort put there
        cuts = np.unique(quantiles)
        edges.append(cuts[cuts > low].astype(np.float64) + 0.0)
    return edges


def n_bins_p1(edges: list[np.ndarray]) -> int:
    """Histogram slots per feature: real bins 0..max_cuts, plus one shared
    missing sentinel at the global last slot."""
    longest = max((len(e) for e in edges), default=0)
    return longest + 2


# bin codes are uint16 (bin_matrix): max_bin - 1 quantiles give at most
# max_bin - 1 cuts, so real codes run to max_bin - 1 and the missing
# sentinel is max_bin at most
MAX_BIN = int(np.iinfo(np.uint16).max)


def check_max_bin(max_bin) -> None:
    """Reject a ``max_bin`` whose codes would wrap in ``uint16`` (a wrapped
    missing sentinel lands rows with NaN in a real bin)."""
    if int(max_bin) > MAX_BIN:
        raise ValueError(f"max_bin must be <= {MAX_BIN} (bin codes are uint16), got {max_bin}")


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


def _build_histograms(B, g, h, pos, out):
    """Grad/hess sums into ``out``, a ``(2, n_built, n_features,
    n_bins_p1)`` view, of the rows whose ``pos`` (slot × n_bins_p1) is
    below ``n_built × n_bins_p1``; every other row is skipped. The rows
    are gathered with one ``flatnonzero`` and per-feature 1-D ``take``s,
    then one ``bincount`` per feature and statistic sums them. ``pos``
    None means every row, all in slot 0 (a root)."""
    n_built, f, nbp1 = out.shape[1:]
    size = n_built * nbp1
    # every index below is in range by construction; take's "clip" mode
    # skips the per-index bounds error path of the default "raise"
    if pos is not None:
        sel = np.flatnonzero(pos < size)
        pos, g, h = (a.take(sel, mode="clip") for a in (pos, g, h))
        idx = np.empty_like(pos)
    for j in range(f):
        col = B[j] if pos is None else np.add(pos, B[j].take(sel, mode="clip"), out=idx)
        out[0, :, j, :] = np.bincount(col, weights=g, minlength=size).reshape(n_built, nbp1)
        out[1, :, j, :] = np.bincount(col, weights=h, minlength=size).reshape(n_built, nbp1)


def _best_splits(hist_g, hist_h, reg_lambda, gamma, min_child_weight, edge_counts=None):
    """Vectorized best (feature, bin, missing-direction) per node.

    Returns arrays over nodes: gain, feature, bin, default_left.
    Bin b means predicate 'x < edges[f][b]'; missing bucket is the last
    histogram slot and is assigned to whichever side scores better.
    Bin -1 splits the missing bucket (left) from every present value
    (right), as XGBoost's split below a feature's lowest value does: a
    feature whose present cells hold one value has no cut, and this is
    its only split. It is searched as the split after the feature's last
    real bin (every present value left, missing right: the same
    partition and gain) and returned as bin -1.

    ``edge_counts[f]`` = number of real cut points for feature f. The
    histogram is padded to the widest feature, so slots b >
    edge_counts[f] are zero-filled; with min_child_weight=0 such a slot
    can tie/win the argmax (HR=0 passes the child-weight check), which
    would pick an unrealizable split. Those slots are masked to -inf
    before the argmax so the chosen split is always a real cut or bin -1.
    """
    n_nodes, n_feat, nbp1 = hist_g.shape
    G_real = hist_g[:, :, :-1]
    H_real = hist_h[:, :, :-1]
    Gm = hist_g[:, :, -1]  # missing bucket (node, feat)
    Hm = hist_h[:, :, -1]
    G_tot = G_real.sum(axis=2) + Gm
    H_tot = H_real.sum(axis=2) + Hm

    GL = np.cumsum(G_real, axis=2)  # split after bin b, b in [0, nb-1]
    HL = np.cumsum(H_real, axis=2)
    GR = G_tot[:, :, None] - Gm[:, :, None] - GL
    HR = H_tot[:, :, None] - Hm[:, :, None] - HL

    with np.errstate(divide="ignore", invalid="ignore"):
        parent = (G_tot**2) / (H_tot + reg_lambda)  # (node, feat)

    def gain_of(GLx, HLx, GRx, HRx):
        ok = (HLx >= min_child_weight) & (HRx >= min_child_weight)
        with np.errstate(divide="ignore", invalid="ignore"):
            gain = 0.5 * (
                (GLx**2) / (HLx + reg_lambda)
                + (GRx**2) / (HRx + reg_lambda)
                - parent[:, :, None]
            ) - gamma
        # at reg_lambda=0 an empty side passes min_child_weight=0 and
        # makes 0/0: a NaN that the argmax would pick over every real gain
        return np.where(ok & np.isfinite(gain), gain, -np.inf)

    gain_ml = gain_of(GL + Gm[:, :, None], HL + Hm[:, :, None], GR, HR)  # missing→left
    gain_mr = gain_of(GL, HL, GR + Gm[:, :, None], HR + Hm[:, :, None])  # missing→right
    default_left = gain_ml >= gain_mr
    gain = np.where(default_left, gain_ml, gain_mr)  # (node, feat, nb)

    if edge_counts is not None:
        last = np.asarray(edge_counts)
        invalid = np.arange(gain.shape[2])[None, :] > last[:, None]
        gain = np.where(invalid[None, :, :], -np.inf, gain)
        # the missing/present split needs hessian on both sides, so that
        # an empty side never makes a 0/0 gain at reg_lambda=0
        lone = (Hm <= 0) | (H_tot <= Hm)
        feats = np.arange(n_feat)
        gain[:, feats, last] = np.where(lone, -np.inf, gain[:, feats, last])

    flat = gain.reshape(n_nodes, -1)
    best_flat = np.argmax(flat, axis=1)
    best_gain = flat[np.arange(n_nodes), best_flat]
    best_feat = best_flat // gain.shape[2]
    best_bin = best_flat % gain.shape[2]
    best_dl = default_left[np.arange(n_nodes), best_feat, best_bin]
    if edge_counts is not None:
        below = best_bin == last[best_feat]
        best_bin[below] = -1
        best_dl |= below
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


def invalid_rows(y: np.ndarray, w: np.ndarray | None = None) -> tuple[int, int]:
    """(labels that are not finite, weights that are not finite and
    non-negative). A null label or weight reads as NaN."""
    y = np.asarray(y, dtype=np.float64)
    w = None if w is None else np.asarray(w, dtype=np.float64)
    bad_w = 0 if w is None else int(np.count_nonzero(~(np.isfinite(w) & (w >= 0))))
    return int(np.count_nonzero(~np.isfinite(y))), bad_w


def invalid_rows_error(bad_labels: int, bad_weights: int) -> str | None:
    """The message training rejects these counts with, or None. A NaN
    gradient would make every histogram, and the fixed-point step, NaN."""
    found = [
        f"{count} {what}"
        for count, what in (
            (bad_labels, "non-finite label(s)"),
            (bad_weights, "non-finite or negative weight(s)"),
        )
        if count
    ]
    if not found:
        return None
    return "labels must be finite and weights finite and non-negative; found " + " and ".join(found)


def _class_major(margin: np.ndarray, K: int) -> np.ndarray:
    """Booster-layout margins (``(n,)`` or ``(n, K)``, or flat) as
    training's class-major ``(K, n)``."""
    return np.ascontiguousarray(margin.reshape(-1, K).T)


def _grid_step(bound: float) -> int:
    """Exponent e of the fixed-point step ``2**e`` for values whose sum
    over any subset of rows is at most ``bound`` in magnitude: every
    partial sum is then a multiple of the step below ``2**53`` steps,
    so it is exact in floating point in any order."""
    if not (bound > 0 and math.isfinite(bound)):
        return 0
    mant, exp = math.frexp(bound)  # bound = mant * 2**exp, 0.5 <= mant < 1
    return (exp - 1 if mant == 0.5 else exp) - 52


def _fixed_point(g: np.ndarray, h: np.ndarray, comm) -> None:
    """Round ``g`` to the nearest, and ``h`` up to, in place, a multiple of a power
    of two sized from the global ``max|g|``, ``max h`` and row count,
    so that every histogram sum is exact: a model does not depend on the
    order of the rows or on how they are split across workers, and a
    sibling histogram is its parent minus the built child bit for bit.
    Rounding ``h`` up keeps a positive hessian positive. The three
    global values are exact under any layout (one allgather of one row
    per rank); a bound from ``Σ|g|`` would not be, as its float value
    depends on the summation order."""
    g_max = max(g.max(initial=0.0), -g.min(initial=0.0))
    stats = comm.allgather_rows(np.array([[g_max, h.max(initial=0.0), g.shape[1]]]))
    n = stats[:, 2].sum()
    _round_to_grid(g, stats[:, 0].max() * n, np.rint)
    _round_to_grid(h, stats[:, 1].max() * n, np.ceil)


def _round_to_grid(a: np.ndarray, bound: float, to_int) -> None:
    """Round ``a`` in place with ``to_int`` to a multiple of the
    fixed-point step of ``_grid_step(bound)``."""
    e = _grid_step(float(bound))
    np.ldexp(a, -e, out=a)
    to_int(a, out=a)
    np.ldexp(a, e, out=a)


def _grow_trees(B, edges, g, h, max_depth, reg_lambda, gamma, min_child_weight, lr, comm):
    """A round's depth-wise trees, one per row of ``g``/``h`` (trees, n),
    grown level by level together over feature-major bin codes ``B``
    (f, n). The round's gradients are computed before any of its trees,
    so the trees do not depend on each other. ``g`` and ``h`` are fixed
    point (``_fixed_point``): every histogram sum is exact, whatever the
    row order or sharding, so all workers grow the identical trees and a
    sibling's histogram is its parent's minus its built sibling's, bit
    for bit.

    Per level, each live tree builds from rows the histograms of its
    whole frontier at the root, and below it only the smaller child (by
    reduced hessian total, tie → left) of each split of the level above;
    ONE allreduce sums every live tree's built histograms across the
    cluster, each sibling is its parent minus the built child, and ONE
    ``_best_splits`` call searches the whole level. A tree that stops
    splitting drops out of the later levels. Regression is the one-tree
    case.

    Returns ``(trees, delta)``: the trees in row order and each tree's
    margin update over this shard (leaf value of the node each local row
    lands in), ``(trees, n)``. Rows are routed during growth anyway, so
    the per-round full-data re-traversal the margin update would
    otherwise need is free here — and bin-code routing (``code <= b``)
    is exactly the float predicate (``x < edges[f][b]``) because codes
    are searchsorted-right ranks.

    Rows stay in place: ``pos[k]`` holds each row's frontier slot in
    tree k times ``n_bins_p1``, so a row's histogram bin and its routing
    entry are one add away. Below the root a level's slots are the
    built children in split order, then their siblings in the same
    order, and a row whose node became a leaf moves to the extra slot
    after them, which no histogram reads. Nodes are numbered level by
    level in slot order, so a level's frontier is the contiguous id
    range after its parents and the whole level is decided with array
    ops over its slots. One ``(slots + 1, n_bins_p1)`` table per level
    gives each (slot, bin code) its child slot.
    """
    n_feat, n = B.shape
    K = len(g)
    nbp1 = n_bins_p1(edges)
    edge_counts = np.array([len(e) for e in edges], dtype=np.int64)
    cuts = np.zeros((n_feat, max(1, int(edge_counts.max(initial=0)))))
    for j, e in enumerate(edges):
        cuts[j, : len(e)] = e
    codes = B.ravel()
    row = np.arange(n, dtype=np.int64)
    delta = np.zeros((K, n), dtype=np.float64)
    # per tree: each row's slot × nbp1, the frontier's first node id, its
    # slot count and how many of its slots are built from rows, the
    # reduced histograms of the split nodes above the frontier, and per
    # level, in _Tree.__slots__ order, (feature, threshold, left, right,
    # value, default_left) of the level's nodes
    pos = [np.zeros(n, dtype=np.int64) for _ in range(K)]
    first_id = [0] * K
    n_slots = [1] * K
    n_built = [1] * K
    parent = [np.empty((2, 0, n_feat, nbp1))] * K
    levels: list[list[tuple[np.ndarray, ...]]] = [[] for _ in range(K)]
    live = list(range(K))

    def level_histograms():
        """Every live tree's frontier histograms, concatenated along the
        slot axis, and the first slot of each tree. The built slots are
        summed across the cluster in one allreduce — the ONLY cross-
        worker exchange of a tree level."""
        lo = np.cumsum([0] + [n_built[k] for k in live])
        built = np.empty((2, lo[-1], n_feat, nbp1))
        for i, k in enumerate(live):
            root = first_id[k] == 0
            _build_histograms(B, g[k], h[k], None if root else pos[k], built[:, lo[i] : lo[i + 1]])
        built = comm.allreduce_sum(built)
        full_lo = np.cumsum([0] + [n_slots[k] for k in live])
        full = np.empty((2, full_lo[-1], n_feat, nbp1))
        for i, k in enumerate(live):
            own = built[:, lo[i] : lo[i + 1]]
            mid = full_lo[i] + n_built[k]
            full[:, full_lo[i] : mid] = own
            sibling = full[:, mid : full_lo[i + 1]]
            np.subtract(parent[k], own[:, : n_slots[k] - n_built[k]], out=sibling)
        return full, full_lo

    def advance(k, hist, Gn, Hn, gain, feat, bins, dleft, last) -> bool:
        """Decide tree k's frontier from its reduced histograms ``hist``
        (2, slots, f, nbp1), node totals and split search: record the
        level, give rows that landed in a leaf their margin update, and
        route the rest to child slots. False once the tree is done.
        (Its own frame, so the per-row temporaries are freed before the
        next tree's.)"""
        S = n_slots[k]
        split = np.isfinite(gain) & (gain > 0) & (bins < edge_counts[feat])
        sp = np.flatnonzero(split)
        n_split = len(sp)
        # leaf: weight = -G/(H+λ) scaled by lr
        value = np.where(split, 0.0, -Gn / (Hn + reg_lambda) * lr)
        # the chosen splits' left totals (missing bucket on the default
        # side); the smaller child takes slot r of split r, its sibling
        # slot n_split + r
        f_sp, b_sp, dl_sp = feat[sp], bins[sp], dleft[sp]
        chosen = hist[:, sp, f_sp]  # (2, n_split, nbp1)
        # left real totals after bin b, at column b + 1 (bin -1: none)
        cum = np.zeros_like(chosen)
        np.cumsum(chosen[:, :, :-1], axis=2, out=cum[:, :, 1:])
        GL, HL = cum[:, np.arange(n_split), b_sp + 1] + np.where(dl_sp, chosen[:, :, -1], 0.0)
        GR, HR = Gn[sp] - GL, Hn[sp] - HL
        r = np.arange(n_split)
        small_left = HL <= HR
        left_slot = np.where(small_left, r, n_split + r)
        right_slot = np.where(small_left, n_split + r, r)
        left = np.full(S, -1)
        right = np.full(S, -1)
        left[sp] = first_id[k] + S + left_slot
        right[sp] = first_id[k] + S + right_slot
        levels[k].append((
            np.where(split, feat, -1),
            np.where(split, np.where(bins < 0, -np.inf, cuts[feat, bins]), 0.0),
            left,
            right,
            value,
            np.where(split, dleft, True),
        ))
        # the extra slot gets nothing; every take below is in range by
        # construction, and "clip" mode skips "raise"'s bounds error path
        leaf_value = np.repeat(np.append(value, 0.0), nbp1)
        if n_split == 0:
            delta[k] += leaf_value.take(pos[k], mode="clip")
            return False

        # the child slot of every (slot, bin code); a row in a new leaf,
        # or settled above, goes to the next level's extra slot. Missing
        # is the single GLOBAL sentinel code (bin_matrix); len(edges[f])
        # itself is a real bin (values above the last cut).
        child = np.full((S + 1, nbp1), 2 * n_split, dtype=np.int64)
        child[sp, :-1] = np.where(
            np.arange(nbp1 - 1)[None, :] > b_sp[:, None], right_slot[:, None], left_slot[:, None]
        )
        child[sp, -1] = np.where(dl_sp, left_slot, right_slot)
        # each row's code of its slot's split feature (feature 0 where
        # the slot does not split: its table row is constant)
        read_at = np.repeat(np.append(np.where(split, feat, 0), 0) * n, nbp1)
        read = read_at.take(pos[k], mode="clip")
        read += row
        at = np.add(pos[k], codes.take(read, mode="clip"), out=read)
        if last:
            # the children are the max-depth leaves: one table gives
            # every row its leaf value, whether its leaf is a child or a
            # node of this level
            vals = np.empty(2 * n_split + 1)
            vals[left_slot] = -GL / (HL + reg_lambda) * lr
            vals[right_slot] = -GR / (HR + reg_lambda) * lr
            vals[-1] = 0.0
            table = vals[child]
            table[:S][~split] = value[~split, None]
            delta[k] += table.ravel().take(at, mode="clip")
            n_leaves = 2 * n_split
            no = np.full(n_leaves, -1)
            levels[k].append((no, np.zeros(n_leaves), no, no, vals[:-1], np.ones(n_leaves, bool)))
            return False
        if n_split < S:
            delta[k] += leaf_value.take(pos[k], mode="clip")
        np.take(child.ravel() * nbp1, at, out=pos[k], mode="clip")
        parent[k] = hist[:, sp]
        first_id[k] += S
        n_slots[k] = 2 * n_split
        n_built[k] = n_split
        return True

    for depth in range(max_depth):
        full, lo = level_histograms()
        gain, feat, bins, dleft, G_tot, H_tot = _best_splits(
            full[0], full[1], reg_lambda, gamma, min_child_weight, edge_counts=edge_counts
        )
        last = depth == max_depth - 1
        still = []
        for i, k in enumerate(live):
            span = slice(lo[i], lo[i + 1])
            parts = (a[span] for a in (G_tot[:, 0], H_tot[:, 0], gain, feat, bins, dleft))
            if advance(k, full[:, span], *parts, last):
                still.append(k)
        live = still
        if not live:
            break

    if max_depth == 0:
        # no split level: each tree is its root leaf
        full, lo = level_histograms()
        for i, k in enumerate(live):
            G, H = full[:, lo[i], 0].sum(axis=1)
            value = -G / (H + reg_lambda) * lr
            levels[k].append(([-1], [0.0], [-1], [-1], [value], [True]))
            delta[k] = value
    return [_tree_of_levels(lv) for lv in levels], delta


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
    check_max_bin(p["max_bin"])
    comm = comm or LocalComm()

    X = np.ascontiguousarray(X, dtype=np.float32)
    y = np.asarray(y, dtype=np.float64)
    w = None if sample_weight is None else np.asarray(sample_weight, dtype=np.float64)
    bad = invalid_rows(y, w)
    if eval_set is not None:
        bad = np.add(bad, invalid_rows(eval_set[1], eval_weight))
    error = invalid_rows_error(*bad)
    if error is not None:
        raise ValueError(error)

    obj = _Objective(
        p["objective"], int(p["num_class"] or 0), float(p.get("quantile_alpha", 0.5))
    )
    K = obj.num_class if p["objective"] == "multi:softprob" else 1
    if K > 1:
        labels = y if eval_set is None else np.concatenate([y, np.asarray(eval_set[1], float)])
        n_bad = np.count_nonzero((labels != np.floor(labels)) | (labels < 0) | (labels >= K))
        if n_bad:
            raise ValueError(
                f"multi:softprob labels must be class indices 0..{K - 1}; found {n_bad} other(s)"
            )
    missing = float(p["missing"])
    if not math.isnan(missing):
        # a cell equal to ``missing`` is missing from here on: the sketch
        # must not spend quantiles (or cuts) on it, nor the rounding below
        # turn a real value into it. Compared in float64, as ``_walk``
        # compares at prediction.
        X = np.where(X.astype(np.float64) == missing, np.float32(np.nan), X)

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
        margin = _class_major(xgb_model.raw_margin(X), K)
    else:
        margin = np.full((K, len(X)), float(p["base_score"]), dtype=np.float64)
    if base_margin is not None:
        margin = margin + _class_major(np.asarray(base_margin, dtype=np.float64), K)

    has_eval = eval_set is not None
    if has_eval:
        eX = np.ascontiguousarray(eval_set[0], dtype=np.float32)
        ey = np.asarray(eval_set[1], dtype=np.float64)
        ew = None if eval_weight is None else np.asarray(eval_weight, dtype=np.float64)
        if xgb_model is not None:
            e_margin = _class_major(xgb_model.raw_margin(eX), K)
        else:
            e_margin = np.full((K, len(eX)), float(p["base_score"]), dtype=np.float64)
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
        # one row per class tree: (K, n)
        g, h = obj.grad_hess(margin, y)
        if w is not None:
            g *= w
            h *= w
        _fixed_point(g, h, comm)
        round_trees, delta = _grow_trees(
            B,
            edges,
            g,
            h,
            int(p["max_depth"]),
            float(p["reg_lambda"]),
            float(p["gamma"]),
            float(p["min_child_weight"]),
            lr_rnd,
            comm,
        )
        trees.extend(round_trees)
        margin += delta
        if has_eval and len(eX):
            packed = _pack(round_trees)
            e_margin += _walk(packed, eX, missing, packed.root)
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
