"""The two workloads: ``gbt`` and ``query_mix``.

Each has ``setup(ctx)`` (inside ``setup_s``: fresh inputs and the
untimed warm-up cycle on a separate copy) and ``cycle(ctx, i)``, the
list of operations of the i-th measured cycle in seed-permuted order.
"""

from __future__ import annotations

import hashlib
import importlib.util
import math
import os
import random
import sys
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from pb.harness import Op
from pb.inputs import InputMaker

FEATURES = ["l_quantity", "l_discount", "l_tax", "l_linenumber"]
# (kind, estimator kwargs): the flagship regressor and classifier
FIT_KINDS = {
    "reg": dict(n_estimators=20, max_depth=5, learning_rate=0.3),
    "clf": dict(n_estimators=10, max_depth=4),
}
LOSS_SAMPLE_ROWS = 20_000
# relative tolerance on the recorded training loss and score sums: wide
# enough for a different floating-point reduction order (1- and 2-worker
# fits agree exactly today), far below what a wrong split, gradient or
# tree changes -- an unfitted classifier's log loss is 1.3e-3 away
REL_TOL = 1e-4

# One query per engine layer the mix must load, kept to what fits the
# run-time budget: TPC-H scans, joins and aggregates (Q8 reads 8
# tables), a streaming micro-batch query, a sink write beside its scan,
# eager checkpoints (the MinHash LSH pair table), and Python UDF / UDAF
# boundaries. An odd count puts the median operation inside one query's
# samples rather than in the gap between two queries' latencies.
QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q6_revenue_change",
    "tpch_q8_market_share",
    "tpch_q12_late_lines_by_priority",
    "tpch_q14_promo_effect",
    "tpch_q18_large_volume_customer",
    "dedup_minhash",
    "events_stream_dedup",
    "sink_parquet_partitioned",
    "dedup_exact",
    "text_langid",
    "udaf_group_median",
]


def _rel_err(got: float, want: float) -> float:
    return abs(got - want) / max(abs(want), 1e-12)


def _concurrently(calls: list, threads: int) -> list:
    """Run the warm-up calls on a thread pool: the cold costs (class
    loading, code generation, Python worker start) are CPU-bound and
    overlap, and the warm state they leave is JVM- and context-wide."""
    with ThreadPoolExecutor(threads) as pool:
        return [f.result() for f in [pool.submit(c) for c in calls]]


def _order(seed: int, cycle: int, items: list) -> list:
    out = list(items)
    random.Random(seed * 1_000_003 + cycle).shuffle(out)
    return out


# ---------------------------------------------------------------------------
# GBT
# ---------------------------------------------------------------------------


class _GbtInput:
    """One fresh lineitem copy, assembled for the regressor and the
    classifier (``sources.load_table`` is called once per copy)."""

    def __init__(self, ctx, path: str, label_model=None):
        from pyspark.ml.feature import StringIndexer, VectorAssembler
        from pyspark.sql import functions as F

        from pyspark_xgboost_spark import sources

        li = sources.load_table(ctx.spark, path, "lineitem")
        self.labels = label_model or StringIndexer(
            inputCol="l_returnflag", outputCol="label"
        ).fit(li)
        assembler = VectorAssembler(inputCols=FEATURES, outputCol="features")
        self.frames = {
            "reg": assembler.transform(li.withColumn("label", F.col("l_extendedprice"))),
            "clf": assembler.transform(self.labels.transform(li)),
        }


def _estimator(kind: str, workers: int):
    from pyspark_xgboost_spark.ml.estimator import XgboostClassifier, XgboostRegressor

    cls = XgboostRegressor if kind == "reg" else XgboostClassifier
    return cls(num_workers=workers, **FIT_KINDS[kind])


def _loss_sample(maker: InputMaker, labels: list[str]):
    table = maker.table("lineitem").slice(0, LOSS_SAMPLE_ROWS)
    X = np.column_stack([table.column(c).to_numpy().astype(np.float32) for c in FEATURES])
    index = {v: i for i, v in enumerate(labels)}
    return {
        "X": X,
        "reg": table.column("l_extendedprice").to_numpy().astype(np.float64),
        "clf": np.array([index[v] for v in table.column("l_returnflag").to_pylist()]),
    }


def training_loss(model, kind: str, sample: dict) -> float:
    """RMSE (regressor) or multi-class log loss (classifier) of a fitted
    model on the fixed loss sample, computed in this process."""
    pred = model.get_booster().predict(sample["X"])
    y = sample[kind]
    if kind == "reg":
        return float(np.sqrt(np.mean((pred - y) ** 2)))
    p = np.clip(pred[np.arange(len(y)), y], 1e-15, 1.0)
    return float(-np.mean(np.log(p)))


class Gbt:
    """Fresh fits of both flagship models at 2 and 1 workers, and
    transforms with two models the warm-up fitted (on an identical copy
    of the same rows)."""

    name = "gbt"
    FITS = [("reg", 2), ("clf", 2), ("reg", 1), ("clf", 1)]

    def setup(self, ctx) -> None:
        with ctx.setup_part("inputs"):
            self.maker = InputMaker("gbt", ctx.variant, os.path.join(ctx.work, "inputs"))
            warm_path = self.maker.fresh_copy("warm")
            path = self.maker.fresh_copy("measure")
            self.rows = self.maker.table("lineitem").num_rows
        with ctx.setup_part("warmup"):
            # one untimed cycle on the warm copy, run as the measured
            # cycles are; its last fit of each kind scores every cycle
            warm = _GbtInput(ctx, warm_path)
            self.models = {}
            for kind, workers in self.FITS:
                self.models[kind] = _estimator(kind, workers).fit(warm.frames[kind])
            for kind in FIT_KINDS:
                self._score(ctx, kind, warm.frames[kind])
        with ctx.setup_part("inputs"):
            self.input = _GbtInput(ctx, path, warm.labels)
            self.sample = _loss_sample(self.maker, warm.labels.labels)

    def _fit_op(self, ctx, kind: str, workers: int) -> Op:
        key = f"{kind}_w{workers}"
        frame = self.input.frames[kind]

        def check(model) -> str | None:
            loss = training_loss(model, kind, self.sample)
            want = ctx.expected.get(key)
            if want is None:
                return f"no recorded loss for {key}"
            if not math.isfinite(loss) or _rel_err(loss, want) > REL_TOL:
                return f"training loss {loss!r} != recorded {want!r}"
            return None

        return Op(
            f"fit:{kind}:w{workers}",
            lambda: _estimator(kind, workers).fit(frame),
            check,
            root="ml.estimator.fit",
            root_is_layer=True,
            record=lambda model: {key: training_loss(model, kind, self.sample)},
        )

    def _score(self, ctx, kind: str, frame):
        from pyspark.sql import functions as F

        with ctx.span("ml.estimator.transform"):
            pred = F.col("prediction")
            bad = F.isnan(pred) | pred.isin(float("inf"), float("-inf"))
            if kind == "clf":
                bad = bad | ~pred.isin(0.0, 1.0, 2.0)
            agg = self.models[kind].transform(frame).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(pred).alias("total"),
                F.sum(F.when(bad, 1).otherwise(0)).alias("bad"),
            )
        return agg.collect()[0]

    def _score_op(self, ctx, kind: str) -> Op:
        key = f"score_{kind}_sum"

        def check(row) -> str | None:
            if row["n"] != self.rows:
                return f"scored {row['n']} rows, expected {self.rows}"
            if row["bad"]:
                return f"{row['bad']} non-finite or invalid predictions"
            want = ctx.expected.get(key)
            if want is None:
                return f"no recorded sum for {key}"
            if _rel_err(row["total"], want) > REL_TOL:
                return f"prediction sum {row['total']!r} != recorded {want!r}"
            return None

        return Op(
            f"score:{kind}",
            lambda: self._score(ctx, kind, self.input.frames[kind]),
            check,
            rows=self.rows,
            root="op.score",
            record=lambda row: {key: float(row["total"])},
        )

    def cycle(self, ctx, i: int) -> list[Op]:
        ops = [("fit", k, w) for k, w in self.FITS] + [("score", k, 0) for k in FIT_KINDS]
        return [
            self._fit_op(ctx, k, w) if what == "fit" else self._score_op(ctx, k)
            for what, k, w in _order(ctx.seed, i, ops)
        ]


# ---------------------------------------------------------------------------
# query mix
# ---------------------------------------------------------------------------


def _load_oracle_hashing():
    """``rows_to_multiset`` from ``tools/check_oracle.py`` -- the same
    order-insensitive, float-rounded row normalization the oracle gate
    uses. The module prepends a path to ``sys.path`` on import; that
    change is undone here."""
    path = os.path.join(os.getcwd(), "tools", "check_oracle.py")
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location("perfbench_check_oracle", path)
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved
    return module.rows_to_multiset


def digest(rows_to_multiset, columns, rows) -> str:
    counts = rows_to_multiset(columns, rows)
    h = hashlib.sha256()
    for line in sorted(f"{n}\t{row}" for row, n in counts.items()):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


class QueryMix:
    name = "query_mix"
    WARM_THREADS = 3

    def setup(self, ctx) -> None:
        from pyspark_xgboost_spark.registry import all_queries

        self.rows_to_multiset = _load_oracle_hashing()
        self.queries = all_queries()
        missing = [q for q in QUERIES if q not in self.queries]
        if missing:
            raise RuntimeError(f"queries not registered: {missing}")
        with ctx.setup_part("inputs"):
            self.maker = InputMaker("query", ctx.variant, os.path.join(ctx.work, "inputs"))
            warm_path = self.maker.fresh_copy("warm")
        with ctx.setup_part("warmup"):
            # each warm-up query gets its own session clone, so the
            # session confs a query builder sets and restores cannot
            # leak between concurrent queries (tools/check_oracle.py
            # pools its sweep the same way)
            _concurrently(
                [
                    lambda n=name: self.queries[n](ctx.spark.newSession(), warm_path).collect()
                    for name in QUERIES
                ],
                self.WARM_THREADS,
            )
        with ctx.setup_part("inputs"):
            self.next_path = self.maker.fresh_copy("measure")

    def _run(self, ctx, name: str, path: str):
        with ctx.span("operators.build"):
            df = self.queries[name](ctx.spark, path)
        return df.columns, df.collect()

    def _op(self, ctx, name: str, path: str) -> Op:
        def check(result) -> str | None:
            columns, rows = result
            want = ctx.expected.get(name)
            got = [len(rows), digest(self.rows_to_multiset, columns, rows)]
            if want != got:
                return f"rows/digest {got} != recorded {want}"
            return None

        return Op(
            name,
            lambda: self._run(ctx, name, path),
            check,
            root="op.query",
            record=lambda result: {name: [len(result[1]), digest(self.rows_to_multiset, *result)]},
        )

    def cycle(self, ctx, i: int) -> list[Op]:
        # every cycle reads its own fresh copy, so no memo from an
        # earlier cycle can serve it
        path = self.next_path if i == 0 else self.maker.fresh_copy("measure")
        return [self._op(ctx, name, path) for name in _order(ctx.seed, i, QUERIES)]


WORKLOADS = {w.name: w for w in (Gbt, QueryMix)}
