"""Spark training for every gang size (reference O11/O12/O21/O22).

The reference has two training paths, a local one that gathers the rows
into one partition (xgboost_core.py:479-518) and a barrier one
(:358-433) that gang-schedules ``num_workers`` tasks with
``mapInPandas(...).rdd.barrier()``, rendezvouses via
``BarrierTaskContext`` and runs an allreduce ring among them. Ours is
one fit task for every gang size: ``fit`` runs ``train_fn`` in
``mapInArrow`` (``barrier=True`` above one worker), the tasks read Arrow
record batches, and rank 0 yields a one-row batch. The only difference
between gang sizes is the comm: ``booster.LocalComm`` for one worker,
else the direct-TCP reduce star in ``comm.py`` (one star topology; the
reference's ring is Rabit, tracker bootstrapped on partition 0 and
broadcast through ``allGather`` — utils.py:64-126), reached with ZERO
barrier RPCs (each costs a measured ~1.0 s — see ``rendezvous``). Rank
0's task thread is the hub: it runs every round itself over raw array
frames, and a boosting round grows all its class trees together, so a
tree level costs one allreduce whatever the class count. Histograms are
O(nodes × features × bins) independent of shard row count, so payloads
stay in the low MBs at any data scale; at 100 TB the rows never move —
only histograms do.

Scheduling hazards mirrored from the reference:
* barrier deadlock when num_workers exceeds cluster task slots —
  probed up front (reference _get_max_num_concurrent_tasks,
  sparkdl/utils/__init__.py:37-44, warn at xgboost_core.py:363-372);
* partition count must equal num_workers — repartition unless it
  already matches (cheap-correct version of the reference's
  plan-inspecting elision, xgboost_core.py:291-321, whose own comment
  admits the heuristic is "not fully accurate");
* empty shards: feature dimensionality is agreed via one allgather
  before training so zero-row workers participate in every reduction
  with correctly-shaped zero histograms.

A classifier's ranks add their distinct labels to that same allgather
and resolve the objective from the union (``data.label_objective``;
the reference runs a driver-side countDistinct job instead, O4), and
every rank adds its validation row count and its counts of
non-finite labels and of non-finite or negative weights
(``booster.invalid_rows``). Every rank sees the same union and counts,
so a label or weight error, or an input without training rows, stops
all of them before the first allreduce; rank 0 reports the error in
place of the model and the driver raises it, so no task raises and the
barrier stage is never retried for bad input.

The kernel's sums are exact (``booster._fixed_point``), so the model
does not depend on how the rows are partitioned or ordered: a fit at
any ``num_workers`` returns the model of the one-worker fit, bit for
bit, unless an eval set stops it early (the eval metric is a float
sum, so its last bits follow the partitioning).
"""

from __future__ import annotations

import json
import logging
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark import BarrierTaskContext
from pyspark.sql import DataFrame

from pyspark_xgboost_spark.ml import booster as kernel
from pyspark_xgboost_spark.ml.comm import (
    SocketComm,
    _ReduceServer,
    candidate_ports,
    connect_rendezvous,
    cookie_magic,
)
from pyspark_xgboost_spark.ml.data import (
    FIT_RESULT_SCHEMA,
    batches_to_matrices,
    fit_result,
    fit_result_json,
    label_objective,
)

_logger = logging.getLogger("pyspark_xgboost_spark.ml")


def rendezvous(context: BarrierTaskContext) -> SocketComm:
    """Zero-RPC rendezvous: every barrier RPC (``allGather``/``barrier``)
    costs a measured ~1.0 s constant, so instead of broadcasting rank-0's
    reduce-server address through one, all ranks derive the same
    candidate port list + handshake cookie from facts the barrier stage
    already gives every task for free — stage id, attempt number, and
    the task-address roster (``getTaskInfos``, which is how clients know
    rank-0's HOST without any exchange; the reference reads the tracker
    host the same way, utils.py:105-112). Rank 0 binds the first free
    candidate port; clients probe the list and the cookie check rejects
    strangers and zombie servers from earlier stage attempts."""
    infos = context.getTaskInfos()
    n = len(infos)
    rank = context.partitionId()
    host = infos[0].address.split(":")[0] or "127.0.0.1"
    # attemptNumber distinguishes barrier-stage retries (all tasks retry
    # together); the address roster distinguishes concurrent apps that
    # happen to share a stage id (executor ports differ per app)
    cookie = json.dumps(
        [context.stageId(), context.attemptNumber(), n, [i.address for i in infos]]
    )
    ports = candidate_ports(cookie)
    magic = cookie_magic(cookie)
    if rank == 0:
        # bind to the rank-0 task address the clients will dial (not the
        # wildcard): the unauthenticated-until-handshake endpoint should
        # not listen on every interface of the executor host
        server = _ReduceServer(n_clients=n - 1, host=host, magic=magic, ports=ports)
        return SocketComm(0, n, server=server)
    sock = connect_rendezvous(host, ports, magic, rank)
    return SocketComm(rank, n, sock=sock)


def get_max_concurrent_tasks(sc) -> int:
    """Cluster gang capacity (reference sparkdl/utils/__init__.py:37-44)."""
    ssc = sc._jsc.sc()
    try:
        return ssc.maxNumConcurrentTasks(ssc.resourceProfileManager().defaultResourceProfile())
    except Exception:  # noqa: BLE001 — older signature
        return ssc.maxNumConcurrentTasks()


def _plan_tail_is_repartition(df: DataFrame) -> bool:
    """True iff the OPTIMIZED logical plan's outermost node is a
    Repartition — i.e. the caller's last operation was an explicit
    repartition that survived optimization (reference O6 plan-text
    check, sparkdl/xgboost/xgboost_core.py:291-302, which greps
    explainString(extended); inspecting optimizedPlan directly is the
    same information without parsing the four-section explain text).
    Best-effort: any introspection failure means "repartition anyway",
    the safe default."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        first = plan.strip().splitlines()[0]
        return first.startswith("Repartition")
    except Exception:  # noqa: BLE001 — introspection is an optimization only
        return False


def fit(
    narrowed: DataFrame,
    params: dict,
    flags: dict,
    num_workers: int,
    force_repartition: bool = False,
    init_model_json: str | None = None,
    callbacks: list | None = None,
) -> str:
    """Fit on ``num_workers`` tasks (a barrier gang above one); returns
    the model JSON. The init booster ships into the task closure as its
    JSON string; callbacks ride Spark's cloudpickle closure
    serialization."""
    sc = narrowed.sparkSession.sparkContext
    try:
        capacity = get_max_concurrent_tasks(sc)
        if num_workers > capacity:
            _logger.warning(
                "num_workers=%d exceeds the cluster's current task capacity %d; "
                "the barrier stage will wait for resources (and deadlocks if "
                "they never appear)",
                num_workers,
                capacity,
            )
    except Exception:  # noqa: BLE001 — capacity probe is best-effort
        pass

    # repartition elision (reference O6, xgboost_core.py:291-321): skip
    # the pre-training shuffle ONLY when the user already repartitioned —
    # the optimized plan's latest node must itself be a Repartition AND
    # the partition count must equal the gang size. Merely having
    # num_workers partitions by coincidence is NOT enough: arbitrary
    # partitionings (e.g. a filter over a partitioned scan) can be
    # data-skewed, which makes one rank the straggler of every tree
    # level. The model itself is the same under any partitioning (the
    # kernel's sums are exact), so a skewed or label-clustered one costs
    # only speed — the reference's comment calls its own check "not
    # fully accurate" for this reason, and requiring an explicit
    # Repartition tail is the conservative reading.
    if force_repartition or not (
        _plan_tail_is_repartition(narrowed)
        and narrowed.rdd.getNumPartitions() == num_workers
    ):
        narrowed = narrowed.repartition(num_workers)

    infer_labels = flags.get("distinct_labels", False)

    def train_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        train_b, val_b = batches_to_matrices(batches, **flags)
        comm = rendezvous(BarrierTaskContext.get()) if num_workers > 1 else kernel.LocalComm()

        # agree on feature dimensionality so empty shards build
        # correctly-shaped (all-zero) histograms; a classifier's ranks
        # add their distinct labels, and every rank its validation row
        # count and its counts of invalid labels and weights, to the
        # same round
        f_local = int(train_b.X.shape[1]) if train_b.X.size else 0
        labels = []
        if infer_labels:
            labels = np.concatenate([b.labels for b in (train_b, val_b) if b is not None]).tolist()
        n_val = 0 if val_b is None else len(val_b.y)
        invalid = np.sum(
            [kernel.invalid_rows(b.y, b.w) for b in (train_b, val_b) if b is not None], axis=0
        ).tolist()
        gathered = [
            json.loads(b)
            for b in comm.allgather_bytes(json.dumps([f_local, labels, n_val, invalid]).encode())
        ]
        f_global = max(f for f, _, _, _ in gathered)
        task_params = params
        error = kernel.invalid_rows_error(*np.sum([bad for _, _, _, bad in gathered], axis=0))
        if infer_labels and error is None:
            try:
                task_params = label_objective([ls for _, ls, _, _ in gathered], params)
            except ValueError as e:
                error = str(e)
        if error is not None or f_global == 0:
            # every rank resolved the same union and counts: all stop
            # here, and an input without training rows yields no model
            comm.close()
            if comm.rank == 0 and error is not None:
                yield fit_result(error)
            return

        def shape(b):
            if b is not None and b.X.size == 0:
                b.X = np.empty((0, f_global), dtype=np.float32)
            return b

        train_s = shape(train_b)
        val_s = shape(val_b)
        # evaluate only when some rank holds validation rows: an empty
        # eval set scores inf every round and would stop training early
        has_eval = sum(n for _, _, n, _ in gathered) > 0

        bst = kernel.train(
            train_s.X,
            train_s.y,
            task_params,
            sample_weight=train_s.w,
            # None above one worker: the estimator rejects a base margin
            # there (reference xgboost.py:50-54)
            base_margin=train_s.base_margin,
            eval_set=(val_s.X, val_s.y) if has_eval else None,
            eval_weight=val_s.w if has_eval else None,
            comm=comm,
            # same init model + deterministic callbacks on every rank —
            # margins are shard-local, so no extra exchange is needed
            xgb_model=(
                kernel.Booster.load_json(init_model_json) if init_model_json else None
            ),
            callbacks=callbacks,
        )
        # comm.close() is itself a full sync point (the quit round-trip
        # blocks every rank until the server has every rank's quit), so
        # no trailing context.barrier() is needed — each barrier RPC
        # costs seconds in the Python poll loop.
        comm.close()
        if comm.rank == 0:
            yield fit_result(bst.save_json())

    # Spark >= 3.5 runs the Python runner itself inside a barrier stage
    # via barrier=True — the modern form of the reference's
    # mapInPandas(...).rdd.barrier().mapPartitions(identity) idiom
    # (xgboost_core.py:427-430).
    rows = narrowed.mapInArrow(train_fn, FIT_RESULT_SCHEMA, barrier=num_workers > 1).collect()
    return fit_result_json(rows, "cannot fit on an empty dataset")
