"""Distributed barrier-mode training (reference O11/O21/O22).

Reference architecture (xgboost_core.py:358-433): gang-schedule
``num_workers`` tasks with ``mapInPandas(...).rdd.barrier()``, rendezvous
via ``BarrierTaskContext``, run an allreduce ring among the workers, and
only partition 0 returns the fitted model. Ours gang-schedules with
``mapInArrow(..., barrier=True)``: the tasks read Arrow record batches
and rank 0 yields a one-row batch. The reference's ring is
Rabit (tracker bootstrapped on partition 0 and broadcast through
``allGather`` — utils.py:64-126); ours is the direct-TCP reduce star in
``comm.py``, reached with ZERO barrier RPCs (each costs a measured
~1.0 s — see ``rendezvous``). Histograms are
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
* empty shards: feature dimensionality is agreed via one socket
  allgather before training so zero-row workers participate in every
  reduction with correctly-shaped zero histograms.

A classifier's ranks add their distinct labels to that same allgather
and resolve the objective from the union (``data.label_objective``;
the reference runs a driver-side countDistinct job instead, O4). Every
rank sees the same union, so a label error stops all of them before the
first allreduce; rank 0 reports it in place of the model and the driver
raises it, so the barrier stage itself succeeds and is never retried
for bad input.
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
    build_tree_comm,
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


# above this gang size the star hub's O(n × payload) per round starts to
# dominate; the two-level tree cuts rank-0 traffic to O(√n × payload)
_TREE_TOPOLOGY_THRESHOLD = 64


def rendezvous(context: BarrierTaskContext, topology: str = "auto") -> SocketComm:
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
    if topology == "tree" or (topology == "auto" and n > _TREE_TOPOLOGY_THRESHOLD):
        import math

        hosts = [i.address.split(":")[0] or "127.0.0.1" for i in infos]
        fanout = max(2, math.isqrt(n))  # √n balances group and upper levels
        return build_tree_comm(rank, n, hosts, cookie, fanout)
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


def fit_distributed(
    narrowed: DataFrame,
    params: dict,
    flags: dict,
    num_workers: int,
    force_repartition: bool = False,
    init_model_json: str | None = None,
    callbacks: list | None = None,
) -> str:
    """Barrier-mode distributed fit; returns the model JSON."""
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
    # data-skewed or label-clustered, which degrades distributed
    # training — the reference's comment calls its own check "not fully
    # accurate" for exactly this reason, and requiring an explicit
    # Repartition tail is the conservative reading.
    if force_repartition or not (
        _plan_tail_is_repartition(narrowed)
        and narrowed.rdd.getNumPartitions() == num_workers
    ):
        narrowed = narrowed.repartition(num_workers)

    has_validation = flags.get("has_validation", False)
    has_weight = flags.get("has_weight", False)
    infer_labels = flags.get("distinct_labels", False)
    # star | tree | auto (auto = tree beyond _TREE_TOPOLOGY_THRESHOLD
    # workers); read driver-side, closed over into the barrier tasks
    topology = narrowed.sparkSession.conf.get("spark_graft.ml.comm_topology", "auto")

    def train_fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        context = BarrierTaskContext.get()
        train_b, val_b = batches_to_matrices(batches, **flags)
        comm = rendezvous(context, topology=topology)

        # agree on feature dimensionality so empty shards build
        # correctly-shaped (all-zero) histograms; a classifier's ranks
        # add their distinct labels to the same round
        f_local = int(train_b.X.shape[1]) if train_b.X.size else 0
        labels = []
        if infer_labels:
            labels = np.concatenate([b.labels for b in (train_b, val_b) if b is not None]).tolist()
        gathered = [
            json.loads(b) for b in comm.allgather_bytes(json.dumps([f_local, labels]).encode())
        ]
        f_global = max(f for f, _ in gathered)
        task_params = params
        if infer_labels:
            try:
                task_params = label_objective([ls for _, ls in gathered], params)
            except ValueError as e:
                # every rank resolved the same union: all stop here
                comm.close()
                if comm.rank == 0:
                    yield fit_result(str(e))
                return
        if f_global == 0:
            raise ValueError("cannot fit: all partitions are empty")

        def shape(b):
            if b is None:
                return None
            if b.X.size == 0:
                b.X = np.empty((0, f_global), dtype=np.float32)
            return b

        train_s = shape(train_b)
        val_s = shape(val_b)
        eval_set = (val_s.X, val_s.y) if has_validation else None

        bst = kernel.train(
            train_s.X,
            train_s.y,
            task_params,
            sample_weight=train_s.w if has_weight else None,
            base_margin=None,  # unsupported distributed (reference xgboost.py:50-54)
            eval_set=eval_set,
            eval_weight=(val_s.w if (has_validation and has_weight) else None),
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
    rows = narrowed.mapInArrow(train_fn, FIT_RESULT_SCHEMA, barrier=True).collect()
    return fit_result_json(rows, "distributed training returned no model")
