"""Barrier-mode distributed training tests (reference cluster-suite
parity, xgboost_cluster_test.py). local[8] gives the gang its slots."""

from __future__ import annotations

import itertools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.ml.linalg import Vectors

from pyspark_xgboost_spark.ml.estimator import XgboostClassifier, XgboostRegressor


@pytest.fixture(scope="module")
def reg_df(spark):
    rows = [
        (Vectors.dense(float(i % 10), float((i * 3) % 7), float(i % 5)), float(i % 10) * 2.0)
        for i in range(1500)
    ]
    return spark.createDataFrame(rows, ["features", "label"])


def test_distributed_matches_local(spark, reg_df):
    """Histogram allreduce gives the 3-worker model the predictions of
    the 1-worker model (the models are equal bit for bit, see
    test_spark_models_equal_across_gang_sizes); compared at 1e-6, three
    orders tighter than the reference's atol=1e-3 golden bar
    (xgboost_cluster_test.py:114-116)."""
    params = dict(n_estimators=10, max_depth=4)
    local = XgboostRegressor(**params).fit(reg_df)
    dist = XgboostRegressor(**params, num_workers=3).fit(reg_df)
    p_local = np.array([r.prediction for r in local.transform(reg_df).collect()])
    p_dist = np.array([r.prediction for r in dist.transform(reg_df).collect()])
    np.testing.assert_allclose(p_local, p_dist, atol=1e-6)


def test_distributed_classifier(spark):
    rows = [
        (Vectors.dense(float(i % 10), float((i * 7) % 13)), int((i % 10) >= 5))
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, ["features", "label"])
    model = XgboostClassifier(n_estimators=8, max_depth=3, num_workers=2).fit(df)
    acc = np.mean([r.prediction == r.label for r in model.transform(df).collect()])
    assert acc == 1.0


def test_get_conf_boolean_semantics(spark):
    """O26 parity (reference tests/utils/__init__.py:8-31): any
    capitalization of true/false parses; invalid values raise; unset
    falls back to the default."""
    from pyspark_xgboost_spark.utils import get_conf_boolean

    spark.conf.set("myConf", "myVal")
    with pytest.raises(ValueError, match="boolean conf"):
        get_conf_boolean(spark, "myConf", False)
    for raw, expected in [("False", False), ("TRUE", True), ("true", True), (True, True)]:
        spark.conf.set("myConf", raw)
        assert get_conf_boolean(spark, "myConf", not expected) is expected
    spark.conf.unset("myConf")
    assert get_conf_boolean(spark, "myConf", False) is False
    assert get_conf_boolean(spark, "myConf", True) is True


def test_force_repartition_param(spark, reg_df, monkeypatch):
    """The estimator's force_repartition param reaches the fit function,
    which then repartitions even when the plan tail would allow the
    shuffle to be skipped."""
    import pyspark_xgboost_spark.ml.tracker as tracker

    captured = {}
    real = tracker.fit

    def spy(narrowed, params, flags, num_workers, **kw):
        captured["force_repartition"] = kw.get("force_repartition")
        return real(narrowed, params, flags, num_workers, **kw)

    monkeypatch.setattr(tracker, "fit", spy)
    XgboostRegressor(
        n_estimators=2, max_depth=2, num_workers=2, force_repartition=True
    ).fit(reg_df.repartition(2))
    assert captured["force_repartition"] is True


def test_empty_input_raises_at_every_gang_size(spark, reg_df):
    """An input without rows gives the same driver-side ValueError at one
    worker and at two; no training task raises."""
    empty = reg_df.where("label < 0")
    for workers in (1, 2):
        with pytest.raises(ValueError, match="cannot fit on an empty dataset"):
            XgboostRegressor(n_estimators=2, num_workers=workers).fit(empty)
        with pytest.raises(ValueError, match="classifier needs >= 2 distinct labels, found 0"):
            XgboostClassifier(n_estimators=2, num_workers=workers).fit(empty)


def test_validation_without_rows_matches_across_gang_sizes(spark, reg_df):
    """A validation column that marks no rows means no eval set at every
    gang size, so early stopping never cuts the ensemble short."""
    df = reg_df.withColumn("isVal", reg_df.label < 0)
    boosters = [
        XgboostRegressor(
            n_estimators=6,
            max_depth=3,
            early_stopping_rounds=2,
            validationIndicatorCol="isVal",
            num_workers=workers,
        )
        .fit(df)
        .get_booster()
        for workers in (1, 2)
    ]
    assert [len(b.trees) for b in boosters] == [6, 6]
    assert boosters[0].best_iteration == boosters[1].best_iteration


def test_distributed_rejects_base_margin(spark, reg_df):
    df = reg_df.withColumn("bm", reg_df.label * 0.1)
    with pytest.raises(ValueError, match="baseMarginCol"):
        XgboostRegressor(n_estimators=2, num_workers=2, baseMarginCol="bm").fit(df)


# ---------------------------------------------------------------------------
# comm rendezvous unit tests (no Spark: raw sockets + threads)
# ---------------------------------------------------------------------------


def test_candidate_ports_deterministic_and_disjoint():
    from pyspark_xgboost_spark.ml.comm import candidate_ports

    a = candidate_ports("cookie-a")
    assert a == candidate_ports("cookie-a")
    assert len(set(a)) == len(a)
    assert all(20000 <= p < 50000 for p in a)
    # different cookie -> (almost surely) different walk start
    assert a[0] != candidate_ports("cookie-b")[0]


def test_rendezvous_comm_roundtrip():
    import threading

    import numpy as np

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
    )

    cookie = "test-stage-7-attempt-0"
    ports = candidate_ports(cookie)
    magic = cookie_magic(cookie)
    server = _ReduceServer(n_clients=2, magic=magic, ports=ports)
    assert server.port in ports

    results = {}

    def client(rank: int):
        sock = connect_rendezvous("127.0.0.1", ports, magic, rank, deadline_s=10)
        comm = SocketComm(rank, 3, sock=sock)
        results[rank] = comm.allreduce_sum(np.full(4, rank, dtype=np.float64))
        comm.close()

    threads = [threading.Thread(target=client, args=(r,)) for r in (1, 2)]
    for t in threads:
        t.start()
    comm0 = SocketComm(0, 3, server=server)
    results[0] = comm0.allreduce_sum(np.full(4, 0, dtype=np.float64))
    comm0.close()
    for t in threads:
        t.join(timeout=10)
    # 0 + 1 + 2 summed identically on every rank
    for r in (0, 1, 2):
        assert results[r].tolist() == [3.0, 3.0, 3.0, 3.0]


def _run_ranks(n, cookie, body):
    """``body(comm, rank)`` on ``n`` SocketComm ranks (rank 0 in this
    thread, the others in threads); returns every rank's result."""
    import threading

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
    )

    ports, magic = candidate_ports(cookie), cookie_magic(cookie)
    server = _ReduceServer(n_clients=n - 1, magic=magic, ports=ports)
    out, errors = {}, []

    def worker(rank):
        try:
            if rank == 0:
                comm = SocketComm(0, n, server=server)
            else:
                comm = SocketComm(
                    rank, n, sock=connect_rendezvous("127.0.0.1", ports, magic, rank)
                )
            out[rank] = body(comm, rank)
            comm.close()
        except BaseException as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(r,)) for r in range(1, n)]
    for t in threads:
        t.start()
    worker(0)
    for t in threads:
        t.join(timeout=60)
    assert not errors, errors
    return out


def _run_star(n, contribs, gathers):
    return _run_ranks(
        n,
        "topology-star-test",
        lambda comm, r: (comm.allreduce_sum(contribs[r]).tolist(), comm.allgather_bytes(gathers[r])),
    )


@pytest.mark.parametrize("n", [9, 7, 5])
def test_star_reductions_sum_and_gather(n):
    """Every rank's allreduce_sum is the sum of all contributions and its
    allgather_bytes lists every rank's payload in rank order."""
    contribs = {r: np.arange(6, dtype=np.float64) * (r + 1) for r in range(n)}
    gathers = {r: f"blob-{r}".encode() for r in range(n)}
    star = _run_star(n, contribs, gathers)
    assert set(star) == set(range(n))
    expected_sum = sum(contribs.values()).tolist()
    expected_gather = [gathers[r] for r in range(n)]
    for r in range(n):
        assert star[r] == (expected_sum, expected_gather)


def test_star_sum_is_a_left_fold_in_rank_order():
    """Float addition is not associative: every rank gets
    ``(r0 + r1) + r2``, bit for bit, and no other grouping."""
    contribs = {
        0: np.array([1e16, 1.0, -1e16, 0.1]),
        1: np.array([1.0, 1e16, 1e16, 0.2]),
        2: np.array([-1e16, -1e16, 1.0, 0.3]),
    }
    expected = (contribs[0] + contribs[1]) + contribs[2]
    assert expected.tobytes() != (contribs[0] + (contribs[1] + contribs[2])).tobytes()
    star = _run_star(3, contribs, {r: b"" for r in range(3)})
    for r in range(3):
        assert np.array(star[r][0]).tobytes() == expected.tobytes()


def test_star_rejects_a_frame_of_the_wrong_length():
    """Ranks decode a sum frame against their own array; a rank whose
    array has another length makes rank 0 raise, and the client is cut
    off instead of decoding a mismatched result."""
    import threading

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
    )

    cookie = "test-wrong-length-attempt-0"
    ports, magic = candidate_ports(cookie), cookie_magic(cookie)
    server = _ReduceServer(n_clients=1, magic=magic, ports=ports)
    errors = {}

    def client():
        comm = SocketComm(1, 2, sock=connect_rendezvous("127.0.0.1", ports, magic, 1))
        try:
            comm.allreduce_sum(np.zeros(3))
        except Exception as e:  # noqa: BLE001 — asserted below
            errors[1] = e

    t = threading.Thread(target=client)
    t.start()
    with pytest.raises(ValueError, match="frame of 24 bytes, expected 32"):
        SocketComm(0, 2, server=server).allreduce_sum(np.zeros(4))
    t.join(timeout=10)
    assert not t.is_alive()
    assert isinstance(errors.get(1), (ConnectionError, OSError))


def test_client_connected_before_first_round_is_admitted():
    """A client that finishes its handshake while rank 0 has not yet
    entered a round takes part in rank 0's first round."""
    import threading

    connected = threading.Event()

    def body(comm, r):
        if r == 0:
            assert connected.wait(timeout=10)
            return comm.allreduce_sum(np.array([10.0, 20.0])).tolist()
        connected.set()
        return comm.allreduce_sum(np.array([1.0, 2.0])).tolist()

    assert _run_ranks(2, "test-early-client-attempt-0", body) == {0: [11.0, 22.0], 1: [11.0, 22.0]}


def test_reduce_server_binds_scoped_address_when_local():
    """A local bind host must yield a scoped endpoint — the wildcard is
    reserved for EADDRNOTAVAIL (host not a local interface), never used
    just because it is listed or because a port was busy."""
    import threading

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
    )

    cookie = "test-bind-scope-attempt-0"
    ports, magic = candidate_ports(cookie), cookie_magic(cookie)
    server = _ReduceServer(n_clients=1, host="127.0.0.1", magic=magic, ports=ports)
    bound = server._srv.getsockname()[0]

    # finish the rendezvous and close both sides, so the server's thread
    # leaves accept() and closes its own listening socket
    def client():
        sock = connect_rendezvous("127.0.0.1", ports, magic, 1, deadline_s=10)
        SocketComm(1, 2, sock=sock).close()

    t = threading.Thread(target=client)
    t.start()
    SocketComm(0, 2, server=server).close()
    t.join(timeout=10)
    assert not t.is_alive()
    assert bound == "127.0.0.1"


def test_rendezvous_rejects_wrong_magic_and_tolerates_probes():
    import socket
    import struct
    import threading

    import numpy as np

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
    )

    cookie = "test-stage-9-attempt-1"
    ports = candidate_ports(cookie)
    magic = cookie_magic(cookie)
    server = _ReduceServer(n_clients=1, magic=magic, ports=ports)

    # a zombie/foreign probe: connects, reads magic, rejects it, drops —
    # the server must ignore it and still accept the real client
    probe = socket.create_connection(("127.0.0.1", server.port), timeout=5)
    probe.recv(16)
    probe.close()

    # wrong-cookie client walking the same ports must NOT connect
    try:
        connect_rendezvous(
            "127.0.0.1", [server.port], cookie_magic("other"), 1, deadline_s=0.5
        )
        raise AssertionError("wrong magic accepted")
    except TimeoutError:
        pass

    done = {}

    def client():
        sock = connect_rendezvous("127.0.0.1", ports, magic, 1, deadline_s=10)
        comm = SocketComm(1, 2, sock=sock)
        done["sum"] = comm.allreduce_sum(np.array([1.0]))
        comm.close()

    t = threading.Thread(target=client)
    t.start()
    comm0 = SocketComm(0, 2, server=server)
    assert comm0.allreduce_sum(np.array([2.0])).tolist() == [3.0]
    comm0.close()
    t.join(timeout=10)
    assert done["sum"].tolist() == [3.0]


def test_rendezvous_rejects_stranger_and_bad_ranks():
    """Mutual handshake (round-1 advice): a TCP peer that connects and
    sends bytes that aren't the keyed echo must NOT occupy a rank slot;
    neither may a peer with the right echo but an out-of-range rank
    (rank 0 is the server itself; valid clients are 1..n_clients)."""
    import socket
    import struct
    import threading

    import numpy as np

    from pyspark_xgboost_spark.ml.comm import (
        SocketComm,
        _ReduceServer,
        candidate_ports,
        connect_rendezvous,
        cookie_magic,
        echo_token,
    )

    cookie = "test-stage-11-attempt-0"
    ports = candidate_ports(cookie)
    magic = cookie_magic(cookie)
    server = _ReduceServer(n_clients=1, magic=magic, ports=ports)

    # stranger: reads magic, replies with garbage where the echo goes
    s = socket.create_connection(("127.0.0.1", server.port), timeout=5)
    s.recv(16)
    s.sendall(b"\x00" * 20)
    s.close()

    # right echo, but claims rank 0 (the server's own rank) — rejected
    s = socket.create_connection(("127.0.0.1", server.port), timeout=5)
    s.recv(16)
    s.sendall(echo_token(magic) + struct.pack(">I", 0))
    # and an out-of-range rank
    s2 = socket.create_connection(("127.0.0.1", server.port), timeout=5)
    s2.recv(16)
    s2.sendall(echo_token(magic) + struct.pack(">I", 5))

    done = {}

    def client():
        sock = connect_rendezvous("127.0.0.1", ports, magic, 1, deadline_s=10)
        comm = SocketComm(1, 2, sock=sock)
        done["sum"] = comm.allreduce_sum(np.array([1.0]))
        comm.close()

    t = threading.Thread(target=client)
    t.start()
    comm0 = SocketComm(0, 2, server=server)
    assert comm0.allreduce_sum(np.array([2.0])).tolist() == [3.0]
    comm0.close()
    t.join(timeout=10)
    assert done["sum"].tolist() == [3.0]
    for bad in (s, s2):
        try:
            bad.close()
        except OSError:
            pass


def test_distributed_continuation_matches_local(spark, reg_df):
    """xgb_model continuation through the barrier path: distributed
    continued fit equals local continued fit (margins are shard-local,
    only histograms cross the wire)."""
    init = XgboostRegressor(n_estimators=4, max_depth=3).fit(reg_df).get_booster()
    local = XgboostRegressor(n_estimators=3, max_depth=3, xgb_model=init).fit(reg_df)
    dist = XgboostRegressor(
        n_estimators=3, max_depth=3, xgb_model=init, num_workers=2
    ).fit(reg_df)
    a = np.array([r.prediction for r in local.transform(reg_df).collect()])
    b = np.array([r.prediction for r in dist.transform(reg_df).collect()])
    np.testing.assert_allclose(a, b, atol=1e-6)


def test_repartition_elision_plan_check(spark):
    """O6 parity (reference xgboost_cluster_test.py:308-325): an
    explicit user repartition(n) is detected and elided; a DataFrame
    that merely HAPPENS to have n partitions (no Repartition tail) is
    repartitioned anyway."""
    from pyspark_xgboost_spark.ml.tracker import _plan_tail_is_repartition

    df = spark.range(1000).selectExpr("id", "cast(id % 7 as double) v")
    assert _plan_tail_is_repartition(df.repartition(4))
    assert not _plan_tail_is_repartition(df)
    # projections and filters AFTER repartition are pushed BELOW the
    # round-robin exchange by Catalyst (content-independent routing
    # makes that semantics-preserving), so Repartition is still the
    # optimized tail and elision stays valid — the check reads the
    # OPTIMIZED plan on purpose
    assert _plan_tail_is_repartition(df.repartition(4).select("v"))
    assert _plan_tail_is_repartition(df.repartition(4).filter("v > 1"))
    # an aggregate genuinely replaces the partitioning — must re-shuffle
    assert not _plan_tail_is_repartition(df.repartition(4).groupBy("v").count())


# ---------------------------------------------------------------------------
# Multi-rank models: booster.train over SocketComm ranks (threads). The
# kernel's sums are exact, so a fit on any number of ranks, over any split
# of the rows, returns the one-rank model bit for bit.
# ---------------------------------------------------------------------------


def _ranked_train(n, cookie, split=lambda n_rows, n, r: slice(r, None, n)):
    """A ``booster.train`` stand-in that fits on ``n`` SocketComm ranks,
    rank r holding rows ``split(len(X), n, r)`` of the training set and
    of the eval set, checks that every rank returns the same model, and
    returns it."""
    from pyspark_xgboost_spark.ml import booster as kernel

    fits = itertools.count()

    def train(X, y, params, eval_set=None, xgb_model=None):
        def body(comm, r):
            rows = split(len(X), n, r)
            shard_eval = None
            if eval_set is not None:
                e_rows = split(len(eval_set[0]), n, r)
                shard_eval = (eval_set[0][e_rows], eval_set[1][e_rows])
            return kernel.train(
                X[rows], y[rows], params, eval_set=shard_eval, xgb_model=xgb_model, comm=comm
            ).save_json()

        models = _run_ranks(n, f"{cookie}-{next(fits)}", body)
        assert len(set(models.values())) == 1
        return kernel.Booster.load_json(models[0])

    return train


# the one-rank goldens of tests/test_ml.py that the multi-rank fits must
# reproduce bit for bit, best_score of the two early-stopping cases
# included (the eval metric is fixed point, so its sums are exact)
_MULTI_RANK_CASES = [
    "eval_early_stop", "multiclass", "multiclass_nan_eval_early_stop", "regression_depth5"
]


@pytest.mark.parametrize("case", _MULTI_RANK_CASES)
def test_two_rank_kernel_goldens(case):
    from tests.test_ml import _KERNEL_GOLDENS, _kernel_golden_case

    assert _kernel_golden_case(case, _ranked_train(2, f"golden2-{case}")) == _KERNEL_GOLDENS[case]


@pytest.mark.parametrize("case", _MULTI_RANK_CASES)
def test_three_rank_kernel_goldens(case):
    from tests.test_ml import _KERNEL_GOLDENS, _kernel_golden_case

    contiguous = lambda n_rows, n, r: slice(r * n_rows // n, (r + 1) * n_rows // n)  # noqa: E731
    train = _ranked_train(3, f"golden3-{case}", contiguous)
    assert _kernel_golden_case(case, train) == _KERNEL_GOLDENS[case]


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    n_ranks=st.integers(1, 4),
    strided=st.booleans(),
    objective=st.sampled_from(["reg:squarederror", "binary:logistic", "multi:softprob"]),
)
def test_model_is_free_of_row_order_and_sharding(seed, n_ranks, strided, objective):
    """Any permutation of the rows, split over 1-4 ranks by stride or in
    random contiguous blocks, gives the model of the one-rank fit on the
    rows in their original order."""
    from pyspark_xgboost_spark.ml import booster as kernel

    rng = np.random.RandomState(seed)
    n = int(rng.randint(200, 700))
    X = rng.randn(n, 3).astype(np.float32)
    X[:, 2] = np.round(X[:, 2])
    X[rng.rand(n, 3) < 0.05] = np.nan
    score = np.nan_to_num(X[:, 0] - X[:, 1] * X[:, 2]) * 100.0 + rng.randn(n)
    y = {
        "reg:squarederror": score,
        "binary:logistic": (score > 0).astype(np.float64),
        "multi:softprob": np.digitize(score, np.quantile(score, [1 / 3, 2 / 3])).astype(float),
    }[objective]
    params = {"objective": objective, "n_estimators": 4, "max_depth": 4, "max_bin": 32}
    if objective == "multi:softprob":
        params["num_class"] = 3
    expected = kernel.train(X, y, params).save_json()

    perm = rng.permutation(n)
    if strided:
        split = lambda n_rows, n, r: slice(r, None, n)  # noqa: E731
    else:
        cuts = np.sort(rng.randint(0, n + 1, size=n_ranks - 1))
        bounds = [0, *cuts.tolist(), n]
        split = lambda n_rows, n, r: slice(bounds[r], bounds[r + 1])  # noqa: E731
    train = _ranked_train(n_ranks, f"layout-{seed}-{n_ranks}", split)
    assert train(X[perm], y[perm], params).save_json() == expected


def _sharded_edges(X, max_bin, n, key, **kw):
    """``compute_bin_edges`` of ``X`` split over ``n`` ranks, strided and
    in blocks, in row order and permuted: the edges of every rank of
    every split, each as a list of arrays."""
    from pyspark_xgboost_spark.ml import booster as kernel

    perm = np.random.RandomState(n).permutation(len(X))
    out = []
    for o, order in enumerate((np.arange(len(X)), perm)):
        for how, rows in (("strided", [order[r::n] for r in range(n)]),
                          ("blocks", np.array_split(order, n))):
            got = _run_ranks(
                n,
                f"sketch-{key}-{n}-{how}-{o}",
                lambda comm, r: kernel.compute_bin_edges(X[rows[r]], max_bin, comm, **kw),
            )
            out.extend(got.values())
    return out


def test_bin_edges_are_free_of_sharding():
    """Above the row budget each feature is sketched by its distinct
    values (a hash picks them, their counts are exact), so 200k rows
    split 1-4 ways, by stride or in blocks and in any order, give the
    same edges; with at most the budget of distinct values they are the
    quantiles of every row."""
    from pyspark_xgboost_spark.ml import booster as kernel

    rng = np.random.RandomState(11)
    X = rng.standard_exponential((200_000, 3)).astype(np.float32)
    X[:, 1] = np.round(X[:, 1] * 4)
    X[:100_000, 2] = 0.0  # one value holds half of the rows
    X[rng.rand(*X.shape) < 0.01] = np.nan
    X[:50, 0] = -0.0
    expected = kernel.compute_bin_edges(X, 64)
    col = X[:, 1][~np.isnan(X[:, 1])]
    exact = np.unique(np.quantile(col, np.linspace(0, 1, 65)[1:-1]))
    np.testing.assert_allclose(expected[1], exact[exact > col.min()], rtol=1e-12)
    for j in (0, 2):
        # more distinct values than the budget: each cut is within 0.2 %
        # of the rows of a target quantile, the zeros' half included
        col = np.sort(X[:, j][~np.isnan(X[:, j])])
        at = np.searchsorted(col, expected[j]) / len(col)
        assert np.abs(at[:, None] - np.linspace(0, 1, 65)[None, 1:-1]).min(axis=1).max() < 2e-3
    for n in (2, 3, 4):
        for edges in _sharded_edges(X, 64, n, "exp"):
            assert len(edges) == len(expected)
            for e, want in zip(edges, expected):
                np.testing.assert_array_equal(e, want)


@pytest.mark.parametrize("n_rows", [100, 101, 3000])
def test_bin_edges_are_free_of_sharding_at_a_small_budget(n_rows):
    """A budget of 100 rows: at the boundary (100 rows: every row; 101:
    the distinct-value sketch) and far above it, where each rank and
    the union keep only their lowest-hash values, 1-4 ranks agree."""
    from pyspark_xgboost_spark.ml import booster as kernel

    rng = np.random.RandomState(n_rows)
    X = np.round(rng.standard_normal((n_rows, 2)) * 20).astype(np.float32)
    X[:, 1] = rng.standard_normal(n_rows)
    expected = kernel.compute_bin_edges(X, 16, sample_rows=100)
    assert all(len(e) > 5 for e in expected)
    for n in (2, 3, 4):
        for edges in _sharded_edges(X, 16, n, f"small-{n_rows}", sample_rows=100):
            for e, want in zip(edges, expected):
                np.testing.assert_array_equal(e, want)


def test_bin_edges_keep_every_value_of_duplicated_rows():
    """More rows than the budget but few distinct ones (binary and
    3-level features): every feature keeps a cut between each pair of
    its values at 1-3 ranks, as the quantiles of all rows do."""
    from pyspark_xgboost_spark.ml import booster as kernel

    rng = np.random.RandomState(3)
    n = 1_000_000  # 12 distinct rows, each about 83k times
    X = np.stack([rng.rand(n) < 0.5, rng.rand(n) < 0.2, rng.randint(0, 3, n)], axis=1)
    X = X.astype(np.float32)
    qs = np.linspace(0, 1, 257)[1:-1]
    for j, e in enumerate(kernel.compute_bin_edges(X, 256)):
        exact = np.unique(np.quantile(X[:, j], qs))
        np.testing.assert_allclose(e, exact[exact > 0], rtol=1e-12)
        assert np.array_equal(np.unique(np.searchsorted(e, X[:, j], side="right")),
                              np.arange(len(np.unique(X[:, j]))))
    expected = kernel.compute_bin_edges(X, 256)
    for n in (2, 3):
        for edges in _sharded_edges(X, 256, n, "binary"):
            for e, want in zip(edges, expected):
                np.testing.assert_array_equal(e, want)


def test_spark_models_equal_across_gang_sizes(spark, reg_df):
    """One DataFrame fitted at num_workers 1, 2 and 3 gives one model, for
    the regressor and the classifier."""
    clf_df = reg_df.withColumn("label", (reg_df.label >= 10).cast("double"))
    for cls, df in ((XgboostRegressor, reg_df), (XgboostClassifier, clf_df)):
        models = {
            cls(n_estimators=4, max_depth=4, num_workers=w).fit(df).get_booster().save_json()
            for w in (1, 2, 3)
        }
        assert len(models) == 1, cls.__name__


def test_invalid_labels_and_weights_raise_at_every_gang_size(spark, reg_df):
    """A null label or weight (read as NaN), or a negative weight, stops
    every rank before training: the driver raises ValueError at one
    worker and at two, and no training task raises."""
    from pyspark.sql import functions as F

    null_label = reg_df.withColumn(
        "label", F.when(F.col("label") == 4.0, F.lit(None)).otherwise(F.col("label"))
    )
    weighted = reg_df.withColumn("w", F.when(F.col("label") == 4.0, -1.0).otherwise(1.0))
    n_bad = reg_df.where("label = 4.0").count()
    for workers in (1, 2):
        for est in (XgboostRegressor, XgboostClassifier):
            with pytest.raises(ValueError, match=f"found {n_bad} non-finite label"):
                est(n_estimators=2, num_workers=workers).fit(null_label)
        with pytest.raises(ValueError, match=f"found {n_bad} non-finite or negative weight"):
            XgboostRegressor(n_estimators=2, num_workers=workers, weightCol="w").fit(weighted)
