"""Barrier-mode distributed training tests (reference cluster-suite
parity, xgboost_cluster_test.py). local[8] gives the gang its slots."""

from __future__ import annotations

import numpy as np
import pytest
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
    """Histogram allreduce gives the 3-worker model the same splits as
    the 1-worker model; leaf values may differ by summation-order ulps
    (shard-wise partial sums), so compare at 1e-6 — still three orders
    tighter than the reference's atol=1e-3 golden bar
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
# 2-rank kernel goldens: booster.train over two SocketComm ranks (threads),
# rows split r::2. sha256 prefixes of ``save_json()``, recorded with the
# per-tree kernel behind the threaded reduction server; every rank must
# return the same model.
# ---------------------------------------------------------------------------

_TWO_RANK_GOLDENS = {
    "regression_depth5": "2f1e7a41029c9d98",
    "multiclass": "5e638a84ed31632e",
    "multiclass_nan_eval_early_stop": "354f9e069b8707b4",
}


def _two_rank_train(cookie, X, y, params, eval_set=None):
    from pyspark_xgboost_spark.ml import booster as kernel

    def body(comm, r):
        shard_eval = None if eval_set is None else (eval_set[0][r::2], eval_set[1][r::2])
        return kernel.train(X[r::2], y[r::2], params, eval_set=shard_eval, comm=comm).save_json()

    models = _run_ranks(2, cookie, body)
    assert models[0] == models[1]
    return models[0]


def _two_rank_case(name):
    from tests.test_ml import _kernel_golden_data, _sha

    X, score, rng = _kernel_golden_data(17)
    y3 = np.digitize(score, np.quantile(score, [1 / 3, 2 / 3])).astype(np.float64)
    multi = {"objective": "multi:softprob", "num_class": 3, "n_estimators": 10, "max_depth": 4}
    if name == "regression_depth5":
        params = {"objective": "reg:squarederror", "n_estimators": 20, "max_depth": 5,
                  "learning_rate": 0.3}
        model = _two_rank_train("golden-reg", X, score, params)
    elif name == "multiclass":
        model = _two_rank_train("golden-multi", X, y3, multi)
    elif name == "multiclass_nan_eval_early_stop":
        X = X.copy()
        X[rng.rand(*X.shape) < 0.05] = np.nan
        params = {**multi, "n_estimators": 40, "learning_rate": 0.8, "gamma": 1.0,
                  "early_stopping_rounds": 2}
        model = _two_rank_train(
            "golden-multi-nan", X[:1000], y3[:1000], params, eval_set=(X[1000:], y3[1000:])
        )
    else:
        raise KeyError(name)
    return _sha(model.encode())


@pytest.mark.parametrize("case", sorted(_TWO_RANK_GOLDENS))
def test_two_rank_kernel_goldens(case):
    assert _two_rank_case(case) == _TWO_RANK_GOLDENS[case]
