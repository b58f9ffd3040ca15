from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"


def _script_lc():
    from tests.test_local_cluster import _SCRIPT

    return _SCRIPT


def _script_sweep():
    from tests.test_relational import _SWEEP_SCRIPT

    return _SWEEP_SCRIPT


def _script_typing():
    from tests.test_oracle_typing import _TYPING_SCRIPT

    return _TYPING_SCRIPT


# (test name, config attr the test joins on, script getter) — each is a
# long-running, fully-isolated unit of work (own Spark master / own
# TMP_NS staging tree / no Spark at all) launched at collection time so
# its wall-clock overlaps the rest of the suite; the test only joins.
_OVERLAPPED = [
    ("test_barrier_training_across_executor_jvms", "_lc_proc", _script_lc),
    ("test_query_runs_all", "_sweep_proc", _script_sweep),
    ("test_no_oracle_emits_hugeint_or_decimal", "_typing_proc", _script_typing),
]


def pytest_collection_modifyitems(config, items):
    """Overlap the isolated long-running tests with the whole suite.

    Each _OVERLAPPED entry spends its time in a SUBPROCESS (its own
    Spark master / its own namespaced scratch tree — nothing shared
    with the fixture JVM), which is pure wall-clock overlap
    opportunity: launch the subprocess as soon as collection shows the
    test will run, let every other test execute meanwhile, and have
    the test itself only join + assert. A targeted run that doesn't
    select the test never launches it.

    Guards (r9 ADVICE): -k/-m deselection runs AFTER this hook and
    --collect-only never executes tests, so in those modes we skip the
    eager launch (each test falls back to running its work inline) —
    otherwise a deselected test would orphan a JVM with an unread
    stdout pipe. pytest_unconfigure below reaps any process the run
    aborted before consuming."""
    opt = config.option
    if getattr(opt, "collectonly", False):
        return
    if getattr(opt, "keyword", "") or getattr(opt, "markexpr", ""):
        return
    import subprocess

    names = {it.name for it in items}
    for test_name, attr, script in _OVERLAPPED:
        if test_name in names:
            setattr(
                config,
                attr,
                subprocess.Popen(
                    # niced: the overlapped work has the whole suite's
                    # wall-clock of slack, so it must take LEFTOVER
                    # cycles — at equal priority the three subprocesses
                    # inflated the foreground tests by as much time as
                    # the overlap saved
                    ["nice", "-n", "15", sys.executable, "-c", script()],
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                ),
            )


def pytest_unconfigure(config):
    """Reap overlapped subprocesses their tests never joined
    (deselection after launch, skip, or an -x abort earlier in the
    suite) — otherwise a JVM outlives pytest and can block on a full
    unread stdout pipe."""
    for _, attr, _s in _OVERLAPPED:
        proc = getattr(config, attr, None)
        if proc is not None and proc.returncode is None:
            proc.kill()
            try:
                proc.communicate(timeout=30)
            except Exception:
                pass


@pytest.fixture(scope="session")
def spark():
    from pyspark_xgboost_spark.session import get_spark

    s = get_spark("tests", cpus=16)
    yield s
    s.stop()


def run_pooled(spark, checks, serial=(), workers=12):
    """Shared pooled-sweep runner for the per-module contract checks
    (the smoke-sweep discipline): run every check concurrently, each on
    its own ``spark.newSession()`` clone — SQLConf is per-session, so a
    check (or a staged-state builder it calls) that save/restores
    session conf mid-build can't leak a stale value into a concurrent
    check (the race class behind the round-14 pq-staging flake; the
    sweep tools use the same isolation). Then the ``serial`` ones
    (parent-session mutators, AQE-finalization-sensitive assertions)
    run one at a time on the PARENT session, and raise with every
    captured traceback. One implementation — the twelve per-module
    copies this replaces could silently drift."""
    import traceback
    from concurrent.futures import ThreadPoolExecutor

    failures = []

    def run(fn, sess=None):
        try:
            fn(sess if sess is not None else spark)
        except Exception:
            failures.append((fn.__name__, traceback.format_exc()))

    serial = tuple(serial)
    pooled = [f for f in checks if f not in serial]
    with ThreadPoolExecutor(max_workers=workers) as ex:
        list(ex.map(lambda fn: run(fn, spark.newSession()), pooled))
    for fn in serial:
        run(fn)
    assert not failures, "\n\n".join(f"{n}:\n{tb}" for n, tb in failures)
