"""Python worker daemon that records the GBT layers' spans.

Used only by traced benchmark runs, through
``spark.python.daemon.module=perfbench_daemon`` with this directory on
the workers' ``PYTHONPATH``. Before the daemon forks any worker it
imports the ``ml`` modules and wraps their public functions, so every
forked worker inherits the wrapped versions; modules that bind a name
at import (``tracker`` takes ``batches_to_matrices``) are imported after
the wrap. Spans stay in process memory and are appended to
``$PERFBENCH_TRACE_DIR/spans-<pid>.jsonl`` when each task ends.
"""

from __future__ import annotations

import functools
import json
import os
import time

_SPANS: list[dict] = []


def _flush() -> None:
    if not _SPANS:
        return
    path = os.path.join(os.environ["PERFBENCH_TRACE_DIR"], f"spans-{os.getpid()}.jsonl")
    with open(path, "a") as fh:
        for span in _SPANS:
            fh.write(json.dumps(span) + "\n")
    _SPANS.clear()


def _timed(name, fn, measure=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        start = time.time()
        result = None
        try:
            result = fn(*args, **kwargs)
            return result
        finally:
            span = {"name": name, "start": start, "end": time.time(), "pid": os.getpid()}
            if measure is not None and result is not None:
                span.update(measure(args, result))
            _SPANS.append(span)

    return wrapper


def _nbytes(args, _result) -> dict:
    payload = args[1]
    return {"bytes": payload.nbytes if hasattr(payload, "nbytes") else len(payload)}


def _wrap_method(cls, attr: str, name: str, measure=None) -> None:
    setattr(cls, attr, _timed(name, getattr(cls, attr), measure))


def install() -> None:
    from pyspark_xgboost_spark.ml import booster, comm, data

    data.batches_to_matrices = _timed(
        "ml.data.batches_to_matrices",
        data.batches_to_matrices,
        lambda _a, res: {"rows": int(len(res[0].X))},
    )
    booster.compute_bin_edges = _timed("ml.booster.compute_bin_edges", booster.compute_bin_edges)
    booster.bin_matrix = _timed("ml.booster.bin_matrix", booster.bin_matrix)
    booster.train = _timed(
        "ml.booster.train", booster.train, lambda _a, res: {"trees": len(res.trees)}
    )
    _wrap_method(
        booster.Booster, "predict", "ml.booster.predict", lambda a, _r: {"rows": int(len(a[1]))}
    )
    load_json = booster.Booster.__dict__["load_json"].__func__
    booster.Booster.load_json = classmethod(_timed("ml.booster.load_json", load_json))
    for cls in (comm.SocketComm, booster.LocalComm):
        _wrap_method(cls, "allreduce_sum", "ml.comm.allreduce", _nbytes)
        _wrap_method(cls, "allgather_rows", "ml.comm.allgather", _nbytes)
    _wrap_method(comm.SocketComm, "allgather_bytes", "ml.comm.allgather", _nbytes)

    from pyspark_xgboost_spark.ml import tracker

    tracker.rendezvous = _timed("ml.tracker.rendezvous", tracker.rendezvous)


def main() -> None:
    install()
    import pyspark.daemon as daemon

    worker_main = daemon.worker_main

    def traced_worker_main(infile, outfile):
        try:
            return worker_main(infile, outfile)
        finally:
            _flush()

    daemon.worker_main = traced_worker_main
    daemon.manager()


if __name__ == "__main__":
    main()
