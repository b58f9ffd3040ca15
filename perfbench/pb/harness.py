"""Run one workload: set up, measure a closed loop of operations, check
outputs, and turn timings and traces into the benchmark's metrics."""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

import numpy as np

from pb import stats

CPUS = 4
DRIVER_MEMORY = "4g"

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_p50_s": "s",
    "op_p75_s": "s",
    "worker_peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

# per-layer metric -> unit; every one is reported on every traced run
# (0 where the workload does not enter the layer)
PER_LAYER = {
    "operators.build_s": "s/op",
    "sources.load_table.calls": "calls/op",
    "sources.load_table.s": "s/op",
    "spark.checkpoint.calls": "calls/op",
    "spark.checkpoint.s": "s/op",
    "streaming.batches": "batches/op",
    "streaming.trigger_s": "s/op",
    "streaming.add_batch_s": "s/op",
    "streaming.commit_s": "s/op",
    "spark.exec_s": "s/op",
    "spark.catalyst.analysis_ms": "ms/op",
    "spark.catalyst.optimization_ms": "ms/op",
    "spark.catalyst.planning_ms": "ms/op",
    "spark.jobs": "jobs/op",
    "spark.stages": "stages/op",
    "spark.tasks": "tasks/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "spark.executor_run_s": "s/op",
    "spark.executor_cpu_s": "s/op",
    "python.data_sent_bytes": "B/op",
    "python.data_received_bytes": "B/op",
    "python.rows_received": "rows/op",
    "python.total_s": "s/op",
    "python.boot_s": "s/op",
    "ml.estimator.driver_s": "s/op",
    "ml.tracker.rendezvous_s": "s/op",
    "ml.tracker.barrier_stage_s": "s/op",
    "ml.data.batches_to_matrices_s": "s/op",
    "ml.booster.compute_bin_edges_s": "s/op",
    "ml.booster.bin_matrix_s": "s/op",
    "ml.booster.train_self_s": "s/op",
    "ml.booster.trees": "trees/op",
    "ml.booster.predict_s": "s/op",
    "ml.booster.predict_rows": "rows/op",
    "ml.booster.load_json_s": "s/op",
    "ml.comm.allreduce_calls": "calls/op",
    "ml.comm.allreduce_bytes": "B/op",
    "ml.comm.allreduce_s": "s/op",
    "ml.comm.allgather_calls": "calls/op",
    "ml.comm.allgather_bytes": "B/op",
    "ml.comm.wait_share": "ratio",
    "mem.jvm_peak_rss_mb": "MB",
    "fit_w2_s": "s/pair",
    "fit_w1_s": "s/pair",
    "fit_w1_over_w2": "ratio",
    "score_rows_per_s": "rows/s",
    "trace.op_p50_s": "s",
    "trace.ops_per_s": "1/s",
    "trace.accounted_share": "ratio",
    "trace.accounted_share_min": "ratio",
}


@dataclass
class Op:
    """One closed-loop operation: ``run`` is timed, ``check`` (untimed)
    returns an error message for a wrong output, or None."""

    kind: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    rows: int = 0
    # name of the span around the whole operation; when it is a layer
    # (a fit is the estimator's own call) its self time is accounted
    root: str = "op"
    root_is_layer: bool = False
    # result -> {expected key: value}; used when recording expected outputs
    record: Callable[[object], dict] | None = None


@dataclass
class OpResult:
    kind: str
    latency: float
    ok: bool
    error: str | None
    start: float
    end: float
    rows: int
    root_is_layer: bool
    root_id: int | None = None


@dataclass
class Context:
    spark: object
    seed: int
    variant: int
    work: str
    expected: dict
    tracer: object | None = None
    setup_parts: dict = field(default_factory=dict)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)

    @contextlib.contextmanager
    def setup_part(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.setup_parts[name] = self.setup_parts.get(name, 0.0) + time.perf_counter() - t0


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------


def _children_map() -> tuple[dict[int, list[int]], dict[int, str]]:
    kids: dict[int, list[int]] = {}
    cmds: dict[int, str] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
            pid = int(stat.split("/")[2])
            ppid = int(data[data.rindex(")") + 2 :].split()[1])
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmds[pid] = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(pid)
    return kids, cmds


def descendants() -> dict[int, str]:
    """pid -> command line of every live descendant of this process."""
    kids, cmds = _children_map()
    out, todo = {}, list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        if pid in cmds:
            out[pid] = cmds[pid]
        todo.extend(kids.get(pid, ()))
    return out


def _peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the peak RSS (VmHWM) of the Python workers and the JVM
    this process started, every ``period`` seconds."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.worker_peak_mb = 0.0
        self.jvm_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period)

    def sample(self) -> None:
        for pid, cmd in descendants().items():
            peak = _peak_rss_mb(pid)
            if "java" in cmd.split(" ", 1)[0]:
                self.jvm_peak_mb = max(self.jvm_peak_mb, peak)
            elif "python" in cmd:
                self.worker_peak_mb = max(self.worker_peak_mb, peak)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def stop_spark(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    with contextlib.suppress(Exception):
        spark.stop()
    if gateway is not None:
        with contextlib.suppress(Exception):
            gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 -- fall through to the kill below
                proc.kill()
                proc.wait(timeout=10)
    reap_children()


def reap_children(timeout: float = 20.0) -> None:
    """Wait until every descendant process has ended; kill the ones
    still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    killed = False
    while live := descendants():
        if time.monotonic() > deadline:
            if killed:
                return
            for pid in live:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
            deadline += 5
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# calibration
# ---------------------------------------------------------------------------


def calibrate_numpy() -> float:
    """Seconds for a fixed unit of numpy work (matmuls plus a sort)."""
    rng = np.random.default_rng(0)
    a = rng.standard_normal((300, 300))
    b = rng.standard_normal(500_000)
    t0 = time.perf_counter()
    for _ in range(20):
        a = a @ a
        a /= np.abs(a).max()
    np.sort(b)
    return time.perf_counter() - t0


def cpu_times() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def calibrate_spark(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 200_000, numPartitions=CPUS).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# measuring
# ---------------------------------------------------------------------------


def run_op(ctx: Context, op: Op, index: int, recorded: dict | None = None) -> OpResult:
    ctx.spark.sparkContext.setJobGroup(f"perfbench-op-{index}", op.kind)
    error = None
    result = None
    start = time.time()
    t0 = time.perf_counter()
    with ctx.span(op.root, kind=op.kind) as rec:
        try:
            result = op.run()
        except Exception as exc:  # noqa: BLE001 -- one failed operation must not end the run
            error = f"{type(exc).__name__}: {exc}"
            traceback.print_exc()
    latency = time.perf_counter() - t0
    end = time.time()
    if error is None and recorded is not None:
        recorded.update(op.record(result))
    elif error is None:
        try:
            error = op.check(result)
        except Exception as exc:  # noqa: BLE001 -- a crashing check is a failed output
            error = f"check raised {type(exc).__name__}: {exc}"
    if error:
        print(f"# FAILED {op.kind}: {error}", file=sys.stderr, flush=True)
    return OpResult(
        op.kind, latency, error is None, error, start, end, op.rows, op.root_is_layer, rec.get("id")
    )


MIN_CYCLES = 3


def measure(ctx: Context, workload, seconds: float, recorded: dict | None = None) -> list[OpResult]:
    """Closed loop, one client: run whole cycles of the workload's
    operations for about ``seconds`` of operation time -- the whole
    number of cycles that comes closest to it, and at least
    ``MIN_CYCLES``, so that every operation kind has a median that
    discards a slow first cycle. Recording expected outputs runs one
    cycle."""
    results: list[OpResult] = []
    cycle = 0
    spent = 0.0
    least = 1 if recorded is not None else MIN_CYCLES
    while cycle < least or spent + spent / cycle / 2 < seconds:
        for op in workload.cycle(ctx, cycle):
            results.append(run_op(ctx, op, len(results), recorded))
            spent += results[-1].latency
        cycle += 1
    return results


def end_to_end(results: list[OpResult], setup_s: float, worker_peak_mb: float) -> dict:
    lat = [r.latency for r in results]
    failed = sum(not r.ok for r in results)
    cycle_s, kinds = stats.typical_cycle([(r.kind, r.latency) for r in results])
    return {
        "setup_s": setup_s,
        "ops_per_s": kinds / cycle_s,
        "op_p50_s": stats.quantile(lat, 0.5),
        "op_p75_s": stats.quantile(lat, 0.75),
        "worker_peak_rss_mb": worker_peak_mb,
        "ok_ratio": (len(results) - failed) / len(results),
    }


def per_kind(results: list[OpResult]) -> dict:
    """Workload-specific readings: fit pair medians and scoring rate."""
    out = {"fit_w2_s": 0.0, "fit_w1_s": 0.0, "fit_w1_over_w2": 0.0, "score_rows_per_s": 0.0}
    for w in (2, 1):
        reg = [r.latency for r in results if r.kind == f"fit:reg:w{w}"]
        clf = [r.latency for r in results if r.kind == f"fit:clf:w{w}"]
        pairs = [a + b for a, b in zip(reg, clf)]
        if pairs:
            out[f"fit_w{w}_s"] = statistics.median(pairs)
    if out["fit_w2_s"]:
        out["fit_w1_over_w2"] = out["fit_w1_s"] / out["fit_w2_s"]
    scored = [r for r in results if r.kind.startswith("score:")]
    if scored:
        out["score_rows_per_s"] = sum(r.rows for r in scored) / sum(r.latency for r in scored)
    return out


def cleanup(paths: list[str], tmp_ns: str) -> None:
    for path in paths:
        shutil.rmtree(path, ignore_errors=True)
    # the program stages under /tmp with a per-run namespace suffix
    if tmp_ns:
        for path in glob.glob(f"/tmp/spark_*{tmp_ns}"):
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def _inclusive(tree: list[dict], name: str) -> tuple[int, float]:
    spans = [s for s in tree if s["name"] == name]
    return len(spans), stats.union_length((s["start"], s["end"]) for s in spans)


def _op_layers(r: OpResult, tree: list[dict], breakdown: dict, ev: dict, workers: list[dict]) -> dict:
    selfs = breakdown["self"]
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update({k: v for k, v in ev.items() if k in out})
    out["operators.build_s"] = _inclusive(tree, "operators.build")[1]
    n, t = _inclusive(tree, "sources.load_table")
    out["sources.load_table.calls"], out["sources.load_table.s"] = n, t
    n, t = _inclusive(tree, "spark.checkpoint")
    out["spark.checkpoint.calls"], out["spark.checkpoint.s"] = n, t
    out["spark.exec_s"] = _inclusive(tree, "spark.action")[1]
    names = {s["id"]: s["name"] for s in tree}
    for s in tree:
        name = s["name"]
        if name == "streaming.trigger":
            out["streaming.batches"] += 1
            out["streaming.trigger_s"] += s["end"] - s["start"]
            out["streaming.add_batch_s"] += s["add_batch_s"]
            out["streaming.commit_s"] += s["commit_s"]
        elif name == "spark.action" and names.get(s["parent"]) != "spark.action":
            # the outermost action: a nested one (take inside head) is
            # the same query execution
            for phase in ("analysis", "optimization", "planning"):
                out[f"spark.catalyst.{phase}_ms"] += s.get(f"{phase}_ms", 0.0)
        elif name == "ml.booster.train":
            out["ml.booster.trees"] += s.get("trees", 0)
        elif name == "ml.comm.allreduce":
            out["ml.comm.allreduce_calls"] += 1
            out["ml.comm.allreduce_bytes"] += s.get("bytes", 0)
        elif name == "ml.comm.allgather":
            out["ml.comm.allgather_calls"] += 1
            out["ml.comm.allgather_bytes"] += s.get("bytes", 0)
    out["ml.comm.allreduce_s"] = selfs.get("ml.comm.allreduce", 0.0)
    out["ml.estimator.driver_s"] = selfs.get("ml.estimator.fit", 0.0)
    for key, span in (
        ("ml.tracker.rendezvous_s", "ml.tracker.rendezvous"),
        ("ml.data.batches_to_matrices_s", "ml.data.batches_to_matrices"),
        ("ml.booster.compute_bin_edges_s", "ml.booster.compute_bin_edges"),
        ("ml.booster.bin_matrix_s", "ml.booster.bin_matrix"),
        ("ml.booster.train_self_s", "ml.booster.train"),
        ("ml.booster.predict_s", "ml.booster.predict"),
        ("ml.booster.load_json_s", "ml.booster.load_json"),
    ):
        out[key] = selfs.get(span, 0.0)
    # rows scored count every worker, not only the blocking one
    out["ml.booster.predict_rows"] = sum(
        w.get("rows", 0) for w in workers
        if w["name"] == "ml.booster.predict" and r.start <= w["start"] and w["end"] <= r.end
    )
    return out


def _wait_share(r: OpResult, workers: list[dict]) -> float:
    """Allreduce time over the train span, max over ranks."""
    best = 0.0
    for t in workers:
        if t["name"] != "ml.booster.train" or not (r.start <= t["start"] and t["end"] <= r.end):
            continue
        reduce_s = sum(
            w["end"] - w["start"] for w in workers
            if w["name"] == "ml.comm.allreduce" and w["pid"] == t["pid"]
            and t["start"] <= w["start"] and w["end"] <= t["end"]
        )
        best = max(best, reduce_s / max(t["end"] - t["start"], 1e-9))
    return best


def per_layer(results, tracer, triggers, workers, eventlog_path, jvm_peak_mb) -> dict:
    from pb import eventlog, tracing

    by_id = {s["id"]: s for s in tracer.spans}
    summaries = eventlog.summarize_ops(eventlog_path, [(r.start, r.end) for r in results])
    rows, walls, accounted = [], [], []
    for r, ev in zip(results, summaries):
        tree = tracing.build_op_tree(by_id[r.root_id], tracer.spans, triggers, workers)
        breakdown = tracing.layer_breakdown(tree, r.root_is_layer)
        rows.append(_op_layers(r, tree, breakdown, ev, workers))
        walls.append(breakdown["wall"])
        accounted.append(breakdown["accounted_share"])
    out = {k: sum(row[k] for row in rows) / len(rows) for k in PER_LAYER}
    w2 = [_wait_share(r, workers) for r in results if r.kind.endswith(":w2")]
    out["ml.comm.wait_share"] = statistics.median(w2) if w2 else 0.0
    out["mem.jvm_peak_rss_mb"] = jvm_peak_mb
    out.update(per_kind(results))
    lat = [r.latency for r in results]
    out["trace.op_p50_s"] = stats.quantile(lat, 0.5)
    cycle_s, kinds = stats.typical_cycle([(r.kind, r.latency) for r in results])
    out["trace.ops_per_s"] = kinds / cycle_s
    out["trace.accounted_share"] = sum(a * w for a, w in zip(accounted, walls)) / sum(walls)
    out["trace.accounted_share_min"] = min(accounted)
    return out
