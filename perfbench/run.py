"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload gbt --seed 1 --seconds 8 --trace 0

Workloads are ``gbt`` and ``query_mix`` (see README.md). With ``--trace 0`` the last stdout line carries the
end-to-end metrics; with ``--trace 1`` it carries the per-layer metrics
of a traced run. Every run writes a full artifact under
``.perfbench_out/`` for ``perfbench/report.py``.

``--record`` runs one cycle and stores its outputs as the expected
values of the seed's input variant in ``expected.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import signal
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 170

sys.path.insert(0, HERE)


class Timeout(Exception):
    pass


def _on_alarm(_signum, _frame):
    raise Timeout(f"run exceeded {DEADLINE_S}s")


def _prepare_env(run_id: str, trace: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "trace", "eventlog")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["work"] = work
    tmp_ns = f"_perfbench_{run_id}"
    hook = [os.path.join(HERE, "worker_hook")] if trace else []
    pythonpath = [ROOT, *hook] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_GRAFT_TMP_NS=tmp_ns,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONPATH=":".join(pythonpath),
        PERFBENCH_TRACE_DIR=dirs["trace"],
    )
    sys.path.insert(0, ROOT)
    dirs["tmp_ns"] = tmp_ns
    return dirs


def _spark_confs(dirs: dict, trace: bool) -> dict:
    from pb import harness

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        # no hsperfdata file: the JVM writes it under /tmp whatever tmpdir says
        # the whole heap is committed at start, so its growth is not timed
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData -Xms{harness.DRIVER_MEMORY}"
        ),
    }
    if trace:
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + dirs["eventlog"],
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.python.daemon.module": "perfbench_daemon",
            }
        )
    return confs


def _write_artifact(record: dict) -> str:
    out_dir = os.path.join(ROOT, ".perfbench_out", record["workload"])
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"seed{record['seed']}-trace{record['trace']}-{time.time_ns()}.json"
    )
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    return path


def run(args) -> int:
    from pb import harness
    from pb.inputs import variant_of
    from pb.workloads import WORKLOADS

    trace = bool(args.trace)
    variant = variant_of(args.seed)
    run_id = f"{args.workload}-s{args.seed}-t{int(trace)}-{os.getpid()}-{time.time_ns()}"
    dirs = _prepare_env(run_id, trace)
    with open(EXPECTED) as fh:
        all_expected = json.load(fh)
    expected = all_expected.get(args.workload, {}).get(str(variant), {})
    os.environ["SPARK_GRAFT_CPUS"] = str(harness.CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = harness.DRIVER_MEMORY

    from pyspark_xgboost_spark.session import get_spark

    cpu_before = harness.cpu_times()
    rss = harness.RssSampler()
    rss.start()
    spark = None
    try:
        tracer = triggers = None
        if trace:
            from pb import tracing

            tracer = tracing.Tracer()
            tracing.install_driver_wrappers(tracer)
        spark = get_spark("perfbench", cpus=harness.CPUS, extra_confs=_spark_confs(dirs, trace))
        ctx = harness.Context(spark, args.seed, variant, dirs["work"], expected, tracer)
        ctx.setup_parts["session"] = time.perf_counter() - T_START
        environment = {
            "calibration": {
                "numpy_s": harness.calibrate_numpy(),
                "spark_job_cold_s": harness.calibrate_spark(spark),
                "spark_job_warm_s": harness.calibrate_spark(spark),
            },
            "cpus": harness.CPUS,
            "nproc": os.cpu_count(),
            "python": platform.python_version(),
            "spark": spark.version,
        }
        print(f"# calibration {json.dumps(environment['calibration'])}", file=sys.stderr)
        if trace:
            triggers = []
            listener = tracing.make_stream_listener(triggers)
            spark.streams.addListener(listener)
        workload = WORKLOADS[args.workload]()
        workload.setup(ctx)
        setup_s = time.perf_counter() - T_START
        recorded = {} if args.record else None
        results = harness.measure(ctx, workload, 0 if args.record else args.seconds, recorded)
        environment["calibration"]["cpu_steal_share"] = harness.steal_share(
            cpu_before, harness.cpu_times()
        )
        rss.stop()
        rss.sample()
        if trace:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
            spark.streams.removeListener(listener)
        harness.stop_spark(spark)
        spark = None

        if args.record:
            all_expected.setdefault(args.workload, {})[str(variant)] = recorded
            with open(EXPECTED, "w") as fh:
                json.dump(all_expected, fh, indent=1, sort_keys=True)
                fh.write("\n")
            print(f"# recorded {args.workload} variant {variant}: {recorded}", file=sys.stderr)
            return 0

        failed = sum(not r.ok for r in results)
        if trace:
            from pb import tracing

            eventlogs = os.listdir(dirs["eventlog"])
            metrics = harness.per_layer(
                results,
                tracer,
                triggers,
                tracing.read_worker_spans(dirs["trace"]),
                os.path.join(dirs["eventlog"], eventlogs[0]),
                rss.jvm_peak_mb,
            )
            units = harness.PER_LAYER
        else:
            metrics = harness.end_to_end(results, setup_s, rss.worker_peak_mb)
            units = harness.END_TO_END
        artifact = _write_artifact(
            {
                "workload": args.workload,
                "seed": args.seed,
                "variant": variant,
                "trace": int(trace),
                "seconds": args.seconds,
                "environment": environment,
                "setup_parts": ctx.setup_parts,
                "setup_s": setup_s,
                "ops": [
                    {"kind": r.kind, "latency": r.latency, "ok": r.ok, "error": r.error}
                    for r in results
                ],
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
        print(f"# artifact {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
        result = {
            "correct": failed == 0,
            "attempted": len(results),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        sys.stdout.flush()
        print(json.dumps(result))
        return 0
    finally:
        rss.stop()
        if spark is not None:
            harness.stop_spark(spark)
        harness.cleanup([dirs["work"]], dirs["tmp_ns"])


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=["gbt", "query_mix"])
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=[0, 1], default=0)
    parser.add_argument("--record", action="store_true")
    args = parser.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "pyspark_xgboost_spark", "__init__.py")):
        print(
            "perfbench: pyspark_xgboost_spark/ not found; run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(DEADLINE_S)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
