"""Scaling sweep over the bench's headline list (r15, verdict item 8).

The driver's bench measures each query at one SF and one core count; at
sf0.1 most queries are fixed-overhead-bound and the 8-vs-32-core ratios
sit at ~1.0, so plan improvements are invisible in seconds (r14 verdict
"scaling block"). This tool makes core-scaling evidence producible
WITHOUT touching the driver contract (bench.py is unchanged):

  python tools/bench_sweep.py --sf /root/testdata/sf0.1 --cpus 8 \
      [--queries a,b,c | --top N] [--out FILE]
  python tools/bench_sweep.py --compare A.json B.json

- Same headline list (imported from bench.py), same sf0.001 warmup,
  same min-of-two `.count()` methodology, same JSON shape — written to
  a SEPARATE artifact (default BENCH_sweep_<sf>_c<cpus>.json), never to
  BENCH_full_r{N}.json, so sweeps can't masquerade as driver rounds.
- --queries / --top bound the run to a subset (by name, or the N most
  expensive queries per an existing full artifact) so a sweep pair
  costs minutes, not two full bench runs.
- --compare prints per-query ratios between two sweep artifacts
  (A seconds / B seconds), flagging the data-parallel queries (ratio
  well above 1 when A ran on fewer cores).

There is no sf1 data directory in this sandbox (TESTDATA.md: driver-
generated, read-only, sf <= 0.1) — when larger SFs exist, pass them via
--sf and the artifact name picks them up unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)


def compare(path_a: str, path_b: str) -> int:
    a = json.load(open(path_a))["queries"]
    b = json.load(open(path_b))["queries"]
    common = sorted(set(a) & set(b), key=lambda q: -(a[q] or 0))
    print(f"{'query':44s} {'A':>7s} {'B':>7s} {'A/B':>6s}")
    ratios = []
    for q in common:
        if not a[q] or not b[q]:
            continue
        r = a[q] / b[q]
        ratios.append(r)
        print(f"{q:44s} {a[q]:7.3f} {b[q]:7.3f} {r:6.2f}")
    if ratios:
        ratios.sort()
        print(
            f"# n={len(ratios)} median={ratios[len(ratios) // 2]:.2f} "
            f"min={ratios[0]:.2f} max={ratios[-1]:.2f}"
        )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=None)
    ap.add_argument("--queries", default=None, help="comma-separated subset")
    ap.add_argument(
        "--top",
        type=int,
        default=None,
        help="run only the N most expensive queries per --ref artifact",
    )
    ap.add_argument(
        "--ref",
        default=os.path.join(_ROOT, "BENCH_r15_baseline.json"),
        help="full artifact used to rank queries for --top",
    )
    ap.add_argument("--out", default=None)
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), default=None)
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)

    import bench  # the driver-contract headline list, unchanged

    from pyspark_xgboost_spark.registry import all_queries
    from pyspark_xgboost_spark.session import get_spark

    spark = get_spark("bench_sweep", cpus=args.cpus)
    qs = all_queries()
    names = [n for n in bench.HEADLINE if n in qs]
    if args.queries:
        want = set(args.queries.split(","))
        names = [n for n in names if n in want]
    elif args.top:
        ref = json.load(open(args.ref))
        rq = ref.get("queries") or ref.get("parsed", {}).get("queries", {})
        names = sorted(
            (n for n in names if rq.get(n)), key=lambda n: -rq[n]
        )[: args.top]

    warm_dir = os.path.join(
        os.path.dirname(args.sf.rstrip("/")), "sf0.001"
    )
    if not os.path.isdir(warm_dir):
        warm_dir = args.sf
    for name in names:
        try:
            qs[name](spark, warm_dir).count()
        except Exception as exc:  # noqa: BLE001 — warmup is best-effort
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    timings: dict[str, float | None] = {}
    for name in names:
        samples = []
        try:
            for _ in range(2):
                t0 = time.perf_counter()
                qs[name](spark, args.sf).count()
                samples.append(time.perf_counter() - t0)
        except Exception as exc:  # noqa: BLE001
            timings[name] = None
            print(f"# {name}: FAILED ({exc})", file=sys.stderr)
            continue
        timings[name] = round(min(samples), 3)
        print(f"# {name}: {timings[name]:.3f}s", file=sys.stderr)

    try:
        sf = float(args.sf.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0
    cpus = args.cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    out = {
        "metric": "headline_queries_sweep",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "unit": "sec",
        "n_queries": sum(1 for t in timings.values() if t is not None),
        "n_failed": sum(1 for t in timings.values() if t is None),
        "value": round(
            sum(t for t in timings.values() if t is not None), 3
        ),
    }
    path = args.out or os.path.join(_ROOT, f"BENCH_sweep_sf{sf}_c{cpus}.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(json.dumps({"artifact": path, "value": out["value"]}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
