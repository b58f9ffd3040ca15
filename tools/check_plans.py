"""Physical-plan linter: machine version of the per-round anti-pattern
audit.

Builds every registered query's DataFrame (plans only — nothing is
collected; staged-state builders still stage, so the first run costs
about one sweep) and scans the FORMATTED physical plan for the two
unambiguous anti-patterns this repo bans:

- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan. Every
  Python boundary here must be Arrow-batched (ArrowEvalPython,
  mapInPandas/FlatMapGroupsInPandas, applyInPandasWithState). The one
  tolerated variant is the Python UDTF node (``...PythonUDTF``):
  udtf_ngrams exists precisely to cover the UDTF API, which Spark only
  arrow-enables behind a conf.
- ``CartesianProduct`` — an unbroadcast cross join. Dimension-sized
  cross joins must come through F.broadcast (BroadcastNestedLoopJoin),
  which stays allowed and is reported in the stats instead.

Everything else is reported, not gated: per-query Exchange count and
BroadcastNestedLoopJoin presence go into the summary so a reviewer can
eyeball shuffle-heavy or theta-join-heavy queries without reading 425
plans.

Usage: python tools/check_plans.py [sf_dir] [query ...] [--serial]
"""

from __future__ import annotations

import re
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

_WORKERS = 8


def lint_plan(plan: str) -> list[str]:
    """Return the list of violations in one formatted plan string."""
    violations = []
    for line in plan.splitlines():
        if "BatchEvalPython" in line and "UDTF" not in line:
            violations.append(f"row-at-a-time Python UDF: {line.strip()[:90]}")
        if "CartesianProduct" in line:
            violations.append(f"cartesian product: {line.strip()[:90]}")
    return violations


def stats_of(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "arrow_python": len(
            re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)
        ),
    }


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--serial"]
    serial = "--serial" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    from pyspark_xgboost_spark.registry import all_queries
    from pyspark_xgboost_spark.session import get_spark
    from tests.test_plans import plan_of

    spark = get_spark("plan-lint")
    qs = all_queries()
    todo = [n for n in qs if not only or n in only]
    results: dict[str, tuple[list[str], dict]] = {}
    errs: dict[str, str] = {}
    lock = threading.Lock()

    def run(name):
        sess = spark if serial else spark.newSession()
        try:
            plan = plan_of(qs[name](sess, sf_dir))
        except Exception as exc:  # noqa: BLE001 — report, keep sweeping
            with lock:
                errs[name] = f"{type(exc).__name__}: {exc}"
            return
        v, s = lint_plan(plan), stats_of(plan)
        with lock:
            results[name] = (v, s)
        tag = "FAIL" if v else "PASS"
        extra = f" [{'; '.join(v)}]" if v else ""
        print(
            f"{tag} {name} (exchanges={s['exchanges']} bnlj={s['bnlj']} "
            f"arrow={s['arrow_python']}){extra}",
            flush=True,
        )

    if serial or len(todo) == 1:
        for n in todo:
            run(n)
    else:
        with ThreadPoolExecutor(max_workers=_WORKERS) as ex:
            list(ex.map(run, todo))

    for n, msg in sorted(errs.items()):
        print(f"ERR  {n}: {msg}")
    n_fail = sum(1 for v, _ in results.values() if v)
    bnlj = sorted(n for n, (_, s) in results.items() if s["bnlj"])
    heavy = sorted(
        results, key=lambda n: -results[n][1]["exchanges"]
    )[:10]
    print(
        f"\n{len(results) - n_fail} clean, {n_fail} violations, "
        f"{len(errs)} errors"
    )
    print(f"broadcast-NLJ queries ({len(bnlj)}): {bnlj}")
    print(
        "most exchanges: "
        + ", ".join(f"{n}={results[n][1]['exchanges']}" for n in heavy)
    )
    return 1 if n_fail or errs else 0


if __name__ == "__main__":
    raise SystemExit(main())
