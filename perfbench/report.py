"""Print or diff benchmark artifacts.

    python3 perfbench/report.py [PATH ...]
    python3 perfbench/report.py --diff BASE_PATH NEW_PATH

A PATH is an artifact file or a directory searched for them (default
``.perfbench_out``). The report prints, per workload and per traced or
untraced run, every metric with its unit, median, quartiles and sample
count; then the calibration readings and the tracing overhead (the
traced operation median minus the untraced one). ``--diff`` compares
the medians of two artifact sets and ranks the per-layer changes of
each workload by their relative size.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pb.stats import quartiles  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    files: list[str] = []
    for p in paths:
        files += sorted(glob.glob(os.path.join(p, "**", "*.json"), recursive=True)) if os.path.isdir(p) else [p]
    out = []
    for f in files:
        with open(f) as fh:
            record = json.load(fh)
        if "workload" in record and "metrics" in record:
            out.append(record)
    return out


def group(records: list[dict]) -> dict[tuple[str, int], dict[str, tuple[str, list[float]]]]:
    """(workload, trace) -> metric -> (unit, values)."""
    out: dict = defaultdict(dict)
    for r in records:
        metrics = out[(r["workload"], r["trace"])]
        for name, m in r["metrics"].items():
            metrics.setdefault(name, (m["unit"], []))[1].append(m["value"])
    return out


def _median(values: list[float]) -> float:
    return quartiles(values)[1]


def print_report(records: list[dict]) -> None:
    for (workload, trace), metrics in sorted(group(records).items()):
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}) ==")
        print(f"{'metric':36s} {'unit':>10s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'n':>4s}")
        for name, (unit, values) in metrics.items():
            q1, med, q3 = quartiles(values)
            print(f"{name:36s} {unit:>10s} {med:14.6g} {q1:14.6g} {q3:14.6g} {len(values):4d}")
    calib = defaultdict(list)
    for r in records:
        for k, v in r.get("environment", {}).get("calibration", {}).items():
            calib[k].append(v)
    if calib:
        print("\n== calibration (environment reading, not gated) ==")
        for k, values in sorted(calib.items()):
            q1, med, q3 = quartiles(values)
            unit = "share" if k.endswith("_share") else "s"
            print(f"{k:36s} {unit:>10s} {med:14.6g} {q1:14.6g} {q3:14.6g} {len(values):4d}")
    grouped = group(records)
    overhead = []
    for (workload, trace), metrics in sorted(grouped.items()):
        plain = grouped.get((workload, 0), {})
        if trace and "trace.op_p50_s" in metrics and "op_p50_s" in plain:
            traced, untraced = _median(metrics["trace.op_p50_s"][1]), _median(plain["op_p50_s"][1])
            overhead.append((workload, traced, untraced))
    if overhead:
        print("\n== tracing overhead (traced op_p50_s - untraced op_p50_s) ==")
        for workload, traced, untraced in overhead:
            print(
                f"{workload:20s} traced {traced:.4f}s untraced {untraced:.4f}s "
                f"overhead {traced - untraced:+.4f}s ({(traced - untraced) / untraced:+.1%})"
            )


def print_diff(base: list[dict], new: list[dict]) -> None:
    gb, gn = group(base), group(new)
    for key in sorted(set(gb) & set(gn)):
        workload, trace = key
        rows = []
        for name, (unit, values) in gn[key].items():
            if name not in gb[key]:
                continue
            b, n = _median(gb[key][name][1]), _median(values)
            if b == 0 and n == 0:
                continue
            rel = (n - b) / abs(b) if b else float("inf")
            rows.append((abs(rel), name, unit, b, n, rel))
        print(f"\n== {workload} ({'traced' if trace else 'untraced'}): base -> new, largest change first ==")
        for _, name, unit, b, n, rel in sorted(rows, reverse=True):
            print(f"{name:36s} {unit:>10s} {b:14.6g} -> {n:14.6g} {rel:+9.1%}")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("paths", nargs="*", default=[".perfbench_out"])
    parser.add_argument("--diff", nargs=2, metavar=("BASE", "NEW"))
    args = parser.parse_args()
    if args.diff:
        print_diff(load([args.diff[0]]), load([args.diff[1]]))
        return 0
    records = load(args.paths)
    if not records:
        print("no artifacts found", file=sys.stderr)
        return 1
    print_report(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
