"""Generate QUERIES.md — the user-facing catalog of every registered
query — from the registry itself, so the inventory can never drift from
the code (tests/test_relational.py::test_query_catalog_is_current pins
freshness).

Usage: python tools/gen_catalog.py [--check]
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

HEADER = """# QUERIES — registered operator catalog (generated)

One row per `queries()` entry, in name order (the grading order moves
with every round's CORRECTNESS artifact; `tools/check_window.py` lists
it). Generated by `tools/gen_catalog.py` from the registry — regenerate
after adding an operator (a test pins freshness). `oracle` =
hash-compared against DuckDB at sf0.01; rows-only queries carry
goldens/property tests instead.

| # | query | check | summary |
|---|---|---|---|
"""


def render() -> str:
    from pyspark_xgboost_spark import registry

    qs = registry.all_queries()
    oracles = registry.all_oracles()
    lines = [HEADER]
    for i, (name, fn) in enumerate(sorted(qs.items()), 1):
        doc = (fn.__doc__ or "").strip().splitlines()
        summary = doc[0].rstrip() if doc else ""
        while summary.endswith(("—", "-", ":")):
            summary = summary[:-1].rstrip()
        kind = "oracle" if name in oracles else "rows-only"
        summary = summary.replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {kind} | {summary} |\n")
    return "".join(lines)


def main() -> int:
    text = render()
    path = os.path.join(_ROOT, "QUERIES.md")
    if "--check" in sys.argv:
        with open(path) as fh:
            if fh.read() != text:
                print("QUERIES.md is stale — run python tools/gen_catalog.py")
                return 1
        print("QUERIES.md is current")
        return 0
    with open(path, "w") as fh:
        fh.write(text)
    print(f"wrote {path} ({text.count(chr(10))} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
