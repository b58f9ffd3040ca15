"""List the driver's 50-query grading window and each query's
attestation history.

The driver grades only the FIRST 50 registered queries each round. The
registry computes that order when it loads, from the committed
CORRECTNESS_r*.json history (see the registry module docstring for the
sort key), so there is no hand-kept list to audit: this tool only shows
the window and what each slot last scored.

Usage:
    python tools/check_window.py
"""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

WINDOW = 50


def row_status(row: dict) -> str:
    """One word for a driver row."""
    if row.get("err") == "no_oracle":
        # the driver's rows-only record: 'ran' vs 'not run' is carried
        # by whether the row count was captured
        return "rows-only-ran" if row.get("spark_rows") is not None else "rows-only-norun"
    if row.get("err"):
        return "ERR"
    if row.get("hash_match") is True:
        return "green"
    if row.get("hash_match") is False:
        return "WRONG"
    if row.get("rows_match") is True:
        return "rows-only-green"
    return "?"


def main() -> None:
    from pyspark_xgboost_spark.registry import (
        all_oracles,
        all_queries,
        correctness_history,
    )

    qs = list(all_queries())
    oracles = all_oracles()
    history = {
        name: (f"r{rnd:02d}", row_status(row))
        for name, (rnd, row) in correctness_history().items()
    }

    window, rest = qs[:WINDOW], qs[WINDOW:]
    print(f"== grading window (first {WINDOW} of {len(qs)}) ==")
    for i, name in enumerate(window, 1):
        rnd, status = history.get(name, ("-", "never-graded"))
        orc = "oracle" if name in oracles else "rows-only"
        print(f"{i:3d}. {name:45s} {orc:9s} last: {rnd} {status}")

    ungraded_out = [n for n in rest if n in oracles and n not in history]
    red_out = [
        n for n in rest if history.get(n, ("", ""))[1] in ("ERR", "WRONG")
    ]
    print(f"\ndisplaced without ANY driver row ({len(ungraded_out)}): {ungraded_out}")
    print(f"displaced with a RED last row ({len(red_out)}): {red_out}")


if __name__ == "__main__":
    main()
