"""Oracle-typing lint, as a permanent CI gate.

Round 4's only red driver rows (tpch_q12, graph_pagerank_fixed) were
DuckDB HUGEINT sums: the driver fetches oracle results through pandas
(``.df()``), where HUGEINT/DECIMAL degrade to float64, stringifying
``3.0`` where Spark's BIGINT gives ``3`` — rows and schema match, the
value hash doesn't. Every aggregate oracle must therefore CAST to a
type that survives the pandas fetch. This test sweeps ALL registered
oracles' DECLARED output types via ``con.sql(...).types`` (no
execution of Spark, fast) and fails on any HUGEINT/UHUGEINT/DECIMAL
output column.

A nullable BIGINT also lands as float64 (NaN) in pandas but
stringifies identically driver-side — r02–r04 green rows for
join_asof / scalar_try_cast / stream left-outer prove that's safe —
so declared types, not pandas dtypes, are the right signal.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import ROOT, SF_DIR

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_BANNED = ("HUGEINT", "UHUGEINT")


# Runnable standalone: the ~18s DuckDB planning sweep needs no Spark,
# so conftest launches it as a subprocess at COLLECTION time and the
# test only joins — pure wall-clock overlap with the rest of the suite.
_TYPING_SCRIPT = f"""
import sys
sys.path.insert(0, {ROOT!r})
from tests.test_oracle_typing import _run_typing_sweep
sys.exit(_run_typing_sweep())
"""


def _stage_tmp_standins(oracles) -> None:
    """A handful of oracles read a STAGED scratch parquet under /tmp
    (today: scan_rowgroup_pruning_sim's parquet_metadata() input). The
    Spark query stages it lazily, so on a fresh host this sweep —
    which only PLANS the SQL — would fail on the missing file. Write a
    minimal schema-bearing stand-in beside it and hard-link it into
    place only if the path is still free: a builder that staged the
    real file first is never clobbered, and one that finishes later
    replaces the stand-in (it records no build, so the real builder
    still stages the proper layout before any query reads it)."""
    import re

    paths = set()
    for sql in oracles.values():
        paths.update(re.findall(r"/tmp/[\w/.\-]+\.parquet", sql))
    for p in paths:
        if os.path.exists(p):
            continue
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = f"{p}.standin-{os.getpid()}"
        try:
            duckdb.sql(
                "COPY (SELECT CAST(1 AS BIGINT) AS l_orderkey,"
                " CAST(1 AS BIGINT) AS l_quantity,"
                " CAST(1 AS BIGINT) AS l_extendedprice)"
                f" TO '{tmp}' (FORMAT PARQUET)"
            )
            os.link(tmp, p)
        except FileExistsError:
            pass  # the real file (or another stand-in) got there first
        except Exception as exc:  # pragma: no cover — lost race
            print(f"stand-in staging for {p} failed: {exc}")
        finally:
            if os.path.exists(tmp):
                os.remove(tmp)


def _run_typing_sweep() -> int:
    """Returns 0 when every oracle's declared types are pandas-safe;
    prints offenders and returns 1 otherwise."""
    from pyspark_xgboost_spark import registry

    oracles = registry.all_oracles()
    if len(oracles) < 119:
        print(f"suspiciously few oracles registered: {len(oracles)}")
        return 1
    _stage_tmp_standins(oracles)

    from concurrent.futures import ThreadPoolExecutor

    def check_chunk(chunk):
        # one connection per worker: duckdb connections are not
        # thread-safe, but planning releases the GIL, so 8 workers
        # shrink the ~300-oracle sweep from ~12s to ~3s
        con = duckdb.connect()
        for t in _TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/{t}.parquet')"
            )
        found = []
        for name, sql in chunk:
            rel = con.sql(sql)
            for col, typ in zip(rel.columns, [str(x) for x in rel.types]):
                if typ in _BANNED or typ.startswith("DECIMAL"):
                    found.append((name, col, typ))
        return found

    items = list(oracles.items())
    nw = 8
    chunks = [items[i::nw] for i in range(nw)]
    offenders = []
    with ThreadPoolExecutor(max_workers=nw) as ex:
        for found in ex.map(check_chunk, chunks):
            offenders.extend(found)
    if offenders:
        print(
            "oracles emitting pandas-degrading types (CAST AS BIGINT/"
            f"DOUBLE): {offenders}"
        )
        return 1
    return 0


def test_no_oracle_emits_hugeint_or_decimal(request):
    proc = getattr(request.config, "_typing_proc", None)
    if proc is not None:
        request.config._typing_proc = None  # consumed
        out, _ = proc.communicate(timeout=600)
        tail = "\n".join(out.splitlines()[-10:])
        assert proc.returncode == 0, f"typing sweep failed:\n{tail}"
        return
    assert _run_typing_sweep() == 0


def test_duckdb_integer_division_truncates_like_spark_div():
    """The cross-engine division contract every integer-DP oracle rides
    on: DuckDB 1.0's INTEGER // and % truncate toward zero exactly like
    Spark's div/% (verified -7 // 2 = -3; Python's // floors). If a
    DuckDB upgrade ever switches to floor semantics, this reds before
    any negative-operand oracle silently diverges — the prose contract
    lives at scalar_intdiv_contract and operators/temporal._td."""
    import duckdb

    assert duckdb.sql(
        "SELECT -7 // 2, 7 // -2, -7 % 2, 7 % -2"
    ).fetchone() == (-3, -3, -1, 1)
