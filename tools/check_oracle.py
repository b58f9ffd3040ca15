"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet, then compares row count, column names, and
an order-insensitive multiset of stringified rows (columns sorted by
name — the driver's documented compare).

Queries run on a THREAD POOL (the pooled-sweep discipline the contract
tests use): Spark's scheduler interleaves the jobs, DuckDB runs each
oracle on its own cursor, and the staged-state builders serialize on
their build_locks. Each pooled query call gets its own
``spark.newSession()`` clone — SQLConf is per-session, so the conf a
staged-state builder save/restores mid-build (shuffle.partitions,
partitionOverwriteMode) stays on its own clone and can't perturb a
concurrent query's plan. A serial fallback: ``--serial``.

Usage: python tools/check_oracle.py [sf_dir] [query ...] [--serial]
"""

from __future__ import annotations

import math
import sys
import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, "/root/repo")

import duckdb  # noqa: E402

_WORKERS = 8


def norm_val(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and format stably
        if v == 0:
            return "0"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_val(x) for x in v) + "]"
    return str(v)


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter("|".join(norm_val(r[i]) for i in order) for r in rows)


def check_one(spark, cursor, name, fn, oracles, sf_dir):
    """Run one query both ways; return (status, message) where status
    is 'pass' | 'fail' | 'rows-only'."""
    from pyspark.sql.types import (
        ArrayType,
        ByteType,
        IntegerType,
        LongType,
        MapType,
        ShortType,
        StructType,
    )

    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {name}: spark error: {e}"
    # The driver canonicalizes with a pandas sort that dies on
    # unhashable cells — flag ANY nested value, even in rows-only
    # queries (this is what aborted the round-1 grading run).
    # The schema check is authoritative (a column NULL in every
    # sampled row but nested by type must still be flagged); the
    # value scan backstops types the schema can't see (e.g. a UDT
    # surfacing a Python list).
    bad_cols = {
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    }
    for r in srows[:200]:
        for c, v in zip(scols, r):
            if isinstance(v, (list, tuple, dict, set)):
                bad_cols.add(c)
    if bad_cols:
        return "fail", f"FAIL {name}: unhashable (nested) columns {sorted(bad_cols)}"
    if name not in oracles:
        return "rows-only", f"ROWS-ONLY {name}: {len(srows)} rows"
    try:
        # path-dependent oracles (parquet_metadata footer reads)
        # carry the sf0.01 literal the driver grades at; swap in
        # the directory under check so other SFs verify too, and the
        # run's SPARK_GRAFT_TMP_NS into staged-file literals, where
        # formats._prune_staged_path has Spark write them
        from pyspark_xgboost_spark.sources.formats import TMP_NS

        osql = (
            oracles[name]
            .replace("/root/testdata/sf0.01", sf_dir)
            .replace("/tmp/spark_graft_prune/", f"/tmp/spark_graft_prune{TMP_NS}/")
        )
        res = cursor.execute(osql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        # Oracle-typing lint: the driver fetches through pandas
        # (``.df()``), where DuckDB HUGEINT/DECIMAL degrade to
        # float64 — stringifying ``3.0`` where Spark's BIGINT gives
        # ``3``. That red-flagged tpch_q12 and graph_pagerank_fixed
        # in round 4 while this script's fetchall path (Python
        # ints) stayed green. The reliable signal is DuckDB's
        # DECLARED column type, not the pandas dtype: a nullable
        # BIGINT also lands as float64 (NaN) but stringifies
        # identically driver-side (r02–r04 green rows prove it),
        # so flag only non-integer declared types under an
        # integral Spark schema.
        rel = cursor.sql(osql)
        dtypes = dict(zip(rel.columns, [str(t) for t in rel.types]))
    except Exception as e:  # noqa: BLE001
        return "fail", f"FAIL {name}: duckdb error: {e}"
    problems = []
    integral = {
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (ByteType, ShortType, IntegerType, LongType))
    }
    _INT_DUCK = {
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    }
    for c, t in dtypes.items():
        if c in integral and t not in _INT_DUCK:
            problems.append(
                f"oracle-typing: column {c!r} is integral on the "
                f"Spark side but the oracle declares {t} — the "
                f"driver's pandas fetch will stringify it as float "
                f"(CAST the oracle expression AS BIGINT)"
            )
    if len(srows) != len(drows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
    if sorted(scols) != sorted(dcols):
        problems.append(f"cols spark={sorted(scols)} duckdb={sorted(dcols)}")
    if not problems:
        sm = rows_to_multiset(scols, [tuple(r) for r in srows])
        dm = rows_to_multiset(dcols, drows)
        if sm != dm:
            diff_s = list((sm - dm).items())[:3]
            diff_d = list((dm - sm).items())[:3]
            problems.append(f"values spark-only={diff_s} duckdb-only={diff_d}")
    if problems:
        return "fail", f"FAIL {name}: " + "; ".join(problems)
    return "pass", f"PASS {name} ({len(srows)} rows)"


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--serial"]
    serial = "--serial" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from pyspark_xgboost_spark.session import get_spark

    spark = get_spark("oracle-check")
    # Oracle parity requires exact percentiles: outlier_robust_z (and
    # any future percentile consumer) diverges from its exact-median
    # DuckDB oracle if this session conf leaks in as true.
    assert (
        spark.conf.get("spark_graft.approx_percentiles", "false").lower()
        != "true"
    ), "spark_graft.approx_percentiles must be false for oracle parity"
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cursors = threading.local()

    todo = [(n, f) for n, f in qs.items() if not only or n in only]
    results: dict[str, tuple[str, str]] = {}
    out_lock = threading.Lock()

    def run(item, sess=None):
        name, fn = item
        if not hasattr(cursors, "cur"):
            cursors.cur = con.cursor()
        try:
            status, msg = check_one(
                sess or spark, cursors.cur, name, fn, oracles, sf_dir
            )
        except Exception as e:  # noqa: BLE001 — harness bug, not a query verdict
            status, msg = "fail", f"FAIL {name}: harness error: {e}"
        with out_lock:
            results[name] = (status, msg)
            print(msg, flush=True)

    if serial or len(todo) == 1:
        for item in todo:
            run(item)
    else:
        with ThreadPoolExecutor(max_workers=_WORKERS) as ex:
            list(ex.map(lambda item: run(item, spark.newSession()), todo))

    n_pass = sum(1 for s, _ in results.values() if s == "pass")
    n_fail = sum(1 for s, _ in results.values() if s == "fail")
    n_rowsonly = sum(1 for s, _ in results.values() if s == "rows-only")
    print(f"\n{n_pass} pass, {n_fail} fail, {n_rowsonly} rows-only")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
