"""Operator smoke + semantics tests at sf0.001.

The heavyweight correctness gate is the DuckDB oracle compare
(tools/check_oracle.py, driver-run at sf0.01); these tests pin cheap
invariants so a refactor that breaks an operator fails fast.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from pyspark_xgboost_spark.registry import all_oracles, all_queries
from tests.conftest import ROOT, SF_DIR


def test_every_oracle_has_query():
    qs, oracles = all_queries(), all_oracles()
    assert set(oracles) <= set(qs)


# Streaming runs through the custom Python DataSource execute their full
# multi-batch poll loop even under limit(5) — each already has a dedicated
# end-to-end contract test in tests/test_sources.py, so the generic smoke
# skips them to keep the suite inside its time budget.
_SMOKE_SKIP = {
    "scan_python_datasource_stream",
    "sink_python_datasource_stream_write",
}


def _smoke_one(spark, name):
    df = all_queries()[name](spark, SF_DIR)
    rows = df.limit(5).collect()
    assert df.columns, name
    assert rows is not None


# sink_dynamic_partition_overwrite flips the session-wide
# partitionOverwriteMode conf around its write; the only other query
# whose write semantics that conf touches is the partitioned parquet
# sink — keep the pair on one sequential mini-lane so the conf window
# cannot straddle the other's overwrite.
_OVERWRITE_LANE = ("sink_dynamic_partition_overwrite", "sink_parquet_partitioned")

# the docbin Python-DataSource family shares spark.dataSource.register
# (a session-global registry whose concurrent registration is not
# thread-safe — racing it intermittently fails the subsequent
# .format("docbin") resolution) — one sequential mini-lane. ALL FOUR
# family members belong here: round 11's wider pool let the stream
# pair overlap the batch writer's save(), which reproduced the
# DATA_SOURCE_NOT_FOUND lookup race ~deterministically (registration
# itself is also now serialized process-side via
# formats._register_docbin, but the lookup path races too).
_DOCBIN_LANE = (
    "scan_python_datasource",
    "sink_python_datasource_write",
    "scan_python_datasource_stream",
    "sink_python_datasource_stream_write",
)


def _smoke_lanes():
    """Partition the smoke set into concurrency lanes.

    Since round 11 EVERY check-marker-then-build staging section in
    the repo takes a build_lock (sources/formats.py), so concurrent
    builders of the SAME artifact serialize on the artifact itself —
    the old per-module sequential lanes (which made the two staging
    modules the sweep's 25-30s critical path) collapse into one wide
    pool. Spark's scheduler interleaves the jobs; results are
    partition-count-invariant by design, so the transient shuffle-conf
    writes the streaming helpers make cannot change any answer. The
    remaining lanes are the partition-overwrite conf pair and the
    docbin registration pair."""
    names = sorted(set(all_queries()) - _SMOKE_SKIP)
    laned = set(_OVERWRITE_LANE) | set(_DOCBIN_LANE)
    return {
        "overwrite": [n for n in _OVERWRITE_LANE if n in names],
        "docbin": [n for n in _DOCBIN_LANE if n in names],
        "pool": [n for n in names if n not in laned],
    }


# The sweep body, runnable as a standalone SUBPROCESS: its own Spark
# session (the sweep is Python-driver/GIL-bound, so a second process is
# the only real parallelism), its own TMP_NS-namespaced staging tree and
# warehouse dir (zero filesystem contention with the main suite's
# queries), launched at pytest COLLECTION time by conftest so its ~30s
# fully overlap the rest of the suite — the local-cluster test's
# discipline applied to the smoke sweep.
_SWEEP_SCRIPT = f"import sys\nsys.path.insert(0, {ROOT!r})\n" + r"""
import json, os
os.environ["SPARK_GRAFT_TMP_NS"] = "_sweep"
from concurrent.futures import ThreadPoolExecutor
from pyspark_xgboost_spark.session import get_spark
from tests.test_relational import _smoke_lanes, _smoke_one

spark = get_spark(
    "smoke-sweep",
    cpus=12,
    extra_confs={"spark.sql.warehouse.dir": "/tmp/spark_sweep_wh"},
)
lanes = _smoke_lanes()
failures = []

def run_one(name):
    try:
        _smoke_one(spark, name)
    except Exception as e:
        failures.append((name, repr(e)[:300]))

def run_lane(names):
    for n in names:
        run_one(n)

with ThreadPoolExecutor(max_workers=24) as ex:
    futs = [ex.submit(run_lane, lanes[k]) for k in lanes if k != "pool"]
    futs += [ex.submit(run_one, n) for n in lanes["pool"]]
    for f in futs:
        f.result()
print("SWEEP_RESULT " + json.dumps(failures))
sys.exit(1 if failures else 0)
"""


def test_query_runs_all(request, spark):
    """Every registered query runs and yields a stable schema at
    sf0.001 — executed as a THREAD-PARALLEL sweep (a 24-wide pool +
    the overwrite-conf mini-lane; shared staging serializes on
    build_lock) instead of ~360 sequential pytest cases. In a full
    suite run the sweep was already LAUNCHED AT COLLECTION TIME in an
    isolated subprocess (see _SWEEP_SCRIPT) and this test only joins
    it; targeted runs fall back to the same sweep in-process."""
    proc = getattr(request.config, "_sweep_proc", None)
    if proc is not None:
        request.config._sweep_proc = None  # consumed
        out, _ = proc.communicate(timeout=900)
        tail = "\n".join(out.splitlines()[-15:])
        assert proc.returncode == 0, f"sweep subprocess failed:\n{tail}"
        return

    from concurrent.futures import ThreadPoolExecutor

    lanes = _smoke_lanes()
    failures: list[tuple[str, str]] = []

    def run_one(name):
        try:
            _smoke_one(spark, name)
        except Exception as e:  # noqa: BLE001
            failures.append((name, repr(e)[:300]))

    def run_lane(names):
        for n in names:
            run_one(n)

    with ThreadPoolExecutor(max_workers=24) as ex:
        futs = [
            ex.submit(run_lane, lanes[k]) for k in lanes if k != "pool"
        ]
        futs += [ex.submit(run_one, n) for n in lanes["pool"]]
        for f in futs:
            f.result()
    assert not failures, failures


def _chk_agg_group_semantics(spark):
    from pyspark_xgboost_spark.operators.relational import agg_group

    rows = {(r.l_returnflag, r.l_linestatus): r for r in agg_group(spark, SF_DIR).collect()}
    assert len(rows) >= 3
    for r in rows.values():
        assert r.count_order > 0
        assert r.sum_disc_price <= r.sum_base_price  # discount only reduces
        assert abs(r.avg_qty - r.sum_qty / r.count_order) < 1e-9


def _chk_window_rank_topk(spark):
    from pyspark_xgboost_spark.operators.relational import window_rank

    df = window_rank(spark, SF_DIR).collect()
    per_cust: dict[int, list] = {}
    for r in df:
        per_cust.setdefault(r.o_custkey, []).append(r)
    for _, rs in per_cust.items():
        assert len(rs) <= 3
        prices = [r.o_totalprice for r in sorted(rs, key=lambda r: r.rn)]
        assert prices == sorted(prices, reverse=True)


def _chk_session_window_counts(spark):
    from pyspark_xgboost_spark.streaming.windows import events_session_window
    from pyspark_xgboost_spark.sources import load_table

    total_events = load_table(spark, SF_DIR, "events").count()
    sessions = events_session_window(spark, SF_DIR).collect()
    assert sum(r.n_events for r in sessions) == total_events


def _chk_semi_plus_anti_covers_all(spark):
    from pyspark_xgboost_spark.operators.relational import join_semi_anti
    from pyspark_xgboost_spark.sources import load_table

    rows = {r.kind: r.n for r in join_semi_anti(spark, SF_DIR).collect()}
    n_cust = load_table(spark, SF_DIR, "customer").count()
    assert rows["with_orders"] + rows["without_orders"] == n_cust


def _chk_conf_bool_parsing(spark):
    from pyspark_xgboost_spark.utils import get_conf_boolean

    spark.conf.set("my.test.flag", "true")
    assert get_conf_boolean(spark, "my.test.flag", False) is True
    spark.conf.set("my.test.flag", "False")
    assert get_conf_boolean(spark, "my.test.flag", True) is False
    assert get_conf_boolean(spark, "my.test.unset.flag", True) is True
    spark.conf.set("my.test.flag", "yes")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        get_conf_boolean(spark, "my.test.flag", False)


def _chk_multimodal_resize_golden(spark):
    import hashlib

    from pyspark_xgboost_spark.operators.multimodal import (
        _RESIZE_TARGET,
        multimodal_resize,
    )
    from pyspark_xgboost_spark.sources import load_table

    out = {r.doc_id: r for r in multimodal_resize(spark, SF_DIR).collect()}
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text").collect()
    assert len(out) == len(docs)
    for r in docs[:50]:
        raw = r.text.encode("utf-8")
        row = out[r.doc_id]
        assert row.orig_bytes == len(raw)
        assert row.out_bytes == min(len(raw), _RESIZE_TARGET)
        # byte-exact: the hex wire format decodes to the raw crop
        assert bytes.fromhex(row.resized_hex) == raw[:_RESIZE_TARGET]
        assert row.digest == hashlib.md5(row.resized_hex.encode()).hexdigest()


def _chk_variant_extract_matches_json_path(spark):
    """VARIANT extraction must agree with string-path JSON extraction
    row-for-row (same parse, different representation)."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.temporal import scalar_variant_extract
    from pyspark_xgboost_spark.sources import load_table

    got = {r["k_mod"]: (r["n"], r["sum_value_cents"])
           for r in scalar_variant_extract(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    want = {
        r["k_mod"]: (r["n"], r["c"])
        for r in ev.select(k.alias("k"), "value")
        .filter(F.col("k").isNotNull())
        .groupBy((F.col("k") % 7).alias("k_mod"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("c"),
        )
        .collect()
    }
    assert got == want


def _chk_hll_sketch_accuracy_and_merge(spark):
    """Sketch estimates stay within 5% of exact distinct counts, and
    the ALL row (union of per-type sketches) respects cardinality
    bounds: >= max per-type estimate, <= sum of them, ~= exact
    global."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.ml_queries import approx_distinct_mergeable
    from pyspark_xgboost_spark.sources import load_table

    rows = {r["event_type"]: r["approx_users"]
            for r in approx_distinct_mergeable(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    exact["ALL"] = ev.select("user_id").distinct().count()
    for k, est in rows.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])
    per_type = [v for k, v in rows.items() if k != "ALL"]
    assert max(per_type) <= rows["ALL"] <= sum(per_type)


def _chk_cumulative_distinct_matches_python_recompute(spark):
    from pyspark_xgboost_spark.operators.temporal import (
        window_cumulative_distinct,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    got = window_cumulative_distinct(spark, SF_DIR).collect()
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("event_id", "user_id", "ts", "event_type")
        .collect()
    )
    import collections

    by_user = collections.defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    expect = {}
    for rs in by_user.values():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        seen = set()
        for r in rs:
            seen.add(r["event_type"])
            expect[r["event_id"]] = len(seen)
    assert {r["event_id"]: r["n_types_so_far"] for r in got} == expect


def _chk_array_ops_match_python_recompute(spark):
    from pyspark_xgboost_spark.operators.relational import scalar_array_ops
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    got = {r["vec_id"]: r for r in scalar_array_ops(spark, SF_DIR).collect()}
    src = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding"
    ).collect()
    assert set(got) == {r["vec_id"] for r in src}
    for r in src[:25]:
        # floor, like the operator (round would be a THIRD semantics —
        # Python banker's — on top of the Spark/DuckDB divergence the
        # floor quantizer exists to avoid), and the product in FLOAT32
        # like both engines: embedding is float32 and FLOAT * INT stays
        # FLOAT in Spark and DuckDB, so a float64 multiply here would
        # floor one lower at components whose exact product sits within
        # half a float32 ulp below an integer
        milli = [
            math.floor(np.float32(x) * np.float32(1000))
            for x in r["embedding"]
        ]
        g = got[r["vec_id"]]
        assert g["n_dims"] == len(milli)
        assert g["sumsq_milli2"] == sum(x * x for x in milli)
        assert g["max_milli"] == max(milli)
        assert g["dot_rev_milli2"] == sum(
            a * b for a, b in zip(milli, reversed(milli))
        )


def _chk_null_safe_join_keeps_nulled_key(spark):
    from pyspark_xgboost_spark.operators.relational import join_null_safe
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    from pyspark.sql import functions as F

    got = {r["name"]: r["n"] for r in join_null_safe(spark, SF_DIR).collect()}
    counts = {
        r["o_orderstatus"]: r["cnt"]
        for r in load_table(spark, SF_DIR, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    # the 'P' rows join through the NULL key — a plain equi join would
    # return no 'P' group at all
    assert got == counts and "P" in got


def _chk_except_intersect_all_multiplicity_arithmetic(spark):
    import collections

    from pyspark_xgboost_spark.operators.relational import (
        setop_except_intersect_all,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    rows = setop_except_intersect_all(spark, SF_DIR).collect()
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).collect()
    ca = collections.Counter(
        r["o_orderpriority"] for r in orders if r["o_orderstatus"] == "O"
    )
    cb = collections.Counter(
        r["o_orderpriority"] for r in orders if r["o_orderstatus"] == "F"
    )
    expect = {}
    for p in set(ca) | set(cb):
        if ca[p] - cb[p] > 0:
            expect[("except_all", p)] = ca[p] - cb[p]
        if min(ca[p], cb[p]) > 0:
            expect[("intersect_all", p)] = min(ca[p], cb[p])
    assert {(r["op"], r["p"]): r["n"] for r in rows} == expect


def _chk_streaks_islands_match_python_recompute(spark):
    import collections
    import datetime

    from pyspark_xgboost_spark.operators.temporal import window_streaks_islands
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    got = {r["user_id"]: r for r in window_streaks_islands(spark, SF_DIR).collect()}
    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts").collect()
    days = collections.defaultdict(set)
    for r in ev:
        days[r["user_id"]].add(r["ts"].date())
    assert set(got) == set(days)
    one = datetime.timedelta(days=1)
    for uid, ds in days.items():
        ds = sorted(ds)
        streaks = []
        start = prev = ds[0]
        for d in ds[1:]:
            if d - prev != one:
                streaks.append(((prev - start).days + 1, start))
                start = d
            prev = d
        streaks.append(((prev - start).days + 1, start))
        g = got[uid]
        assert g["n_active_days"] == len(ds)
        assert g["n_streaks"] == len(streaks)
        longest = max(l for l, _ in streaks)
        assert g["longest_streak"] == longest
        first_longest = min(s for l, s in streaks if l == longest)
        epoch_us = int(
            datetime.datetime(
                first_longest.year, first_longest.month, first_longest.day,
                tzinfo=datetime.timezone.utc,
            ).timestamp() * 1_000_000
        )
        assert g["longest_start_us"] == epoch_us


def test_bench_headline_names_all_registered():
    """bench.py silently skips unknown HEADLINE names — pin that every
    entry resolves so a typo can't drop a query from the benchmark."""
    import bench

    qs = set(all_queries())
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)  # no dups


def test_grade_first_names_all_registered():
    """The grading order holds every registered query exactly once, and
    no rows-only query (no oracle, so it can never grade green) holds
    one of the driver's window slots: the rows-only queries close it."""
    from pyspark_xgboost_spark import registry

    qs = list(all_queries())
    oracles = all_oracles()
    order = registry.grading_order(
        registry.QUERIES, oracles, registry.correctness_history()
    )
    assert order == qs
    assert len(set(qs)) == len(qs) == len(registry.QUERIES)
    assert [n for n in qs[:50] if n not in oracles] == []
    assert all(n not in oracles for n in qs[len(oracles):])


def _chk_asof_tolerance_nulls_stale_matches(spark):
    """TTL semantics: identical to plain as-of where fresh, NULL where
    the nearest purchase is older than the bound — never 'skip to an
    older one'."""
    from pyspark_xgboost_spark.operators.temporal import (
        _ASOF_TTL_US,
        join_asof,
        join_asof_tolerance,
    )

    base = {r["event_id"]: r for r in join_asof(spark, SF_DIR).collect()}
    tol = {r["event_id"]: r for r in join_asof_tolerance(spark, SF_DIR).collect()}
    assert set(base) == set(tol)
    n_nulled = 0
    for eid, b in base.items():
        t = tol[eid]
        if b["last_purchase_us"] is None:
            assert t["last_purchase_us"] is None
        elif b["ts_us"] - b["last_purchase_us"] <= _ASOF_TTL_US:
            assert t["last_purchase_us"] == b["last_purchase_us"]
        else:
            assert t["last_purchase_us"] is None
            n_nulled += 1
    assert n_nulled > 0  # the bound really bites on this data


def _chk_rolling_median_matches_python_frames(spark):
    import collections

    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.temporal import (
        _ROLL_N,
        window_rolling_median,
    )
    from pyspark_xgboost_spark.sources import load_table

    got = {r["event_id"]: r for r in window_rolling_median(spark, SF_DIR).collect()}
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id", "user_id", "ts",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .collect()
    )
    by_user = collections.defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append(r)
    for rs in by_user.values():
        rs.sort(key=lambda r: (r["ts"], r["event_id"]))
        for i, r in enumerate(rs):
            frame = sorted(x["cents"] for x in rs[max(0, i - _ROLL_N + 1) : i + 1])
            g = got[r["event_id"]]
            assert g["frame_n"] == len(frame)
            assert g["rolling_median_cents"] == frame[(len(frame) + 1) // 2 - 1]


def _chk_recursive_date_spine_tiles_the_range(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.relational import (
        sql_recursive_date_spine,
    )
    from pyspark_xgboost_spark.sources import load_table

    rows = sorted(
        sql_recursive_date_spine(spark, SF_DIR).collect(),
        key=lambda r: r["month_us"],
    )
    assert len(rows) == 80  # 1995-01 .. 2001-08 inclusive
    # consecutive calendar months, no gaps (variable month lengths)
    import datetime

    months = [
        datetime.datetime.fromtimestamp(
            r["month_us"] / 1e6, tz=datetime.timezone.utc
        )
        for r in rows
    ]
    for a, b in zip(months, months[1:]):
        assert (b.year * 12 + b.month) - (a.year * 12 + a.month) == 1
        assert b.day == 1 and b.hour == 0
    # conservation: spine totals equal the raw table's totals
    orders = load_table(spark, SF_DIR, "orders")
    assert sum(r["n_orders"] for r in rows) == orders.count()
    cents = orders.select(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("c")
    ).collect()[0]["c"]
    assert sum(r["revenue_cents"] for r in rows) == cents


def _chk_asof_forward_matches_python_next_lookup(spark):
    import bisect
    import collections

    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.temporal import join_asof_forward
    from pyspark_xgboost_spark.sources import load_table

    got = {r["event_id"]: r for r in join_asof_forward(spark, SF_DIR).collect()}
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id", "user_id", "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .collect()
    )
    purchases = collections.defaultdict(list)
    for r in ev:
        if r["event_type"] == "purchase":
            purchases[r["user_id"]].append(r["us"])
    for v in purchases.values():
        v.sort()
    n_matched = 0
    for r in ev:
        if r["event_type"] != "click":
            continue
        ps = purchases.get(r["user_id"], [])
        i = bisect.bisect_left(ps, r["us"])
        expect = ps[i] - r["us"] if i < len(ps) else None
        assert got[r["event_id"]]["us_to_next_purchase"] == expect
        if expect is not None:
            n_matched += 1
            assert expect >= 0
    assert n_matched > 0


def _chk_corr_regression_matches_python_and_builtin_approx(spark):
    import math

    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.operators.relational import agg_corr_regression
    from pyspark_xgboost_spark.sources import load_table

    got = {r["l_returnflag"]: r for r in agg_corr_regression(spark, SF_DIR).collect()}
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .select(
            "l_returnflag",
            F.round("l_quantity").cast("bigint").alias("x"),
            F.round("l_extendedprice").cast("bigint").alias("y"),
        )
        .collect()
    )
    import collections

    by_flag = collections.defaultdict(list)
    for r in rows:
        by_flag[r["l_returnflag"]].append((r["x"], r["y"]))
    for flag, xy in by_flag.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxy = sum(x * y for x, y in xy)
        sxx = sum(x * x for x, _ in xy)
        syy = sum(y * y for _, y in xy)
        g = got[flag]
        assert (g["n"], g["sx"], g["sy"], g["sxx"], g["syy"], g["sxy"]) == (
            n, sx, sy, sxx, syy, sxy
        )
        corr = (n * sxy - sx * sy) / (
            math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy)
        )
        # the generated quantity and price are independent draws, so the
        # statistic itself is near zero — the CHECK is the bit-level
        # formula agreement, not a domain effect
        assert -1 <= corr <= 1
        assert abs(g["corr_xy"] - corr) < 1e-12
        slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
        assert abs(g["regr_slope"] - slope) < 1e-12


def test_query_catalog_is_current():
    """QUERIES.md is generated from the registry — regenerate with
    tools/gen_catalog.py whenever an operator is added/renamed.

    Also pins the surface counts quoted in SURVEY.md §2.3 and
    README.md to the live registry (they drifted by one in r11 when a
    late registration post-dated the doc refresh)."""
    import re
    import sys

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import gen_catalog

    with open(os.path.join(ROOT, "QUERIES.md")) as fh:
        assert fh.read() == gen_catalog.render()

    from pyspark_xgboost_spark.registry import all_oracles, all_queries

    n_reg, n_orc = len(all_queries()), len(all_oracles())
    with open(os.path.join(ROOT, "SURVEY.md")) as fh:
        survey = fh.read()
    m = re.search(r"surface to (\d+) registered queries \((\d+)\n?oracle", survey)
    assert m, "SURVEY.md §2.3 surface-count sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_reg, n_orc), (
        f"SURVEY.md says {m.groups()}, registry has {(n_reg, n_orc)}"
    )
    with open(os.path.join(ROOT, "README.md")) as fh:
        readme = fh.read()
    m = re.search(r"(\d+) of (\d+) registered queries hash-compare", readme)
    assert m, "README.md oracle-count sentence missing"
    assert (int(m.group(1)), int(m.group(2))) == (n_orc, n_reg), (
        f"README.md says {m.groups()}, registry has {(n_orc, n_reg)}"
    )


def test_no_literal_task_counts_in_operator_code():
    """CPU-spread repartitions in operator code must derive their count
    from the cluster (utils.cpu_spread_partitions / defaultParallelism),
    never a literal — a hard-coded 32 bakes the bench host's CPU shape
    into the plan and is wrong on any other cluster. Scenario constants
    (e.g. 'write 64 small files' in sources/) are out of scope."""
    import glob
    import re

    offenders = []
    for path in glob.glob(f"{ROOT}/pyspark_xgboost_spark/operators/*.py"):
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if re.search(r"\.repartition\(\s*\d", line):
                    offenders.append(f"{path}:{i}: {line.strip()}")
    assert offenders == [], "\n".join(offenders)


def test_grading_window_matches_policy(tmp_path):
    """The driver grades the first 50 registered queries, and the
    registry computes that order from the CORRECTNESS history: oracle
    queries never graded first, then the stalest driver row first, then
    the rows-only queries, each tier by name. Two hand-copied windows
    each dropped one query (r11: sample_coreset_dsquared; r12:
    graph_katz_centrality); a computed order has nothing to drop."""
    import json

    from pyspark_xgboost_spark import registry

    ok = {"hash_match": True, "err": None}
    artifacts = {
        "CORRECTNESS_r01.json": {
            "b_old": ok, "a_old": ok, "c_regraded": ok,
            "z_rows": {"err": "no_oracle", "spark_rows": 3},
        },
        "CORRECTNESS_r09.json": {"c_regraded": {"hash_match": False}},
        "CORRECTNESS_r10.json": {"d_newest": ok},
    }
    for fname, rows in artifacts.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    oracles = {"a_old", "b_old", "c_regraded", "d_newest", "f_never", "e_never"}
    names = sorted(oracles | {"z_rows", "y_rows_never"}, reverse=True)

    history = registry.correctness_history(str(tmp_path))
    assert history["c_regraded"][0] == 9
    assert registry.grading_order(names, oracles, history) == [
        "e_never", "f_never",  # never graded, by name
        "a_old", "b_old",  # stalest round, ties by name
        "c_regraded", "d_newest",
        "y_rows_never", "z_rows",  # rows-only last, by name
    ]
    # a checkout without artifacts: name order, rows-only still last
    empty = tmp_path / "none"
    empty.mkdir()
    assert registry.grading_order(
        names, oracles, registry.correctness_history(str(empty))
    ) == sorted(oracles) + ["y_rows_never", "z_rows"]

    # the live registry's window follows the committed history
    qs = list(all_queries())
    live_oracles = all_oracles()
    live = registry.correctness_history()
    never = sorted(n for n in live_oracles if n not in live)
    stale = sorted((live[n][0], n) for n in live_oracles if n in live)
    assert qs[:50] == (never + [n for _, n in stale])[:50]


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS_RELATIONAL = [_chk_agg_group_semantics, _chk_window_rank_topk, _chk_session_window_counts, _chk_semi_plus_anti_covers_all, _chk_conf_bool_parsing, _chk_multimodal_resize_golden, _chk_variant_extract_matches_json_path, _chk_hll_sketch_accuracy_and_merge, _chk_cumulative_distinct_matches_python_recompute, _chk_array_ops_match_python_recompute, _chk_null_safe_join_keeps_nulled_key, _chk_except_intersect_all_multiplicity_arithmetic, _chk_streaks_islands_match_python_recompute, _chk_asof_tolerance_nulls_stale_matches, _chk_rolling_median_matches_python_frames, _chk_recursive_date_spine_tiles_the_range, _chk_asof_forward_matches_python_next_lookup, _chk_corr_regression_matches_python_and_builtin_approx]


# session-conf mutators run in the serial lane
def test_relational_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS_RELATIONAL, serial=[_chk_conf_bool_parsing])
