"""Shape assertions for the round-14 additions.

Each contract lives in a ``_chk_*`` function; ONE pytest case fans
them out over a thread pool sharing the session (the smoke-sweep
discipline — see test_plans_r11)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import ROOT, SF_DIR
from tests.test_plans import plan_of


def _chk_hnsw_incremental_upper_adjacency_equals_oneshot(spark):
    """The maintained layer-1 adjacency must equal the one-shot kNN
    graph brute-forced over the FINAL layer-1 membership (the
    associativity claim the oracle rides on), checked edge-by-edge —
    and the layer-1 member table must hold exactly the deterministic
    subsample, nothing more (no disguised full-corpus copy)."""
    from pyspark_xgboost_spark.operators.similarity import _HNSW_L1_MOD
    from pyspark_xgboost_spark.streaming.stream import (
        _stage_kmeans_batches,
        stream_hnsw_incremental,
    )
    from tests.test_plans_r13 import brute_force_cell_knn

    stream_hnsw_incremental(spark, SF_DIR).collect()
    root = _stage_kmeans_batches(spark, SF_DIR)
    members = spark.read.parquet(os.path.join(root, "hnsw1", "members"))
    adj = spark.read.parquet(os.path.join(root, "hnsw1", "adj"))

    mem_rows = members.collect()
    assert all(r["vec_id"] % _HNSW_L1_MOD == 0 for r in mem_rows)
    n_corpus = spark.read.parquet(
        os.path.join(root, "knng", "members")
    ).count()
    assert 0 < len(mem_rows) < n_corpus

    expect = brute_force_cell_knn(mem_rows)
    got = {(r["src"], r["dst"], r["d"]) for r in adj.collect()}
    assert got == expect


def _chk_hnsw_incremental_state_layout(spark):
    """Both layers' adjacency tables are cell-partitioned on disk
    (cid=N dirs — a batch rewrites only touched cells, a probe's read
    is partition-pruned), the layer-1 member table arrived through
    multiple physical appends (maintenance, not a one-shot rebuild),
    layer 0 is SHARED with stream_knn_graph_incremental (one graph,
    not a private copy), and the serving read never re-scans the
    source embeddings table."""
    import glob

    from pyspark_xgboost_spark.streaming.stream import (
        _stage_kmeans_batches,
        stream_hnsw_incremental,
    )

    out = stream_hnsw_incremental(spark, SF_DIR)
    out.collect()
    root = _stage_kmeans_batches(spark, SF_DIR)
    for layer_dir in ["knng/adj", "hnsw1/adj"]:
        full = os.path.join(root, layer_dir)
        cid_dirs = [d for d in os.listdir(full) if d.startswith("cid=")]
        assert len(cid_dirs) >= 2, (layer_dir, os.listdir(full))
    mem_files = glob.glob(
        os.path.join(root, "hnsw1", "members", "part-*.parquet")
    )
    assert len(mem_files) >= 2, mem_files
    assert not os.path.exists(os.path.join(root, "hnsw1", "cents"))
    plan = plan_of(out)
    assert "embeddings" not in plan
    assert "CartesianProduct" not in plan


def _chk_hnsw_incremental_fingerprints_are_scale_free(spark):
    """Every fingerprint column is the mod-folded XOR (bounded below
    2^31 at ANY row count — the r13 sum-based formulas grew ~N^2 and
    would wrap Spark's long exactly when scale went up), and the
    layer-1 graph is genuinely sparser than layer 0."""
    from pyspark_xgboost_spark.streaming.stream import (
        stream_hnsw_incremental,
        stream_knn_graph_incremental,
    )

    rows = stream_hnsw_incremental(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        for col in ["edges0_fp", "edges1_fp"]:
            assert 0 <= r[col] < 2**31, (col, r[col])
        assert 0 < r["n_edges1"] < r["n_edges0"]
    # layer 0 is the SAME graph stream_knn_graph_incremental maintains
    knng = stream_knn_graph_incremental(spark, SF_DIR).collect()
    assert {(r["n_edges"], r["edges_fp"]) for r in knng} == {
        (r["n_edges0"], r["edges0_fp"]) for r in rows
    }


def _chk_sc_placebo_pins_real_rank(spark):
    """The placebo permutation is deterministic: at the test SF the
    treated 'purchase' series posts the LARGEST post-period absolute
    gap (rank 1 of 5, p = 0.2 — the most extreme rank this donor
    count can produce), and the single-fit estimand's total gap is
    consistent with the permutation row for the treated unit."""
    from pyspark_xgboost_spark.operators.sampling import (
        events_synthetic_control,
        events_synthetic_control_placebo,
    )

    rows = {
        r["unit"]: r
        for r in events_synthetic_control_placebo(spark, SF_DIR).collect()
    }
    treated = rows["purchase"]
    assert treated["is_treated"] == 1
    assert treated["rk"] == 1
    assert treated["n_units"] == 5
    assert treated["p_milli"] == 200
    assert all(r["is_treated"] == 0 for u, r in rows.items() if u != "purchase")
    # ranks are a permutation of 1..n
    assert sorted(r["rk"] for r in rows.values()) == list(range(1, 6))
    # the treated unit's statistic equals the single-fit gap series
    single = events_synthetic_control(spark, SF_DIR).collect()
    assert treated["abs_gap_milli"] == sum(
        abs(r["gap_milli"]) for r in single
    )


def _chk_sc_placebo_is_grid_sized(spark):
    """The permutation never goes row-proportional: ONE exchange
    collapses events to the (type, day) grid (checkpointed — the
    three self-joins read the RDD, not the parquet), and no
    cartesian product anywhere."""
    from pyspark_xgboost_spark.operators.sampling import (
        events_synthetic_control_placebo,
    )

    df = events_synthetic_control_placebo(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 0, plan  # grid checkpointed
    assert "CartesianProduct" not in plan


def _chk_ivf_pq_rerank_matches_numpy_replay(spark):
    """The full cascade (coarse probe -> PQ encode -> ADC shortlist ->
    exact rerank) replayed independently in numpy must produce the
    IDENTICAL 30 output rows — every stage's tie rule included."""
    import numpy as np

    from pyspark_xgboost_spark.operators.similarity import (
        _IVF_NPROBE,
        _KM_K,
        _KM_Q,
        _N_QUERIES,
        _PQ_D,
        _PQ_K,
        _PQ_M,
        _PQR_SHORTLIST,
        _TOPK,
        sim_search_ivf_pq_rerank,
    )
    from pyspark_xgboost_spark.sources import load_table

    emb = {
        r["vec_id"]: np.round(
            np.array(r["embedding"], dtype=np.float64) * _KM_Q
        ).astype(np.int64)
        for r in load_table(spark, SF_DIR, "embeddings").collect()
    }
    ids = np.array(sorted(emb))
    q = np.stack([emb[i] for i in ids]).astype(np.float64)

    def d2(a, b):
        diff = a - b
        return int((diff * diff).sum())

    cents = ids[:_KM_K]
    asg = {
        int(v): min(
            (d2(emb[v], emb[c]), int(c)) for c in cents
        )[1]
        for v in ids
    }
    cb = [
        np.stack([emb[c][s * _PQ_D : (s + 1) * _PQ_D] for c in ids[:_PQ_K]])
        for s in range(_PQ_M)
    ]
    codes = {}
    for v in ids:
        codes[int(v)] = [
            min(
                (d2(emb[v][s * _PQ_D : (s + 1) * _PQ_D], cb[s][c]), c)
                for c in range(_PQ_K)
            )[1]
            for s in range(_PQ_M)
        ]
    expect = set()
    for qid in [int(i) for i in ids if i < _N_QUERIES]:
        probe_cells = [
            c
            for _, c in sorted(
                (d2(emb[qid], emb[c]), int(c)) for c in cents
            )[:_IVF_NPROBE]
        ]
        lut = [
            [
                d2(emb[qid][s * _PQ_D : (s + 1) * _PQ_D], cb[s][c])
                for c in range(_PQ_K)
            ]
            for s in range(_PQ_M)
        ]
        adc = [
            (sum(lut[s][codes[int(v)][s]] for s in range(_PQ_M)), int(v))
            for v in ids
            if asg[int(v)] in probe_cells and int(v) != qid
        ]
        short = sorted(adc)[:_PQR_SHORTLIST]
        rer = sorted((d2(emb[qid], emb[v]), v, a) for a, v in short)
        for rk, (ed, v, a) in enumerate(rer[:_TOPK], 1):
            expect.add((qid, v, a, ed, rk))
    got = {
        tuple(r)
        for r in sim_search_ivf_pq_rerank(spark, SF_DIR).collect()
    }
    assert got == expect


def _chk_ivf_pq_rerank_plan_shapes(spark):
    """The cascade's joins stay broadcast-shaped (probe set, ADC LUT,
    shortlist — all bounded artifacts; no sort-merge join anywhere),
    the encode is one Arrow kernel pass, and no cartesian product
    beyond the single-row centroid closure."""
    from pyspark_xgboost_spark.operators.similarity import (
        sim_search_ivf_pq_rerank,
    )

    plan = plan_of(sim_search_ivf_pq_rerank(spark, SF_DIR))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def _chk_conformal_interval_matches_pandas_replay(spark):
    """The split-conformal pipeline (daily grid -> lag-7 naive
    forecast -> calibration order statistic -> post-cutoff intervals
    and coverage) replayed independently in pandas must produce the
    IDENTICAL output rows, and every interval must be symmetric
    around the forecast with the covered flag consistent with its own
    bounds."""
    import datetime
    import math

    import pandas as pd

    from pyspark_xgboost_spark.operators.temporal import (
        events_conformal_forecast_interval,
    )
    from pyspark_xgboost_spark.sources import load_table

    pdf = (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "ts", "value")
        .toPandas()
    )
    pdf["day"] = pdf["ts"].dt.date
    # Spark/DuckDB round() is half-AWAY-FROM-ZERO; pandas Series.round
    # is banker's (half-to-even) — replay the engines' rule explicitly
    # so an exact-.5 cent value can never diverge the referee
    import numpy as np

    v = pdf["value"].to_numpy() * 100
    pdf["c"] = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")
    daily = (
        pdf.groupby(["event_type", "day"], as_index=False)["c"]
        .sum()
        .rename(columns={"c": "y"})
        .sort_values(["event_type", "day"])
    )
    cutoff = datetime.date(2024, 1, 16)
    expect = set()
    for et, g in daily.groupby("event_type"):
        g = g.reset_index(drop=True)
        g["yhat"] = g["y"].shift(7)
        cal = g[(g["yhat"].notna()) & (g["day"] < cutoff)].copy()
        if not len(cal):
            continue
        cal["score"] = (cal["y"] - cal["yhat"]).abs().astype("int64")
        n = len(cal)
        q_idx = min(n, math.ceil((n + 1) * 4 / 5))
        qhat = int(
            cal.sort_values(["score", "day"]).iloc[q_idx - 1]["score"]
        )
        post = g[(g["yhat"].notna()) & (g["day"] >= cutoff)]
        cov = [
            1 if abs(int(r.y) - int(r.yhat)) <= qhat else 0
            for r in post.itertuples()
        ]
        cm = (sum(cov) * 1000) // len(cov)
        for r, c in zip(post.itertuples(), cov):
            expect.add(
                (et, r.day, int(r.y), int(r.yhat), qhat,
                 int(r.yhat) - qhat, int(r.yhat) + qhat, c, cm)
            )
    rows = events_conformal_forecast_interval(spark, SF_DIR).collect()
    got = {tuple(r) for r in rows}
    assert got == expect
    for r in rows:
        assert r["hi_cents"] - r["forecast_cents"] == r["qhat_cents"]
        assert r["forecast_cents"] - r["lo_cents"] == r["qhat_cents"]
        inside = r["lo_cents"] <= r["actual_cents"] <= r["hi_cents"]
        assert r["covered"] == (1 if inside else 0)


def _chk_conformal_interval_is_grid_sized(spark):
    """The conformal pipeline collapses events in ONE exchange (the
    checkpointed grid feeds both the calibration and post branches —
    no second parquet scan), and qhat joins back as a broadcast."""
    from pyspark_xgboost_spark.operators.temporal import (
        events_conformal_forecast_interval,
    )

    df = events_conformal_forecast_interval(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert plan.count("Scan parquet") == 0, plan
    assert "CartesianProduct" not in plan
    full = plan_of(df)
    assert "BroadcastHashJoin" in full
    assert "SortMergeJoin" not in full


def _chk_rts_smoother_consistent_with_filter(spark):
    """The smoother's forward trajectory must be IDENTICAL to the
    filter's (both run the shared _kf_forward), the last day's
    smoothed level must equal the filtered one (the RTS anchor), and
    the smoothed variance can never exceed the filtered variance
    (conditioning on the future only removes uncertainty; the
    truncating division preserves the inequality because the
    correction term is always <= 0)."""
    from pyspark_xgboost_spark.operators.temporal import (
        events_kalman_filter_1d,
        events_kalman_smoother_rts,
    )

    filt = {
        (r["event_type"], r["t"]): r
        for r in events_kalman_filter_1d(spark, SF_DIR).collect()
    }
    rows = events_kalman_smoother_rts(spark, SF_DIR).collect()
    assert {(r["event_type"], r["t"]) for r in rows} == set(filt)
    tmax = {}
    for r in rows:
        tmax[r["event_type"]] = max(tmax.get(r["event_type"], 0), r["t"])
    for r in rows:
        f = filt[(r["event_type"], r["t"])]
        assert r["level_micro"] == f["level_micro"]
        assert r["obs_micro"] == f["obs_micro"]
        assert r["ps_var"] <= f["p_var"]
        if r["t"] == tmax[r["event_type"]]:
            assert r["smooth_micro"] == f["level_micro"]
            assert r["c_milli"] == 1000 and r["ps_var"] == f["p_var"]


def _chk_xor_fp_count_companion_catches_duplication(spark):
    """Pins WHY every mod-folded XOR fingerprint ships with a count
    companion: appending the same rows an even number of extra times
    leaves the XOR unchanged (a XOR a = 0 — the exact corruption a
    replayed non-idempotent append produces), and only the count
    column reds the attestation."""
    from pyspark_xgboost_spark.streaming.stream import _xor_fp

    base = spark.range(100).select(F.col("id").alias("v"))
    # a deterministic 5-row subset — limit(5) re-executes per union
    # branch and is NOT guaranteed to pick the same rows twice, which
    # would break the even-multiplicity cancellation this test relies on
    dup_pair = base.filter(F.col("v") < 5)
    corrupted = base.unionAll(dup_pair).unionAll(dup_pair)

    def fp_n(df):
        r = df.agg(_xor_fp(F.col("v")).alias("fp"),
                   F.count("*").alias("n")).collect()[0]
        return r["fp"], r["n"]

    bfp, bn = fp_n(base)
    cfp, cn = fp_n(corrupted)
    assert cfp == bfp  # XOR alone attests the corrupted table green
    assert cn != bn  # the count companion is what catches it
    assert 0 <= bfp < 2**31  # and the fold keeps it bounded at any N


def _chk_every_state_fingerprint_is_folded_and_counted(spark):
    """Machine check of SCALE.md's tier-2 headroom rule: every
    registered query that emits a whole-state fingerprint column
    (*_fp) must (a) keep it inside [0, 2^31) — the mod-fold bound
    that holds at ANY row count — and (b) carry a cardinality
    companion column (count) in the same output, because XOR alone is
    blind to even-multiplicity duplication. Discovers the queries
    from the live registry so a future fingerprint can't ship
    unfolded or uncounted."""
    from pyspark_xgboost_spark.registry import all_queries

    found = 0
    for name, fn in all_queries().items():
        if "incremental" not in name:
            continue
        df = fn(spark, SF_DIR)
        fp_cols = [c for c in df.columns if c.endswith("_fp")]
        if not fp_cols:
            continue
        found += 1
        n_cols = [c for c in df.columns if c.startswith("n_")]
        assert n_cols, (name, df.columns)
        for r in df.select(*fp_cols).distinct().collect():
            for c in fp_cols:
                assert 0 <= r[c] < 2**31, (name, c, r[c])
    assert found >= 4, found  # ivf, pq, knng, hnsw at minimum


def _chk_ws_tokenizer_class_is_engine_invariant(spark):
    """Pins the one-tokenizer contract (utils.ascii_tokens): the three
    regex dialects in this repo disagree on \\s (Java includes \\x0b,
    RE2 does not, Python re/str.split match full unicode whitespace),
    so every tokenizer/normalizer site must spell the explicit ASCII
    class instead. Checked two ways: (a) no backslash-s survives in
    any operator/streaming/sources module, and (b) on a string packed
    with exactly the divergent characters, Spark's split, DuckDB's
    string_split_regex, and the Python kernel helper agree token for
    token — while Python's unicode .split() demonstrably does not."""
    import glob

    import duckdb

    from pyspark_xgboost_spark.utils import ascii_tokens

    bs_s = "\\" + "s"  # avoid matching this test's own source scan
    offenders = [
        p
        for p in glob.glob(f"{ROOT}/pyspark_xgboost_spark/**/*.py", recursive=True)
        if bs_s in open(p).read() and not p.endswith("utils.py")
    ]
    assert not offenders, f"bare backslash-s regex in: {offenders}"
    # test REPLICAS drift too (a review pass found five re-tokenizing
    # with the old semantics): forbid the replica-shaped patterns in
    # tests — narrower than the package scan because tests legitimately
    # regex-scan source code with \s. This file hosts the deliberate
    # unicode-split counter-example, so it exempts itself.
    replica_pats = [
        "lower().split()",
        "split(lower(text), '" + bs_s,
        'split(r"' + bs_s,
    ]
    offenders = [
        (p, pat)
        for p in glob.glob(f"{ROOT}/tests/*.py")
        if not p.endswith("test_plans_r14.py")
        for pat in replica_pats
        if pat in open(p).read()
    ]
    assert not offenders, f"old-tokenizer replica in tests: {offenders}"

    s = "A b\x0bc d e\tf\x1cgh\r\ni"
    expect = ascii_tokens(s)
    spark_toks = (
        spark.createDataFrame([(s,)], "text string")
        .select(
            F.expr(
                r"filter(split(lower(text), '[ \\t\\n\\f\\r]+'), t -> t != '')"
            ).alias("t")
        )
        .collect()[0]["t"]
    )
    duck_toks = duckdb.connect().execute(
        "SELECT list_filter(string_split_regex(lower(?), "
        "'[ \\t\\n\\f\\r]+'), x -> x <> '')",
        [s],
    ).fetchone()[0]
    assert spark_toks == expect, (spark_toks, expect)
    assert duck_toks == expect, (duck_toks, expect)
    # and the naive unicode tokenizer is NOT equivalent — the reason
    # the contract exists
    assert [t for t in s.lower().split() if t] != expect


def _chk_money_columns_are_exact_cents(spark):
    """Pins the DATA CONTRACT the repo's round(x*100) money quantizers
    stand on: every money/value double in the corpus is an exact
    2-decimal value (x*100 within 1e-6 of an integer), so round() can
    never land on a .5 half-edge where Spark's decimal-string HALF_UP
    and DuckDB's binary rounding disagree (the divergence that bit
    scalar_array_ops' float32 embeddings at sf0.1). If a future data
    regeneration ships arbitrary doubles in these columns, this fails
    with a named column instead of a mystery oracle red."""
    import duckdb

    con = duckdb.connect()
    for tbl, col in [
        ("orders", "o_totalprice"),
        ("lineitem", "l_extendedprice"),
        ("lineitem", "l_quantity"),
        ("customer", "c_acctbal"),
        ("supplier", "s_acctbal"),
        ("part", "p_retailprice"),
        ("events", "value"),
    ]:
        bad, worst = con.execute(
            f"SELECT sum(CASE WHEN abs({col}*100 - round({col}*100)) > 1e-6 "
            f"THEN 1 ELSE 0 END), max(abs({col}*100 - round({col}*100))) "
            f"FROM read_parquet('{SF_DIR}/{tbl}.parquet')"
        ).fetchone()
        assert bad == 0, f"{tbl}.{col}: {bad} non-exact-cent values (worst {worst})"


def _chk_document_text_is_ascii(spark):
    """Pins the second DATA CONTRACT the oracle parity rests on: the
    documents string columns are pure ASCII, where Spark's and DuckDB's
    lower()/collation/ordering are provably identical. Unicode case
    folding differs between engines on specific code points (dotted I,
    sharp-s, ligatures), so a regenerated corpus containing them should
    fail HERE with a named column, not as a scatter of oracle
    mismatches across every lower()-ing query."""
    import duckdb

    con = duckdb.connect()
    for col in ("text", "lang", "source"):
        bad = con.execute(
            f"SELECT count(*) FROM read_parquet('{SF_DIR}/documents.parquet') "
            f"WHERE regexp_matches({col}, '[^\\x00-\\x7f]')"
        ).fetchone()[0]
        assert bad == 0, f"documents.{col}: {bad} rows contain non-ASCII"


def _chk_plan_linter_catches_row_udfs_and_cartesians(spark):
    """Self-test of tools/check_plans.py's rules: a genuine
    row-at-a-time Python UDF and a genuine unbroadcast cross join must
    each trip the linter, an Arrow-batched boundary and a broadcast
    cross join must not — otherwise the full-sweep '0 violations'
    artifact attests a linter that can't fire."""
    from pyspark.sql.types import LongType

    from tests.test_plans import plan_of
    from tools.check_plans import lint_plan

    df = spark.range(10)
    row_udf = F.udf(lambda x: x + 1, LongType(), useArrow=False)
    bad = lint_plan(plan_of(df.select(row_udf("id"))))
    assert any("row-at-a-time" in v for v in bad), bad

    # tiny ranges auto-broadcast into a (legal) BNLJ; kill the
    # threshold so the planner must emit a genuine CartesianProduct —
    # conf mutation is safe here, run_pooled hands each check a clone
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cart = lint_plan(plan_of(df.crossJoin(spark.range(5).alias("b"))))
    assert any("cartesian" in v for v in cart), cart

    arrow_udf = F.pandas_udf(lambda s: s + 1, "long")
    assert lint_plan(plan_of(df.select(arrow_udf("id")))) == []
    assert (
        lint_plan(plan_of(df.crossJoin(F.broadcast(spark.range(5).alias("c")))))
        == []
    )


_R14_CHECKS = [
    _chk_ws_tokenizer_class_is_engine_invariant,
    _chk_money_columns_are_exact_cents,
    _chk_document_text_is_ascii,
    _chk_plan_linter_catches_row_udfs_and_cartesians,
    _chk_xor_fp_count_companion_catches_duplication,
    _chk_every_state_fingerprint_is_folded_and_counted,
    _chk_ivf_pq_rerank_matches_numpy_replay,
    _chk_ivf_pq_rerank_plan_shapes,
    _chk_conformal_interval_matches_pandas_replay,
    _chk_conformal_interval_is_grid_sized,
    _chk_rts_smoother_consistent_with_filter,
    _chk_hnsw_incremental_upper_adjacency_equals_oneshot,
    _chk_hnsw_incremental_state_layout,
    _chk_hnsw_incremental_fingerprints_are_scale_free,
    _chk_sc_placebo_pins_real_rank,
    _chk_sc_placebo_is_grid_sized,
]


def test_r14_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _R14_CHECKS)
