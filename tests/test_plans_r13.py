"""Shape assertions for the round-13 additions.

Each contract lives in a ``_chk_*`` function; ONE pytest case fans
them out over a thread pool sharing the session (the smoke-sweep
discipline — see test_plans_r11)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from tests.test_plans import plan_of


def _chk_pq_incremental_codes_match_oneshot_encode(spark):
    """The maintained (vec_id, s, code) table must equal a one-shot
    encode of the full corpus with the same frozen codebook (per-row
    encoding under a frozen codebook cannot depend on batching), and
    it must have arrived through MULTIPLE batch appends — maintenance,
    not a disguised rebuild."""
    import glob

    from pyspark_xgboost_spark.operators.similarity import _PQ_M
    from pyspark_xgboost_spark.streaming.stream import (
        _pq_encode_batch,
        _stage_kmeans_batches,
        stream_pq_incremental,
    )

    stream_pq_incremental(spark, SF_DIR).collect()  # ensure state built
    root = _stage_kmeans_batches(spark, SF_DIR)
    codes_dir = os.path.join(root, "pq", "codes")
    codes = spark.read.parquet(codes_dir)
    n_vec = spark.read.parquet(os.path.join(root, "in")).count()
    assert codes.count() == n_vec * _PQ_M

    # one-shot replay: encode the full staged corpus in one call
    cb_rows = spark.read.parquet(os.path.join(root, "pq", "cb")).collect()
    full = spark.read.parquet(os.path.join(root, "in"))
    oneshot = _pq_encode_batch(full, cb_rows)
    maintained = {tuple(r) for r in codes.collect()}
    replay = {tuple(r) for r in oneshot.collect()}
    assert maintained == replay

    # >= 2 physical appends: the table was built batch-wise
    files = glob.glob(os.path.join(codes_dir, "part-*.parquet"))
    assert len(files) >= 2, files


def _chk_pq_incremental_encode_is_map_side(spark):
    """The per-batch encode must be a pure map pass: no join, no
    exchange, no corpus re-scan — the codebook travels as a closure."""
    from pyspark_xgboost_spark.streaming.stream import (
        _pq_encode_batch,
        _stage_kmeans_batches,
        stream_pq_incremental,
    )

    # run_pooled executes checks concurrently: on a fresh scratch dir
    # this check would otherwise race the codes-match check's build and
    # read pq/cb before it exists (marker-guarded — cheap when built)
    stream_pq_incremental(spark, SF_DIR).collect()
    root = _stage_kmeans_batches(spark, SF_DIR)
    batch = spark.read.parquet(os.path.join(root, "in"))
    cb_rows = (
        spark.read.parquet(os.path.join(root, "pq", "cb")).collect()
    )
    plan = plan_of(_pq_encode_batch(batch, cb_rows))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def brute_force_cell_knn(member_rows):
    """Referee for the k-min-merge associativity claim: the exact
    cell-blocked kNN edge set (src, dst, d) over a final membership
    (rows carrying vec_id, cid, q) — shared by the layer-0 (r13) and
    layer-1 (r14) adjacency checks so the tie-rule and distance
    replay can never drift between them."""
    import collections

    import numpy as np

    from pyspark_xgboost_spark.operators.similarity import _GG_KNN

    by_cell = collections.defaultdict(list)
    for r in member_rows:
        by_cell[r["cid"]].append(
            (r["vec_id"], np.array(r["q"], dtype=np.float64))
        )
    expect = set()
    for cell in by_cell.values():
        ids = np.array([v for v, _ in sorted(cell)])
        q = np.stack([x for _, x in sorted(cell)])
        nq = (q * q).sum(1)
        d = nq[:, None] + nq[None, :] - 2.0 * (q @ q.T)
        np.fill_diagonal(d, np.inf)
        k = min(_GG_KNN, len(ids) - 1)
        for i in range(len(ids)):
            for j in np.lexsort((ids, d[i]))[:k]:
                expect.add((int(ids[i]), int(ids[j]), int(round(d[i, j]))))
    return expect


def _chk_knng_incremental_adjacency_equals_oneshot(spark):
    """The k-min-merged adjacency must equal the one-shot cell-blocked
    kNN graph computed brute-force over the final membership — the
    associativity claim the operator's oracle rides on, checked here
    edge-by-edge (the oracle checks descent + fingerprint)."""
    from pyspark_xgboost_spark.streaming.stream import (
        _stage_kmeans_batches,
        stream_knn_graph_incremental,
    )

    stream_knn_graph_incremental(spark, SF_DIR).collect()
    root = _stage_kmeans_batches(spark, SF_DIR)
    members = spark.read.parquet(os.path.join(root, "knng", "members"))
    adj = spark.read.parquet(os.path.join(root, "knng", "adj"))
    expect = brute_force_cell_knn(members.collect())
    got = {(r["src"], r["dst"], r["d"]) for r in adj.collect()}
    assert got == expect


def _chk_knng_incremental_adjacency_is_cell_partitioned(spark):
    """Adjacency state is partitioned by cell on disk (cid=N dirs), so
    a batch rewrites only the cells it touches and a probe's adjacency
    read is partition-pruned I/O."""
    from pyspark_xgboost_spark.streaming.stream import (
        _stage_kmeans_batches,
        stream_knn_graph_incremental,
    )

    stream_knn_graph_incremental(spark, SF_DIR).collect()
    root = _stage_kmeans_batches(spark, SF_DIR)
    adj_dir = os.path.join(root, "knng", "adj")
    cid_dirs = [d for d in os.listdir(adj_dir) if d.startswith("cid=")]
    assert len(cid_dirs) >= 2, cid_dirs
    # partition pruning reaches the scan when filtering one cell
    one = spark.read.parquet(adj_dir).filter(F.col("cid") == 0)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan


def _chk_hnsw_two_layer_contract(spark):
    """The layer-1 exit must BE a layer-1 node, the final result can
    only improve on the layer-1 exit (layer-0 descent is monotone and
    starts there), and the quality ratio is a true ratio of the exact
    optimum over the found distance (bounded by 1000 milli)."""
    import numpy as np

    from pyspark_xgboost_spark.operators.similarity import (
        _HNSW_L1_MOD,
        _km_xq,
        sim_search_hnsw_two_layer,
    )

    rows = sim_search_hnsw_two_layer(spark, SF_DIR).collect()
    assert rows
    vecs = {
        r["vec_id"]: np.array(r["q"], dtype=np.float64)
        for r in _km_xq(spark, SF_DIR).collect()
    }
    for r in rows:
        assert r["l1_exit"] % _HNSW_L1_MOD == 0
        assert 0 < r["quality_milli"] <= 1000
        assert r["hit_top1"] in (0, 1)
        assert r["exact_dist_q"] <= r["found_dist_q"]
        # layer-0 descent starts at l1_exit and is monotone
        d_l1 = int(((vecs[r["query_id"]] - vecs[r["l1_exit"]]) ** 2).sum())
        assert r["found_dist_q"] <= d_l1


def _chk_synthetic_control_is_convex_blend(spark):
    """Each post-day synthetic value must lie within the donor values'
    envelope for that day (the weights are positive and normalized),
    and the gap must be exactly actual*1000 - synth."""
    import collections

    from pyspark_xgboost_spark.operators.sampling import (
        events_synthetic_control,
    )
    from pyspark_xgboost_spark.sources import load_table

    rows = events_synthetic_control(spark, SF_DIR).collect()
    assert rows
    daily = collections.defaultdict(dict)
    for r in (
        load_table(spark, SF_DIR, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y")
        )
        .collect()
    ):
        daily[r["day"]][r["event_type"]] = r["y"]
    for r in rows:
        donors = [
            y for t, y in daily[r["day"]].items() if t != "purchase"
        ]
        assert min(donors) * 1000 <= r["synth_milli"] <= max(donors) * 1000
        assert r["gap_milli"] == r["actual_cents"] * 1000 - r["synth_milli"]
        assert daily[r["day"]]["purchase"] == r["actual_cents"]


def _chk_kalman_gain_converges_and_tracks(spark):
    """The Kalman gain must start at full trust (1000 milli), decrease
    monotonically toward the steady state the Q:R ratio implies, and
    the filtered level must stay inside the running observation
    envelope (it is a convex combination of prior level and the new
    observation)."""
    import collections

    from pyspark_xgboost_spark.operators.temporal import (
        _KF_Q,
        _KF_R,
        events_kalman_filter_1d,
    )

    rows = events_kalman_filter_1d(spark, SF_DIR).collect()
    assert rows
    by_type = collections.defaultdict(list)
    for r in rows:
        by_type[r["event_type"]].append(r)
    # steady-state gain k* solves k = (p+Q)*1000/(p+Q+R) at the fixed
    # point p = (1-k)(p+Q); bound it loosely from the Q:R ratio
    for series in by_type.values():
        series.sort(key=lambda r: r["t"])
        assert series[0]["k_milli"] == 1000
        ks = [r["k_milli"] for r in series]
        assert all(a >= b for a, b in zip(ks, ks[1:])), ks  # monotone down
        assert ks[-1] > 0
        lo = hi = series[0]["obs_micro"]
        for r in series[1:]:
            lo, hi = min(lo, r["obs_micro"]), max(hi, r["obs_micro"])
            # trunc division can overshoot the envelope by < 1 micro
            assert lo - 1 <= r["level_micro"] <= hi + 1, r
        assert series[-1]["p_var"] <= _KF_R + _KF_Q


_R13_CHECKS = [
    _chk_pq_incremental_codes_match_oneshot_encode,
    _chk_pq_incremental_encode_is_map_side,
    _chk_knng_incremental_adjacency_equals_oneshot,
    _chk_knng_incremental_adjacency_is_cell_partitioned,
    _chk_hnsw_two_layer_contract,
    _chk_synthetic_control_is_convex_blend,
    _chk_kalman_gain_converges_and_tracks,
]


def test_r13_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _R13_CHECKS)
