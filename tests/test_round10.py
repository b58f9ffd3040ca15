"""Behavioral tests for the round-10 operators (oracle parity is
driver-checked; these pin the semantics the hash compare cannot see:
gating decisions, staleness handling, exact-weight arithmetic)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _chk_wap_bad_candidate_never_published(spark):
    """The defective candidate must exist in staging (it was written),
    FAIL its audit, and be absent from the published directory — the
    whole point of write-audit-publish."""
    from pyspark_xgboost_spark.sources.formats import (
        sink_wap_publish,
        staged_path,
    )

    out = {r["candidate"]: r for r in sink_wap_publish(spark, SF_DIR).collect()}
    assert out["good"]["audit_passed"] == 1 and out["good"]["published"] == 1
    assert out["bad"]["audit_passed"] == 0 and out["bad"]["published"] == 0
    root = staged_path(SF_DIR, "documents", "wap")
    assert os.path.exists(os.path.join(root, "staging", "bad"))
    assert not os.path.exists(os.path.join(root, "published", "bad"))
    assert os.path.exists(os.path.join(root, "published", "good"))


def _chk_prune_stage_restages_on_fingerprint_change(spark):
    """The pruning file re-stages when no build is recorded for the
    source's current fingerprint (the state right after the dataset is
    replaced) — replacing the dataset cannot serve stale layout."""
    import shutil

    from pyspark_xgboost_spark.sources.formats import (
        _prune_staged_path,
        _stage_prune_file,
        staged_path,
    )

    path = _stage_prune_file(spark, SF_DIR)
    stamp = staged_path(SF_DIR, "lineitem", "prune_li")
    assert os.path.isdir(stamp)
    shutil.rmtree(stamp)
    inode = os.stat(path).st_ino
    path2 = _stage_prune_file(spark, SF_DIR)
    assert path2 == path == _prune_staged_path(SF_DIR)
    assert os.stat(path2).st_ino != inode  # rewritten
    assert os.path.isdir(stamp)


def _chk_rbo_terms_match_reference_arithmetic(spark):
    """RBO's unrolled integer weights must equal the closed form
    (1e6 * p^(d-1) * X_d) // (10^d * d) computed independently, and
    the running rbo_min must be their prefix sums."""
    from pyspark_xgboost_spark.operators.similarity import _RBO_DEPTH
    from pyspark_xgboost_spark.registry import all_queries

    rbo = all_queries()["sim_search_rank_agreement_rbo"]
    rows = sorted(rbo(spark, SF_DIR).collect(), key=lambda r: r["depth"])
    assert [r["depth"] for r in rows] == list(range(1, _RBO_DEPTH + 1))
    acc = 0
    for r in rows:
        d, x = r["depth"], r["overlap"]
        assert 0 <= x <= d
        acc += (1000000 * 9 ** (d - 1) * x) // ((10**d) * d)
        assert r["rbo_min_micro"] == acc
        assert r["agreement_milli"] == (x * 1000) // d
    # RBO_min is a partial (1-p)-weighted sum => bounded by 1
    assert 0 <= acc <= 1000000


def _chk_interval_coalesce_merges_chained_overlaps(spark):
    """A-B-C chains where A and C do not touch must merge into ONE
    island (running-max semantics, not pairwise overlap)."""
    import pandas as pd

    from pyspark_xgboost_spark.operators import temporal

    real_load = temporal.load_table

    def fake_load(spark_, sf_dir_, table):
        assert table == "events"
        pdf = pd.DataFrame(
            {
                "user_id": [1, 1, 1, 1],
                "ts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:00",  # covers to 00:30
                        "2024-01-01 00:20:00",  # chains to 00:50
                        "2024-01-01 00:45:00",  # chains to 01:15
                        "2024-01-01 02:00:00",  # new island
                    ]
                ),
            }
        )
        return spark_.createDataFrame(pdf)

    temporal.load_table = fake_load
    try:
        out = temporal.events_interval_coalesce(spark, SF_DIR).collect()
    finally:
        temporal.load_table = real_load
    assert len(out) == 1
    r = out[0]
    assert r["n_intervals"] == 2  # the 3-chain merged, the 4th separate
    assert r["longest_minutes"] == 75  # 00:00 -> 01:15
    assert r["coverage_minutes"] == 75 + 30


def _chk_bfd_beats_first_fit_and_respects_budget(spark):
    """Every bin fill must be within budget, and BFD's total pad waste
    must not exceed arrival-order first-fit's (the packer's reason to
    exist)."""
    from pyspark_xgboost_spark.operators.corpus import (
        _PACK_BUDGET,
        corpus_pack_bfd,
    )

    rows = corpus_pack_bfd(spark, SF_DIR).collect()
    detail = [r for r in rows if r["bin_id"] is not None]
    totals = {r["mode"]: r for r in rows if r["bin_id"] is None}
    assert all(0 <= r["fill_chars"] <= _PACK_BUDGET for r in detail)
    assert totals["bfd"]["waste_bp"] <= totals["ff"]["waste_bp"]
    # both packers place every doc
    assert totals["bfd"]["n_docs"] == totals["ff"]["n_docs"]


def _chk_scd2_history_consistent(spark):
    """Version chains must tile: per key, versions ordered by
    valid_from have valid_to == next valid_from, exactly one open
    version, and adjacent versions differ in attr."""
    from pyspark_xgboost_spark.streaming.stream import stream_scd2_incremental

    rows = stream_scd2_incremental(spark, SF_DIR).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["doc_id"], []).append(r)
    for vs in by_key.values():
        vs.sort(key=lambda r: r["valid_from"])
        assert sum(1 for v in vs if v["is_current"] == 1) == 1
        assert vs[-1]["valid_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"]


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS = [_chk_wap_bad_candidate_never_published, _chk_prune_stage_restages_on_fingerprint_change, _chk_rbo_terms_match_reference_arithmetic, _chk_interval_coalesce_merges_chained_overlaps, _chk_bfd_beats_first_fit_and_respects_budget, _chk_scd2_history_consistent]


def test_round_10q_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS)
