"""Structured Streaming semantics: one availableNow pass over the
events table must reproduce the batch result exactly."""

from __future__ import annotations

from tests.conftest import SF_DIR


def _rowset(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _chk_stream_tumbling_equals_batch(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_tumbling_window
    from pyspark_xgboost_spark.streaming.windows import events_tumbling_window

    cols = ["w_start", "event_type", "n", "sum_value"]
    assert _rowset(events_stream_tumbling_window(spark, SF_DIR), cols) == _rowset(
        events_tumbling_window(spark, SF_DIR), cols
    )


def _chk_stream_session_equals_batch(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_session_window
    from pyspark_xgboost_spark.streaming.windows import events_session_window

    cols = ["user_id", "session_start", "n_events", "session_value"]
    assert _rowset(events_stream_session_window(spark, SF_DIR), cols) == _rowset(
        events_session_window(spark, SF_DIR), cols
    )


def _chk_stateful_user_stats_totals(spark):
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_stateful_user_stats,
    )

    total = load_table(spark, SF_DIR, "events").count()
    out = events_stream_stateful_user_stats(spark, SF_DIR).collect()
    assert sum(r.n_events for r in out) == total
    assert len({r.user_id for r in out}) == len(out)  # one row per user


def _chk_stream_static_join_equals_batch(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import events_stream_static_join

    got = _rowset(
        events_stream_static_join(spark, SF_DIR),
        ["event_id", "event_type", "weighted_cents"],
    )
    weights = {"view": 1, "click": 3, "purchase": 10, "signup": 5, "error": 0}
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    want = sorted(
        (r["event_id"], r["event_type"], r["cents"] * weights[r["event_type"]])
        for r in ev.collect()
    )
    assert got == want


def _chk_stream_static_join_is_stateless(spark):
    from pyspark_xgboost_spark.streaming.stream import events_stream_static_join

    df = events_stream_static_join(spark, SF_DIR)
    # stateless enrichment: every input event survives (inner join on an
    # exhaustive dimension), no dedup/window/state truncation
    from pyspark_xgboost_spark.sources import load_table

    assert df.count() == load_table(spark, SF_DIR, "events").count()


def _chk_kafka_shape_source_equals_parquet_source(spark):
    """The Kafka-payload JSON source and the parquet file source must
    produce identical windowed aggregates — the post-read contract
    (sources.normalize_event_ts) makes downstream operators
    source-agnostic, and epoch-micro timestamps + shortest-round-trip
    doubles survive the JSON hop exactly."""
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_kafka_shape,
        events_stream_tumbling_window,
    )

    cols = ["w_start", "event_type", "n", "sum_value"]
    assert _rowset(events_stream_kafka_shape(spark, SF_DIR), cols) == _rowset(
        events_stream_tumbling_window(spark, SF_DIR), cols
    )


def _chk_stream_left_outer_join_contract(spark):
    """Left-outer stream-stream join: matched rows equal the inner
    join; null-extended rows exist only for clicks whose 1h match
    horizon the final watermark passed (the held-in-state clicks near
    end-of-input are absent)."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import (
        events_stream_stream_join,
        events_stream_stream_left_outer_join,
    )

    outer = events_stream_stream_left_outer_join(spark, SF_DIR).collect()
    inner = events_stream_stream_join(spark, SF_DIR).collect()
    matched = [(r["click_id"], r["purchase_id"]) for r in outer
               if r["purchase_id"] is not None]
    assert sorted(matched) == sorted(
        (r["click_id"], r["purchase_id"]) for r in inner
    )
    nulls = [r for r in outer if r["purchase_id"] is None]
    assert nulls  # outer semantics actually produced null extensions
    # every null-extended click's horizon is strictly behind the final
    # watermark = min(max click ts, max purchase ts) - 2h
    ev = load_table(spark, SF_DIR, "events")
    mx = ev.groupBy("event_type").agg(F.max("ts").alias("m")).collect()
    mxd = {r["event_type"]: r["m"] for r in mx}
    wm = min(mxd["click"], mxd["purchase"])
    import datetime

    horizon = wm - datetime.timedelta(hours=2)
    for r in nulls:
        assert r["click_ts"] + datetime.timedelta(hours=1) < horizon


def test_stream_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a second availableNow run against
    the same checkpoint must process ONLY files added since the first
    run — no reprocessing, no duplicate sink rows."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table

    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    n_first, n_second = first.count(), second.count()

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    first.coalesce(1).write.mode("append").parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("event_id long, user_id long, ts timestamp")
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    assert spark.read.parquet(sink).count() == n_first

    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    back = spark.read.parquet(sink)
    assert back.count() == n_first + n_second  # nothing reprocessed
    assert back.select("event_id").distinct().count() == n_first + n_second


def test_late_data_drop_really_drops(spark, tmp_path):
    """The third staged batch must be rejected BY THE WATERMARK — the
    numRowsDroppedByWatermark metric proves the eviction path ran
    (same-batch late rows never exercise it; see the operator doc)."""
    import os

    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import normalize_event_ts
    from pyspark_xgboost_spark.streaming.stream import (
        _stage_late_batches,
        _state_partitions,
    )

    root = _stage_late_batches(spark, SF_DIR)
    physical = spark.read.parquet(
        os.path.join(root, "in", "batch-000.parquet")
    ).schema
    raw = (
        spark.readStream.schema(physical)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(root, "in"))
    )
    ev = normalize_event_ts(raw).withWatermark("ts", "2 hours")
    agg = ev.groupBy(F.window("ts", "1 hour"), "event_type").agg(
        F.count("*").alias("n")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_state_partitions(spark)))
    try:
        q = (
            agg.writeStream.format("memory")
            .queryName("late_drop_probe")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in p["stateOperators"]
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # dropped = exactly the old odd rows whose WINDOW was already
    # emitted+evicted (end <= max(ts) - 2h); the handful landing in
    # still-open windows are absorbed into live state instead (and
    # never emitted, so the result is unaffected either way)
    # batch 2 targets only already-evicted groups (window end <= wm,
    # group present in batch 0). Observed: the vast majority hits the
    # drop path; a handful is instead absorbed into fresh state that
    # is NEVER emitted (the watermark no longer advances) — either
    # fate is result-neutral, which the oracle gate pins. Here we
    # assert the drop path genuinely ran and nothing re-emitted.
    n_late = spark.read.parquet(
        os.path.join(root, "in", "batch-002.parquet")
    ).count()
    assert n_late > 0
    assert 0 < dropped <= n_late
    sink = spark.sql(
        "SELECT window.start AS ws, event_type FROM late_drop_probe"
    ).collect()
    keys = [(r["ws"], r["event_type"]) for r in sink]
    assert len(keys) == len(set(keys))  # no window emitted twice


def _chk_stream_merge_upsert_incremental_chain(spark):
    """The CDC merge must build one table version per staged batch
    (v000..v002 — copy-on-write chain), compute last-writer-wins state,
    and be idempotent on re-run (build_once short-circuits)."""
    import glob
    import os

    from pyspark_xgboost_spark.streaming.stream import (
        _stage_merge_batches,
        stream_merge_upsert_incremental,
    )

    first = _rowset(
        stream_merge_upsert_incremental(spark, SF_DIR),
        ["last_batch", "n_docs", "writes", "id_checksum"],
    )
    root = _stage_merge_batches(spark, SF_DIR)
    versions = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(root, "table", "v*"))
    )
    assert versions == ["v000", "v001", "v002"]
    # doc_id 30 is written by all three batches and ends on batch 2;
    # verify via the final table itself
    fin = spark.read.parquet(os.path.join(root, "table", "v002"))
    r30 = fin.filter("doc_id = 30").collect()
    assert len(r30) == 1 and r30[0].last_batch == 2 and r30[0].times_written == 3
    # idempotent re-run: same result, no new versions
    again = _rowset(
        stream_merge_upsert_incremental(spark, SF_DIR),
        ["last_batch", "n_docs", "writes", "id_checksum"],
    )
    assert again == first
    assert sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(root, "table", "v*"))
    ) == versions


def test_micro_batch_fold_versions_and_checkpoint_lifetime(spark, tmp_path, monkeypatch):
    """The incremental family's one runner and fold: one version per
    non-empty staged batch, in batch order (an empty batch writes
    none), the last version returned, and no checkpoint left behind
    after a normal run or a run whose step raises — which also leaves
    no ``_BUILT`` marker. Not pooled: it points the process-wide
    ``tempfile.tempdir`` at ``tmp_path``."""
    import os
    import tempfile
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from pyspark_xgboost_spark.streaming.stream import _fold_versions

    schema = "doc_id long, seq int"
    arrow = pa.schema([("doc_id", pa.int64()), ("seq", pa.int32())])
    root = tmp_path / "staged"
    (root / "in").mkdir(parents=True)
    now = time.time()
    for i, ids in enumerate([range(0, 5), range(0), range(10, 13)]):
        dst = str(root / "in" / f"batch-{i:03d}.parquet")
        pq.write_table(pa.table({"doc_id": list(ids), "seq": [i] * len(ids)}, arrow), dst)
        os.utime(dst, (now - 300 + i * 100, now - 300 + i * 100))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    seen, live = [], []

    def step(batch, prev):
        live.append(os.listdir(tmp))  # the run's checkpoint, while it runs
        seen.append(None if prev is None else sorted(r.doc_id for r in prev.collect()))
        ids = batch.select("doc_id")
        return ids if prev is None else prev.unionByName(ids)

    tbl = str(tmp_path / "tbl")
    last = _fold_versions(spark, str(root), schema, tbl, step)
    assert last == os.path.join(tbl, "v002")
    assert sorted(d for d in os.listdir(tbl) if d.startswith("v")) == ["v000", "v002"]
    assert seen == [None, [0, 1, 2, 3, 4]]
    assert len(live) == 2 and all(len(d) == 1 for d in live) and live[0] == live[1]
    assert sorted(r.doc_id for r in spark.read.parquet(last).collect()) == [
        0, 1, 2, 3, 4, 10, 11, 12
    ]
    assert os.listdir(tmp) == []

    def failing(batch, prev):
        if prev is not None:
            raise RuntimeError("step failed")
        return batch.select("doc_id")

    bad = str(tmp_path / "bad")
    with pytest.raises(Exception, match="step failed"):
        _fold_versions(spark, str(root), schema, bad, failing)
    assert not os.path.exists(os.path.join(bad, "_BUILT"))
    assert os.listdir(tmp) == []


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS_STREAMING = [_chk_stream_tumbling_equals_batch, _chk_stream_session_equals_batch, _chk_stateful_user_stats_totals, _chk_stream_static_join_equals_batch, _chk_stream_static_join_is_stateless, _chk_kafka_shape_source_equals_parquet_source, _chk_stream_left_outer_join_contract, _chk_stream_merge_upsert_incremental_chain]


def test_streaming_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS_STREAMING)
