"""The events timestamp reader contract.

Round 3 regressed because the driver re-encoded ``events.parquet`` from
TIMESTAMP(NANOS) to TIMESTAMP_NTZ(µs) and the streaming reader's
hard-coded int64-nanos schema silently compressed every timestamp
1000×. These tests pin the contract that broke:

1. batch (``sources.load_table``) and stream (``read_events_stream``)
   yield IDENTICAL (event_id, unix_micros(ts)) pairs — one reader
   contract, two paths;
2. every supported physical encoding of ``ts`` — TIMESTAMP_NTZ µs,
   int64 NANOS, and LTZ µs — produces identical results for each
   events-consuming query family (batch window, streaming window,
   as-of join, OHLC rollup), so the next driver data regeneration
   cannot silently corrupt anything.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _batch_pairs(spark, sf_dir):
    from pyspark_xgboost_spark.sources import load_table

    df = load_table(spark, sf_dir, "events").select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    return sorted((r.event_id, r.us) for r in df.collect())


def test_batch_and_stream_readers_agree(spark):
    """The invariant that silently broke in round 3: both readers must
    surface the same microsecond epoch for every event."""
    from pyspark_xgboost_spark.streaming.stream import read_events_stream

    stream = read_events_stream(spark, SF_DIR).select(
        "event_id", F.unix_micros("ts").alias("us")
    )
    # run the stream to completion into a memory sink
    from pyspark_xgboost_spark.streaming.stream import _run_to_memory

    src = os.path.join(SF_DIR, "events.parquet")
    got = sorted((r.event_id, r.us) for r in _run_to_memory(stream, "append", src).collect())
    assert got == _batch_pairs(spark, SF_DIR)


@pytest.fixture(scope="module")
def encoded_dirs(tmp_path_factory):
    """events.parquet re-encoded with each historical ts physical type."""
    src = pq.read_table(os.path.join(SF_DIR, "events.parquet"))
    i = src.schema.get_field_index("ts")
    ts = src.column("ts")
    out = {}
    encodings = [
        ("ntz_us", pa.timestamp("us"), {}),
        # version 2.6 is what permits true TIMESTAMP(NANOS) storage
        ("nanos_int64", pa.timestamp("ns"), {"version": "2.6"}),
        ("ltz_us", pa.timestamp("us", tz="UTC"), {}),
    ]
    for name, typ, kw in encodings:
        d = tmp_path_factory.mktemp(f"events_{name}")
        t2 = src.set_column(i, pa.field("ts", typ), ts.cast(typ))
        pq.write_table(t2, str(d / "events.parquet"), **kw)
        out[name] = str(d)
    return out


def test_ts_encoding_invariance_batch(spark, encoded_dirs):
    """load_table canonicalizes every encoding to the same TIMESTAMP
    column — batch window, as-of join, and OHLC results must be
    bit-identical across encodings."""
    from pyspark_xgboost_spark.operators.temporal import (
        events_ohlc_rollup,
        join_asof,
    )
    from pyspark_xgboost_spark.streaming.windows import events_tumbling_window

    for fam in (events_tumbling_window, join_asof, events_ohlc_rollup):
        results = {
            name: sorted(tuple(r) for r in fam(spark, d).collect())
            for name, d in encoded_dirs.items()
        }
        base = results["ntz_us"]
        assert base, f"{fam.__name__} returned no rows"
        for name, rows in results.items():
            assert rows == base, f"{fam.__name__} differs under {name}"


def test_ts_encoding_invariance_stream(spark, encoded_dirs):
    """The streaming reader probes the file's physical schema, so the
    stream result must also be encoding-invariant."""
    from pyspark_xgboost_spark.streaming.stream import events_stream_tumbling_window

    results = {
        name: sorted(tuple(r) for r in events_stream_tumbling_window(spark, d).collect())
        for name, d in encoded_dirs.items()
    }
    base = results["ntz_us"]
    assert base
    for name, rows in results.items():
        assert rows == base, f"stream tumbling differs under {name}"


@pytest.fixture(scope="module")
def orders_encoded_dirs(tmp_path_factory):
    """sf0.001 with orders.o_orderdate re-encoded as DATE, NTZ µs, and
    LTZ µs — the drift surface for the next data regeneration. Other
    tables are symlinked so multi-table queries run unchanged."""
    src_dir = SF_DIR
    src = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    i = src.schema.get_field_index("o_orderdate")
    col = src.column("o_orderdate")
    out = {}
    encodings = [
        ("ntz_us", pa.timestamp("us")),
        ("date32", pa.date32()),
        ("ltz_us", pa.timestamp("us", tz="UTC")),
    ]
    for name, typ in encodings:
        d = tmp_path_factory.mktemp(f"orders_{name}")
        t2 = src.set_column(i, pa.field("o_orderdate", typ), col.cast(typ))
        pq.write_table(t2, str(d / "orders.parquet"))
        for f in os.listdir(src_dir):
            if f.endswith(".parquet") and f != "orders.parquet":
                os.symlink(os.path.join(src_dir, f), str(d / f))
        out[name] = str(d)
    return out


def test_orderdate_encoding_invariance(spark, orders_encoded_dirs):
    """Every orders-consuming query family must give identical results
    whether o_orderdate is stored as TIMESTAMP_NTZ, DATE, or LTZ —
    date comparisons, interval arithmetic, and unix_micros output all
    coerce through the same UTC instants."""
    from pyspark_xgboost_spark.operators.tpch import (
        tpch_q3_shipping_priority,
        tpch_q4_order_priority,
    )

    for fam in (tpch_q3_shipping_priority, tpch_q4_order_priority):
        results = {
            name: sorted(tuple(r) for r in fam(spark, d).collect())
            for name, d in orders_encoded_dirs.items()
        }
        base = results["ntz_us"]
        assert base, f"{fam.__name__} returned no rows"
        for name, rows in results.items():
            assert rows == base, f"{fam.__name__} differs under {name}"


@pytest.fixture(scope="module")
def lineitem_encoded_dirs(tmp_path_factory):
    """sf0.001 with lineitem.l_shipdate re-encoded as NTZ µs, DATE, and
    LTZ µs — the remaining date-typed drift surface after events.ts
    (round 3) and o_orderdate (round 4). l_shipdate feeds 8 TPC-H
    oracles, several with interval arithmetic against o_orderdate."""
    src_dir = SF_DIR
    src = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
    i = src.schema.get_field_index("l_shipdate")
    col = src.column("l_shipdate")
    out = {}
    encodings = [
        ("ntz_us", pa.timestamp("us")),
        ("date32", pa.date32()),
        ("ltz_us", pa.timestamp("us", tz="UTC")),
    ]
    for name, typ in encodings:
        d = tmp_path_factory.mktemp(f"lineitem_{name}")
        t2 = src.set_column(i, pa.field("l_shipdate", typ), col.cast(typ))
        pq.write_table(t2, str(d / "lineitem.parquet"))
        for f in os.listdir(src_dir):
            if f.endswith(".parquet") and f != "lineitem.parquet":
                os.symlink(os.path.join(src_dir, f), str(d / f))
        out[name] = str(d)
    return out


def test_shipdate_encoding_invariance(spark, lineitem_encoded_dirs):
    """Range filters (Q6), cross-column interval lateness (Q12), and
    the classic as-of-date scan (Q1) must be bit-identical whether
    l_shipdate is stored as TIMESTAMP_NTZ, DATE, or LTZ."""
    from pyspark_xgboost_spark.operators.tpch import (
        tpch_q1_pricing_summary,
        tpch_q6_revenue_change,
        tpch_q12_late_lines_by_priority,
    )

    for fam in (
        tpch_q1_pricing_summary,
        tpch_q6_revenue_change,
        tpch_q12_late_lines_by_priority,
    ):
        results = {
            name: sorted(tuple(r) for r in fam(spark, d).collect())
            for name, d in lineitem_encoded_dirs.items()
        }
        base = results["ntz_us"]
        assert base, f"{fam.__name__} returned no rows"
        for name, rows in results.items():
            assert rows == base, f"{fam.__name__} differs under {name}"


@pytest.fixture(scope="module")
def documents_reencoded_dirs(tmp_path_factory):
    """documents.parquet re-written under different parquet physical
    layouts of the SAME logical data: dictionary-encoded vs plain
    BYTE_ARRAY, and data-page v2 — the drift surface for every
    md5-keyed dedup/corpus oracle that hashes documents.text."""
    src_dir = SF_DIR
    src = pq.read_table(os.path.join(src_dir, "documents.parquet"))
    out = {}
    variants = [
        ("dict", {"use_dictionary": True}),
        ("plain", {"use_dictionary": False}),
        ("page_v2", {"data_page_version": "2.0"}),
    ]
    for name, kw in variants:
        d = tmp_path_factory.mktemp(f"documents_{name}")
        pq.write_table(src, str(d / "documents.parquet"), **kw)
        for f in os.listdir(src_dir):
            if f.endswith(".parquet") and f != "documents.parquet":
                os.symlink(os.path.join(src_dir, f), str(d / f))
        out[name] = str(d)
    return out


def test_documents_text_encoding_invariance(spark, documents_reencoded_dirs):
    """md5-digest dedup and rolling-hash fingerprints must not care how
    the text column is physically encoded in parquet."""
    from pyspark_xgboost_spark.operators.dedup import dedup_exact
    from pyspark_xgboost_spark.operators.text import text_fingerprint

    for fam in (dedup_exact, text_fingerprint):
        results = {
            name: sorted(tuple(r) for r in fam(spark, d).collect())
            for name, d in documents_reencoded_dirs.items()
        }
        base = results["dict"]
        assert base, f"{fam.__name__} returned no rows"
        for name, rows in results.items():
            assert rows == base, f"{fam.__name__} differs under {name}"
