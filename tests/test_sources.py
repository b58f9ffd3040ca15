"""Parquet schema resolution (``sources.read_parquet``) and the
staged-copy lifecycle for the multi-format scan operators
(sources/formats.py): fingerprint keying plus garbage collection of
stale fingerprints, so a data swap invalidates derived scratch dirs
without letting /tmp grow without bound."""

from __future__ import annotations

import os
import shutil
import sys

from tests.conftest import SF_DIR


def test_stage_gc_keeps_one_copy_per_table(spark, tmp_path):
    from pyspark_xgboost_spark.sources.formats import _stage

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), data_dir / "region.parquet")

    first = _stage(spark, str(data_dir), "region", "csv")
    assert os.path.exists(os.path.join(first, "_SUCCESS"))

    # swap the data in place (same bytes, new mtime → new fingerprint)
    st = os.stat(data_dir / "region.parquet")
    os.utime(data_dir / "region.parquet", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    second = _stage(spark, str(data_dir), "region", "csv")

    assert second != first  # new fingerprint → new staged dir
    assert not os.path.exists(first)  # stale sibling collected
    parent = os.path.dirname(second)
    siblings = [
        n
        for n in os.listdir(parent)
        if n.startswith("region_csv_") and not n.endswith(".lock")
        # .lock files are build_lock's zero-byte flock anchors: left in
        # place on purpose (removing one a process still holds would
        # split later lockers onto a fresh inode, breaking exclusion)
    ]
    assert siblings == [os.path.basename(second)]


def test_stage_gc_leaves_other_tables_alone(spark, tmp_path):
    from pyspark_xgboost_spark.sources.formats import _stage

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), data_dir / f"{t}.parquet")

    region = _stage(spark, str(data_dir), "region", "csv")
    nation = _stage(spark, str(data_dir), "nation", "csv")
    # re-staging region (unchanged) must not disturb either copy
    assert _stage(spark, str(data_dir), "region", "csv") == region
    assert os.path.exists(os.path.join(nation, "_SUCCESS"))


def _scratch_source(tmp_path, table="t"):
    """Ensure a source file to fingerprint exists; return its sf_dir and
    the scratch directory the helpers derive for it (to clean up)."""
    from pyspark_xgboost_spark.sources.formats import staged_path

    src = tmp_path / f"{table}.parquet"
    if not src.exists():
        src.write_bytes(b"x")
    return str(tmp_path), os.path.dirname(staged_path(str(tmp_path), table, "probe"))


def test_staged_builds_once_across_threads(tmp_path):
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark_xgboost_spark.sources.formats import staged

    sf_dir, scratch = _scratch_source(tmp_path)
    calls = []
    guard = threading.Lock()

    def build(out):
        with guard:
            calls.append(out)
        time.sleep(0.2)  # widen the race window
        with open(os.path.join(out, "data"), "w") as fh:
            fh.write("ok")

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            got = list(
                pool.map(lambda _: staged(sf_dir, "t", "art", build), range(8))
            )
        assert len(calls) == 1
        assert set(got) == {calls[0]}
        with open(os.path.join(got[0], "data")) as fh:
            assert fh.read() == "ok"
    finally:
        sys.setswitchinterval(switch)
        shutil.rmtree(scratch, ignore_errors=True)


def test_failed_build_leaves_no_marker_and_next_call_rebuilds(tmp_path):
    import pytest

    from pyspark_xgboost_spark.sources.formats import _BUILT, staged, staged_path

    sf_dir, scratch = _scratch_source(tmp_path)
    path = staged_path(sf_dir, "t", "art")

    def boom(out):
        open(os.path.join(out, "partial"), "w").close()
        raise RuntimeError("build failed")

    def good(out):
        open(os.path.join(out, "data"), "w").close()
        return "recorded-value"

    try:
        with pytest.raises(RuntimeError):
            staged(sf_dir, "t", "art", boom)
        assert not os.path.exists(os.path.join(path, _BUILT))
        assert staged(sf_dir, "t", "art", good) == "recorded-value"
        assert not os.path.exists(os.path.join(path, "partial"))
        assert os.path.exists(os.path.join(path, "data"))
        # built: later calls return the recorded value without building
        assert staged(sf_dir, "t", "art", boom) == "recorded-value"
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_staged_path_gc_spares_artifacts_with_longer_names(tmp_path):
    """A new fingerprint collects the old leaf of the SAME artifact
    only — never one whose name merely extends it."""
    from pyspark_xgboost_spark.sources.formats import staged_path

    sf_dir, scratch = _scratch_source(tmp_path)
    try:
        old, old_ckpt = (staged_path(sf_dir, "t", n) for n in ("x", "x_ckpt"))
        for d in (old, old_ckpt):
            os.makedirs(d)
        src = tmp_path / "t.parquet"
        st = os.stat(src)
        os.utime(src, ns=(st.st_atime_ns, st.st_mtime_ns + 1))
        new = staged_path(sf_dir, "t", "x")
        assert new != old
        assert not os.path.exists(old)
        assert os.path.exists(old_ckpt)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_skew_fact_stages_once_under_concurrency(spark, tmp_path, monkeypatch):
    """_skew_fact_staged stages under the build lock: concurrent first
    callers load and write the source exactly once."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark_xgboost_spark.operators import temporal

    data_dir = tmp_path / "data"
    data_dir.mkdir()
    shutil.copy(os.path.join(SF_DIR, "lineitem.parquet"), data_dir / "lineitem.parquet")
    sf_dir, scratch = _scratch_source(data_dir, "lineitem")
    real = temporal.load_table
    calls = []
    guard = threading.Lock()

    def counting_load(spark_, sf, table):
        with guard:
            calls.append(table)
        time.sleep(0.3)  # widen the race window
        return real(spark_, sf, table)

    monkeypatch.setattr(temporal, "load_table", counting_load)
    try:
        with ThreadPoolExecutor(4) as pool:
            counts = list(
                pool.map(
                    lambda _: temporal._skew_fact_staged(spark, sf_dir).count(),
                    range(4),
                )
            )
        assert calls == ["lineitem"]
        assert set(counts) == {real(spark, sf_dir, "lineitem").count()}
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def test_scratch_layout_is_decided_in_formats_only():
    """Tripwire: the staging protocol lives in sources/formats.py.
    build_lock is taken only by build_once, stale-sibling GC runs only
    in staged_path (and the warehouse-side sink_bucketed_join), no
    other module imports the scratch root or those two primitives, and
    the sf_dir scratch key is derived in one place."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = root / "pyspark_xgboost_spark"
    formats = pkg / "sources" / "formats.py"
    private = {"_SCRATCH", "build_lock", "gc_stale_siblings"}
    allowed_callers = {
        "build_lock": {"build_once"},
        "gc_stale_siblings": {"staged_path", "sink_bucketed_join"},
    }
    offenders = []
    files = sorted(pkg.rglob("*.py")) + sorted((root / "tests").glob("*.py"))
    key_copies = 0
    for path in files:
        src = path.read_text()
        if path != pathlib.Path(__file__).resolve():  # names it below
            key_copies += src.count('.strip("/").replace("/", "_")')
        tree = ast.parse(src)

        def visit(node, stack):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [node.name]
            if isinstance(node, ast.ImportFrom) and path != formats:
                for alias in node.names:
                    if alias.name in private:
                        offenders.append(f"{path.name}: imports {alias.name}")
            if isinstance(node, ast.Attribute) and node.attr in private and path != formats:
                offenders.append(f"{path.name}: uses .{node.attr}")
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in allowed_callers
                and path.is_relative_to(pkg)
                and not allowed_callers[node.func.id] & set(stack)
            ):
                offenders.append(f"{path.name}: {node.func.id}() in {stack}")
            for child in ast.iter_child_nodes(node):
                visit(child, stack)

        visit(tree, [])
    assert offenders == []
    assert key_copies == 1  # staged_path's own derivation


def _chk_scan_text_profile_matches_batch(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import scan_text

    row = scan_text(spark, SF_DIR).collect()[0]
    docs = load_table(spark, SF_DIR, "documents")
    toks = F.expr(r"filter(split(lower(text), '[ \\t\\n\\f\\r]+'), x -> x != '')")
    want = docs.agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).alias("chars"),
        F.sum(F.size(toks)).alias("tokens"),
    ).collect()[0]
    assert row["n_lines"] == want["n"]
    assert row["total_chars"] == want["chars"]
    assert row["total_tokens"] == want["tokens"]


def _chk_corrupt_records_are_audited_not_dropped(spark):
    """PERMISSIVE-mode ingest: corrupt lines are counted (auditable),
    good rows aggregate cleanly, nothing is silently lost."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import scan_json_corrupt_records

    row = scan_json_corrupt_records(spark, SF_DIR).collect()[0]
    docs = load_table(spark, SF_DIR, "documents")
    n = docs.count()
    n_corrupt = docs.filter(F.col("doc_id") % 13 == 0).count()
    assert row["n_corrupt"] == n_corrupt
    assert row["n_good"] == n - n_corrupt
    assert row["n_good"] + row["n_corrupt"] == n  # nothing lost


def _chk_gzip_stage_writes_gz_files_and_reads_back(spark):
    import os

    from pyspark_xgboost_spark.sources.formats import (
        _stage_gzip_csv,
        scan_csv_gzip,
    )
    from tests.conftest import SF_DIR

    path = _stage_gzip_csv(spark, SF_DIR, "orders")
    gz = [f for f in os.listdir(path) if f.endswith(".csv.gz")]
    assert gz  # the staged landing zone is genuinely gzip
    n = scan_csv_gzip(spark, SF_DIR).agg({"n_orders": "sum"}).collect()[0][0]
    from pyspark_xgboost_spark.sources import load_table

    assert n == load_table(spark, SF_DIR, "orders").count()


def _chk_python_datasource_roundtrip_and_parallelism(spark):
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import (
        _DOCBIN_SHARDS,
        _stage_docbin,
        scan_python_datasource,
    )
    from tests.conftest import SF_DIR

    import os

    path = _stage_docbin(SF_DIR)
    shards = [f for f in os.listdir(path) if f.endswith(".docbin")]
    assert len(shards) == _DOCBIN_SHARDS
    # per-row binary round trip, not just the aggregate
    try:
        spark.dataSource.register(
            __import__(
                "pyspark_xgboost_spark.sources.formats", fromlist=["DocBinDataSource"]
            ).DocBinDataSource
        )
    except Exception:
        pass
    back = (
        spark.read.format("docbin").option("path", path).load().collect()
    )
    src = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    assert {tuple(r) for r in back} == {tuple(r) for r in src}
    # one InputPartition per shard file = real scan parallelism
    rdd_parts = (
        spark.read.format("docbin").option("path", path).load().rdd.getNumPartitions()
    )
    assert rdd_parts == _DOCBIN_SHARDS
    # and the registered query agrees with the source table
    n = sum(r["n_docs"] for r in scan_python_datasource(spark, SF_DIR).collect())
    assert n == len(src)


def _chk_compaction_shrinks_file_count_content_neutral(spark):
    import os

    from pyspark_xgboost_spark.sources.formats import (
        _COMPACT_TARGET,
        sink_compact_small_files,
        staged_path,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    rows = sink_compact_small_files(spark, SF_DIR).collect()

    def n_parquet(name):
        d = staged_path(SF_DIR, "lineitem", name)
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    assert n_parquet("li_frag") == 64
    assert n_parquet("li_compact") == _COMPACT_TARGET
    assert sum(r["n"] for r in rows) == load_table(spark, SF_DIR, "lineitem").count()


def _chk_schema_evolution_nulls_only_in_legacy_files(spark):
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources.formats import (
        scan_schema_evolution_merge,
        staged_path,
    )
    from pyspark_xgboost_spark.sources import load_table
    from tests.conftest import SF_DIR

    import os

    rows = scan_schema_evolution_merge(spark, SF_DIR).collect()
    orders = load_table(spark, SF_DIR, "orders")
    assert sum(r["n"] for r in rows) == orders.count()
    root = staged_path(SF_DIR, "orders", "orders_evo")
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "v1"), os.path.join(root, "v2")
    )
    assert set(merged.columns) == {
        "o_orderkey", "o_orderstatus", "o_orderdate",
        "o_totalprice", "o_orderpriority",
    }
    cutoff = F.lit("1998-01-01").cast("timestamp")
    # evolution boundary: the new column is NULL exactly on legacy rows
    assert merged.filter(
        (F.col("o_orderdate") < cutoff) & F.col("o_orderpriority").isNotNull()
    ).count() == 0
    assert merged.filter(
        (F.col("o_orderdate") >= cutoff) & F.col("o_orderpriority").isNull()
    ).count() == 0


def _chk_metadata_hidden_column_counts_staged_files(spark):
    """Spark's _metadata hidden column: per-file provenance without a
    path column in the data — counted over the 64-file fragmented
    staging, where it genuinely discriminates."""
    from pyspark.sql import functions as F

    from pyspark_xgboost_spark.sources.formats import (
        sink_compact_small_files,
        staged_path,
    )
    from tests.conftest import SF_DIR

    sink_compact_small_files(spark, SF_DIR)  # ensures both stagings exist
    frag = staged_path(SF_DIR, "lineitem", "li_frag")
    per_file = (
        spark.read.parquet(frag)
        .groupBy(F.col("_metadata.file_path").alias("f"))
        .count()
        .collect()
    )
    assert len(per_file) == 64
    assert sum(r["count"] for r in per_file) == spark.read.parquet(frag).count()


def _chk_zorder_buckets_have_2d_locality(spark):
    """The Morton-key bucketing must (a) interleave bits exactly like
    the Python reference and (b) give each bucket a day-range at most
    ~a quarter of the global span (the top three z bits contain two
    y-bits), which is precisely the footer-stats pruning win."""
    from pyspark_xgboost_spark.sources.formats import (
        _z_interleave_sql,
        sink_zorder_cluster,
    )

    # (a) expression == python bit interleave on probe values
    probes = [(0, 0), (1, 0), (0, 1), (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(probes, "x long, y long").selectExpr(
        "x", "y", f"CAST({_z_interleave_sql('x', 'y', div='div')} AS BIGINT) AS z"
    )

    def ref(x, y):
        z = 0
        for b in range(16):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    for r in df.collect():
        assert r.z == ref(r.x, r.y)

    # (b) locality of the written buckets
    rows = sink_zorder_cluster(spark, SF_DIR).collect()
    assert len(rows) >= 4
    gmin = min(r.min_day for r in rows)
    gmax = max(r.max_day for r in rows)
    span = gmax - gmin
    for r in rows:
        assert (r.max_day - r.min_day) <= span // 4 + 2


def test_python_datasource_stream_exactly_once_offsets(spark, tmp_path):
    """Two+ staged micro-batches over the docbin stream reader must
    partition the shard range with no overlap and no gap: every record
    arrives exactly once and committed offsets advance monotonically."""
    import ast

    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import (
        _DOCBIN_SHARDS,
        DocBinDataSource,
        _stage_docbin,
    )
    from tests.conftest import SF_DIR

    path = _stage_docbin(SF_DIR)
    try:
        spark.dataSource.register(DocBinDataSource)
    except Exception:
        pass
    docs = (
        spark.readStream.format("docbin")
        .option("path", path)
        .option("batchfiles", "3")  # 8 shards -> batches of 3,3,2
        .load()
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        docs.writeStream.outputMode("append")
        .format("memory")
        .queryName("docbin_stream_test")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    import time

    def _idx(o):
        if o is None:
            return None
        d = ast.literal_eval(o) if isinstance(o, str) else o
        return None if d is None else int(d["file_idx"])

    deadline = time.time() + 120
    while time.time() < deadline:
        p = q.lastProgress
        if p and p.get("sources") and _idx(p["sources"][0].get("endOffset")) == _DOCBIN_SHARDS:
            break
        time.sleep(0.1)
    progresses = [
        (
            _idx(p["sources"][0].get("startOffset")),
            _idx(p["sources"][0].get("endOffset")),
            p["sources"][0]["numInputRows"],
        )
        for p in q.recentProgress
        if p.get("sources")
    ]
    q.stop()
    q.awaitTermination()

    # the initial batch reports startOffset=None, so pin the contract on
    # the committed endOffset sequence: strictly increasing (no shard
    # re-read), >=2 data-bearing batches, final offset = all shards
    ends = [e for _s, e, n in progresses if n > 0 and e is not None]
    assert len(ends) >= 2
    assert ends == sorted(set(ends))
    assert ends[-1] == _DOCBIN_SHARDS

    got = spark.table("docbin_stream_test").collect()
    src = (
        load_table(spark, SF_DIR, "documents")
        .select("doc_id", "source", "n_chars")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, src))  # exactly once


def test_docbin_streams_rerun_and_leave_no_temp_dirs(spark, tmp_path, monkeypatch):
    """The docbin stream write gives the same rows on a rerun, and
    neither docbin stream leaves a ``docbin_stream_*`` directory in the
    temp dir: the checkpoints live for one run, and the write's sink is
    one staged directory per source fingerprint. Not pooled: it points
    the process-wide ``tempfile.tempdir`` at ``tmp_path``."""
    import os
    import tempfile

    from pyspark_xgboost_spark.sources.formats import (
        scan_python_datasource_stream,
        sink_python_datasource_stream_write,
    )
    from tests.conftest import SF_DIR

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    first = rows(sink_python_datasource_stream_write(spark, SF_DIR))
    assert first and rows(sink_python_datasource_stream_write(spark, SF_DIR)) == first
    assert rows(scan_python_datasource_stream(spark, SF_DIR))
    assert [e for e in os.listdir(tempfile.gettempdir()) if e.startswith("docbin_stream")] == []


def test_python_datasource_writer_two_phase_commit(spark, tmp_path):
    """The docbin writer must leave ONLY committed .docbin shards (no
    .tmp residue), a _DONE marker with the exact row count, and a
    byte-identical read-back through the batch reader."""
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.sources.formats import DocBinDataSource
    from tests.conftest import SF_DIR

    try:
        spark.dataSource.register(DocBinDataSource)
    except Exception:
        pass
    out = str(tmp_path / "docbin_out")
    src = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "n_chars"
    )
    src.repartition(5).write.format("docbin").mode("overwrite").option(
        "path", out
    ).save()

    files = os.listdir(out)
    assert not [f for f in files if f.endswith(".tmp")]
    shards = [f for f in files if f.endswith(".docbin")]
    assert len(shards) == 5  # one committed shard per writer task
    with open(os.path.join(out, "_DONE")) as fh:
        assert int(fh.read()) == src.count()

    back = spark.read.format("docbin").option("path", out).load().collect()
    assert sorted(map(tuple, back)) == sorted(map(tuple, src.collect()))


def test_read_parquet_schema_matches_spark_inference_on_committed_data(spark):
    import glob
    import pathlib

    from pyspark_xgboost_spark.sources import read_parquet

    root = pathlib.Path(__file__).resolve().parent.parent
    files = sorted(glob.glob(str(root / "perfbench" / "data" / "*" / "*.parquet")))
    files += sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*", "*.parquet")))
    assert len(files) >= 20
    for p in files:
        assert read_parquet(spark, p).schema == spark.read.parquet(p).schema, p


def test_read_parquet_matches_spark_on_spark_written_multipart_dir(spark, tmp_path):
    """Spark-written footers carry the schema as JSON: types with no
    plain Arrow equivalent (decimal, binary, map, struct, a UDT) and both
    timestamp kinds resolve to exactly what Spark infers, rows too."""
    import datetime as dt
    from decimal import Decimal

    from pyspark.ml.linalg import Vectors, VectorUDT
    from pyspark.sql import types as T

    from pyspark_xgboost_spark.sources import read_parquet

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("dec", T.DecimalType(18, 4)),
            T.StructField("bin", T.BinaryType()),
            T.StructField("ltz", T.TimestampType()),
            T.StructField("ntz", T.TimestampNTZType()),
            T.StructField("d", T.DateType()),
            T.StructField("arr", T.ArrayType(T.DoubleType())),
            T.StructField("m", T.MapType(T.StringType(), T.IntegerType())),
            T.StructField(
                "st",
                T.StructType(
                    [T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())]
                ),
            ),
            T.StructField("vec", VectorUDT()),
        ]
    )
    rows = [
        (
            i,
            Decimal(f"{i}.1234"),
            bytes([i, 7]),
            dt.datetime(2024, 1, 1, i % 24, i),
            dt.datetime(2024, 1, 2, i % 24, i),
            dt.date(2024, 1, 1) + dt.timedelta(days=i),
            [float(i), 0.5],
            {"k": i},
            (i, str(i)),
            Vectors.dense([float(i), 1.0]),
        )
        for i in range(40)
    ]
    out = str(tmp_path / "mixed")
    spark.createDataFrame(rows, schema).repartition(3).write.parquet(out)
    assert len([n for n in os.listdir(out) if n.endswith(".parquet")]) > 1

    got, want = read_parquet(spark, out), spark.read.parquet(out)
    assert got.schema == want.schema
    assert sorted(got.collect(), key=lambda r: r.id) == sorted(
        want.collect(), key=lambda r: r.id
    )


def test_read_parquet_falls_back_to_spark_inference(spark, tmp_path):
    """Hive partitions keep their partition column, a TIMESTAMP(NANOS)
    file reads as bigint under nanosAsLong as before, and an empty
    directory raises what Spark raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from pyspark_xgboost_spark.sources import read_parquet

    part = str(tmp_path / "by_k")
    spark.range(6).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(part)
    got = read_parquet(spark, part)
    assert "k" in got.columns
    assert got.schema == spark.read.parquet(part).schema
    assert sorted(got.collect()) == sorted(spark.read.parquet(part).collect())

    sess = spark.newSession()
    nanos = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_700_000_000_123_456_789, 5], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), nanos, version="2.6")
    got = read_parquet(sess, nanos)
    assert sess.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert got.dtypes == [("ts", "bigint")]
    assert got.collect() == sess.read.parquet(nanos).collect()
    assert sorted(r.ts for r in got.collect()) == [5, 1_700_000_000_123_456_789]

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(Exception) as spark_err:
        spark.read.parquet(str(empty))
    with pytest.raises(Exception) as ours:
        read_parquet(spark, str(empty))
    assert type(ours.value) is type(spark_err.value)


def test_load_table_runs_no_spark_job(spark, tmp_path):
    """The schema comes from the footer on the driver: loading a copy
    Spark has never seen launches no inference job."""
    from pyspark_xgboost_spark.sources import load_table

    for t in ("lineitem", "events"):
        shutil.copy(os.path.join(SF_DIR, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    sc = spark.sparkContext
    group = f"load_table_probe_{os.getpid()}"
    sc.setJobGroup(group, "load_table job count")
    try:
        for t in ("lineitem", "events"):
            assert load_table(spark, str(tmp_path), t).columns
    finally:
        for k in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(k, None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_events_reads_leave_nanos_as_long_unset(spark):
    """Neither the batch nor the stream events reader sets
    spark.sql.legacy.parquet.nanosAsLong for the committed µs file."""
    from pyspark_xgboost_spark.sources import load_table
    from pyspark_xgboost_spark.streaming.stream import read_events_stream

    sess = spark.newSession()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert sess.conf.get(key, None) is None
    assert dict(load_table(sess, SF_DIR, "events").dtypes)["ts"] == "timestamp"
    assert dict(read_events_stream(sess, SF_DIR).dtypes)["ts"] == "timestamp"
    assert sess.conf.get(key, None) is None


def test_src_fingerprint_sees_part_file_rewritten_in_place(tmp_path):
    """A directory-shaped source whose part file is rewritten in place
    (the directory's own stat unchanged) gets a new fingerprint."""
    from pyspark_xgboost_spark.sources.formats import src_fingerprint

    d = tmp_path / "t.parquet"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"a" * 10)
    (d / "_SUCCESS").write_bytes(b"")
    before = src_fingerprint(str(tmp_path), "t")
    dst = os.stat(d)
    part.write_bytes(b"b" * 12)
    os.utime(d, ns=(dst.st_atime_ns, dst.st_mtime_ns))
    assert src_fingerprint(str(tmp_path), "t") != before


def test_parquet_reads_go_through_read_parquet_only():
    """Tripwire: sources/__init__.py is the one module that calls
    Spark's parquet reader, so no read re-infers a schema."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "pyspark_xgboost_spark"
    resolver = pkg / "sources" / "__init__.py"
    offenders = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path != resolver
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".read.parquet(" in line or 'read.format("parquet")' in line
    ]
    assert offenders == []


# Pooled contract sweep (smoke-sweep discipline; see test_plans_r11).
_POOLED_CHECKS_SOURCES = [_chk_scan_text_profile_matches_batch, _chk_corrupt_records_are_audited_not_dropped, _chk_gzip_stage_writes_gz_files_and_reads_back, _chk_python_datasource_roundtrip_and_parallelism, _chk_compaction_shrinks_file_count_content_neutral, _chk_schema_evolution_nulls_only_in_legacy_files, _chk_metadata_hidden_column_counts_staged_files, _chk_zorder_buckets_have_2d_locality]


def test_sources_contracts_pooled(spark):
    from tests.conftest import run_pooled

    run_pooled(spark, _POOLED_CHECKS_SOURCES)
