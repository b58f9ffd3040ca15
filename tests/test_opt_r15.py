"""Round-15 optimization-pass equivalence tests.

Same discipline as tests/test_opt_r14.py: every structural rewrite this
round (fused kNN+exact kernel, one-exchange RAKE, bounded vocab pull;
the no-data-batch and input-sizing tests live in tests/test_streaming.py)
is pinned directly
against the legacy formulation or the invariant it must preserve, so a
future refactor cannot drift the fast path between oracle sweeps.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_fused_kernel_matches_separate_knn_and_exact_passes(spark):
    """_gg_knn_edges_fused's layer-0/1 adjacency must equal the
    per-layer builders, and its layer-2 reduction must equal the
    full-corpus _gg_exact_nn referee — for both the greedy-graph
    (no layer 1) and HNSW (two-layer) configurations."""
    from pyspark_xgboost_spark.operators.similarity import (
        _HNSW_L1_MOD,
        _KM_K,
        _N_QUERIES,
        _gg_exact_from_fused,
        _gg_exact_nn,
        _gg_knn_edges,
        _gg_knn_edges_fused,
        _gg_knn_edges_two_layer,
        _km_assign,
        _km_cent_row,
        _km_xq,
    )

    xq = _km_xq(spark, SF_DIR)
    cents = xq.orderBy("vec_id").limit(_KM_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    asg = _km_assign(xq, _km_cent_row(cents))
    panel_rows = (
        xq.filter(F.col("vec_id") < _N_QUERIES).orderBy("vec_id").collect()
    )

    exact_legacy = _rows(
        _gg_exact_nn(xq), "qid", "exact_id", "exact_dist_q"
    )

    # greedy-graph configuration (single layer)
    fused = _gg_knn_edges_fused(asg, panel_rows).localCheckpoint(eager=True)
    assert _rows(
        fused.filter(F.col("layer") == 0), "src", "dst"
    ) == _rows(_gg_knn_edges(asg), "src", "dst")
    assert (
        _rows(_gg_exact_from_fused(fused), "qid", "exact_id", "exact_dist_q")
        == exact_legacy
    )

    # HNSW configuration (two layers)
    fused2 = _gg_knn_edges_fused(
        asg, panel_rows, _HNSW_L1_MOD
    ).localCheckpoint(eager=True)
    assert _rows(
        fused2.filter(F.col("layer") < 2), "src", "dst", "layer"
    ) == _rows(_gg_knn_edges_two_layer(asg, _HNSW_L1_MOD), "src", "dst", "layer")
    assert (
        _rows(_gg_exact_from_fused(fused2), "qid", "exact_id", "exact_dist_q")
        == exact_legacy
    )


def test_rake_one_exchange_matches_legacy_join_formulation(spark):
    """text_rake_keywords' window-over-one-exchange rewrite must emit
    exactly the legacy two-join/checkpoint formulation's rows."""
    from pyspark.sql import Window

    from pyspark_xgboost_spark.operators.text import (
        _RAKE_K,
        _RAKE_STOP,
        _RAKE_TOKS,
        text_rake_keywords,
    )
    from pyspark_xgboost_spark.sources import load_table

    new = _rows(
        text_rake_keywords(spark, SF_DIR),
        "doc_id",
        "rk",
        "phrase",
        "score_micro",
    )

    docs = load_table(spark, SF_DIR, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(F.expr(_RAKE_TOKS)).alias("pos", "w")
    ).withColumn(
        "st", F.when(F.col("w").isin(_RAKE_STOP), 1).otherwise(0)
    )
    wp = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ph = tok.withColumn("pid", F.sum("st").over(wp))
    words = (
        ph.filter(F.col("st") == 0)
        .select("doc_id", "pid", "pos", "w")
        .localCheckpoint(eager=True)
    )
    plen = words.groupBy("doc_id", "pid").agg(
        F.count("*").cast("long").alias("L")
    )
    wsc = (
        words.join(plen, ["doc_id", "pid"])
        .groupBy("doc_id", "w")
        .agg(F.expr("sum(L) * 1000000 div count(*)").cast("long").alias("ws"))
    )
    phrase = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s["w"],
        ),
        " ",
    )
    pscore = (
        words.join(wsc, ["doc_id", "w"])
        .groupBy("doc_id", "pid")
        .agg(
            phrase.alias("phrase"),
            F.sum("ws").cast("long").alias("score_micro"),
        )
    )
    dd = pscore.select("doc_id", "phrase", "score_micro").distinct()
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("phrase").asc()
    )
    legacy = _rows(
        dd.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= _RAKE_K)
        .select(
            "doc_id",
            F.col("rk").cast("bigint").alias("rk"),
            "phrase",
            "score_micro",
        ),
        "doc_id",
        "rk",
        "phrase",
        "score_micro",
    )
    assert new == legacy


def test_blocked_er_vocab_pull_is_bounded(spark):
    """The bitmask vocabulary fetch must be LIMIT-bounded: the driver
    never materializes more than the mask budget + 1 distinct tokens,
    and the bitmask path still fires on the attribute-shaped part
    names (where the vocabulary is far under budget)."""
    from pyspark_xgboost_spark.operators import dedup as D

    src = open(D.__file__).read()
    # the collect() feeding the vocab must be preceded by a limit()
    assert ".limit(_VOCAB_BUDGET + 1)" in src
    out = D.dedup_blocked_entity_resolution(spark, SF_DIR)
    assert out.count() > 0


def test_events_stream_schema_follows_rewritten_file(spark, tmp_path):
    """The stream reader resolves events.parquet's schema from its footer
    on every call: rewriting the file with a new column gives the new
    schema on the next read."""
    import shutil

    from pyspark_xgboost_spark.sources.formats import staged_path
    from pyspark_xgboost_spark.streaming.stream import read_events_stream

    sf_dir = str(tmp_path)
    p = str(tmp_path / "events.parquet")
    sess = spark.newSession()  # the reader records input bytes on its session
    try:
        spark.range(3).select(F.col("id").alias("a")).coalesce(
            1
        ).write.mode("overwrite").parquet(p)
        assert read_events_stream(sess, sf_dir).columns == ["a"]
        spark.range(3).select(
            F.col("id").alias("a"), F.col("id").alias("b")
        ).coalesce(1).write.mode("overwrite").parquet(p)
        assert read_events_stream(sess, sf_dir).columns == ["a", "b"]
    finally:
        shutil.rmtree(
            os.path.dirname(staged_path(sf_dir, "events", "stream_src")),
            ignore_errors=True,
        )
