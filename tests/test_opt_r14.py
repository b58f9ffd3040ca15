"""Round-14 optimization-pass equivalence tests.

Each optimization in this round restructures HOW an operator computes
(bitmask set arithmetic, type-level sketch construction, single-pass
edge generation) while the registered oracle pins WHAT it computes.
These cases pin the internal equivalence directly against the legacy
formulation, so a future refactor cannot drift the fast path away from
the reference arithmetic even between oracle sweeps.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_blocked_er_bitmask_matches_direct_array_jaccard(spark):
    """The vocabulary-bitmask Jaccard (popcounts over 63-bit words)
    must reproduce the direct array_intersect/array_distinct scores
    pair for pair."""
    from pyspark_xgboost_spark.operators.dedup import (
        dedup_blocked_entity_resolution,
    )
    from pyspark_xgboost_spark.sources import load_table

    fast = dedup_blocked_entity_resolution(spark, SF_DIR)

    part = load_table(spark, SF_DIR, "part")
    p = part.select(
        "p_partkey",
        "p_brand",
        "p_type",
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("cents"),
        F.split(F.col("p_name"), " ").getItem(0).alias("tok1"),
        F.array_distinct(F.split(F.col("p_name"), " ")).alias("toks"),
    )
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_brand").alias("brand"),
        "tok1",
        F.col("p_type").alias("type_a"),
        F.col("cents").alias("cents_a"),
        F.col("toks").alias("toks_a"),
    )
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_brand").alias("brand"),
        "tok1",
        F.col("p_type").alias("type_b"),
        F.col("cents").alias("cents_b"),
        F.col("toks").alias("toks_b"),
    )
    legacy = (
        a.join(b, ["brand", "tok1"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.expr(
                "size(array_intersect(toks_a, toks_b)) * 1000000"
                " div size(array_distinct(concat(toks_a, toks_b)))"
            )
            .cast("bigint")
            .alias("name_jaccard_micro"),
        )
    )
    fast_j = _rows(fast, "key_a", "key_b", "name_jaccard_micro")
    legacy_j = {
        (r[0], r[1]): r[2] for r in legacy.collect()
    }
    assert fast_j, "no candidate pairs at this SF"
    for key_a, key_b, jacc in fast_j:
        assert legacy_j[(key_a, key_b)] == jacc


def test_countmin_counters_match_per_occurrence_construction(spark):
    """The type-level sketch build (distinct tokens weighted by exact
    count) must produce counters bit-identical to hashing every token
    occurrence."""
    from pyspark_xgboost_spark.operators.sketches import _CMS_W
    from pyspark_xgboost_spark.operators.sketches import (
        agg_countmin_heavy_hitters,
    )
    from pyspark_xgboost_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    toks = docs.select(
        F.explode(
            F.expr(
                r"filter(split(lower(text), '[ \\t\\n\\f\\r]+'), t -> t != '')"
            )
        ).alias("token")
    )
    dd = F.array(*[F.lit(i) for i in range(4)])
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("d").cast("string"), F.col("token"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W
    )
    occ = toks.withColumn("d", F.explode(dd)).select("d", bucket.alias("bucket"))
    legacy = {
        (r[0], r[1]): r[2]
        for r in occ.groupBy("d", "bucket").agg(F.count("*").alias("c")).collect()
    }

    # the optimized query's estimates must equal min over the legacy
    # counters for each probe token
    est = agg_countmin_heavy_hitters(spark, SF_DIR).collect()
    assert est
    probe = (
        spark.createDataFrame(
            [(r["token"],) for r in est], "token string"
        )
        .withColumn("d", F.explode(dd))
        .select("token", "d", bucket.alias("bucket"))
    )
    for r in est:
        buckets = [
            (p["d"], p["bucket"])
            for p in probe.collect()
            if p["token"] == r["token"]
        ]
        assert r["cms_estimate"] == min(legacy[b] for b in buckets)


def test_bigram_edges_single_generate_matches_union_construction(spark):
    """_bigram_edges' one-generate both-directions build must equal the
    legacy two-branch self-union."""
    from pyspark_xgboost_spark.operators.text import _bigram_edges
    from pyspark_xgboost_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")
    new = _rows(_bigram_edges(docs), "src", "dst", "w")

    toks = F.expr(
        r"filter(split(lower(text), '[ \\t\\n\\f\\r]+'), x -> x != '')"
    )
    big = (
        docs.select(toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    "         slice(toks, 2, size(toks) - 1),"
                    "         (l, r) -> struct(l, r))"
                )
            ).alias("p")
        )
        .filter(F.col("p.l") != F.col("p.r"))
        .select("p.l", "p.r")
    )
    legacy = _rows(
        big.select(F.col("l").alias("src"), F.col("r").alias("dst"))
        .union(big.select(F.col("r").alias("src"), F.col("l").alias("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("w")),
        "src",
        "dst",
        "w",
    )
    assert new == legacy


def test_ppmi_windowed_pairs_match_self_join_construction(spark):
    """corpus_cooccurrence_ppmi's single-generate ±2-window pair stream
    must equal the legacy position-exploded self-join multiset."""
    from pyspark_xgboost_spark.operators.corpus import _TOKS
    from pyspark_xgboost_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents")

    toks = docs.select(F.expr(_TOKS).alias("ts")).filter(F.size("ts") >= 2)
    pair_expr = F.expr(
        "flatten(transform(sequence(1, size(ts) - 1), i -> "
        "IF(i + 2 <= size(ts), "
        "array(struct(least(ts[i-1], ts[i]) AS w1,"
        "             greatest(ts[i-1], ts[i]) AS w2),"
        "      struct(least(ts[i-1], ts[i+1]) AS w1,"
        "             greatest(ts[i-1], ts[i+1]) AS w2)), "
        "array(struct(least(ts[i-1], ts[i]) AS w1,"
        "             greatest(ts[i-1], ts[i]) AS w2)))))"
    )
    new = sorted(
        tuple(r)
        for r in toks.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.w1", "p.w2")
        .count()
        .collect()
    )

    pos = docs.select("doc_id", F.posexplode(F.expr(_TOKS)).alias("i", "w"))
    a = pos.select("doc_id", F.col("i").alias("ia"), F.col("w").alias("wa"))
    b = pos.select("doc_id", F.col("i").alias("ib"), F.col("w").alias("wb"))
    legacy_pairs = (
        a.join(b, "doc_id")
        .filter((F.col("ib") > F.col("ia")) & (F.col("ib") <= F.col("ia") + 2))
        .select(
            F.when(F.col("wa") <= F.col("wb"), F.col("wa"))
            .otherwise(F.col("wb"))
            .alias("w1"),
            F.when(F.col("wa") <= F.col("wb"), F.col("wb"))
            .otherwise(F.col("wa"))
            .alias("w2"),
        )
    )
    legacy = sorted(
        tuple(r) for r in legacy_pairs.groupBy("w1", "w2").count().collect()
    )
    assert new == legacy


def test_hnsw_two_layer_knn_matches_per_layer_builders(spark):
    """_gg_knn_edges_two_layer's layer-tagged output must equal running
    _gg_knn_edges separately on the full frame (layer 0) and on the
    1-in-mod subsample (layer 1)."""
    from pyspark_xgboost_spark.operators.similarity import (
        _HNSW_L1_MOD,
        _KM_K,
        _gg_knn_edges,
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
    merged = _gg_knn_edges_two_layer(asg, _HNSW_L1_MOD)
    l0 = _rows(merged.filter(F.col("layer") == 0), "src", "dst")
    l1 = _rows(merged.filter(F.col("layer") == 1), "src", "dst")
    ref0 = _rows(_gg_knn_edges(asg), "src", "dst")
    ref1 = _rows(
        _gg_knn_edges(asg.filter(F.col("vec_id") % _HNSW_L1_MOD == 0)),
        "src",
        "dst",
    )
    assert l0 == ref0 and l1 == ref1 and len(l1) > 0
