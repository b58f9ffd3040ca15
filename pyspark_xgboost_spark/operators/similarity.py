"""Similarity search over the ``embeddings`` table (ANN surface).

Three tiers, mirroring how a 100 TB vector corpus is actually served:

* ``sim_search_topk`` — brute-force cosine top-k: the exactness
  baseline. Query side is tiny and broadcast; the corpus is scanned
  once per batch of queries (not per query).
* ``sim_search_ivf`` — partition-pruned search: probe only the
  query's cell (here the ``label`` column stands in for a learned
  coarse quantizer). This is the IVF pattern: at scale the corpus is
  partitioned by cell id, so a probe touches 1/nlist of the data.
* ``sim_search_brp_lsh`` — MLlib BucketedRandomProjectionLSH
  approx join: hash-bucketed candidates, engine-specific hashes →
  rows-only check.
* ``sim_search_ivf_kmeans`` — IVF with a LEARNED coarse quantizer:
  deterministic Lloyd centroids (``embedding_kmeans_lloyd``) route
  the corpus to cells; queries probe their nprobe nearest cells.
* ``embedding_kmeans_lloyd`` / ``dedup_semdedup_clusters`` — the
  clustering trainer and the SemDeDup cluster-restricted semantic
  dedup built on it.

Cosine math is fold-left double arithmetic that matches DuckDB's
sequential ``list_inner_product`` bit-for-bit; outputs are floored to
4dp (binary floor is engine-agnostic; decimal ROUND is not).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pyspark_xgboost_spark.operators.dedup import _cosine_cols
from pyspark_xgboost_spark.registry import register
from pyspark_xgboost_spark.sources import load_table

_TOPK = 3
_N_QUERIES = 10  # vec_id < 10 are the query vectors


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )


_SIM_SQL_CORE = """
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT * FROM e WHERE vec_id < {nq}),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             floor(list_inner_product(q.v, c.v)
                   / (sqrt(list_inner_product(q.v, q.v)) * sqrt(list_inner_product(c.v, c.v)))
                   * 10000) / 10000 AS cos_sim
      FROM q JOIN e c ON c.vec_id != q.vec_id {cell_pred}
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= {k}
"""


@register(
    "sim_search_topk",
    oracle=_SIM_SQL_CORE.format(nq=_N_QUERIES, k=_TOPK, cell_pred=""),
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 for the first 10 vectors against the
    whole corpus. The query side is broadcast; ranking ties broken by
    neighbor_id so the result is deterministic across engines."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    joined = F.broadcast(q).crossJoin(e.select(F.col("vec_id").alias("neighbor_id"), "v"))
    joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _cosine_cols("qv", "v")
    scored = joined.select(
        "query_id", "neighbor_id", (F.floor(cos * 10000) / 10000).alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


@register(
    "sim_search_ivf",
    oracle=_SIM_SQL_CORE.format(
        nq=_N_QUERIES, k=_TOPK, cell_pred="AND c.label = q.label"
    ),
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style probe: search only the query's cell (label = coarse
    quantizer id). At 100 TB the corpus is partitioned by cell, so this
    is a partition-pruned scan + per-cell top-k, not a full pass."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("qcell"), F.col("v").alias("qv")
    )
    joined = F.broadcast(q).join(
        e.select(F.col("vec_id").alias("neighbor_id"), "label", "v"),
        F.col("label") == F.col("qcell"),
    )
    joined = joined.filter(F.col("neighbor_id") != F.col("query_id"))
    cos = _cosine_cols("qv", "v")
    scored = joined.select(
        "query_id", "neighbor_id", (F.floor(cos * 10000) / 10000).alias("cos_sim")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


@register("sim_search_brp_lsh")
def sim_search_brp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib BucketedRandomProjectionLSH approxSimilarityJoin — the
    hash-bucketed candidate path (rows-only: bucket hashes are
    engine-specific). Seeded, so the output is stable run-to-run."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    )
    model = lsh.fit(emb)
    pairs = model.approxSimilarityJoin(emb, emb, threshold=6.0, distCol="dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("vec_a"),
            F.col("datasetB.vec_id").alias("vec_b"),
            (F.floor(F.col("dist") * 10000) / 10000).alias("dist"),
        )
    )


@register(
    "sim_search_topk_vectorized",
    oracle=_SIM_SQL_CORE.format(nq=_N_QUERIES, k=_TOPK, cell_pred=""),
)
def sim_search_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production brute-force path: the query block is broadcast to every
    partition as a numpy matrix and each Arrow batch does ONE matmul
    against it (mapInPandas), emitting per-partition top-k candidates;
    a final window takes the global top-k. Where sim_search_topk
    evaluates interpreted higher-order fold expressions per pair, this
    runs BLAS — the same plan shape serves 10 queries or 10k.

    Oracle parity note: the dot product is an ordered fold (math.fsum-
    free, same order as DuckDB's list_inner_product) computed in numpy
    via cumulative addition over the feature axis — for 64-dim unit-
    scale vectors the sequential double sum is reproduced exactly by
    adding columns in index order."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < _N_QUERIES).collect()
    q_ids = np.array([r["vec_id"] for r in queries], dtype=np.int64)
    Q = np.array([r["v"] for r in queries], dtype=np.float64)  # (nq, d)
    q_norm = np.sqrt((Q * Q).sum(axis=1))
    sc = spark.sparkContext
    bQ = sc.broadcast((q_ids, Q, q_norm))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, Q, q_norm = bQ.value
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(list(pdf["v"]), dtype=np.float64)  # (nc, d)
            # sequential-order dot: accumulate feature columns in index
            # order so doubles match the engines' ordered folds
            dot = np.zeros((len(q_ids), len(C)))
            for j in range(C.shape[1]):
                dot += np.outer(Q[:, j], C[:, j])
            c_norm = np.zeros(len(C))
            for j in range(C.shape[1]):
                c_norm += C[:, j] * C[:, j]
            cos = dot / (q_norm[:, None] * np.sqrt(c_norm)[None, :])
            nbr = pdf["vec_id"].to_numpy()
            qq, cc = np.meshgrid(np.arange(len(q_ids)), np.arange(len(C)), indexing="ij")
            out = pd.DataFrame(
                {
                    "query_id": q_ids[qq.ravel()],
                    "neighbor_id": nbr[cc.ravel()],
                    "cos_sim": np.floor(cos.ravel() * 10000) / 10000,
                }
            )
            out = out[out["query_id"] != out["neighbor_id"]]
            # per-partition-batch prune: keep k best per query
            out = (
                out.sort_values(["query_id", "cos_sim", "neighbor_id"],
                                ascending=[True, False, True])
                .groupby("query_id", sort=False)
                .head(_TOPK)
            )
            yield out

    cand = e.select("vec_id", "v").mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return cand.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _TOPK)


_PQ_M = 8  # subspaces (64 dims -> 8 x 8)
_PQ_D = 8  # dims per subspace
_PQ_K = 16  # codebook entries per subspace (vec_id < 16 sub-vectors)


def _pq_adc_topk_kernel(e: DataFrame) -> DataFrame:
    """PQ encode + ADC score + per-batch top-k as one Arrow-batched
    numpy kernel, replaying the declarative form's float arithmetic
    BIT-FOR-BIT so the DuckDB oracle still matches:

    - encoding: per 8-dim sub-vector the three inner products are
      sequential left folds (a loop over dims, vectorized across rows —
      each row sees the identical add order the HOF fold and DuckDB's
      list_inner_product use), combined as (sv·sv + cv·cv) - 2.0*(sv·cv);
      np.argmin resolves exact ties to the lowest centroid index like
      min(struct(dist2, c)).
    - LUT: term_nano[q, s, c] = floor(fold_dot(query_sub, centroid) *
      1e9) as int64 — identical to F.floor(_dot(..) * 1e9).
    - scoring: adc_nano = sum_s LUT[q, s, code_s], exact int64.
    - per-batch top-k: each batch emits only its best _TOPK neighbors
      per query under the strict total order (adc desc, neighbor asc) —
      the same order the final global window uses, so no global winner
      can be dropped, and the kernel's output is O(batches * q * k)
      rows regardless of corpus size.

    Driver state: the codebook (16 sub-vectors) + 10 query vectors —
    a fixed ~5 KB closure; everything else streams through Arrow."""
    import numpy as np
    import pandas as pd

    head = sorted(
        e.filter(F.col("vec_id") < max(_PQ_K, _N_QUERIES)).collect(),
        key=lambda r: r.vec_id,
    )
    cb_rows = [r for r in head if r.vec_id < _PQ_K]
    q_rows = [r for r in head if r.vec_id < _N_QUERIES]
    # cb[s] is a (K, D) float64 matrix of centroid sub-vectors
    cb = [
        np.array(
            [r.v[s * _PQ_D : (s + 1) * _PQ_D] for r in cb_rows], dtype=np.float64
        )
        for s in range(_PQ_M)
    ]
    # cv·cv per centroid, as the same sequential fold
    cb_norm = []
    for s in range(_PQ_M):
        acc = np.zeros(_PQ_K)
        for i in range(_PQ_D):
            acc = acc + cb[s][:, i] * cb[s][:, i]
        cb_norm.append(acc)

    def _fold_dot(a, b) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    q_ids = np.array([r.vec_id for r in q_rows], dtype=np.int64)
    lut = np.empty((len(q_rows), _PQ_M, _PQ_K), dtype=np.int64)
    for qi, r in enumerate(q_rows):
        for s in range(_PQ_M):
            qs = [float(x) for x in r.v[s * _PQ_D : (s + 1) * _PQ_D]]
            for c in range(_PQ_K):
                lut[qi, s, c] = int(
                    np.floor(_fold_dot(qs, cb[s][c]) * 1_000_000_000)
                )

    n_q, k = len(q_rows), _TOPK

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            ids = pdf["vec_id"].to_numpy(np.int64)
            codes = np.empty((n, _PQ_M), dtype=np.int64)
            for s in range(_PQ_M):
                S = X[:, s * _PQ_D : (s + 1) * _PQ_D]
                sv_norm = np.zeros(n)
                for i in range(_PQ_D):
                    sv_norm = sv_norm + S[:, i] * S[:, i]
                d = np.empty((_PQ_K, n))
                for c in range(_PQ_K):
                    cross = np.zeros(n)
                    for i in range(_PQ_D):
                        cross = cross + S[:, i] * cb[s][c, i]
                    d[c] = (sv_norm + cb_norm[s][c]) - 2.0 * cross
                codes[:, s] = np.argmin(d, axis=0)
            out_q, out_n, out_a = [], [], []
            for qi in range(n_q):
                score = np.zeros(n, dtype=np.int64)
                for s in range(_PQ_M):
                    score += lut[qi, s, codes[:, s]]
                keep = ids != q_ids[qi]  # self-exclusion
                kn, ks = ids[keep], score[keep]
                # strict total order (adc desc, neighbor asc) — batch
                # top-k under the global window's own order
                order = np.lexsort((kn, -ks))[:k]
                out_q.append(np.full(len(order), q_ids[qi], dtype=np.int64))
                out_n.append(kn[order])
                out_a.append(ks[order])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "adc_nano": np.concatenate(out_a),
                }
            )

    return e.mapInPandas(kernel, "query_id long, neighbor_id long, adc_nano long")


def _dot(a: F.Column, b: F.Column) -> F.Column:
    """Ordered fold-left dot product — bit-identical to DuckDB's
    sequential list_inner_product on identical doubles."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


# PQ encode/score CTE chain, shared by sim_search_pq and its recall
# gate (sim_search_pq_recall_eval replays the index THROUGH this exact
# chain, so the eval grades the same ADC ranking the serving query
# returns).
_PQ_ORACLE_CTES = f"""
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    sub AS (
      SELECT vec_id, s,
             list_slice(v, s * {_PQ_D} + 1, s * {_PQ_D} + {_PQ_D}) AS sv
      FROM e, (SELECT unnest(range({_PQ_M})) AS s)
    ),
    cb AS (SELECT vec_id AS c, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}),
    enc AS (
      SELECT sub.vec_id, sub.s, cb.c,
             list_inner_product(sub.sv, sub.sv)
               + list_inner_product(cb.cv, cb.cv)
               - 2 * list_inner_product(sub.sv, cb.cv) AS dist2
      FROM sub JOIN cb ON sub.s = cb.s
    ),
    codes AS (
      SELECT vec_id, s, c AS code FROM (
        SELECT *, row_number() OVER (
          PARTITION BY vec_id, s ORDER BY dist2 ASC, c ASC) AS rk
        FROM enc
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.c,
             CAST(floor(list_inner_product(sub.sv, cb.cv) * 1000000000)
                  AS BIGINT) AS term_nano
      FROM sub JOIN cb ON sub.s = cb.s
      WHERE sub.vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT l.query_id, codes.vec_id AS neighbor_id,
             CAST(sum(l.term_nano) AS BIGINT) AS adc_nano
      FROM codes JOIN lut l ON l.s = codes.s AND l.c = codes.code
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY adc_nano DESC, neighbor_id ASC)
        AS INTEGER) AS rk
      FROM scored WHERE query_id != neighbor_id
    )"""


@register(
    "sim_search_pq",
    oracle="WITH "
    + _PQ_ORACLE_CTES
    + f"""
    SELECT query_id, neighbor_id, adc_nano, rk FROM ranked WHERE rk <= {_TOPK}
    """,
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (PQ-ADC), the 100 TB refinement of
    sim_search_ivf: vectors are split into {_PQ_M} sub-vectors of
    {_PQ_D} dims; each sub-vector is encoded as the index of its
    nearest codebook centroid (squared-L2, ties to the lowest index);
    a query then scores a corpus vector WITHOUT touching its floats —
    an Asymmetric Distance Computation that sums {_PQ_M} precomputed
    query-to-centroid inner products looked up by code (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011).

    Determinism: the codebook is the sub-vectors of the {_PQ_K} lowest
    vec_ids (a real deployment trains per-subspace k-means offline —
    assignment and ADC, the parts that run at scale, are identical);
    assignment distance is composed of three ordered-fold inner
    products (the exact fold DuckDB's list_inner_product runs), so
    argmin agrees bit-for-bit; ADC terms are floored to integer
    nano-units so the per-pair sum is exact under any partition order.

    Scale shape: encoding is one broadcast join (codebook:
    {_PQ_M}x{_PQ_K} rows) + a 16-way min per (vector, subspace) with
    map-side partial aggregation — embeds each vector in {_PQ_M} bytes
    of code, a 32x compression of a 64-dim float32 vector that is what
    makes exhaustive scans affordable; scoring is a broadcast LUT join
    + integer sum, shuffling O(N * {_PQ_M}) (id, long) pairs and never
    a float vector. Recall vs the exact brute force is pinned by
    tests/test_similarity.py::test_pq_recall_vs_brute_force."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    # Encode + score + per-batch top-k in ONE Arrow kernel (round-6
    # lesson: HOF folds stay interpreted, and the declarative
    # codes⋈LUT form shuffled a 48M-row join into a 6M-group agg at
    # sf0.1 — measured ~1.4s; the kernel emits <= 10*K rows per batch,
    # so the only remaining exchange is the tiny global top-k window).
    scored = _pq_adc_topk_kernel(e)
    w = W.partitionBy("query_id").orderBy(
        F.col("adc_nano").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _TOPK
    )


@register(
    "sim_search_pq_recall_eval",
    oracle="WITH "
    + _PQ_ORACLE_CTES
    + f""",
    pq_topk AS (
      SELECT query_id, neighbor_id FROM ranked WHERE rk <= {_TOPK}
    ),
    exact AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(floor(list_inner_product(q.v, c.v) * 1000000000)
                  AS BIGINT) AS dot_nano
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY dot_nano DESC, neighbor_id ASC)
          AS rk
        FROM exact)
      WHERE rk <= {_TOPK}
    ),
    hits AS (
      SELECT t.query_id,
             CASE WHEN p.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS found
      FROM truth t
      LEFT JOIN pq_topk p
        ON p.query_id = t.query_id AND p.neighbor_id = t.neighbor_id
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(found) AS BIGINT) AS n_found,
           CAST(floor(sum(found) * 1000000.0 / count(*)) AS BIGINT)
             AS recall_micro
    FROM hits
    GROUP BY query_id
    """,
)
def sim_search_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ RECALL EVALUATION — the acceptance gate for the product-
    quantized index (completes the per-tier pattern: every approximate
    tier in the repo now ships its graded eval — LSH has
    dedup_lsh_eval_pr, learned IVF has sim_search_ivf_recall_eval,
    SemDeDup has dedup_semdedup_recall_eval, pHash banding has
    multimodal_phash_recall_eval, and PQ has this). For the standard
    {_N_QUERIES}-query panel, exact inner-product top-{_TOPK} ground
    truth is compared against the top-{_TOPK} the ADC ranking actually
    RETURNS (the full sim_search_pq serving path: encode, LUT, integer
    ADC sum, strict total order), so recall_micro measures end-to-end
    quantization loss — the number an m/k codebook tuning decision
    reads. Both rankings are deterministic exact integers (nano-floored
    ordered folds, ties to the lowest neighbor), so the eval itself is
    oracle-checked.

    Scale shape: ground truth is panel x corpus (bounded by the
    {_N_QUERIES}-query panel — the once-per-index-build exact pass;
    never corpus x corpus), the panel broadcast into the scan exactly
    like sim_search_ivf_recall_eval; the ADC side is the serving
    kernel's own O(batches * q * k) output. The recall comparison
    joins two {_N_QUERIES}x{_TOPK}-row relations — driver-free,
    constant-size. Floor-then-report on the micro-ratio (ADVICE r8:
    bare double->BIGINT casts round in DuckDB but truncate in
    Spark)."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    pq = sim_search_pq(spark, sf_dir).select(
        F.col("query_id").alias("p_qid"), F.col("neighbor_id").alias("p_nid")
    )
    q_side = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # exact truth: the same ordered-fold dot DuckDB's
    # list_inner_product runs, floored to nano ints (panel x corpus —
    # 10 rows broadcast, fold interpreted but panel-bounded)
    exact = (
        F.broadcast(q_side)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.floor(_dot(F.col("qv"), F.col("v")) * 1_000_000_000)
            .cast("long")
            .alias("dot_nano"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("dot_nano").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        exact.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id")
    )
    found = F.when(F.col("p_nid").isNotNull(), 1).otherwise(0)
    return (
        truth.join(
            F.broadcast(pq),
            (truth["query_id"] == pq["p_qid"])
            & (truth["neighbor_id"] == pq["p_nid"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum(found).cast("bigint").alias("n_found"),
            F.floor(F.sum(found) * 1000000 / F.count("*"))
            .cast("bigint")
            .alias("recall_micro"),
        )
    )


_MRL_D = 16  # truncated prefix dims (of 64)


@register(
    "sim_search_dim_truncation_eval",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(floor(list_inner_product(q.v, c.v) * 1000000000)
                  AS BIGINT) AS dot_nano,
             CAST(floor(list_inner_product(list_slice(q.v, 1, {_MRL_D}),
                                           list_slice(c.v, 1, {_MRL_D}))
                        * 1000000000) AS BIGINT) AS pdot_nano
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < {_N_QUERIES}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY dot_nano DESC, neighbor_id ASC)
          AS rk FROM s)
      WHERE rk <= {_TOPK}
    ),
    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY pdot_nano DESC, neighbor_id ASC)
          AS rk FROM s)
      WHERE rk <= {_TOPK}
    ),
    hits AS (
      SELECT t.query_id,
             CASE WHEN c.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS found
      FROM truth t
      LEFT JOIN cand c
        ON c.query_id = t.query_id AND c.neighbor_id = t.neighbor_id
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(found) AS BIGINT) AS n_found,
           CAST(floor(sum(found) * 1000000.0 / count(*)) AS BIGINT)
             AS recall_micro
    FROM hits
    GROUP BY query_id
    """,
)
def sim_search_dim_truncation_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIMENSION-TRUNCATION recall eval — the Matryoshka question
    (Kusupati et al., NeurIPS 2022): if the index stores only the first
    {_MRL_D} of 64 embedding dims (4x less memory, 4x faster scans),
    what fraction of the exact full-dim top-{_TOPK} does the truncated
    ranking still return? The answer drives the standard two-stage
    serving design: retrieve with the cheap prefix, re-rank survivors
    with full vectors. recall_micro per panel query is the number that
    picks the prefix length.

    Determinism: both rankings are nano-floored ordered-fold inner
    products (ties to lowest neighbor) — exact integers, so the eval
    is oracle-checked like the PQ and IVF gates.

    Scale shape: ONE panel x corpus pass computes BOTH scores (the
    {_N_QUERIES}-row panel broadcasts; full and prefix dots ride the
    same row), the two rank windows share one query_id exchange, and
    the recall comparison joins two panel x k relations. Never
    corpus x corpus, never a second scan.

    On this synthetic near-isotropic corpus recall is ~0 — information
    is spread evenly across dims, so truncation IS lossy, and the gate
    says so; an MRL-trained embedding (info front-loaded) is exactly
    what this eval exists to certify."""
    e = _emb(spark, sf_dir).select("vec_id", "v")
    q_side = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    s = (
        F.broadcast(q_side)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.floor(_dot(F.col("qv"), F.col("v")) * 1_000_000_000)
            .cast("long")
            .alias("dot_nano"),
            F.floor(
                _dot(
                    F.slice(F.col("qv"), 1, _MRL_D),
                    F.slice(F.col("v"), 1, _MRL_D),
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("pdot_nano"),
        )
    )
    w_full = W.partitionBy("query_id").orderBy(
        F.col("dot_nano").desc(), F.col("neighbor_id").asc()
    )
    w_pref = W.partitionBy("query_id").orderBy(
        F.col("pdot_nano").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        s.withColumn("rk", F.row_number().over(w_full))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id")
    )
    cand = (
        s.withColumn("rk", F.row_number().over(w_pref))
        .filter(F.col("rk") <= _TOPK)
        .select(
            F.col("query_id").alias("c_qid"),
            F.col("neighbor_id").alias("c_nid"),
        )
    )
    found = F.when(F.col("c_nid").isNotNull(), 1).otherwise(0)
    return (
        truth.join(
            F.broadcast(cand),
            (truth["query_id"] == cand["c_qid"])
            & (truth["neighbor_id"] == cand["c_nid"]),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum(found).cast("bigint").alias("n_found"),
            F.floor(F.sum(found) * 1000000 / F.count("*"))
            .cast("bigint")
            .alias("recall_micro"),
        )
    )


# --------------------------------------------------------------------------
# Matrix-free power iteration: dominant eigenvector of the Gram matrix
# --------------------------------------------------------------------------

_PI_DIM = 64
_PI_Q = 1000  # embedding fixed-point scale
_PI_V = 1_000_000  # eigenvector fixed-point scale


def _sign_trunc_div_sql(num: str, den: str) -> str:
    """Integer division toward zero on a possibly-negative numerator,
    written so Spark's `div` and DuckDB's `//` (both truncate; the
    sign-restored form is also floor-proof)
    CANNOT disagree: operate on the absolute value (where floor ==
    trunc) and restore the sign. Both operands are parenthesized —
    a compound ``den`` like "n + m" would otherwise bind as
    ``(x DIV n) + m`` (the round-11 mini-batch div-by-zero)."""
    return (
        f"CASE WHEN {num} < 0 THEN -((-({num})) DIV ({den})) "
        f"ELSE ({num}) DIV ({den}) END"
    )


@register(
    "embedding_power_iteration",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_PI_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, g.j, q[g.j] AS x
      FROM xq, unnest(generate_series(1, {_PI_DIM})) AS g(j)
    ),
    d1 AS (
      SELECT vec_id,
             {_sign_trunc_div_sql(f"sum(x) * {_PI_V}", _PI_Q).replace(" DIV ", " // ")} AS dq
      FROM e GROUP BY vec_id
    ),
    y1 AS (
      SELECT e.j, sum(e.x * d1.dq) AS y
      FROM e JOIN d1 USING (vec_id) GROUP BY e.j
    ),
    m1 AS (SELECT greatest(max(abs(y)) // {_PI_V}, 1) AS s FROM y1),
    v1 AS (
      SELECT j, {_sign_trunc_div_sql("y", "s").replace(" DIV ", " // ")} AS v
      FROM y1, m1
    ),
    d2 AS (
      SELECT e.vec_id,
             {_sign_trunc_div_sql("sum(e.x * v1.v)", _PI_Q).replace(" DIV ", " // ")} AS dq
      FROM e JOIN v1 USING (j) GROUP BY e.vec_id
    ),
    y2 AS (
      SELECT e.j, sum(e.x * d2.dq) AS y
      FROM e JOIN d2 USING (vec_id) GROUP BY e.j
    ),
    m2 AS (SELECT greatest(max(abs(y)) // {_PI_V}, 1) AS s FROM y2),
    v2 AS (
      SELECT j, {_sign_trunc_div_sql("y", "s").replace(" DIV ", " // ")} AS v
      FROM y2, m2
    )
    SELECT CAST(j AS BIGINT) AS pos, CAST(v AS BIGINT) AS v_fp FROM v2
    """,
)
def embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding GRAM matrix (X^T X) by
    MATRIX-FREE power iteration — the top principal direction used for
    embedding compression, whitening, and spectral outlier scoring,
    computed without ever materializing the d×d matrix: each of the 2
    unrolled iterations is y ← X^T (X v), i.e. one per-row dot product
    against the broadcast v followed by one per-dimension weighted
    sum. Entirely integer fixed-point: embeddings quantize to 1e-3
    units, v carries 1e6 units, per-row dots and the renormalizing
    max-|y| division all use sign-restored magnitude division (trunc
    == floor on non-negatives, so Spark's `div` and DuckDB's `//`
    cannot disagree) — every intermediate is an exact BIGINT with
    proven headroom, so partial-aggregation order can never flip a
    bit. Starting vector is uniform, which also pins the sign.

    Scale shape: the (vec_id, dim, x) explode is the only row-count-
    proportional relation; each iteration is two map-side-combinable
    aggregates over it (one keyed by vec_id, one by dim) with the
    64-row v broadcast — O(n·d) work, O(d) state, no d×d anything.
    More iterations chain the same pair of aggregates (checkpoint
    discipline as in graph_pagerank_deep); two are unrolled here —
    enough to pin the operator bit-exactly in the oracle — and the
    convergence ROUND COUNT is corpus-dependent (this synthetic
    corpus is near-isotropic, eigengap ≈ 1.07, so production would
    chain ~50 rounds; a test pins that each step applies exactly
    G·v against a float reference)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xq = emb.select(
        "vec_id",
        F.expr(
            f"transform(cast(embedding as array<double>), "
            f"x -> cast(round(x * {_PI_Q}) as bigint))"
        ).alias("q"),
    )
    # one materialized explode pass (r14 optimization): d1/y1/d2/y2 all
    # consume e under different shuffle keys, so the final plan scanned
    # embeddings 12x without this
    e = (
        xq.select("vec_id", F.posexplode("q").alias("j0", "x"))
        .select("vec_id", (F.col("j0") + 1).alias("j"), "x")
        .localCheckpoint(eager=True)
    )

    def sdiv(num: str, den) -> F.Column:
        return F.expr(_sign_trunc_div_sql(num, den))

    d1 = e.groupBy("vec_id").agg(
        sdiv(f"sum(x) * {_PI_V}", _PI_Q).alias("dq")
    )
    y1 = (
        e.join(d1, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * F.col("dq")).alias("y"))
    )
    m1 = y1.agg(
        F.greatest(
            F.expr(f"max(abs(y)) div {_PI_V}"), F.lit(1).cast("bigint")
        ).alias("s")
    )
    v1 = y1.crossJoin(F.broadcast(m1)).select("j", sdiv("y", "s").alias("v"))
    d2 = (
        e.join(F.broadcast(v1), "j")
        .groupBy("vec_id")
        .agg(sdiv("sum(x * v)", _PI_Q).alias("dq"))
    )
    y2 = (
        e.join(d2, "vec_id")
        .groupBy("j")
        .agg(F.sum(F.col("x") * F.col("dq")).alias("y"))
    )
    m2 = y2.agg(
        F.greatest(
            F.expr(f"max(abs(y)) div {_PI_V}"), F.lit(1).cast("bigint")
        ).alias("s")
    )
    v2 = y2.crossJoin(F.broadcast(m2)).select("j", sdiv("y", "s").alias("v"))
    return v2.select(
        F.col("j").cast("bigint").alias("pos"),
        F.col("v").cast("bigint").alias("v_fp"),
    )


@register(
    "embedding_dim_standardize",
    oracle="""
    WITH vals AS (
      SELECT i AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT) AS q
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
    ),
    stats AS (
      SELECT dim,
             count(*) AS n,
             CAST(sum(q) AS BIGINT) AS sum_q,
             CAST(sum(q * q) AS BIGINT) AS sumsq_q
      FROM vals GROUP BY dim
    ),
    enriched AS (
      SELECT dim, n, sum_q, sumsq_q,
             CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE) AS mean_units,
             (CAST(sumsq_q AS DOUBLE)
              - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS var_units
      FROM stats
    )
    SELECT e.dim, e.n, e.sum_q, e.mean_units, e.var_units,
           CAST(sum(CASE WHEN abs(CAST(v.q AS DOUBLE) - e.mean_units)
                              > 3.0 * sqrt(e.var_units)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_out3sig
    FROM enriched e JOIN vals v ON v.dim = e.dim
    GROUP BY e.dim, e.n, e.sum_q, e.mean_units, e.var_units
    """,
)
def embedding_dim_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature standardization stats — the fit() half of
    a z-score scaler over an array<float> embedding column, the
    preprocessing step every similarity/training pipeline runs before
    distance math. Two-pass shape: pass 1 is a posexplode + 64-group
    aggregate in EXACT integer units (sum / sum-of-squares as BIGINT —
    map-side combinable, order-free); pass 2 broadcasts the 64-row
    stats back and counts >3-sigma outliers per dimension (the feature
    health check: a dimension whose outlier mass explodes is a broken
    encoder). mean/var are derived from the exact integer sums with an
    expression shape identical in both engines, so the doubles match
    bit-for-bit; sqrt is IEEE-exact. At 100 TB pass 1 shuffles 64 rows
    per map task and pass 2 re-scans with a 4 KB broadcast — no raw
    value ever shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    vals = e.select(
        F.posexplode("embedding").alias("pos", "x")
    ).select(
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 10000).cast("bigint").alias("q"),
    )
    stats = vals.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sum_q"),
        F.sum(F.col("q") * F.col("q")).alias("sumsq_q"),
    )
    nd = F.col("n").cast("double")
    enriched = stats.select(
        "dim",
        "n",
        "sum_q",
        "sumsq_q",
        (F.col("sum_q").cast("double") / nd).alias("mean_units"),
        (
            (
                F.col("sumsq_q").cast("double")
                - F.col("sum_q").cast("double") * F.col("sum_q").cast("double") / nd
            )
            / nd
        ).alias("var_units"),
    )
    out = (
        vals.join(F.broadcast(enriched), "dim")
        .groupBy("dim", "n", "sum_q", "mean_units", "var_units")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("q").cast("double") - F.col("mean_units"))
                    > F.lit(3.0) * F.sqrt(F.col("var_units")),
                    1,
                )
                .otherwise(0)
                .cast("bigint")
            ).alias("n_out3sig")
        )
    )
    return out.select("dim", "n", "sum_q", "mean_units", "var_units", "n_out3sig")


_RP_K = 8  # projected dimensions


@register(
    "embedding_random_projection",
    oracle="""
    WITH proj AS (
      SELECT vec_id, label, j,
             CAST(sum(
               (CASE WHEN strpos('13579bdf',
                               substr(md5(i::VARCHAR || '_' || j::VARCHAR), 32, 1)) > 0
                     THEN 1 ELSE -1 END)
               * CAST(round(CAST(embedding[i] AS DOUBLE) * 10000) AS BIGINT)
             ) AS BIGINT) AS p
      FROM embeddings,
           unnest(generate_series(1, 8)) AS tj(j),
           unnest(generate_series(1, len(embedding))) AS ti(i)
      GROUP BY vec_id, label, j
    )
    SELECT label, CAST(j AS BIGINT) AS j,
           count(*) AS n,
           CAST(sum(p) AS BIGINT) AS sum_proj,
           CAST(sum(abs(p)) AS BIGINT) AS sum_abs_proj
    FROM proj
    GROUP BY label, j
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss SIGN random projection (Achlioptas 2003
    database-friendly form: entries are ±1, drawn here from md5 parity
    so both engines derive the identical matrix with no shared state):
    64-dim embeddings compress to {_RP_K} dims via one integer matmul.
    This is the dimensionality-reduction front end for ANN at scale —
    the projection is map-only (a 64x{_RP_K} ±1 matrix in the closure,
    zero shuffle), distances are approximately preserved, and the
    projected vectors are 8x smaller to shuffle/index. Computed as one
    vectorized numpy int64 matmul per Arrow batch (exact integer
    arithmetic — no float-order concerns by construction); the oracle
    recomputes the same signed sums declaratively. Output aggregates
    per (label, j) so the result is a compact attestation of the full
    projection."""
    import hashlib

    import numpy as np
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n_dims = len(e.first()["embedding"])
    # sgn[i, j] from md5 parity — the same bytes DuckDB's md5 hashes
    sgn = np.array(
        [
            [
                1
                if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[31] in "13579bdf"
                else -1
                for j in range(1, _RP_K + 1)
            ]
            for i in range(1, n_dims + 1)
        ],
        dtype=np.int64,
    )

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            # Half-away-from-zero rounding to match DuckDB round() /
            # Spark F.round (np.round is half-to-even; dyadic float32
            # values like 0.03125 hit exact .5 ties and would diverge).
            S = X * 10000
            Q = (np.sign(S) * np.floor(np.abs(S) + 0.5)).astype(np.int64)
            P = Q @ sgn  # (n, k) exact int64
            n, k = P.shape
            yield pd.DataFrame(
                {
                    "label": np.repeat(pdf["label"].to_numpy(np.int64), k),
                    "j": np.tile(np.arange(1, k + 1, dtype=np.int64), n),
                    "p": P.reshape(-1),
                }
            )

    proj = e.mapInPandas(project, "label long, j long, p long")
    return proj.groupBy("label", "j").agg(
        F.count("*").alias("n"),
        F.sum("p").alias("sum_proj"),
        F.sum(F.abs("p")).alias("sum_abs_proj"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-means (Lloyd) + SemDeDup-shaped semantic dedup
# ---------------------------------------------------------------------------

_KM_K = 8  # centroids seeded from vec_id 0..7 (the sim_search_pq discipline)
_KM_Q = 1000  # embedding fixed-point scale (1e-3 units, exact BIGINT)
_KM_DIM = 64
_KM_ROUNDS = 2  # centroid updates; final assignment uses round-2 centroids
_SEMDEDUP_COS = 0.40  # dup threshold on this synthetic near-isotropic corpus


def _km_xq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings quantized to exact BIGINT 1e-3 units (vec_id, q)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(cast(embedding as array<double>), "
            f"x -> cast(round(x * {_KM_Q}) as bigint))"
        ).alias("q"),
    )


_KM_DIST = (
    "aggregate(zip_with(q, c.cq, (a, b) -> (a - b) * (a - b)), "
    "0L, (acc, z) -> acc + z)"
)


def _km_assign(xq: DataFrame, cent_row: DataFrame) -> DataFrame:
    """Map-side Lloyd assignment: the k centroids travel as ONE
    broadcast row holding a sorted array<struct<cid,cq>>, so argmin is
    a per-row array_min over k exact integer distances — no explode,
    no shuffle, no window. Tie rule: (distance, cid) lexicographic via
    array_min on named_struct(d, cid) — lowest cid wins, the same
    total order the oracle's row_number() pins."""
    return (
        xq.crossJoin(F.broadcast(cent_row))
        .select(
            "vec_id",
            "q",
            F.array_min(
                F.expr(
                    f"transform(cents, c -> named_struct("
                    f"'d', {_KM_DIST}, 'cid', c.cid))"
                )
            ).alias("m"),
        )
        .select("vec_id", "q", F.col("m.cid").alias("cid"), F.col("m.d").alias("d"))
    )


def _km_update(assigned: DataFrame) -> DataFrame:
    """Centroid update: ONE row-count-proportional exchange (the
    partial-agg groupBy (cid, dim) over the posexploded assignment —
    map-side combine ships at most partitions × k × d rows), then two
    k-row-scale regroups to rebuild the array form. Empty clusters
    drop out (standard Lloyd degeneracy — deterministic, and the
    oracle's join-based update loses them identically). Integer mean
    uses sign-restored magnitude division so Spark div (trunc) and
    DuckDB // cannot disagree on negative sums under either
    division semantics."""
    sums = (
        assigned.select("cid", F.posexplode("q").alias("j0", "x"))
        .groupBy("cid", "j0")
        .agg(F.sum("x").alias("sx"), F.count("*").alias("n"))
    )
    return (
        sums.select(
            "cid", "j0", F.expr(_sign_trunc_div_sql("sx", "n")).alias("c")
        )
        .groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("j0", "c"))).alias("jc"))
        .select("cid", F.expr("transform(jc, s -> s.c)").alias("cq"))
    )


def _km_cent_row(cents: DataFrame) -> DataFrame:
    return cents.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cq"))).alias("cents")
    )


_KM_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _km_final_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run _KM_ROUNDS Lloyd updates from the lowest-vec_id seeds and
    return the FINAL assignment (vec_id, q, cid, d) plus the final
    centroids as a second return; shared by the k-means report, the
    SemDeDup query, and the IVF router so cluster geometry cannot
    drift between them. Memoized per (session, source fingerprint)
    with memo_by_fingerprint: a trained clustering is an ARTIFACT;
    retraining it per consuming query would be refitting a model per
    inference batch (the cached frames hold localCheckpointed RDDs,
    hence the session key: they die with the SparkContext), and a
    superseded fingerprint's frames are evicted, not pinned."""
    from pyspark_xgboost_spark.sources.formats import memo_by_fingerprint

    def build() -> tuple[DataFrame, DataFrame]:
        xq = _km_xq(spark, sf_dir)
        cents = xq.filter(F.col("vec_id") < _KM_K).select(
            F.col("vec_id").alias("cid"), F.col("q").alias("cq")
        )
        for _ in range(_KM_ROUNDS):
            # k-row centroid table: localCheckpoint truncates the
            # lineage so each round's plan is scan + broadcast-row +
            # ONE partial-agg exchange, instead of re-deriving every
            # prior round per branch (the graph_pagerank_fixed
            # discipline; driver state is k×d ints)
            cents = _km_update(
                _km_assign(xq, _km_cent_row(cents))
            ).localCheckpoint(eager=True)
        # checkpoint the final assignment too: every consumer (report,
        # SemDeDup self-join, IVF router) branches from it repeatedly
        final = _km_assign(xq, _km_cent_row(cents)).localCheckpoint(
            eager=True
        )
        return final, cents

    return memo_by_fingerprint(_KM_CACHE, spark, sf_dir, "embeddings", build)


def _km_oracle_ctes() -> str:
    """Unrolled DuckDB Lloyd replay: explode-based distances + window
    argmin per round; bit-identical to the Spark array kernel because
    every intermediate is an exact BIGINT with the same (d, cid) tie
    order."""
    sdiv = _sign_trunc_div_sql("sum(e.x)", "count(*)").replace(" DIV ", " // ")
    parts = [
        f"""xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, g.j, q[g.j] AS x
      FROM xq, unnest(generate_series(1, {_KM_DIM})) AS g(j)
    ),
    ce0 AS (
      SELECT vec_id AS cid, j, x AS c FROM e WHERE vec_id < {_KM_K}
    )"""
    ]
    for k in range(1, _KM_ROUNDS + 2):
        prev = k - 1
        parts.append(
            f"""dist{k} AS (
      SELECT e.vec_id, ce.cid, sum((e.x - ce.c) * (e.x - ce.c)) AS d
      FROM e JOIN ce{prev} ce USING (j)
      GROUP BY e.vec_id, ce.cid
    ),
    asg{k} AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                 AS rn
        FROM dist{k})
      WHERE rn = 1
    )"""
        )
        if k <= _KM_ROUNDS:
            parts.append(
                f"""ce{k} AS (
      SELECT a.cid, e.j, {sdiv} AS c
      FROM asg{k} a JOIN e USING (vec_id)
      GROUP BY a.cid, e.j
    )"""
            )
    return ",\n    ".join(parts)


_KM_FINAL = _KM_ROUNDS + 1  # index of the final assignment CTE


@register(
    "embedding_kmeans_lloyd",
    oracle="WITH "
    + _km_oracle_ctes()
    + f""",
    l1 AS (
      SELECT cid, CAST(sum(abs(c)) AS BIGINT) AS centroid_l1_q
      FROM ce{_KM_ROUNDS} GROUP BY cid
    )
    SELECT a.cid AS cluster_id,
           count(*) AS n_members,
           CAST(sum(a.vec_id) AS BIGINT) AS sum_vec_ids,
           CAST(sum(a.d) AS BIGINT) AS inertia_q,
           any_value(l1.centroid_l1_q) AS centroid_l1_q
    FROM asg{_KM_FINAL} a JOIN l1 USING (cid)
    GROUP BY a.cid
    """,
)
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC K-MEANS (Lloyd) over the embedding corpus — the
    clustering front-end of SemDeDup-style semantic curation (Abbas et
    al., "SemDeDup", arXiv 2303.09540) and the trainer of the IVF
    coarse quantizer sim_search_ivf assumes. Everything that makes
    k-means nondeterministic in practice is pinned: seeds are the
    {_KM_K} lowest vec_ids (the sim_search_pq codebook discipline),
    arithmetic is exact integer fixed-point (embeddings in 1e-3
    units; squared-L2 distances are exact BIGINTs; centroid means use
    sign-restored magnitude division), and argmin ties break to the
    lowest cid — so Spark and the {_KM_ROUNDS}-round unrolled DuckDB
    CTE replay agree hash-exactly, the graph_pagerank_fixed
    discipline applied to clustering.

    Scale shape: each Lloyd round is ONE row-count-proportional
    exchange — assignment is MAP-SIDE (the k×d centroid table rides
    along as a single broadcast row; argmin is array_min over k exact
    distances, no explode/window/shuffle), and the update is a
    partial-agg groupBy (cid, dim) that ships at most
    partitions × k × d pre-combined rows, followed by k-row regroups.
    At 100 TB with k=10^5 the same plan holds with the centroid row
    swapped for a broadcast join keyed by a coarse pre-route; the
    per-round driver barrier is k × d integers, never O(rows).
    Output: per-cluster size, member-id checksum, exact inertia, and
    centroid L1 fingerprint."""
    final, cents = _km_final_assign(spark, sf_dir)
    l1 = cents.select(
        "cid",
        F.expr(
            "aggregate(transform(cq, x -> abs(x)), 0L, (a, b) -> a + b)"
        ).alias("centroid_l1_q"),
    )
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.sum("vec_id").alias("sum_vec_ids"),
            F.sum("d").alias("inertia_q"),
        )
        .join(F.broadcast(l1), "cid")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            "sum_vec_ids",
            "inertia_q",
            "centroid_l1_q",
        )
    )


@register(
    "dedup_semdedup_clusters",
    oracle="WITH "
    + _km_oracle_ctes()
    + f""",
    nrm AS (
      SELECT xq.vec_id, a.cid, xq.q,
             list_inner_product(xq.q, xq.q) AS nq
      FROM xq JOIN asg{_KM_FINAL} a USING (vec_id)
    ),
    pairs AS (
      SELECT a.cid,
             a.vec_id AS keep_id, b.vec_id AS dup_id,
             list_inner_product(a.q, b.q)
               / (sqrt(a.nq) * sqrt(b.nq)) AS cos
      FROM nrm a JOIN nrm b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE a.nq > 0 AND b.nq > 0
    ),
    sizes AS (SELECT cid, count(*) AS n_members FROM asg{_KM_FINAL}
              GROUP BY cid)
    SELECT s.cid AS cluster_id,
           s.n_members,
           COALESCE(count(p.cos), 0) AS n_pairs,
           COALESCE(count(*) FILTER (p.cos >= {_SEMDEDUP_COS}), 0)
             AS n_dup_pairs,
           COALESCE(count(DISTINCT p.dup_id)
                      FILTER (p.cos >= {_SEMDEDUP_COS}), 0) AS n_removed
    FROM sizes s LEFT JOIN pairs p ON p.cid = s.cid
    GROUP BY s.cid, s.n_members
    """,
)
def dedup_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP — semantic near-duplicate pruning restricted to
    k-means clusters (Abbas et al., arXiv 2303.09540): embedding-space
    cosine dedup made tractable by comparing pairs ONLY within a
    cluster, turning O(n²) into O(n²/k) — the reason a 100 TB corpus
    can be semantically deduped at all. Reuses the deterministic Lloyd
    assignment of embedding_kmeans_lloyd verbatim (shared helper, so
    the two queries cannot drift), computes exact-integer dot products
    over the quantized vectors (norms via engine-exact IEEE sqrt, so
    the cosine doubles are bit-identical cross-engine), and applies
    the keep-lowest-vec_id policy: a vector is REMOVED when it is the
    higher id of any within-cluster pair with cos >= {_SEMDEDUP_COS}.
    Reports per cluster: size, pairs examined, dup pairs, vectors
    removed.

    Scale shape: the pair join is cluster-local (join key cid, the
    k-means output partitioning — at scale the assignment is written
    bucketed by cid so the self-join is shuffle-free), and per-cluster
    pair counts are capped by cluster size, the quantity k controls.
    The panel test pins candidate agreement against brute-force
    ground truth on sf0.001."""
    # both sides of the cluster-local self-join and the sizes branch
    # read the cached checkpointed assignment: paid once (at 100 TB:
    # persist bucketed by cid so the self-join needs no shuffle at all)
    final, _cents = _km_final_assign(spark, sf_dir)
    nrm = final.select(
        "vec_id",
        "cid",
        "q",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, "
            "(acc, z) -> acc + z)"
        ).alias("nq"),
    ).filter(F.col("nq") > 0)
    a = nrm.select(
        F.col("cid"),
        F.col("vec_id").alias("keep_id"),
        F.col("q").alias("qa"),
        F.col("nq").alias("na"),
    )
    b = nrm.select(
        F.col("cid"),
        F.col("vec_id").alias("dup_id"),
        F.col("q").alias("qb"),
        F.col("nq").alias("nb"),
    )
    pairs = (
        a.join(b, "cid")
        .filter(F.col("keep_id") < F.col("dup_id"))
        .select(
            "cid",
            "dup_id",
            (
                F.expr(
                    "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, "
                    "(acc, z) -> acc + z)"
                ).cast("double")
                / (F.sqrt(F.col("na").cast("double"))
                   * F.sqrt(F.col("nb").cast("double")))
            ).alias("cos"),
        )
    )
    sizes = final.groupBy("cid").agg(F.count("*").alias("n_members"))
    dup = F.col("cos") >= F.lit(_SEMDEDUP_COS)
    agg = pairs.groupBy("cid").agg(
        F.count("*").alias("n_pairs"),
        F.sum(dup.cast("long")).alias("n_dup_pairs"),
        F.count_distinct(F.when(dup, F.col("dup_id"))).alias("n_removed"),
    )
    return (
        sizes.join(agg, "cid", "left")
        .select(
            F.col("cid").alias("cluster_id"),
            "n_members",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce(F.col("n_removed").cast("long"), F.lit(0)).alias(
                "n_removed"
            ),
        )
    )


def _km_assign_topn(xq: DataFrame, cent_row: DataFrame, n: int) -> DataFrame:
    """Map-side top-n centroid routing (the nprobe generalization of
    _km_assign): sort the k (distance, cid) structs per row, slice the
    n nearest, explode — still no shuffle, no window."""
    return (
        xq.crossJoin(F.broadcast(cent_row))
        .select(
            "vec_id",
            F.explode(
                F.slice(
                    F.array_sort(
                        F.expr(
                            f"transform(cents, c -> named_struct("
                            f"'d', {_KM_DIST}, 'cid', c.cid))"
                        )
                    ),
                    1,
                    n,
                )
            ).alias("m"),
        )
        .select("vec_id", F.col("m.cid").alias("cid"))
    )


_IVF_NPROBE = 2


@register(
    "sim_search_ivf_kmeans",
    oracle="WITH "
    + _km_oracle_ctes()
    + f""",
    corpus AS (
      SELECT xq.vec_id, a.cid, xq.q,
             list_inner_product(xq.q, xq.q) AS nq
      FROM xq JOIN asg{_KM_FINAL} a USING (vec_id)
    ),
    cents AS (
      SELECT cid, list(c ORDER BY j) AS cq FROM ce{_KM_ROUNDS} GROUP BY cid
    ),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(
                            generate_series(1, {_KM_DIM}),
                            j -> (q.q[j] - c.cq[j]) * (q.q[j] - c.cq[j]))),
                          c.cid) AS rn
        FROM (SELECT * FROM corpus WHERE vec_id < {_N_QUERIES}) q, cents c)
      WHERE rn <= {_IVF_NPROBE}
    ),
    scored AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             floor(list_inner_product(q.q, c.q)
                   / (sqrt(q.nq) * sqrt(c.nq)) * 10000) / 10000 AS cos_sim
      FROM probes p
      JOIN corpus c ON c.cid = p.cid
      JOIN corpus q ON q.vec_id = p.query_id
      WHERE c.vec_id <> p.query_id
    ),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC)
        AS INTEGER) AS rk
      FROM scored
    )
    SELECT query_id, neighbor_id, cos_sim, rk FROM ranked
    WHERE rk <= {_TOPK}
    """,
)
def sim_search_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF WITH A LEARNED COARSE QUANTIZER — the production ANN index
    shape (Jégou et al., TPAMI 2011): where sim_search_ivf probes a
    synthetic cell column, this one trains the inverted file itself —
    the deterministic Lloyd centroids of embedding_kmeans_lloyd are
    the coarse codebook, the corpus is routed to cells map-side, and
    each query probes only its {_IVF_NPROBE} nearest cells. Completes
    the ANN tier list: brute force -> IVF(label) -> IVF(learned) ->
    PQ -> LSH -> JL projection. Determinism carries over wholesale:
    integer centroid routing with lowest-cid ties, exact integer
    dots, cosine floored to 4dp — hash-identical to the DuckDB replay.

    Scale shape: cell routing rides the Lloyd assignment (ONE
    partial-agg exchange per training round, map-side assignment);
    the probe set (queries × nprobe, tiny) BROADCASTS into a hash
    join against the cell-keyed corpus, so the scan touches
    ~nprobe/k of the data — at 100 TB the corpus is written
    partitioned by cid and the probe is partition-pruned I/O, the
    IVF promise. Final top-k is a window over candidates only."""
    final, cents = _km_final_assign(spark, sf_dir)
    corpus = final.select(
        "vec_id",
        "cid",
        "q",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, "
            "(acc, z) -> acc + z)"
        ).alias("nq"),
    )
    queries = corpus.filter(F.col("vec_id") < _N_QUERIES)
    probes = (
        _km_assign_topn(queries, _km_cent_row(cents), _IVF_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "cid")
    )
    q_side = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("qnq"),
    )
    cand = (
        F.broadcast(probes.join(q_side, "query_id"))
        .join(corpus, "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            F.floor(
                F.expr(
                    "aggregate(zip_with(qq, q, (x, y) -> x * y), 0L, "
                    "(acc, z) -> acc + z)"
                ).cast("double")
                / (F.sqrt(F.col("qnq").cast("double"))
                   * F.sqrt(F.col("nq").cast("double")))
                * 10000
            )
            / 10000
        ).alias("cos_sim"),
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
    )


_FPS_SEEDS = 4  # seed 1 pinned at vec_id 0; 3 farthest-point rounds


@register(
    "embedding_kmeans_farthest_seed",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, g.j, q[g.j] AS x
      FROM xq, unnest(generate_series(1, {_KM_DIM})) AS g(j)
    ),
    s1 AS (SELECT j, x AS c FROM e WHERE vec_id = 0),
    d1 AS (
      SELECT e.vec_id, sum((e.x - s1.c) * (e.x - s1.c)) AS d
      FROM e JOIN s1 USING (j) GROUP BY e.vec_id
    ),
    p2 AS (SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
    s2 AS (SELECT e.j, e.x AS c FROM e JOIN p2 USING (vec_id)),
    d2 AS (
      SELECT d1.vec_id, least(d1.d, n.d) AS d
      FROM d1 JOIN (
        SELECT e.vec_id, sum((e.x - s2.c) * (e.x - s2.c)) AS d
        FROM e JOIN s2 USING (j) GROUP BY e.vec_id) n USING (vec_id)
    ),
    p3 AS (SELECT vec_id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
    s3 AS (SELECT e.j, e.x AS c FROM e JOIN p3 USING (vec_id)),
    d3 AS (
      SELECT d2.vec_id, least(d2.d, n.d) AS d
      FROM d2 JOIN (
        SELECT e.vec_id, sum((e.x - s3.c) * (e.x - s3.c)) AS d
        FROM e JOIN s3 USING (j) GROUP BY e.vec_id) n USING (vec_id)
    ),
    p4 AS (SELECT vec_id, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1)
    SELECT 1 AS seed_rank, 0 AS vec_id, CAST(0 AS BIGINT) AS min_dist_q
    UNION ALL SELECT 2, vec_id, CAST(d AS BIGINT) FROM p2
    UNION ALL SELECT 3, vec_id, CAST(d AS BIGINT) FROM p3
    UNION ALL SELECT 4, vec_id, CAST(d AS BIGINT) FROM p4
    """,
)
def embedding_kmeans_farthest_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC K-MEANS++-STYLE SEEDING by farthest-point
    traversal (Gonzalez 1985 — the derandomized k-means++ init:
    instead of D^2-probability sampling, take the argmax-min-distance
    point each round, ties to the lowest vec_id): the principled
    alternative to embedding_kmeans_lloyd's lowest-vec_id seeds when
    cluster spread matters. Exact integer squared-L2 throughout; each
    round is one map-side min-update against the single newest seed
    (the standard incremental trick: min-dist needs only
    least(prev_min, dist_to_new_seed), never a rescan of all seeds)
    plus one global argmax aggregate — a bounded driver round-trip of
    ONE (vec_id, dist) pair per round, the same discipline as BPE's
    per-round argmax.

    Scale shape: k seeding rounds = k passes of map-side arithmetic +
    a tree-reduced global max; driver state is k rows. The min-dist
    column would persist alongside the corpus at real scale
    (localCheckpoint here), so each round touches O(n) rows once."""
    xq = _km_xq(spark, sf_dir)
    seed_row = xq.filter(F.col("vec_id") == 0).select("q").first()
    seed_vec = seed_row["q"]
    out = [(1, 0, 0)]

    def dist_to(vec) -> F.Column:
        return F.expr(
            "aggregate(zip_with(q, array({}), (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, z) -> acc + z)".format(",".join(f"{v}L" for v in vec))
        )

    cur = xq.select("vec_id", "q", dist_to(seed_vec).alias("d"))
    for rank in range(2, _FPS_SEEDS + 1):
        # ONE job per round: the argmax struct carries the winning
        # vector along (vec_id already breaks ties, so q never decides
        # the ordering), replacing the earlier argmax-then-lookup pair
        cur = cur.localCheckpoint(eager=True)
        best = (
            cur.agg(
                F.min(
                    F.struct((-F.col("d")).alias("nd"), "vec_id", "q")
                ).alias("m")
            )
            .select(
                (-F.col("m.nd")).alias("d"),
                F.col("m.vec_id").alias("vec_id"),
                F.col("m.q").alias("q"),
            )
            .first()
        )
        out.append((rank, int(best["vec_id"]), int(best["d"])))
        cur = cur.select(
            "vec_id", "q", F.least(F.col("d"), dist_to(best["q"])).alias("d")
        )
    return spark.createDataFrame(
        out, "seed_rank int, vec_id bigint, min_dist_q bigint"
    )


@register(
    "sim_search_ivf_recall_eval",
    oracle="WITH "
    + _km_oracle_ctes()
    + f""",
    corpus AS (
      SELECT xq.vec_id, a.cid, xq.q,
             list_inner_product(xq.q, xq.q) AS nq
      FROM xq JOIN asg{_KM_FINAL} a USING (vec_id)
    ),
    cents AS (
      SELECT cid, list(c ORDER BY j) AS cq FROM ce{_KM_ROUNDS} GROUP BY cid
    ),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(
                            generate_series(1, {_KM_DIM}),
                            j -> (q.q[j] - c.cq[j]) * (q.q[j] - c.cq[j]))),
                          c.cid) AS rn
        FROM (SELECT * FROM corpus WHERE vec_id < {_N_QUERIES}) q, cents c)
      WHERE rn <= {_IVF_NPROBE}
    ),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_inner_product(q.q, c.q)
                            / (sqrt(q.nq) * sqrt(c.nq)) DESC,
                          c.vec_id ASC) AS rk
        FROM (SELECT * FROM corpus WHERE vec_id < {_N_QUERIES}) q
        JOIN corpus c ON c.vec_id <> q.vec_id)
      WHERE rk <= {_TOPK}
    ),
    hits AS (
      SELECT t.query_id, t.neighbor_id,
             CASE WHEN p.cid IS NOT NULL THEN 1 ELSE 0 END AS found
      FROM truth t
      JOIN corpus n ON n.vec_id = t.neighbor_id
      LEFT JOIN probes p
        ON p.query_id = t.query_id AND p.cid = n.cid
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(found) AS BIGINT) AS n_found,
           CAST(floor(sum(found) * 1000000.0 / count(*)) AS BIGINT)
             AS recall_micro
    FROM hits
    GROUP BY query_id
    """,
)
def sim_search_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN RECALL EVALUATION — the acceptance gate every approximate
    index ships with (the dedup_lsh_eval_pr pattern applied to IVF):
    for the standard query panel, compute exact brute-force top-k
    ground truth, then measure what fraction of those true neighbors
    the learned-IVF probe set (nprobe nearest k-means cells,
    sim_search_ivf_kmeans's routing) could even SEE. recall_micro per
    query is the number every nprobe/nlist tuning decision reads: too
    low -> raise nprobe or retrain centroids; 1e6 -> the probe is
    lossless for that query. Both sides are deterministic exact
    integers, so the eval itself is oracle-checked — an ANN
    benchmark whose numbers cannot drift between engines.

    Scale shape: ground truth is panel x corpus (bounded by the
    10-query panel — the expensive exact pass you run once per
    index build); the candidate-visibility check is a broadcast
    probe-set join, identical to the serving path. At 100 TB the
    panel rides the same partition-pruned scan as production
    queries."""
    final, cents = _km_final_assign(spark, sf_dir)
    corpus = final.select(
        "vec_id",
        "cid",
        "q",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, "
            "(acc, z) -> acc + z)"
        ).alias("nq"),
    )
    queries = corpus.filter(F.col("vec_id") < _N_QUERIES)
    probes = _km_assign_topn(
        queries, _km_cent_row(cents), _IVF_NPROBE
    ).select(F.col("vec_id").alias("query_id"), "cid")
    q_side = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("qnq"),
    )
    scored = (
        F.broadcast(q_side)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("cid").alias("n_cid"),
            (
                F.expr(
                    "aggregate(zip_with(qq, q, (x, y) -> x * y), 0L, "
                    "(acc, z) -> acc + z)"
                ).cast("double")
                / (F.sqrt(F.col("qnq").cast("double"))
                   * F.sqrt(F.col("nq").cast("double")))
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", "n_cid")
    )
    found = F.when(F.col("cid").isNotNull(), 1).otherwise(0)
    return (
        truth.join(
            F.broadcast(probes),
            (truth["query_id"] == probes["query_id"])
            & (truth["n_cid"] == probes["cid"]),
            "left",
        )
        .drop(probes["query_id"])
        .groupBy(truth["query_id"].alias("query_id"))
        .agg(
            F.count("*").cast("bigint").alias("k"),
            F.sum(found).cast("bigint").alias("n_found"),
            # floor-then-report (the dedup_lsh_eval_pr idiom): a bare
            # double->BIGINT cast TRUNCATES in Spark but ROUNDS in
            # DuckDB, so fractional recalls with .5+ parts diverge
            F.floor(F.sum(found) * 1000000 / F.count("*"))
            .cast("bigint")
            .alias("recall_micro"),
        )
    )


# --- IVF centroid-drift eval (r10 verdict task #6) ---------------------
# Arrival split: vec_id % 3 == 2 models the NEW slice that landed after
# the index was built; the stale index trains on the other two thirds.
_DRIFT_NEW_MOD = 3
_DRIFT_NEW_RES = 2
# panel = the _N_QUERIES lowest new arrivals: vec_id < 3*10 ∧ %3==2
_DRIFT_PANEL_MAX = _DRIFT_NEW_MOD * _N_QUERIES

_KM_STALE_CACHE: dict[str, tuple[DataFrame, DataFrame]] = {}


def _km_final_assign_stale(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Lloyd clustering trained on the PRE-ARRIVAL slice only
    (vec_id % 3 != 2), seeds = the _KM_K lowest pre-arrival vec_ids,
    then the FULL corpus (old + new) assigned to those stale
    centroids — the serving state of an IVF index that has not been
    retrained since the new data landed. Memoized like _KM_CACHE."""
    from pyspark_xgboost_spark.sources.formats import memo_by_fingerprint

    def build() -> tuple[DataFrame, DataFrame]:
        xq = _km_xq(spark, sf_dir)
        old = xq.filter(
            F.col("vec_id") % _DRIFT_NEW_MOD != _DRIFT_NEW_RES
        ).localCheckpoint(eager=True)
        cents = old.orderBy("vec_id").limit(_KM_K).select(
            F.col("vec_id").alias("cid"), F.col("q").alias("cq")
        )
        for _ in range(_KM_ROUNDS):
            cents = _km_update(
                _km_assign(old, _km_cent_row(cents))
            ).localCheckpoint(eager=True)
        final = _km_assign(xq, _km_cent_row(cents)).localCheckpoint(
            eager=True
        )
        return (final, cents)

    return memo_by_fingerprint(
        _KM_STALE_CACHE, spark, sf_dir, "embeddings", build
    )


def _km_drift_oracle() -> str:
    """Fresh Lloyd replay (the shared _km_oracle_ctes) + a second,
    's'-prefixed replay trained on the pre-arrival slice, then the
    recall-eval pattern run against BOTH probe routings at once."""
    sdiv = _sign_trunc_div_sql("sum(e.x)", "count(*)").replace(
        " DIV ", " // "
    )
    parts = [
        f"""seed_s AS (
      SELECT vec_id FROM xq
      WHERE vec_id % {_DRIFT_NEW_MOD} <> {_DRIFT_NEW_RES}
      ORDER BY vec_id LIMIT {_KM_K}
    ),
    sce0 AS (
      SELECT e.vec_id AS cid, e.j, e.x AS c FROM e JOIN seed_s USING (vec_id)
    )"""
    ]
    for k in range(1, _KM_ROUNDS + 2):
        prev = k - 1
        train = (
            f"WHERE e.vec_id % {_DRIFT_NEW_MOD} <> {_DRIFT_NEW_RES}"
            if k <= _KM_ROUNDS
            else ""  # the final assignment covers the FULL corpus
        )
        parts.append(
            f"""sdist{k} AS (
      SELECT e.vec_id, ce.cid, sum((e.x - ce.c) * (e.x - ce.c)) AS d
      FROM e JOIN sce{prev} ce USING (j) {train}
      GROUP BY e.vec_id, ce.cid
    ),
    sasg{k} AS (
      SELECT vec_id, cid, d FROM (
        SELECT vec_id, cid, d,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid)
                 AS rn
        FROM sdist{k})
      WHERE rn = 1
    )"""
        )
        if k <= _KM_ROUNDS:
            parts.append(
                f"""sce{k} AS (
      SELECT a.cid, e.j, {sdiv} AS c
      FROM sasg{k} a JOIN e USING (vec_id)
      GROUP BY a.cid, e.j
    )"""
            )
    stale = ",\n    ".join(parts)
    probe = """
      SELECT vec_id AS query_id, cid FROM (
        SELECT q.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_sum(list_transform(
                            generate_series(1, {dim}),
                            j -> (q.q[j] - c.cq[j]) * (q.q[j] - c.cq[j]))),
                          c.cid) AS rn
        FROM panel q, cents_{t} c)
      WHERE rn <= {nprobe}
    """
    return (
        "WITH "
        + _km_oracle_ctes()
        + ",\n    "
        + stale
        + f""",
    corpus AS (
      SELECT xq.vec_id, af.cid AS cid_f, s.cid AS cid_s, xq.q,
             list_inner_product(xq.q, xq.q) AS nq
      FROM xq
      JOIN asg{_KM_FINAL} af USING (vec_id)
      JOIN sasg{_KM_FINAL} s USING (vec_id)
    ),
    cents_f AS (
      SELECT cid, list(c ORDER BY j) AS cq FROM ce{_KM_ROUNDS} GROUP BY cid
    ),
    cents_s AS (
      SELECT cid, list(c ORDER BY j) AS cq FROM sce{_KM_ROUNDS} GROUP BY cid
    ),
    panel AS (
      SELECT * FROM corpus
      WHERE vec_id < {_DRIFT_PANEL_MAX}
        AND vec_id % {_DRIFT_NEW_MOD} = {_DRIFT_NEW_RES}
    ),
    probes_f AS ({probe.format(dim=_KM_DIM, t="f", nprobe=_IVF_NPROBE)}),
    probes_s AS ({probe.format(dim=_KM_DIM, t="s", nprobe=_IVF_NPROBE)}),
    truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_inner_product(q.q, c.q)
                            / (sqrt(q.nq) * sqrt(c.nq)) DESC,
                          c.vec_id ASC) AS rk
        FROM panel q JOIN corpus c ON c.vec_id <> q.vec_id)
      WHERE rk <= {_TOPK}
    ),
    hits AS (
      SELECT t.query_id,
             CASE WHEN ps.cid IS NOT NULL THEN 1 ELSE 0 END AS found_s,
             CASE WHEN pf.cid IS NOT NULL THEN 1 ELSE 0 END AS found_f
      FROM truth t
      JOIN corpus n ON n.vec_id = t.neighbor_id
      LEFT JOIN probes_s ps
        ON ps.query_id = t.query_id AND ps.cid = n.cid_s
      LEFT JOIN probes_f pf
        ON pf.query_id = t.query_id AND pf.cid = n.cid_f
    )
    SELECT query_id,
           CAST(count(*) AS BIGINT) AS k,
           CAST(sum(found_s) AS BIGINT) AS n_found_stale,
           CAST(sum(found_f) AS BIGINT) AS n_found_fresh,
           CAST(floor(sum(found_s) * 1000000.0 / count(*)) AS BIGINT)
             AS recall_stale_micro,
           CAST(floor(sum(found_f) * 1000000.0 / count(*)) AS BIGINT)
             AS recall_fresh_micro,
           CAST(floor(sum(found_f) * 1000000.0 / count(*))
                - floor(sum(found_s) * 1000000.0 / count(*)) AS BIGINT)
             AS drift_micro
    FROM hits
    GROUP BY query_id
    """
    )


@register("sim_search_ivf_drift_eval", oracle=None)  # set below
def sim_search_ivf_drift_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF INDEX-MAINTENANCE EVAL — centroid drift (r10 verdict task
    #6): as new data arrives, an IVF index built before the arrivals
    routes queries through centroids that no longer describe the
    corpus, and recall decays silently. This measures exactly that
    serving-side number: for a panel of NEWLY-ARRIVED query vectors
    (the lowest {_N_QUERIES} of the vec_id % 3 == 2 arrival slice),
    recall@{_TOPK} of the STALE index (Lloyd trained on the
    pre-arrival two-thirds, full corpus then assigned to those frozen
    cells) is reported next to recall@{_TOPK} of the RETRAINED index
    (the memoized full-corpus clustering — _KM_CACHE, shared with
    every other k-means consumer), plus drift_micro = fresh - stale:
    the number that schedules re-indexing (drift past a threshold →
    retrain; ~0 → the arrivals still fit the old geometry and the
    rebuild can wait).

    Scale shape: panel-bounded like sim_search_ivf_recall_eval —
    ground truth is broadcast-panel × corpus (the exact pass an index
    build runs once); both probe routings are map-side broadcast
    top-nprobe; the stale training is one extra memoized Lloyd run
    over the old slice. Everything downstream of the assignments is
    O(panel × k). Exact integer arithmetic end-to-end, so the eval
    itself is oracle-attested (both Lloyd replays unrolled in DuckDB
    CTEs)."""
    final_f, cents_f = _km_final_assign(spark, sf_dir)
    final_s, cents_s = _km_final_assign_stale(spark, sf_dir)
    corpus = (
        final_f.select(
            "vec_id",
            F.col("cid").alias("cid_f"),
            "q",
            F.expr(
                "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, "
                "(acc, z) -> acc + z)"
            ).alias("nq"),
        )
        .join(
            final_s.select("vec_id", F.col("cid").alias("cid_s")), "vec_id"
        )
    )
    panel = corpus.filter(
        (F.col("vec_id") < _DRIFT_PANEL_MAX)
        & (F.col("vec_id") % _DRIFT_NEW_MOD == _DRIFT_NEW_RES)
    )
    probes_f = _km_assign_topn(
        panel.select("vec_id", "q"), _km_cent_row(cents_f), _IVF_NPROBE
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("pcid"))
    probes_s = _km_assign_topn(
        panel.select("vec_id", "q"), _km_cent_row(cents_s), _IVF_NPROBE
    ).select(F.col("vec_id").alias("query_id"), F.col("cid").alias("pcid"))
    q_side = panel.select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("nq").alias("qnq"),
    )
    scored = (
        F.broadcast(q_side)
        .crossJoin(corpus)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cid_f",
            "cid_s",
            (
                F.expr(
                    "aggregate(zip_with(qq, q, (x, y) -> x * y), 0L, "
                    "(acc, z) -> acc + z)"
                ).cast("double")
                / (
                    F.sqrt(F.col("qnq").cast("double"))
                    * F.sqrt(F.col("nq").cast("double"))
                )
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    truth = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", "cid_f", "cid_s")
    )
    hits = (
        truth.join(
            F.broadcast(probes_s),
            (truth["query_id"] == probes_s["query_id"])
            & (truth["cid_s"] == probes_s["pcid"]),
            "left",
        )
        .drop(probes_s["query_id"])
        .withColumn(
            "found_s", F.when(F.col("pcid").isNotNull(), 1).otherwise(0)
        )
        .drop("pcid")
    )
    hits = (
        hits.join(
            F.broadcast(probes_f),
            (hits["query_id"] == probes_f["query_id"])
            & (hits["cid_f"] == probes_f["pcid"]),
            "left",
        )
        .drop(probes_f["query_id"])
        .withColumn(
            "found_f", F.when(F.col("pcid").isNotNull(), 1).otherwise(0)
        )
        .drop("pcid")
    )
    rs = F.floor(F.sum("found_s") * 1000000 / F.count("*")).cast("bigint")
    rf = F.floor(F.sum("found_f") * 1000000 / F.count("*")).cast("bigint")
    return hits.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("found_s").cast("bigint").alias("n_found_stale"),
        F.sum("found_f").cast("bigint").alias("n_found_fresh"),
        rs.alias("recall_stale_micro"),
        rf.alias("recall_fresh_micro"),
        (rf - rs).cast("bigint").alias("drift_micro"),
    )


from pyspark_xgboost_spark.registry import ORACLES as _SIM_ORACLES  # noqa: E402

_SIM_ORACLES["sim_search_ivf_drift_eval"] = _km_drift_oracle()


_SEM_EVAL_PANEL = 500  # fixed truth panel: vec_id < 500 (dedup_lsh_eval_pr)


def _sem_eval_panel_arrays(final: DataFrame):
    """Collect the FIXED eval panel (vec_id < _SEM_EVAL_PANEL, zero
    vectors dropped) as numpy arrays — bounded driver state by
    construction: the panel size is a constant, never the corpus."""
    import numpy as np

    panel = (
        final.filter(F.col("vec_id") < _SEM_EVAL_PANEL)
        .select("vec_id", "cid", "q")
        .collect()
    )
    panel.sort(key=lambda r: r["vec_id"])
    ids = np.array([r["vec_id"] for r in panel], dtype=np.int64)
    cids = np.array([r["cid"] for r in panel], dtype=np.int64)
    Q = np.array([r["q"] for r in panel], dtype=np.int64)
    nq = (Q * Q).sum(axis=1)
    keep = nq > 0
    ids, cids, Q, nq = ids[keep], cids[keep], Q[keep], nq[keep]
    return ids, cids, Q, np.sqrt(nq.astype(np.float64))


@register(
    "dedup_semdedup_recall_eval",
    oracle="WITH "
    + _km_oracle_ctes()
    + f""",
    nrm AS (
      SELECT xq.vec_id, a.cid, xq.q,
             list_inner_product(xq.q, xq.q) AS nq
      FROM xq JOIN asg{_KM_FINAL} a USING (vec_id)
      WHERE list_inner_product(xq.q, xq.q) > 0
    ),
    truth AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CASE WHEN a.cid = b.cid THEN 1 ELSE 0 END AS same_cluster
      FROM nrm a JOIN nrm b
        ON a.vec_id < b.vec_id AND a.vec_id < {_SEM_EVAL_PANEL}
      WHERE list_inner_product(a.q, b.q) / (sqrt(a.nq) * sqrt(b.nq))
            >= {_SEMDEDUP_COS}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_truth_pairs,
           CAST(sum(same_cluster) AS BIGINT) AS n_found,
           CAST(floor(sum(same_cluster) * 1000000.0 / count(*))
                AS BIGINT) AS recall_micro,
           CAST(1000000 AS BIGINT) AS precision_micro
    FROM truth
    """,
)
def dedup_semdedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMDEDUP RECALL EVALUATION — quantifies the trade
    dedup_semdedup_clusters makes: of the panel-anchored embedding
    pairs above the dup threshold (brute-force ground truth), what
    fraction lands in the same k-means cluster and is therefore
    findable by the cluster-restricted search? Precision is 1e6 by
    construction (every reported pair IS above threshold — the
    within-cluster check only restricts, never relaxes); recall is
    the tuning dial k controls (more clusters = cheaper pairs, lower
    recall). On this near-isotropic synthetic corpus threshold-band
    pairs split across clusters; with true near-identical dups
    (cos >= 0.99) co-clustering is near-certain and recall
    approaches 1 — reporting the honest number is the point, the
    dedup_lsh_eval_pr discipline applied to semantic dedup.

    Scale shape: ground truth is PANEL x CORPUS, never corpus
    all-pairs — the truth anchor side is the fixed
    vec_id < {_SEM_EVAL_PANEL} evaluation panel (the dedup_lsh_eval_pr
    panel discipline; pair (a, b) counts when a is a panel vector and
    a < b), so driver state and per-row work are both bounded by a
    CONSTANT panel size at any corpus scale. Execution is ONE int64
    numpy matmul per Arrow batch of the corpus against the broadcast
    panel matrix (the declarative crossJoin + 64-element fold form
    stayed interpreted and cost 25x — the dedup_minhash_b128 lesson):
    dots are exact int64, and each cosine is the same three IEEE ops
    (sqrt, sqrt-product, divide) on identical inputs both engines
    perform, so the threshold compare cannot drift; floored micro
    ratios keep the report cast-rule-proof."""
    import numpy as np
    import pandas as pd

    final, _cents = _km_final_assign(spark, sf_dir)
    b = spark.sparkContext.broadcast(_sem_eval_panel_arrays(final))

    def count_pairs(batches):
        p_ids, p_cids, P, p_rt = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(np.int64)
            cids = pdf["cid"].to_numpy(np.int64)
            Xi = np.array([np.asarray(v) for v in pdf["q"]], dtype=np.int64)
            nqi = (Xi * Xi).sum(axis=1)
            keep = nqi > 0
            if not keep.any():
                continue
            ids, cids, Xi, nqi = ids[keep], cids[keep], Xi[keep], nqi[keep]
            dots = Xi @ P.T  # (batch, panel) exact int64
            cos = dots.astype(np.float64) / (
                np.sqrt(nqi.astype(np.float64))[:, None] * p_rt[None, :]
            )
            mask = (cos >= _SEMDEDUP_COS) & (p_ids[None, :] < ids[:, None])
            same = mask & (p_cids[None, :] == cids[:, None])
            yield pd.DataFrame(
                {"n_truth": [int(mask.sum())], "n_same": [int(same.sum())]}
            )

    partials = final.select("vec_id", "cid", "q").mapInPandas(
        count_pairs, "n_truth long, n_same long"
    )
    return partials.agg(
        F.sum("n_truth").cast("bigint").alias("n_truth_pairs"),
        F.sum("n_same").cast("bigint").alias("n_found"),
        F.floor(F.sum("n_same") * 1000000 / F.sum("n_truth"))
        .cast("bigint")
        .alias("recall_micro"),
        F.lit(1000000).cast("bigint").alias("precision_micro"),
    )


_MAH_Q = 1000  # embedding fixed-point scale (thousandths)
_MAH_THRESH = 4  # mean per-dim z^2 above this -> outlier


@register(
    "embedding_outlier_mahalanobis",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, CAST(generate_subscripts(embedding, 1) AS INTEGER)
               AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {_MAH_Q})
               AS BIGINT) AS qv
      FROM embeddings
    ),
    st AS (
      SELECT pos, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(qv) AS BIGINT) AS s1,
             CAST(sum(qv * qv) AS BIGINT) AS s2
      FROM e GROUP BY pos
    ),
    z AS (
      SELECT e.vec_id,
             CAST(floor(
               CAST((e.qv * st.n - st.s1) * (e.qv * st.n - st.s1) AS DOUBLE)
               * 1000000
               / CAST(st.n * (st.n * st.s2 - st.s1 * st.s1) AS DOUBLE))
               AS BIGINT) AS z2_micro,
             st.n
      FROM e JOIN st USING (pos)
    )
    SELECT vec_id,
           CAST(count(*) AS BIGINT) AS n_dims,
           CAST(sum(z2_micro) AS BIGINT) AS mahal2_micro,
           CAST(CASE WHEN sum(z2_micro)
                     > count(*) * {_MAH_THRESH} * 1000000
                THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM z GROUP BY vec_id
    """,
)
def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING OUTLIER SCORING by diagonal Mahalanobis distance —
    the curation gate that catches corrupt vectors (failed encodes,
    zero pads, scale bugs) before they poison ANN indexes or k-means
    seeds: each vector scores sum over dims of
    ((x - mean) / std)^2 against the corpus's own per-dimension
    moments (the embedding_whitening_stats statistics, consumed
    instead of just reported), and a mean per-dim z^2 above
    {_MAH_THRESH} flags the vector. Diagonal covariance is the
    at-scale variant — the full-matrix form needs a d x d inverse
    that a 64-dim pipeline can afford but a map-side join cannot
    ship; diag catches the failure modes above just as well.

    Determinism: components quantize to integer thousandths; each
    dim's z^2 is an exact-integer ratio ((qv*n - s1)^2 over
    n*(n*s2 - s1^2), i.e. variance cross-multiplied away) evaluated
    with one double division of exact BIGINTs (identical IEEE
    rounding both engines) and floored to micro units BEFORE the
    per-vector sum — partition-order-proof.

    Scale shape: fit = one posexplode pass into a dimension-keyed
    partial agg (64 post-shuffle rows at any corpus size); transform
    = the component stream joins the BROADCAST 64-row moment table
    map-side and integer-sums per vector — one vec-keyed exchange.
    The fit/transform double scan is the standard stats-then-apply
    shape (corpus_dsir_importance's architecture on the embedding
    side)."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "pos",
        F.floor(F.col("x").cast("double") * _MAH_Q).cast("long").alias("qv"),
    )
    st = e.groupBy("pos").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("qv").cast("long").alias("s1"),
        F.sum(F.col("qv") * F.col("qv")).cast("long").alias("s2"),
    )
    num = (F.col("qv") * F.col("n") - F.col("s1")) * (
        F.col("qv") * F.col("n") - F.col("s1")
    )
    den = F.col("n") * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
    z = e.join(F.broadcast(st), "pos").select(
        "vec_id",
        F.floor(num.cast("double") * 1000000 / den.cast("double"))
        .cast("long")
        .alias("z2_micro"),
    )
    return z.groupBy("vec_id").agg(
        F.count("*").cast("bigint").alias("n_dims"),
        F.sum("z2_micro").cast("bigint").alias("mahal2_micro"),
        F.when(
            F.sum("z2_micro") > F.count("*") * _MAH_THRESH * 1000000, 1
        )
        .otherwise(0)
        .cast("bigint")
        .alias("is_outlier"),
    )


_RRF_K = 60
_RRF_QUERY_VEC = 0  # vec_id of the retrieval query; its doc is excluded
_RRF_TOPK = 10


def _register_rrf_fusion() -> None:
    from pyspark_xgboost_spark.operators.text import _BM25_SCORED_CTES

    from pyspark_xgboost_spark import registry

    registry.ORACLES["sim_search_rrf_fusion"] = f"""
    WITH {_BM25_SCORED_CTES},
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v FROM e WHERE vec_id = {_RRF_QUERY_VEC}),
    vec_scored AS (
      SELECT c.vec_id AS doc_id,
             floor(list_inner_product(q.v, c.v)
                   / (sqrt(list_inner_product(q.v, q.v))
                      * sqrt(list_inner_product(c.v, c.v)))
                   * 10000) / 10000 AS cos_sim
      FROM q CROSS JOIN e c WHERE c.vec_id <> {_RRF_QUERY_VEC}
    ),
    vec_ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC)
                  AS BIGINT) AS r_vec
      FROM vec_scored
    ),
    lex_ranked AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC)
                  AS BIGINT) AS r_lex
      FROM bm25_scored WHERE doc_id <> {_RRF_QUERY_VEC}
    ),
    fused AS (
      SELECT v.doc_id, v.r_vec, l.r_lex,
             CAST(1000000 // ({_RRF_K} + v.r_vec)
                  + COALESCE(1000000 // ({_RRF_K} + l.r_lex), 0)
                  AS BIGINT) AS rrf_micro
      FROM vec_ranked v LEFT JOIN lex_ranked l USING (doc_id)
    )
    SELECT doc_id, r_vec, r_lex, rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id ASC LIMIT {_RRF_TOPK}
    """


@register("sim_search_rrf_fusion")
def sim_search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID RETRIEVAL VIA RECIPROCAL RANK FUSION (Cormack, Clarke &
    Buettcher, SIGIR 2009 — the fusion rule modern RAG/search stacks
    default to): the corpus is ranked twice — dense (cosine against
    the query embedding, vec_id {_RRF_QUERY_VEC}, the sim_search_topk
    kernel) and lexical (the shared BM25 scorer of text_bm25_topk,
    imported so ranker and fusioner cannot drift) — and the two
    rankings fuse as rrf = sum over rankings of 1e6 // (k + rank),
    k={_RRF_K}. RRF needs only RANKS, never score calibration across
    signals, which is exactly why it wins in production: the integer
    reciprocal is engine-exact, a document missing from the lexical
    ranking (no query term) contributes 0, and the final order is
    total (rrf desc, doc_id).

    Scale shape: the dense leg is one broadcast-query pass over the
    corpus (at 100 TB: the ANN tiers elsewhere in this family replace
    the brute pass; the fusion is unchanged); the lexical leg is the
    inverted-index probe of text_bm25_topk; each ranking is a
    window over its own SCORED CANDIDATES (query-term postings /
    corpus scores), the fuse is one doc_id equi-join of two rank
    columns, and the top-k is TakeOrderedAndProject."""
    from pyspark_xgboost_spark.operators.text import _bm25_scored

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("v").alias("qv")
    )
    cos = _cosine_cols("qv", "v")
    vec_scored = (
        F.broadcast(q)
        .crossJoin(e.select(F.col("vec_id").alias("doc_id"), "v"))
        .filter(F.col("doc_id") != _RRF_QUERY_VEC)
        .select("doc_id", (F.floor(cos * 10000) / 10000).alias("cos_sim"))
    )
    wv = W.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
    vec_ranked = vec_scored.select(
        "doc_id", F.row_number().over(wv).cast("bigint").alias("r_vec")
    )
    wl = W.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
    lex_ranked = (
        _bm25_scored(spark, sf_dir)
        .filter(F.col("doc_id") != _RRF_QUERY_VEC)
        .select(
            "doc_id", F.row_number().over(wl).cast("bigint").alias("r_lex")
        )
    )
    fused = vec_ranked.join(lex_ranked, "doc_id", "left").select(
        "doc_id",
        "r_vec",
        "r_lex",
        (
            F.expr(f"1000000 div ({_RRF_K} + r_vec)")
            + F.coalesce(
                F.expr(f"1000000 div ({_RRF_K} + r_lex)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_micro"),
    )
    return fused.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc()).limit(
        _RRF_TOPK
    )


_register_rrf_fusion()


_MMR_POOL = 20
_MMR_K = 5
# lambda = 0.7: score is kept as the INTEGER 7*rel - 3*maxsim (deci-micro
# units) — no division, so no signed truncate-vs-floor divergence.


def _mmr_oracle() -> str:
    sel = "sel1"
    ctes = [
        f"""e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v FROM e WHERE vec_id = {_RRF_QUERY_VEC}),
    pool AS (
      SELECT c.vec_id AS id, c.v,
             CAST(floor(list_inner_product(q.v, c.v)
                   / (sqrt(list_inner_product(q.v, q.v))
                      * sqrt(list_inner_product(c.v, c.v)))
                   * 1000000) AS BIGINT) AS rel
      FROM q CROSS JOIN e c WHERE c.vec_id <> {_RRF_QUERY_VEC}
      ORDER BY rel DESC, id ASC LIMIT {_MMR_POOL}
    ),
    sims AS (
      SELECT a.id AS ida, b.id AS idb,
             CAST(floor(list_inner_product(a.v, b.v)
                   / (sqrt(list_inner_product(a.v, a.v))
                      * sqrt(list_inner_product(b.v, b.v)))
                   * 1000000) AS BIGINT) AS sim
      FROM pool a JOIN pool b ON a.id <> b.id
    ),
    pick1 AS (
      SELECT id, rel, CAST(0 AS BIGINT) AS maxsim,
             CAST(7 * rel AS BIGINT) AS sc
      FROM pool ORDER BY rel DESC, id ASC LIMIT 1
    ),
    sel1 AS (SELECT id FROM pick1)"""
    ]
    for r in range(2, _MMR_K + 1):
        prev = sel
        sel = f"sel{r}"
        ctes.append(
            f"""cand{r} AS (
      SELECT p.id, p.rel, CAST(max(s.sim) AS BIGINT) AS maxsim
      FROM pool p
      JOIN sims s ON s.ida = p.id
      JOIN {prev} t ON s.idb = t.id
      WHERE p.id NOT IN (SELECT id FROM {prev})
      GROUP BY p.id, p.rel
    ),
    pick{r} AS (
      SELECT id, rel, maxsim, CAST(7 * rel - 3 * maxsim AS BIGINT) AS sc
      FROM cand{r} ORDER BY sc DESC, id ASC LIMIT 1
    ),
    sel{r} AS (SELECT id FROM {prev} UNION ALL SELECT id FROM pick{r})"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS rk, id AS doc_id, rel AS rel_micro,"
        f" maxsim AS maxsim_micro, sc AS mmr_decimicro FROM pick{r}"
        for r in range(1, _MMR_K + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


@register("sim_search_mmr_rerank")
def sim_search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE RE-RANKING (Carbonell & Goldstein,
    SIGIR 1998) — the diversification stage between retrieval and the
    user: from the top-{_MMR_POOL} relevance shortlist for the query
    vector, greedily select {_MMR_K} results maximizing
    lambda*rel(c) - (1-lambda)*max_{{s in selected}} sim(c, s)
    (lambda=0.7), so near-duplicate hits don't crowd the result page —
    retrieval's answer to the dedup problem this repo solves at corpus
    scale elsewhere. Determinism discipline: relevance and pairwise
    similarities are floored micro-cosines (exact ints); the MMR score
    is the INTEGER 7*rel - 3*maxsim (deci-micro units, no division —
    signed integer division is the classic cross-engine trap and it is
    simply absent); every argmax orders (score desc, id asc), a total
    order. The oracle replays the greedy loop as {_MMR_K} unrolled
    CTE rounds.

    Scale shape: the POOL is the scale bound — the corpus pass is the
    standard broadcast-query top-k heap (at 100 TB, the ANN tiers
    produce this shortlist); everything after is pool-sized:
    {_MMR_POOL}x{_MMR_POOL} pairwise sims computed once
    (localCheckpoint), then {_MMR_K} argmax rounds of one tiny job
    each (bounded driver state: one id per round — the BPE-loop
    pattern)."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
        F.col("v").alias("qv")
    )
    cos = _cosine_cols("qv", "v")
    pool = (
        F.broadcast(q)
        .crossJoin(e.select(F.col("vec_id").alias("id"), "v"))
        .filter(F.col("id") != _RRF_QUERY_VEC)
        .select("id", "v", F.floor(cos * 1000000).cast("bigint").alias("rel"))
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(_MMR_POOL)
        .localCheckpoint(eager=True)  # shortlist: all rounds reuse it
    )
    a = pool.select(F.col("id").alias("ida"), F.col("v").alias("va"))
    b = pool.select(F.col("id").alias("idb"), F.col("v").alias("vb"))
    simcos = _cosine_cols("va", "vb")
    sims = (
        a.join(b, F.col("ida") != F.col("idb"))
        .select(
            "ida",
            "idb",
            F.floor(simcos * 1000000).cast("bigint").alias("sim"),
        )
        .localCheckpoint(eager=True)  # pool^2 rows, computed once
    )
    picks = []
    selected: list[int] = []
    for r in range(1, _MMR_K + 1):
        if not selected:
            row = pool.orderBy(F.col("rel").desc(), F.col("id").asc()).first()
            picks.append((r, int(row["id"]), int(row["rel"]), 0, 7 * int(row["rel"])))
        else:
            cand = (
                pool.filter(~F.col("id").isin(selected))
                .join(
                    sims.filter(F.col("idb").isin(selected)),
                    F.col("id") == F.col("ida"),
                )
                .groupBy("id", "rel")
                .agg(F.max("sim").cast("bigint").alias("maxsim"))
                .select(
                    "id",
                    "rel",
                    "maxsim",
                    (7 * F.col("rel") - 3 * F.col("maxsim"))
                    .cast("bigint")
                    .alias("sc"),
                )
            )
            row = cand.orderBy(F.col("sc").desc(), F.col("id").asc()).first()
            picks.append(
                (r, int(row["id"]), int(row["rel"]), int(row["maxsim"]), int(row["sc"]))
            )
        selected.append(picks[-1][1])
    return spark.createDataFrame(
        picks,
        "rk int, doc_id long, rel_micro long, maxsim_micro long,"
        " mmr_decimicro long",
    )


def _register_mmr_oracle() -> None:
    from pyspark_xgboost_spark import registry

    registry.ORACLES["sim_search_mmr_rerank"] = _mmr_oracle()


_register_mmr_oracle()


def _register_cluster_quality() -> None:
    """embedding_cluster_quality — registered via a builder because its
    oracle composes the shared unrolled k-means replay CTEs."""
    from pyspark_xgboost_spark import registry

    sdiv = _sign_trunc_div_sql("sum(e.x)", "count(*)").replace(" DIV ", " // ")
    oracle = (
        "WITH "
        + _km_oracle_ctes()
        + f""",
    gmean AS (
      SELECT j, {sdiv} AS gm FROM e GROUP BY j
    ),
    sizes AS (
      SELECT cid, CAST(count(*) AS BIGINT) AS n_c
      FROM asg{_KM_FINAL} GROUP BY cid
    ),
    b2 AS (
      SELECT ce.cid,
             CAST(sum((ce.c - g.gm) * (ce.c - g.gm)) AS BIGINT) AS b2
      FROM ce{_KM_ROUNDS} ce JOIN gmean g USING (j)
      GROUP BY ce.cid
    ),
    agg AS (
      SELECT CAST(sum(s.n_c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(s.n_c * b.b2) AS BIGINT) AS bss_q
      FROM sizes s JOIN b2 b USING (cid)
    ),
    w AS (
      SELECT CAST(sum(d) AS BIGINT) AS wss_q FROM asg{_KM_FINAL}
    )
    SELECT a.n AS n_vectors, a.k AS n_clusters, w.wss_q, a.bss_q,
           (CAST(a.bss_q AS DOUBLE) * (a.n - a.k))
             / (CAST(w.wss_q AS DOUBLE) * (a.k - 1)) AS calinski_harabasz
    FROM agg a CROSS JOIN w
    """
    )

    @register("embedding_cluster_quality", oracle=oracle)
    def embedding_cluster_quality(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """CLUSTER QUALITY REPORT (Calinski & Harabasz 1974) for the
        shared deterministic k-means: within-cluster SS (the exact
        integer inertia the Lloyd query already attests), BETWEEN-
        cluster SS (sizes x squared centroid-to-global-mean distance,
        exact integers — the global mean uses the same sign-restored
        quantized division as the centroid update), and the CH
        variance-ratio index as ONE closed-form double over those
        exact integers (the agg_corr_regression discipline: the oracle
        pins the integers, the double derives identically). CH is the
        go/no-go the SemDeDup/IVF consumers need: a collapsing CH on
        re-embedding is the signal to re-tune k BEFORE serving dedup
        or routing decisions from a degenerate clustering.

        Scale shape: consumes the memoized clustering (_KM_CACHE — no
        retraining); the global mean is one per-dim partial agg over
        the corpus (the only row-proportional stage); everything else
        runs on k-row / dim-row tables."""
        final, cents = _km_final_assign(spark, sf_dir)
        e = final.select(
            "vec_id", F.posexplode("q").alias("j", "x")
        )
        gmean = e.groupBy("j").agg(
            F.expr(
                "CASE WHEN sum(x) < 0 THEN -((-(sum(x))) div count(*)) "
                "ELSE (sum(x)) div count(*) END"
            ).alias("gm")
        )
        ce = cents.select("cid", F.posexplode("cq").alias("j", "c"))
        b2 = (
            ce.join(F.broadcast(gmean), "j")
            .groupBy("cid")
            .agg(
                F.sum((F.col("c") - F.col("gm")) * (F.col("c") - F.col("gm")))
                .cast("bigint")
                .alias("b2")
            )
        )
        sizes = final.groupBy("cid").agg(
            F.count("*").cast("bigint").alias("n_c")
        )
        agg = sizes.join(F.broadcast(b2), "cid").agg(
            F.sum("n_c").cast("bigint").alias("n"),
            F.count("*").cast("bigint").alias("k"),
            F.sum(F.col("n_c") * F.col("b2")).cast("bigint").alias("bss_q"),
        )
        w = final.agg(F.sum("d").cast("bigint").alias("wss_q"))
        return agg.crossJoin(F.broadcast(w)).select(
            F.col("n").alias("n_vectors"),
            F.col("k").alias("n_clusters"),
            "wss_q",
            "bss_q",
            (
                F.col("bss_q").cast("double") * (F.col("n") - F.col("k"))
                / (F.col("wss_q").cast("double") * (F.col("k") - 1))
            ).alias("calinski_harabasz"),
        )


_register_cluster_quality()


_RBO_P_NUM, _RBO_P_DEN = 9, 10  # persistence p = 0.9 as an exact rational
_RBO_DEPTH = 10


def _register_rbo() -> None:
    """sim_search_rank_agreement_rbo — builder-registered because the
    oracle composes the shared BM25 CTEs and an unrolled weight grid."""
    from pyspark_xgboost_spark import registry
    from pyspark_xgboost_spark.operators.text import _BM25_SCORED_CTES

    grid_rows = [
        (d, _RBO_P_NUM ** (d - 1), (_RBO_P_DEN**d) * d)
        for d in range(1, _RBO_DEPTH + 1)
    ]
    grid_sql = ", ".join(f"({d}, {n}, {den})" for d, n, den in grid_rows)
    oracle = f"""
    WITH {_BM25_SCORED_CTES},
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v FROM e WHERE vec_id = {_RRF_QUERY_VEC}),
    vec_scored AS (
      SELECT c.vec_id AS doc_id,
             floor(list_inner_product(q.v, c.v)
                   / (sqrt(list_inner_product(q.v, q.v))
                      * sqrt(list_inner_product(c.v, c.v)))
                   * 10000) / 10000 AS cos_sim
      FROM q CROSS JOIN e c WHERE c.vec_id <> {_RRF_QUERY_VEC}
    ),
    a AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC,
                                          doc_id ASC) AS r
        FROM vec_scored) WHERE r <= {_RBO_DEPTH}
    ),
    b AS (
      SELECT doc_id, r FROM (
        SELECT doc_id, row_number() OVER (ORDER BY bm25_micro DESC,
                                          doc_id ASC) AS r
        FROM bm25_scored WHERE doc_id <> {_RRF_QUERY_VEC})
      WHERE r <= {_RBO_DEPTH}
    ),
    m AS (
      SELECT greatest(a.r, b.r) AS rmax
      FROM a JOIN b USING (doc_id)
    ),
    grid(d, pnum, pden) AS (VALUES {grid_sql}),
    xd AS (
      SELECT g.d, g.pnum, g.pden,
             CAST(count(m.rmax) AS BIGINT) AS x
      FROM grid g LEFT JOIN m ON m.rmax <= g.d
      GROUP BY g.d, g.pnum, g.pden
    ),
    t AS (
      SELECT d, x,
             CAST((x * 1000) // d AS BIGINT) AS agreement_milli,
             CAST((1000000::BIGINT * pnum * x) // pden AS BIGINT)
               AS term_micro
      FROM xd
    )
    SELECT d AS depth, x AS overlap, agreement_milli,
           CAST(sum(term_micro) OVER (ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS rbo_min_micro
    FROM t
    """

    @register("sim_search_rank_agreement_rbo", oracle=oracle)
    def sim_search_rank_agreement_rbo(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """RANK-BIASED OVERLAP (Webber, Moffat & Zobel, TOIS 2010)
        between the dense and lexical rankings the RRF fusioner
        consumes: per depth d, the prefix overlap X_d, the agreement
        X_d/d (milli), and the running RBO_min = (1-p) * sum of
        p^(d-1) * X_d / d with persistence p = 0.9 held EXACT as the
        rational 9/10 — each term is one integer floor division
        (1e6 * 9^(d-1) * X_d) div (10^d * d), the unrolled-power
        discipline of dedup_lsh_band_planning (library pow() is not
        cross-engine-stable; integer powers as literals are). RBO is
        the standard top-weighted agreement measure for comparing
        retrieval signals — two signals with RBO near 1 make fusion
        redundant; near 0, fusion is load-bearing — and unlike
        Kendall/Spearman it is defined for the NON-CONJOINT top-k
        lists retrieval actually produces.

        Scale shape: both rankings already exist (shared BM25 scorer,
        broadcast-query dense pass — the ANN tiers replace the brute
        leg at 100 TB); RBO itself runs on two {_RBO_DEPTH}-row
        prefixes joined to a {_RBO_DEPTH}-row literal weight grid —
        driver-free and constant-cost at any corpus size."""
        from pyspark_xgboost_spark.operators.text import _bm25_scored

        e = _emb(spark, sf_dir)
        q = e.filter(F.col("vec_id") == _RRF_QUERY_VEC).select(
            F.col("v").alias("qv")
        )
        cos = _cosine_cols("qv", "v")
        vec_scored = (
            F.broadcast(q)
            .crossJoin(e.select(F.col("vec_id").alias("doc_id"), "v"))
            .filter(F.col("doc_id") != _RRF_QUERY_VEC)
            .select("doc_id", (F.floor(cos * 10000) / 10000).alias("cos_sim"))
        )
        wv = W.orderBy(F.col("cos_sim").desc(), F.col("doc_id").asc())
        a = vec_scored.select(
            "doc_id", F.row_number().over(wv).alias("r")
        ).filter(F.col("r") <= _RBO_DEPTH)
        wl = W.orderBy(F.col("bm25_micro").desc(), F.col("doc_id").asc())
        b = (
            _bm25_scored(spark, sf_dir)
            .filter(F.col("doc_id") != _RRF_QUERY_VEC)
            .select("doc_id", F.row_number().over(wl).alias("r"))
            .filter(F.col("r") <= _RBO_DEPTH)
        )
        m = a.join(b, "doc_id").select(
            F.greatest(a["r"], b["r"]).alias("rmax")
        )
        grid = spark.createDataFrame(
            [
                (d, _RBO_P_NUM ** (d - 1), (_RBO_P_DEN**d) * d)
                for d in range(1, _RBO_DEPTH + 1)
            ],
            "d int, pnum long, pden long",
        )
        xd = (
            grid.join(F.broadcast(m), F.col("rmax") <= F.col("d"), "left")
            .groupBy("d", "pnum", "pden")
            .agg(F.count("rmax").cast("bigint").alias("x"))
        )
        t = xd.select(
            "d",
            "x",
            F.expr("(x * 1000) div d").cast("bigint").alias("agreement_milli"),
            F.expr("(1000000 * pnum * x) div pden")
            .cast("bigint")
            .alias("term_micro"),
        )
        wcum = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
        return t.select(
            F.col("d").alias("depth"),
            F.col("x").alias("overlap"),
            "agreement_milli",
            F.sum("term_micro").over(wcum).cast("bigint").alias("rbo_min_micro"),
        )


_register_rbo()


_MIPS_SEEDS = 100  # threshold-seeding prefix (vec_id < 100)


def _mips_oracle() -> str:
    return f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    c AS (
      SELECT vec_id, q, list_inner_product(q, q) AS n2,
             1 + vec_id % 10 AS w
      FROM xq
    ),
    qs AS (
      SELECT vec_id AS query_id, q AS qq, n2 AS qn2 FROM c
      WHERE vec_id < {_N_QUERIES}
    ),
    seed AS (
      SELECT query_id, ip, rn FROM (
        SELECT s.query_id,
               c.w * list_inner_product(s.qq, c.q) AS ip,
               row_number() OVER (
                 PARTITION BY s.query_id
                 ORDER BY c.w * list_inner_product(s.qq, c.q) DESC,
                          c.vec_id) AS rn
        FROM qs s JOIN c ON c.vec_id < {_MIPS_SEEDS}
                        AND c.vec_id <> s.query_id)
      WHERE rn = {_TOPK}
    ),
    thr AS (
      SELECT q.query_id, q.qq, q.qn2,
             COALESCE(s.ip, -9223372036854775807) AS lb
      FROM qs q LEFT JOIN seed s USING (query_id)
    ),
    surv AS (
      SELECT t.query_id, c.vec_id AS neighbor_id,
             c.w * list_inner_product(t.qq, c.q) AS ip
      FROM thr t JOIN c ON c.vec_id <> t.query_id
      WHERE NOT (t.lb > 0 AND t.qn2 * c.n2 * c.w * c.w < t.lb * t.lb)
    ),
    pruned AS (
      SELECT t.query_id,
             CAST(count(*) AS BIGINT) AS n_pruned
      FROM thr t JOIN c ON c.vec_id <> t.query_id
      WHERE t.lb > 0 AND t.qn2 * c.n2 * c.w * c.w < t.lb * t.lb
      GROUP BY t.query_id
    )
    SELECT query_id, CAST(rn AS BIGINT) AS rank, neighbor_id,
           CAST(ip AS BIGINT) AS ip_q,
           COALESCE(p.n_pruned, 0) AS n_pruned
    FROM (
      SELECT query_id, neighbor_id, ip,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY ip DESC, neighbor_id) AS rn
      FROM surv) r
    LEFT JOIN pruned p USING (query_id)
    WHERE rn <= {_TOPK}
    """


@register("sim_search_mips_norm_pruned", oracle=None)  # set below
def sim_search_mips_norm_pruned(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT WEIGHTED-MIPS TOP-K WITH CAUCHY-SCHWARZ NORM PRUNING —
    the exact fast path between brute force (sim_search_topk) and
    approximate indexes (IVF/PQ): popularity-boosted retrieval
    (score = w·(q·x), the recommender shape where an item weight
    scales its embedding — weights here the deterministic
    1 + vec_id % 10 tier) where a slice of the corpus is eliminated
    by the bound w·(q·x) ≤ w‖q‖‖x‖ BEFORE any dot product is
    computed. Two phases: (1) seed a per-query lower bound L = the
    k-th best weighted score over a fixed {_MIPS_SEEDS}-vector prefix
    (cheap, panel × prefix); (2) scan the corpus keeping only vectors
    whose weighted norm bound could beat L — pruning is SAFE (squared
    integer comparison qn²·xn²·w² < L², valid when L > 0, so a
    skipped vector provably cannot enter the top-k) and the result is
    bit-identical to brute force, with n_pruned reported per query:
    the low-weight tiers drop without their dot products ever being
    evaluated, the number every norm-ordered / norm-bucketed MIPS
    layout (FEXIPRO, LEMP) is built to maximize. (An unweighted
    variant is vacuous on this near-isotropic synthetic corpus —
    q·x ≈ ‖q‖‖x‖/√d with concentrated norms, nothing prunes; the
    weight tier is what gives the bound spread, exactly as item
    popularity does in production.)

    Scale shape: phase 1 is panel × prefix (bounded); phase 2's
    norm-bound filter is O(1) per corpus row and evaluates BEFORE the
    O(d) dot product in the plan (filter precedes projection), so at
    100 TB the scan does d-dimensional work only on survivors — with
    norms precomputed once and storable as a column, the filter also
    becomes a parquet min/max pruning predicate under a norm-sorted
    layout. All arithmetic exact integers (quantized 1e-3 units;
    norm-squared products bounded ~4e15 at d=64 — no overflow)."""
    xq = _km_xq(spark, sf_dir)
    dot_qq = F.expr(
        "aggregate(zip_with(q, q, (a, b) -> a * b), 0L, (acc, z) -> acc + z)"
    )
    c = xq.select(
        "vec_id",
        "q",
        dot_qq.alias("n2"),
        (1 + F.col("vec_id") % 10).alias("w"),
    ).localCheckpoint(eager=True)
    qs = c.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    ip = F.col("w") * F.expr(
        "aggregate(zip_with(qq, q, (x, y) -> x * y), 0L, (acc, z) -> acc + z)"
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("vec_id").asc()
    )
    seed = (
        F.broadcast(qs)
        .join(
            c.filter(F.col("vec_id") < _MIPS_SEEDS),
            F.col("vec_id") != F.col("query_id"),
        )
        .select("query_id", "vec_id", ip.alias("ip"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == _TOPK)
        .select("query_id", F.col("ip").alias("lb"))
    )
    thr = qs.join(seed, "query_id", "left").select(
        "query_id",
        "qq",
        "qn2",
        F.coalesce("lb", F.lit(-9223372036854775807)).alias("lb"),
    )
    paired = F.broadcast(thr).join(
        c, F.col("vec_id") != F.col("query_id")
    )
    prune_cond = (F.col("lb") > 0) & (
        F.col("qn2") * F.col("n2") * F.col("w") * F.col("w")
        < F.col("lb") * F.col("lb")
    )
    surv = paired.filter(~prune_cond).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), ip.alias("ip")
    )
    # ONE panel x corpus pass: every non-self vector either survives or
    # is pruned, so n_pruned = (corpus - 1) - survivors — derived from
    # the survivor counts plus a 1-row corpus total, instead of a
    # second full scan just to count what was skipped (r11 review)
    surv = surv.localCheckpoint(eager=True)
    nc = c.agg(F.count("*").cast("bigint").alias("nc"))
    pruned = (
        surv.groupBy("query_id")
        .agg(F.count("*").alias("n_surv"))
        .crossJoin(F.broadcast(nc))
        .select(
            "query_id",
            (F.col("nc") - 1 - F.col("n_surv"))
            .cast("bigint")
            .alias("n_pruned"),
        )
    )
    wk = W.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id").asc()
    )
    return (
        surv.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _TOPK)
        .join(F.broadcast(pruned), "query_id", "left")
        .select(
            "query_id",
            F.col("rn").cast("bigint").alias("rank"),
            "neighbor_id",
            F.col("ip").cast("bigint").alias("ip_q"),
            F.coalesce("n_pruned", F.lit(0))
            .cast("bigint")
            .alias("n_pruned"),
        )
    )


_SIM_ORACLES["sim_search_mips_norm_pruned"] = _mips_oracle()


# --------------------------------------------------------------------------
# Scalar quantization (SQ8) with a graded recall/error eval
# --------------------------------------------------------------------------


@register(
    "embedding_scalar_quantize_eval",
    oracle=f"""
    WITH xm AS (
      SELECT vec_id, g.j,
             CAST(round(CAST(embedding AS DOUBLE[])[g.j] * {_KM_Q})
               AS BIGINT) AS x
      FROM embeddings, unnest(generate_series(1, {_KM_DIM})) AS g(j)
    ),
    st AS (
      SELECT j, CAST(min(x) AS BIGINT) AS mn, CAST(max(x) AS BIGINT) AS mx
      FROM xm GROUP BY j
    ),
    q AS (
      SELECT xm.vec_id, xm.j, xm.x,
             (xm.x - st.mn) * 255 // greatest(1, st.mx - st.mn) AS qc
      FROM xm JOIN st USING (j)
    ),
    deq AS (
      SELECT q.vec_id, q.j, q.x,
             st.mn + q.qc * (st.mx - st.mn) // 255 AS d
      FROM q JOIN st USING (j)
    ),
    dot_o AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             CAST(sum(a.x * b.x) AS BIGINT) AS s
      FROM xm a JOIN xm b USING (j)
      WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    dot_d AS (
      SELECT a.vec_id AS qid, b.vec_id AS nid,
             CAST(sum(a.d * b.d) AS BIGINT) AS s
      FROM deq a JOIN deq b USING (j)
      WHERE a.vec_id < {_N_QUERIES} AND b.vec_id <> a.vec_id
      GROUP BY 1, 2
    ),
    top_o AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (
          PARTITION BY qid ORDER BY s DESC, nid) AS rk FROM dot_o)
      WHERE rk <= {_TOPK}
    ),
    top_d AS (
      SELECT qid, nid FROM (
        SELECT qid, nid, row_number() OVER (
          PARTITION BY qid ORDER BY s DESC, nid) AS rk FROM dot_d)
      WHERE rk <= {_TOPK}
    ),
    ov AS (
      SELECT o.qid, CAST(count(d.nid) AS BIGINT) AS overlap3
      FROM top_o o LEFT JOIN top_d d
        ON d.qid = o.qid AND d.nid = o.nid
      GROUP BY o.qid
    ),
    err AS (
      SELECT vec_id AS qid, CAST(sum(abs(x - d)) AS BIGINT) AS q_l1_err
      FROM deq WHERE vec_id < {_N_QUERIES} GROUP BY vec_id
    )
    SELECT ov.qid AS query_id, ov.overlap3, err.q_l1_err
    FROM ov JOIN err USING (qid)
    """,
)
def embedding_scalar_quantize_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR QUANTIZATION (SQ8) EVAL — the 4x-compression tier every
    vector store offers below PQ: per DIMENSION, min/max over the
    corpus define a uint8 grid, each coordinate stores as q = (x-mn) *
    255 / (mx-mn), and search runs on the dequantized codes. Like
    every approximate tier here (LSH, IVF, PQ, SemDeDup, truncation),
    it ships with a GRADED eval, not a hope: per panel query, the
    top-{_TOPK} by exact integer dot on the original vectors vs on
    the dequantized ones (overlap = recall grade), plus the query
    vector's own L1 reconstruction error. Everything is exact
    integers — coordinates in milli units, floor-div quantize and
    dequantize, integer dots — so both engines agree to the bit.

    Scale shape: dim stats are ONE map-side-combined groupBy(j)
    shrinking to a {_KM_DIM}-row broadcast; quantize/dequantize are
    map-only array expressions; the eval is the standard fixed-panel
    broadcast x corpus scan (constant cost at any corpus scale). At
    100 TB the q codes are what you'd actually persist — 16x smaller
    shuffles for every downstream consumer that tolerates the graded
    recall."""
    xm = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(
            f"transform(cast(embedding as array<double>), "
            f"x -> cast(round(x * {_KM_Q}) as bigint))"
        ).alias("xm"),
    )
    st = (
        xm.select(F.posexplode("xm").alias("j0", "x"))
        .groupBy("j0")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    st_row = st.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(j0, mn))), s -> s.mn)"
        ).alias("mns"),
        F.expr(
            "transform(array_sort(collect_list(struct(j0, mx))), s -> s.mx)"
        ).alias("mxs"),
    )
    # one materialized quantize/dequantize pass (r14 optimization): the
    # panel and the corpus side of the eval crossJoin both consume deq,
    # which re-scanned embeddings and re-ran the two 64-dim array
    # transforms per consumer (10 scans in the final plan)
    deq = (
        xm.join(F.broadcast(st_row))
        .select(
            "vec_id",
            "xm",
            F.expr(
                f"transform(sequence(1, {_KM_DIM}), j -> element_at(mns, j)"
                f" + ((element_at(xm, j) - element_at(mns, j)) * 255"
                f" div greatest(1L, element_at(mxs, j) - element_at(mns, j)))"
                f" * (element_at(mxs, j) - element_at(mns, j)) div 255)"
            ).alias("dq"),
        )
        .localCheckpoint(eager=True)
    )
    panel = deq.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("xm").alias("qx"),
        F.col("dq").alias("qd"),
    )
    cand = F.broadcast(panel).crossJoin(
        deq.select("vec_id", "xm", "dq")
    ).filter(F.col("vec_id") != F.col("qid"))
    dot = lambda a, b: F.expr(  # noqa: E731
        f"aggregate(zip_with({a}, {b}, (p, q) -> p * q), 0L,"
        " (acc, z) -> acc + z)"
    )
    scored = cand.select(
        "qid",
        F.col("vec_id").alias("nid"),
        dot("qx", "xm").alias("so"),
        dot("qd", "dq").alias("sd"),
    )
    wo = W.partitionBy("qid").orderBy(F.col("so").desc(), F.col("nid"))
    wd = W.partitionBy("qid").orderBy(F.col("sd").desc(), F.col("nid"))
    ranked = scored.select(
        "qid",
        "nid",
        F.row_number().over(wo).alias("rko"),
        F.row_number().over(wd).alias("rkd"),
    )
    top_o = ranked.filter(F.col("rko") <= _TOPK).select("qid", "nid")
    top_d = ranked.filter(F.col("rkd") <= _TOPK).select(
        F.col("qid").alias("qid2"), F.col("nid").alias("nid2")
    )
    ov = (
        top_o.join(
            top_d,
            (F.col("qid") == F.col("qid2")) & (F.col("nid") == F.col("nid2")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("nid2").cast("bigint").alias("overlap3"))
    )
    err = panel.select(
        "qid",
        F.expr(
            "aggregate(zip_with(qx, qd, (a, b) -> abs(a - b)), 0L,"
            " (acc, z) -> acc + z)"
        )
        .cast("bigint")
        .alias("q_l1_err"),
    )
    return ov.join(err, "qid").select(
        F.col("qid").alias("query_id"), "overlap3", "q_l1_err"
    )


# --------------------------------------------------------------------------
# Greedy best-first search on a cell-blocked kNN graph (the NSW/HNSW
# search primitive, layer-0 form)
# --------------------------------------------------------------------------

_GG_KNN = 4  # out-degree of the kNN graph
_GG_HOPS = 4  # greedy descent steps


def _gg_dist_sql(aq: str, bq: str) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {_KM_DIM}),"
        f" j -> ({aq}[j] - {bq}[j]) * ({aq}[j] - {bq}[j])))"
    )


def _gg_hop_sql(prev: str, out: str, tbl: str = "knn") -> str:
    """One greedy hop: candidates = current node + its kNN out-edges
    (in graph ``tbl``); move to the candidate nearest the query
    (ties: lowest vec_id). Monotone: the current node competes, so
    distance never rises."""
    return f"""
    {out} AS (
      SELECT qid, cand AS cur FROM (
        SELECT g.qid, c.cand,
               row_number() OVER (PARTITION BY g.qid ORDER BY
                 {_gg_dist_sql("q.q", "x.q")}, c.cand) AS rn
        FROM {prev} g
        JOIN (SELECT src, dst AS cand FROM {tbl}
              UNION ALL SELECT DISTINCT src, src FROM {tbl}) c
          ON c.src = g.cur
        JOIN xq q ON q.vec_id = g.qid
        JOIN xq x ON x.vec_id = c.cand
        WHERE c.cand <> g.qid)
      WHERE rn = 1
    )"""


def _gg_knn_pairs(ids, q):
    """Exact per-cell kNN pairs over sorted ids and their (row-aligned)
    quantized vectors: exact integer distances via one float64 matmul
    (all magnitudes < 2^53, so the float math IS exact), ties to the
    lowest id. Returns (src_list, dst_list)."""
    import numpy as np

    k = min(_GG_KNN, len(ids) - 1)
    if k <= 0:
        return [], []
    nq = (q * q).sum(1)
    d = nq[:, None] + nq[None, :] - 2.0 * (q @ q.T)
    np.fill_diagonal(d, np.inf)
    src, dst = [], []
    for i in range(len(ids)):
        # lexsort: primary key d[i], tie-break lowest id (ids are
        # sorted, so index order IS id order under stable keys)
        nn = np.lexsort((ids, d[i]))[:k]
        src.extend([ids[i]] * k)
        dst.extend(ids[nn])
    return src, dst


def _gg_knn_edges(asg: DataFrame) -> DataFrame:
    """Cell-blocked kNN graph construction over an assignment frame
    (vec_id, q, cid): per-cell exact integer pairwise distances via
    one float64 matmul — the SQL zip_with fold is an interpreted
    HigherOrderFunction, ~20x slower over cell^2 pairs."""

    def knn_kernel(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        perm = np.argsort(ids)
        ids = ids[perm]
        q = np.stack(pdf["q"].to_numpy())[perm].astype(np.float64)
        src, dst = _gg_knn_pairs(ids, q)
        return pd.DataFrame({"src": src, "dst": dst})

    return asg.select("vec_id", "q", "cid").groupBy("cid").applyInPandas(
        knn_kernel, "src long, dst long"
    )


def _gg_knn_edges_two_layer(asg: DataFrame, l1_mod: int) -> DataFrame:
    """Both HNSW layers' cell-blocked kNN graphs out of ONE per-cell
    kernel pass (r14 optimization): layer 0 over every cell member,
    layer 1 over the deterministic 1-in-l1_mod subsample — the same
    math `_gg_knn_edges` runs on the filtered frame, but without a
    second applyInPandas stage, vector join and checkpoint. Returns
    (src, dst, layer)."""

    def knn_kernel(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        perm = np.argsort(ids)
        ids = ids[perm]
        q = np.stack(pdf["q"].to_numpy())[perm].astype(np.float64)
        s0, d0 = _gg_knn_pairs(ids, q)
        sub = ids % l1_mod == 0
        s1, d1 = _gg_knn_pairs(ids[sub], q[sub])
        return pd.DataFrame(
            {
                "src": list(s0) + list(s1),
                "dst": list(d0) + list(d1),
                "layer": [0] * len(s0) + [1] * len(s1),
            }
        )

    return asg.select("vec_id", "q", "cid").groupBy("cid").applyInPandas(
        knn_kernel, "src long, dst long, layer int"
    )


def _gg_knn_edges_fused(
    asg: DataFrame, panel_rows: list, l1_mod: int | None = None
) -> DataFrame:
    """Cell-blocked kNN adjacency AND the eval panel's exact-NN
    referee candidates out of ONE applyInPandas pass (r15
    optimization, guide §1.2/§4.2 — the r14 two-layer fusion carried
    further): the per-cell kernel that builds the graph already holds
    every cell member's vector, and the corpus is exactly the disjoint
    union of cells, so the panel's per-cell best candidate falls out
    of one extra (panel x cell) matmul — the separate full-corpus
    `_gg_exact_nn` mapInPandas pass disappears. Output rows are
    layer-tagged: 0 (and 1 when ``l1_mod`` is set) are adjacency
    (src, dst); 2 are exact candidates (src=query id, dst=candidate,
    d=exact integer distance); the global exact NN is the associative
    min(struct(d, dst)) over the per-cell candidates — identical
    reduction to the per-batch form it replaces. Callers MUST
    checkpoint the returned frame before fanning it out: its consumers
    (edge list, self-edge distinct, exact agg) would otherwise each
    re-run the kernel."""

    def kernel(pdf):
        import numpy as np
        import pandas as pd

        ids = pdf["vec_id"].to_numpy()
        perm = np.argsort(ids)
        ids = ids[perm]
        q = np.stack(pdf["q"].to_numpy())[perm].astype(np.float64)
        s0, d0 = _gg_knn_pairs(ids, q)
        src, dst = list(s0), list(d0)
        layer = [0] * len(src)
        dist = [0] * len(src)
        if l1_mod is not None:
            sub = ids % l1_mod == 0
            s1, d1 = _gg_knn_pairs(ids[sub], q[sub])
            src += list(s1)
            dst += list(d1)
            layer += [1] * len(s1)
            dist += [0] * len(s1)
        # exact-NN candidates: panel vs THIS cell's members (exact
        # int64 distances via float64 matmul, < 2^53; self excluded)
        pv = np.stack(
            [np.asarray(r["q"], dtype=np.float64) for r in panel_rows]
        )
        pids = np.asarray(
            [r["vec_id"] for r in panel_rows], dtype=np.int64
        )
        d = (
            (pv * pv).sum(1)[:, None]
            + (q * q).sum(1)[None, :]
            - 2.0 * (pv @ q.T)
        )
        d[pids[:, None] == ids[None, :]] = np.inf
        for i in range(len(pids)):
            j = np.lexsort((ids, d[i]))[0]
            if np.isfinite(d[i, j]):
                src.append(int(pids[i]))
                dst.append(int(ids[j]))
                layer.append(2)
                dist.append(int(d[i, j]))
        return pd.DataFrame(
            {"src": src, "dst": dst, "layer": layer, "d": dist}
        )

    return asg.select("vec_id", "q", "cid").groupBy("cid").applyInPandas(
        kernel, "src long, dst long, layer int, d long"
    )


def _gg_exact_from_fused(fused: DataFrame) -> DataFrame:
    """(qid, exact_id, exact_dist_q) from the fused kernel's layer-2
    candidate rows — min(struct(d, dst)) is the same associative
    (distance, id) reduction `_gg_exact_nn` applied to its per-batch
    winners."""
    return (
        fused.filter(F.col("layer") == 2)
        .select(F.col("src").alias("qid"), "dst", "d")
        .groupBy("qid")
        .agg(F.min(F.struct("d", "dst")).alias("m"))
        .select(
            "qid",
            F.col("m.dst").alias("exact_id"),
            F.col("m.d").cast("bigint").alias("exact_dist_q"),
        )
    )


def _gg_with_self_edges(knn: DataFrame) -> DataFrame:
    # no checkpoint here: every consumer feeds this straight into
    # _gg_edges_with_vectors, which checkpoints the joined result —
    # materializing the bare edge list too would pin it twice
    return knn.unionByName(
        knn.select("src").distinct().select("src", F.col("src").alias("dst"))
    )


def _gg_edges_with_vectors(edges: DataFrame, corpus: DataFrame) -> DataFrame:
    """DiskANN-style adjacency layout: each out-edge carries its
    NEIGHBOR'S vector inline (src, dst, cq2), so a greedy hop is ONE
    join + one aggregation instead of edges-then-vectors — exactly how
    a disk-resident graph index stores adjacency so a hop costs one
    sequential read. Checkpointed: every hop reuses it."""
    return (
        edges.join(corpus, edges["dst"] == corpus["cand_id"])
        .select("src", "dst", "cq2")
        .localCheckpoint(eager=True)
    )


def _gg_qdist() -> F.Column:
    # built per call, never at import (Columns need a live session)
    return F.expr(
        "aggregate(zip_with(qq, cq2, (p, r) -> (p - r) * (p - r)), 0L,"
        " (acc, z) -> acc + z)"
    )


def _gg_descend(
    frontier: DataFrame, edges_v: DataFrame, hops: int
) -> DataFrame:
    """Greedy best-first descent: ``hops`` rounds of frontier (qid, qq,
    cur) against the vector-carrying adjacency
    (_gg_edges_with_vectors) — each hop is ONE panel-sized broadcast
    join against src-keyed adjacency plus one bounded aggregation."""
    for _ in range(hops):
        cand = (
            frontier.join(edges_v, frontier["cur"] == edges_v["src"])
            .filter(F.col("dst") != F.col("qid"))
            .select("qid", "qq", "dst", _gg_qdist().alias("d"))
        )
        frontier = (
            cand.groupBy("qid")
            .agg(
                F.first("qq").alias("qq"),
                F.min(F.struct("d", "dst")).alias("m"),
            )
            .select("qid", "qq", F.col("m.dst").alias("cur"))
        )
    return frontier


def _gg_exact_nn(xq: DataFrame) -> DataFrame:
    """Exact nearest-neighbor referee for the panel: the 10-vector
    panel collects (bounded artifact) and scans the corpus once in a
    vectorized Arrow kernel — exact int64 distances via float64 matmul
    (< 2^53), per-batch argmins reduced by an exact (d, nid)
    struct-min."""
    panel_rows = (
        xq.filter(F.col("vec_id") < _N_QUERIES).orderBy("vec_id").collect()
    )

    def exact_kernel(batches):
        import numpy as np
        import pandas as pd

        pv = np.stack([np.array(r["q"]) for r in panel_rows]).astype(
            np.float64
        )
        pids = np.array([r["vec_id"] for r in panel_rows])
        pn = (pv * pv).sum(1)
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy()
            q = np.stack(pdf["q"].to_numpy()).astype(np.float64)
            d = pn[:, None] + (q * q).sum(1)[None, :] - 2.0 * (pv @ q.T)
            d[pids[:, None] == ids[None, :]] = np.inf  # exclude self
            rows = []
            for i in range(len(pids)):
                j = np.lexsort((ids, d[i]))[0]
                rows.append((int(pids[i]), int(ids[j]), int(d[i, j])))
            yield pd.DataFrame(rows, columns=["qid", "nid", "d"])

    return (
        xq.select("vec_id", "q")
        .mapInPandas(exact_kernel, "qid long, nid long, d long")
        .groupBy("qid")
        .agg(F.min(F.struct("d", "nid")).alias("m"))
        .select(
            "qid",
            F.col("m.nid").alias("exact_id"),
            F.col("m.d").cast("bigint").alias("exact_dist_q"),
        )
    )


@register(
    "sim_search_greedy_graph",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cid, q AS cq FROM xq ORDER BY vec_id LIMIT {_KM_K}
    ),
    asg AS (
      SELECT vec_id, q, cid FROM (
        SELECT x.vec_id, x.q, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 list_sum(list_transform(generate_series(1, {_KM_DIM}),
                   j -> (x.q[j] - c.cq[j]) * (x.q[j] - c.cq[j]))), c.cid)
                 AS rn
        FROM xq x, cents c) WHERE rn = 1
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_gg_dist_sql("a.q", "b.q")}, b.vec_id) AS rn
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id)
      WHERE rn <= {_GG_KNN}
    ),
    g0 AS (
      SELECT vec_id AS qid,
             (SELECT min(vec_id) FROM xq) AS cur
      FROM xq WHERE vec_id < {_N_QUERIES}
    ),
    {",".join(_gg_hop_sql(f"g{t}", f"g{t + 1}") for t in range(_GG_HOPS))},
    found AS (
      SELECT g.qid, g.cur AS found_id,
             CAST({_gg_dist_sql("q.q", "x.q")} AS BIGINT) AS found_dist_q
      FROM g{_GG_HOPS} g
      JOIN xq q ON q.vec_id = g.qid
      JOIN xq x ON x.vec_id = g.cur
    ),
    exact AS (
      SELECT qid, nid AS exact_id, d AS exact_dist_q FROM (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST({_gg_dist_sql("a.q", "b.q")} AS BIGINT) AS d,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_gg_dist_sql("a.q", "b.q")}, b.vec_id) AS rn
        FROM xq a JOIN xq b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {_N_QUERIES})
      WHERE rn = 1
    )
    SELECT f.qid AS query_id, f.found_id, f.found_dist_q,
           e.exact_id, e.exact_dist_q,
           CAST(CASE WHEN f.found_id = e.exact_id THEN 1 ELSE 0 END
             AS INTEGER) AS hit_top1,
           CAST(e.exact_dist_q * 1000 // greatest(1, f.found_dist_q)
             AS BIGINT) AS quality_milli
    FROM found f JOIN exact e USING (qid)
    """,
)
def sim_search_greedy_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GREEDY BEST-FIRST SEARCH ON A kNN GRAPH — the search primitive
    of NSW/HNSW (Malkov & Yashunin, TPAMI 2020) in its layer-0 form,
    completing the ANN paradigm set: partition-based (IVF), hash-based
    (LSH), compression-based (PQ/SQ), and now GRAPH-based. The index
    is a {_GG_KNN}-out-degree kNN graph built CELL-BLOCKED (neighbors
    ranked within each coarse cell of the frozen lowest-id codebook —
    the DiskANN-style sharded construction; never all-pairs), and the
    query descends greedily from a fixed entry point: each hop
    considers the current node and its out-edges and moves to
    whichever is nearest the query, in exact integer distance with
    lowest-id ties — so descent is monotone and both engines replay
    the identical {_GG_HOPS}-hop trajectory. The eval is graded, not
    hoped: per panel query, hit_top1 against the exact nearest
    neighbor and the distance-quality ratio.

    Scale shape: graph construction is a per-cell self-join bounded by
    cell population (one shuffle on cid); the graph itself is O(n x
    {_GG_KNN}) rows partitioned by src; each greedy hop joins the
    query frontier (panel-sized) to out-edges — at 100 TB every hop
    is a broadcast of the frontier against the src-partitioned edge
    table, the same access pattern a DiskANN serving tier does over
    SSD-resident adjacency lists."""
    xq = _km_xq(spark, sf_dir)
    cents = xq.orderBy("vec_id").limit(_KM_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    asg = _km_assign(xq, _km_cent_row(cents))
    corpus = xq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq2"))
    # ONE kernel pass builds the adjacency AND the exact-NN referee
    # (r15, guide §1.2/§4.2): the r14 shape ran the per-cell kernel
    # TWICE inside the edge checkpoint (the self-edge distinct's
    # subtree re-executed it over the reused exchange) and then paid a
    # separate full-corpus mapInPandas pass for `_gg_exact_nn`; the
    # fused kernel runs once, checkpointed before any fan-out.
    panel_rows = (
        xq.filter(F.col("vec_id") < _N_QUERIES).orderBy("vec_id").collect()
    )
    fused = _gg_knn_edges_fused(asg, panel_rows).localCheckpoint(eager=True)
    knn = fused.filter(F.col("layer") == 0).select("src", "dst")
    edges = _gg_edges_with_vectors(_gg_with_self_edges(knn), corpus)
    entry = xq.agg(F.min("vec_id").alias("e"))
    frontier = (
        xq.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"))
        .join(F.broadcast(entry))
        .select("qid", "qq", F.col("e").alias("cur"))
    )
    frontier = _gg_descend(frontier, edges, _GG_HOPS)
    found = (
        frontier.join(corpus, F.col("cur") == F.col("cand_id"))
        .select(
            "qid",
            "qq",
            F.col("cur").alias("found_id"),
            _gg_qdist().cast("bigint").alias("found_dist_q"),
        )
    )
    exact = _gg_exact_from_fused(fused)
    return found.drop("qq").join(exact, "qid").select(
        F.col("qid").alias("query_id"),
        "found_id",
        "found_dist_q",
        "exact_id",
        "exact_dist_q",
        F.when(F.col("found_id") == F.col("exact_id"), 1)
        .otherwise(0)
        .cast("int")
        .alias("hit_top1"),
        F.expr("exact_dist_q * 1000 div greatest(1L, found_dist_q)")
        .cast("bigint")
        .alias("quality_milli"),
    )


# --------------------------------------------------------------------------
# Hard-negative mining: semantically close, lexically distinct
# --------------------------------------------------------------------------

_HN_JAC_MAX = 200  # lexical ceiling (milli-Jaccard) for a negative
_HN_K = 3  # hard negatives per anchor


@register(
    "sample_hard_negatives_ann",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    nq AS (
      SELECT vec_id, q, list_inner_product(q, q) AS n FROM xq
    ),
    toks AS (
      SELECT doc_id,
             list_distinct(list_filter(
               string_split_regex(lower(text), '[ \\t\\n\\f\\r]+'),
               t -> t <> '')) AS ts
      FROM documents
    ),
    pairs AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
             floor(list_inner_product(a.q, b.q)
                   / (sqrt(a.n) * sqrt(b.n)) * 10000) / 10000 AS cos_sim,
             len(list_intersect(ta.ts, tb.ts)) * 1000
               // (len(ta.ts) + len(tb.ts)
                   - len(list_intersect(ta.ts, tb.ts))) AS jac_milli
      FROM nq a
      JOIN nq b ON b.vec_id <> a.vec_id
      JOIN toks ta ON ta.doc_id = a.vec_id
      JOIN toks tb ON tb.doc_id = b.vec_id
      WHERE a.vec_id < {_N_QUERIES}
    ),
    ranked AS (
      SELECT anchor_id, cand_id, cos_sim, CAST(jac_milli AS BIGINT)
               AS jac_milli,
             CAST(row_number() OVER (PARTITION BY anchor_id
               ORDER BY cos_sim DESC, cand_id) AS INTEGER) AS rk
      FROM pairs WHERE jac_milli < {_HN_JAC_MAX}
    )
    SELECT anchor_id, cand_id AS negative_id, cos_sim, jac_milli, rk
    FROM ranked WHERE rk <= {_HN_K}
    """,
)
def sample_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive embedding training
    (the ANCE/DPR recipe): for each anchor document, the most
    semantically similar documents (embedding cosine) that are NOT
    lexical relatives (token-set Jaccard below {_HN_JAC_MAX} milli) —
    exactly the negatives that teach a retriever the difference
    between topical similarity and duplication, where random
    negatives teach nothing and near-dup "negatives" poison training
    as false negatives. The lexical ceiling reuses the dedup family's
    exact Jaccard; similarity is the exact integer-dot cosine floored
    to 4dp; ranking is (cosine desc, id) — all replayed hash-exactly
    in DuckDB. Output: {_HN_K} mined negatives per anchor with both
    scores, ready to join back as training triples.

    Scale shape: the fixed anchor panel broadcasts against the corpus
    (one map-side pass — the eval-panel discipline); token sets ride
    the same array pass. At 100 TB the panel becomes the IVF/LSH
    shortlist (sim_search_ivf supplies candidates; this stage only
    re-scores and filters), so the all-corpus scan is the baseline
    form, not the production plan."""
    xq = _km_xq(spark, sf_dir)
    nq = xq.select(
        "vec_id",
        "q",
        F.expr(
            "aggregate(zip_with(q, q, (a, b) -> a * b), 0L,"
            " (acc, z) -> acc + z)"
        ).alias("n"),
    )
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"array_distinct(filter(split(lower(text), '[ \\t\\n\\f\\r]+'),"
            r" t -> t != ''))"
        ).alias("ts"),
    )
    anchors = (
        nq.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("anchor_id"),
            F.col("q").alias("aq"),
            F.col("n").alias("an"),
        )
        .join(toks, F.col("anchor_id") == F.col("doc_id"))
        .select("anchor_id", "aq", "an", F.col("ts").alias("ats"))
    )
    cands = nq.join(toks, nq["vec_id"] == toks["doc_id"]).select(
        F.col("vec_id").alias("cand_id"),
        F.col("q").alias("cq"),
        F.col("n").alias("cn"),
        F.col("ts").alias("cts"),
    )
    inter = F.size(F.array_intersect("ats", "cts"))
    pairs = (
        F.broadcast(anchors)
        .crossJoin(cands)
        .filter(F.col("cand_id") != F.col("anchor_id"))
        .select(
            "anchor_id",
            "cand_id",
            (
                F.floor(
                    F.expr(
                        "aggregate(zip_with(aq, cq, (x, y) -> x * y), 0L,"
                        " (acc, z) -> acc + z)"
                    ).cast("double")
                    / (
                        F.sqrt(F.col("an").cast("double"))
                        * F.sqrt(F.col("cn").cast("double"))
                    )
                    * 10000
                )
                / 10000
            ).alias("cos_sim"),
            (
                inter.cast("long") * 1000
            ).alias("jac_num"),
            (F.size("ats") + F.size("cts") - inter)
            .cast("long")
            .alias("jac_den"),
        )
    )
    pairs = pairs.withColumn(
        "jac_milli", F.expr("jac_num div jac_den")
    ).drop("jac_num", "jac_den")
    w = W.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id")
    )
    return (
        pairs.filter(F.col("jac_milli") < _HN_JAC_MAX)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _HN_K)
        .select(
            "anchor_id",
            F.col("cand_id").alias("negative_id"),
            "cos_sim",
            F.col("jac_milli").cast("bigint").alias("jac_milli"),
            "rk",
        )
    )


_HNSW_L1_MOD = 4  # layer-1 membership: vec_id % 4 == 0 (25% subsample)


@register(
    "sim_search_hnsw_two_layer",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cid, q AS cq FROM xq ORDER BY vec_id LIMIT {_KM_K}
    ),
    asg AS (
      SELECT vec_id, q, cid FROM (
        SELECT x.vec_id, x.q, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 {_gg_dist_sql("x.q", "c.cq")}, c.cid) AS rn
        FROM xq x, cents c) WHERE rn = 1
    ),
    knn AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_gg_dist_sql("a.q", "b.q")}, b.vec_id) AS rn
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id)
      WHERE rn <= {_GG_KNN}
    ),
    knn1 AS (
      SELECT src, dst FROM (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_gg_dist_sql("a.q", "b.q")}, b.vec_id) AS rn
        FROM asg a JOIN asg b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id
        WHERE a.vec_id % {_HNSW_L1_MOD} = 0
          AND b.vec_id % {_HNSW_L1_MOD} = 0)
      WHERE rn <= {_GG_KNN}
    ),
    g0 AS (
      SELECT vec_id AS qid,
             (SELECT min(vec_id) FROM xq
              WHERE vec_id % {_HNSW_L1_MOD} = 0) AS cur
      FROM xq WHERE vec_id < {_N_QUERIES}
    ),
    {",".join(_gg_hop_sql(f"g{t}", f"g{t + 1}", "knn1") for t in range(_GG_HOPS))},
    l1 AS (SELECT qid, cur AS l1_exit FROM g{_GG_HOPS}),
    {",".join(_gg_hop_sql(f"g{_GG_HOPS + t}", f"g{_GG_HOPS + t + 1}") for t in range(_GG_HOPS))},
    found AS (
      SELECT g.qid, g.cur AS found_id,
             CAST({_gg_dist_sql("q.q", "x.q")} AS BIGINT) AS found_dist_q
      FROM g{2 * _GG_HOPS} g
      JOIN xq q ON q.vec_id = g.qid
      JOIN xq x ON x.vec_id = g.cur
    ),
    exact AS (
      SELECT qid, nid AS exact_id, d AS exact_dist_q FROM (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST({_gg_dist_sql("a.q", "b.q")} AS BIGINT) AS d,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 {_gg_dist_sql("a.q", "b.q")}, b.vec_id) AS rn
        FROM xq a JOIN xq b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {_N_QUERIES})
      WHERE rn = 1
    )
    SELECT f.qid AS query_id, l1.l1_exit, f.found_id, f.found_dist_q,
           e.exact_id, e.exact_dist_q,
           CAST(CASE WHEN f.found_id = e.exact_id THEN 1 ELSE 0 END
             AS INTEGER) AS hit_top1,
           CAST(e.exact_dist_q * 1000 // greatest(1, f.found_dist_q)
             AS BIGINT) AS quality_milli
    FROM found f JOIN exact e USING (qid) JOIN l1 USING (qid)
    """,
)
def sim_search_hnsw_two_layer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIERARCHICAL GREEDY SEARCH — the actual HNSW shape (Malkov &
    Yashunin, TPAMI 2020) on top of sim_search_greedy_graph's layer-0
    machinery: a sparse UPPER layer (the deterministic 1-in-
    {_HNSW_L1_MOD} vec_id subsample, standing in for the geometric
    level draw) carries its own cell-blocked kNN graph; a query first
    descends the upper layer from its global entry point (the lowest
    layer-1 id), then switches to layer 0 starting AT the layer-1
    exit — the hierarchy buys a long-range approach phase so the
    layer-0 walk starts near the target instead of crossing the whole
    space, which is what makes greedy graphs navigable at billion
    scale. Both descents replay exact integer distances with
    lowest-id ties, so the full two-phase trajectory (l1_exit exposed
    in the output) is engine-identical; the eval is graded like the
    flat operator: hit_top1 vs the exact nearest neighbor plus the
    distance-quality ratio.

    Scale shape: layer-1 construction is the same per-cell self-join
    over a 1/{_HNSW_L1_MOD} subsample (cell-population-bounded, never
    all-pairs); each hop on either layer is a panel-sized frontier
    broadcast against src-partitioned adjacency. The upper layer is
    1/{_HNSW_L1_MOD} of the corpus — at 100 TB it fits a hotter
    storage tier, exactly how production HNSW serves layer >0 from
    RAM and layer 0 from SSD."""
    xq = _km_xq(spark, sf_dir)
    cents = xq.orderBy("vec_id").limit(_KM_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    asg = _km_assign(xq, _km_cent_row(cents))
    corpus = xq.select(F.col("vec_id").alias("cand_id"), F.col("q").alias("cq2"))
    # both layers' adjacency AND the exact-NN referee out of ONE
    # kernel pass (r14 fused the two layers; r15 folds the exact-NN
    # candidates in too and checkpoints the kernel OUTPUT — the r14
    # shape re-ran the kernel for the self-edge distinct subtree and
    # paid a separate full-corpus mapInPandas pass for _gg_exact_nn)
    panel_rows = (
        xq.filter(F.col("vec_id") < _N_QUERIES).orderBy("vec_id").collect()
    )
    fused = _gg_knn_edges_fused(
        asg, panel_rows, _HNSW_L1_MOD
    ).localCheckpoint(eager=True)
    knn = fused.filter(F.col("layer") < 2).select("src", "dst", "layer")
    withself = knn.unionByName(
        knn.select("src", "layer")
        .distinct()
        .select("src", F.col("src").alias("dst"), "layer")
    )
    edges_all = (
        withself.join(corpus, withself["dst"] == corpus["cand_id"])
        .select("src", "dst", "layer", "cq2")
        .localCheckpoint(eager=True)
    )
    edges0 = edges_all.filter(F.col("layer") == 0).select("src", "dst", "cq2")
    edges1 = edges_all.filter(F.col("layer") == 1).select("src", "dst", "cq2")
    entry1 = (
        xq.filter(F.col("vec_id") % _HNSW_L1_MOD == 0)
        .agg(F.min("vec_id").alias("e"))
    )
    frontier = (
        xq.filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("q").alias("qq"))
        .join(F.broadcast(entry1))
        .select("qid", "qq", F.col("e").alias("cur"))
    )
    # pin the layer-1 result: both l1 (reported) and the layer-0
    # descent consume it, and without the lineage break the 4 upper
    # hops would execute twice (review finding, round 13)
    frontier = _gg_descend(frontier, edges1, _GG_HOPS).localCheckpoint(
        eager=True
    )
    l1 = frontier.select("qid", F.col("cur").alias("l1_exit"))
    frontier = _gg_descend(frontier, edges0, _GG_HOPS)
    found = frontier.join(corpus, F.col("cur") == F.col("cand_id")).select(
        "qid",
        "qq",
        F.col("cur").alias("found_id"),
        _gg_qdist().cast("bigint").alias("found_dist_q"),
    )
    exact = _gg_exact_from_fused(fused)
    return (
        found.drop("qq")
        .join(exact, "qid")
        .join(l1, "qid")
        .select(
            F.col("qid").alias("query_id"),
            "l1_exit",
            "found_id",
            "found_dist_q",
            "exact_id",
            "exact_dist_q",
            F.when(F.col("found_id") == F.col("exact_id"), 1)
            .otherwise(0)
            .cast("int")
            .alias("hit_top1"),
            F.expr("exact_dist_q * 1000 div greatest(1L, found_dist_q)")
            .cast("bigint")
            .alias("quality_milli"),
        )
    )


_PQR_SHORTLIST = 4 * _TOPK  # ADC shortlist depth ahead of exact rerank


@register(
    "sim_search_ivf_pq_rerank",
    oracle=f"""
    WITH xq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(round(x * {_KM_Q}) AS BIGINT)) AS q
      FROM embeddings
    ),
    cents AS (
      SELECT vec_id AS cid, q AS cq FROM xq ORDER BY vec_id LIMIT {_KM_K}
    ),
    asg AS (
      SELECT vec_id, q, cid FROM (
        SELECT x.vec_id, x.q, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 {_gg_dist_sql("x.q", "c.cq")}, c.cid) AS rn
        FROM xq x, cents c) WHERE rn = 1
    ),
    sub AS (
      SELECT vec_id, s,
             list_slice(q, s * {_PQ_D} + 1, s * {_PQ_D} + {_PQ_D}) AS sv
      FROM xq, (SELECT unnest(range({_PQ_M})) AS s)
    ),
    cb AS (
      SELECT vec_id AS c, s, sv AS cv FROM sub WHERE vec_id < {_PQ_K}
    ),
    codes AS (
      SELECT a.vec_id, a.cid, e.s, e.code FROM asg a JOIN (
        SELECT vec_id, s, c AS code FROM (
          SELECT sub.vec_id, sub.s, cb.c,
                 row_number() OVER (PARTITION BY sub.vec_id, sub.s
                   ORDER BY list_sum(list_transform(
                     generate_series(1, {_PQ_D}),
                     j -> (sub.sv[j] - cb.cv[j])
                          * (sub.sv[j] - cb.cv[j]))), cb.c) AS rn
          FROM sub JOIN cb ON sub.s = cb.s
        ) WHERE rn = 1
      ) e ON e.vec_id = a.vec_id
    ),
    probes AS (
      SELECT vec_id AS query_id, cid FROM (
        SELECT x.vec_id, c.cid,
               row_number() OVER (PARTITION BY x.vec_id ORDER BY
                 {_gg_dist_sql("x.q", "c.cq")}, c.cid) AS rn
        FROM xq x, cents c WHERE x.vec_id < {_N_QUERIES})
      WHERE rn <= {_IVF_NPROBE}
    ),
    lut AS (
      SELECT sub.vec_id AS query_id, sub.s, cb.c AS code,
             CAST(list_sum(list_transform(
               generate_series(1, {_PQ_D}),
               j -> (sub.sv[j] - cb.cv[j]) * (sub.sv[j] - cb.cv[j])))
               AS BIGINT) AS term_d2
      FROM sub JOIN cb ON sub.s = cb.s
      WHERE sub.vec_id < {_N_QUERIES}
    ),
    adc AS (
      SELECT p.query_id, k.vec_id AS neighbor_id,
             CAST(sum(l.term_d2) AS BIGINT) AS adc_d2
      FROM probes p
      JOIN codes k ON k.cid = p.cid
      JOIN lut l ON l.query_id = p.query_id
                AND l.s = k.s AND l.code = k.code
      WHERE k.vec_id <> p.query_id
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT query_id, neighbor_id, adc_d2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
          ORDER BY adc_d2 ASC, neighbor_id ASC) AS srn
        FROM adc) WHERE srn <= {_PQR_SHORTLIST}
    )
    SELECT query_id, neighbor_id, adc_d2, exact_d2, rk FROM (
      SELECT s.query_id, s.neighbor_id, s.adc_d2,
             CAST({_gg_dist_sql("q.q", "x.q")} AS BIGINT) AS exact_d2,
             CAST(row_number() OVER (PARTITION BY s.query_id
               ORDER BY {_gg_dist_sql("q.q", "x.q")} ASC,
                        s.neighbor_id ASC) AS INTEGER) AS rk
      FROM shortlist s
      JOIN xq q ON q.vec_id = s.query_id
      JOIN xq x ON x.vec_id = s.neighbor_id
    ) WHERE rk <= {_TOPK}
    """,
)
def sim_search_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF -> PQ-ADC -> EXACT RERANK — the production two-stage
    serving cascade (Jégou et al. TPAMI 2011 §V, the IVFADC system;
    every large-scale vector store serves this shape): the query
    probes its {_IVF_NPROBE} nearest coarse cells, candidates inside
    those cells are scored by asymmetric distance over their stored
    PQ codes (integer table lookups — no full vector is touched),
    the best {_PQR_SHORTLIST} per query survive as a shortlist, and
    ONLY the shortlist's full vectors are fetched for the exact
    integer rerank that produces the final top-{_TOPK}. Composes the
    catalog's index artifacts end-to-end: the coarse router of
    sim_search_ivf, the sub-vector codebook of sim_search_pq (both
    frozen lowest-id seeds), and the exact integer distances of the
    greedy-graph family — every stage deterministic with lowest-id
    ties, so the full cascade (ADC scores, shortlist membership,
    reranked order) is hash-identical to the DuckDB replay.

    Scale shape — why this is THE 100 TB serving plan: the PQ code
    table ({_PQ_M} bytes/vector, built once map-side like
    stream_pq_incremental maintains it) is partitioned by cell, so a
    probe reads ~nprobe/{_KM_K} of a table that is already ~32x
    smaller than the corpus; ADC is a broadcast-LUT hash join + one
    partial aggregation shuffling only (query, candidate, long)
    rows; the exact-vector fetch — the only touch of raw embeddings
    after indexing — is bounded by queries x {_PQR_SHORTLIST} rows
    (a point-read by key at scale; one pruned columnar scan here).
    Nothing downstream of the code scan is corpus-proportional.
    Reference scope: no ANN surface in the reference (SURVEY.md
    §2.2) — mandated training-data-pipeline extension."""
    import numpy as np
    import pandas as pd

    xq = _km_xq(spark, sf_dir)
    cents = xq.orderBy("vec_id").limit(_KM_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("cq")
    )
    cent_row = _km_cent_row(cents)
    asg = _km_assign(xq, cent_row)

    # frozen artifacts: 16 codebook rows + 10 query rows (~10 KB)
    head = sorted(
        xq.filter(F.col("vec_id") < max(_PQ_K, _N_QUERIES)).collect(),
        key=lambda r: r.vec_id,
    )
    cb = [
        np.array(
            [r.q[s * _PQ_D : (s + 1) * _PQ_D] for r in head if r.vec_id < _PQ_K],
            dtype=np.float64,
        )
        for s in range(_PQ_M)
    ]

    def encode(batches):
        # per subspace: exact int64 distances via float64 matmul
        # (all magnitudes < 2^53), argmin ties to the lowest code
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.stack(pdf["q"].to_numpy()).astype(np.float64)
            out = []
            for s in range(_PQ_M):
                sv = q[:, s * _PQ_D : (s + 1) * _PQ_D]
                d = (
                    (sv * sv).sum(1)[:, None]
                    + (cb[s] * cb[s]).sum(1)[None, :]
                    - 2.0 * (sv @ cb[s].T)
                )
                out.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].to_numpy(),
                            "cid": pdf["cid"].to_numpy(),
                            "s": np.int32(s),
                            "code": d.argmin(1).astype(np.int32),
                        }
                    )
                )
            yield pd.concat(out)

    codes = asg.select("vec_id", "cid", "q").mapInPandas(
        encode, "vec_id long, cid long, s int, code int"
    )

    queries = xq.filter(F.col("vec_id") < _N_QUERIES)
    probes = _km_assign_topn(queries, cent_row, _IVF_NPROBE).select(
        F.col("vec_id").alias("query_id"), "cid"
    )
    lut_rows = []
    for r in head:
        if r.vec_id >= _N_QUERIES:
            continue
        for s in range(_PQ_M):
            qsv = np.array(r.q[s * _PQ_D : (s + 1) * _PQ_D], dtype=np.float64)
            d = ((qsv[None, :] - cb[s]) ** 2).sum(1)
            for c in range(_PQ_K):
                lut_rows.append((r.vec_id, s, c, int(round(d[c]))))
    lut = spark.createDataFrame(
        lut_rows, "query_id long, s int, code int, term_d2 long"
    )

    adc = (
        codes.join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "s", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("term_d2").cast("bigint").alias("adc_d2"))
    )
    ws = W.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        adc.withColumn("srn", F.row_number().over(ws))
        .filter(F.col("srn") <= _PQR_SHORTLIST)
        .drop("srn")
    )
    rerank = (
        F.broadcast(shortlist)
        .join(
            xq.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nv")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                queries.select(
                    F.col("vec_id").alias("query_id"), F.col("q").alias("qv")
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            "adc_d2",
            F.expr(
                "aggregate(zip_with(qv, nv, (a, b) -> (a - b) * (a - b)), "
                "0L, (acc, z) -> acc + z)"
            )
            .cast("bigint")
            .alias("exact_d2"),
        )
    )
    wr = W.partitionBy("query_id").orderBy(
        F.col("exact_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        rerank.withColumn("rk", F.row_number().over(wr).cast("int"))
        .filter(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", "adc_d2", "exact_d2", "rk")
    )
