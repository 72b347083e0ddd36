"""Similarity search over embedding columns (array<float>).

- **brute-force cosine top-k**: the exact baseline. Dot products computed
  natively with ``F.zip_with`` + ``F.aggregate`` (fold over array elements
  — JVM-side, deterministic element order) against a broadcast query set;
  top-k via window rank. At 10^12 rows this is one map-only scan per query
  batch + a partial top-k (TakeOrdered) — no full shuffle.
- **LSH-bucketed ANN**: random-hyperplane signs (SimHash for vectors,
  Charikar) computed natively from a broadcast hyperplane matrix ->
  bucket equi-join -> exact re-rank inside candidate buckets. The scale
  path: candidates per query drop from N to N / 2^bits on average.

The kNN machinery mirrors the spatial ring-expansion operator — same
gather/refine shape, different key space.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T
from ..session import local_df


def _dot_expr(a: str, b: str) -> str:
    return (
        f"AGGREGATE(ZIP_WITH({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return f"SQRT({_dot_expr(a, a)})"


def cosine_topk(emb: DataFrame, queries: DataFrame, k=3,
                vec_col="embedding", id_col="vec_id") -> DataFrame:
    """Exact cosine top-k of each broadcast query vs all embeddings.

    queries: DataFrame (qid, qvec array<float>). Returns
    (qid, vec_id, cos_sim, rank); self-matches (qid == vec_id) excluded.
    """
    j = emb.crossJoin(F.broadcast(queries))
    scored = j.select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"{_dot_expr(vec_col, 'qvec')} / ({_norm_expr(vec_col)} * {_norm_expr('qvec')})"
        ).alias("cos_sim"),
    ).filter(F.col("qid") != F.col("vec_id"))
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplanes(dim: int, bits: int, seed=42) -> np.ndarray:
    """Deterministic random hyperplane matrix (bits x dim)."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((bits, dim))


def with_lsh_bucket(emb: DataFrame, planes: np.ndarray,
                    vec_col="embedding") -> DataFrame:
    """Attach the sign-bucket id: bit b = (v . plane_b) >= 0 — computed
    natively per plane (the plane is a literal array; the fold is
    JVM-side)."""
    bits = planes.shape[0]
    bucket = None
    df = emb
    for b in range(bits):
        arr = ", ".join(f"CAST({x!r} AS DOUBLE)" for x in planes[b])
        dot = _dot_expr(vec_col, f"ARRAY({arr})")
        bit = F.expr(f"CASE WHEN {dot} >= 0 THEN 1 ELSE 0 END")
        bucket = bit if bucket is None else bucket * 2 + bit
    return df.withColumn("lsh_bucket", bucket.cast("long"))


def ann_topk_lsh(emb: DataFrame, queries: DataFrame, planes, k=3,
                 vec_col="embedding", id_col="vec_id") -> DataFrame:
    """Approximate top-k: candidates share the query's bucket in ANY of L
    hash tables (multi-table LSH — the standard recall lever; one table's
    recall on near-orthogonal web embeddings is poor), then exact cosine
    re-rank. Recall < 1 by design; the scale path vs brute force.

    planes: one (bits x dim) matrix or a list of them (L tables).

    Plan shape: both sides EXPLODE to (table, bucket) rows and EQUI-JOIN
    on the composite key — a hash join whose probe work is O(matching
    rows). The naive alternative (join condition = OR of per-table bucket
    equalities) degenerates to a BroadcastNestedLoopJoin evaluating L
    predicates against every (embedding x query) pair — O(N x Q) work
    that cannot survive a 100 TB scan. Candidates matching in several
    tables are deduped BEFORE the re-rank so each pair is scored once.
    """
    tables = planes if isinstance(planes, (list, tuple)) else [planes]
    e = emb
    q = queries
    for t, pl in enumerate(tables):
        e = with_lsh_bucket(e, pl, vec_col).withColumnRenamed(
            "lsh_bucket", f"b{t}"
        )
        q = with_lsh_bucket(q, pl, "qvec").withColumnRenamed(
            "lsh_bucket", f"qb{t}"
        )
    nt = len(tables)
    e_kv = e.select(
        id_col, vec_col,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket"))
            for t in range(nt)
        ])).alias("tb"),
    ).select(id_col, vec_col, "tb.t", "tb.bucket")
    q_kv = q.select(
        "qid", "qvec",
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"qb{t}").alias("bucket"))
            for t in range(nt)
        ])).alias("tb"),
    ).select("qid", "qvec", "tb.t", "tb.bucket")
    cand = (
        e_kv.join(F.broadcast(q_kv), ["t", "bucket"])
        .filter(F.col("qid") != F.col(id_col))
        # a pair matching in several tables scores once
        .dropDuplicates(["qid", id_col])
    )
    scored = cand.select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"{_dot_expr(vec_col, 'qvec')} / ({_norm_expr(vec_col)} * {_norm_expr('qvec')})"
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def kmeans_centroids(sample: np.ndarray, k: int, iters=10, seed=7) -> np.ndarray:
    """Deterministic Lloyd k-means on a driver-side SAMPLE — the coarse
    quantizer trainer of an IVF index (at 100 TB the sample is a tiny
    uniform draw; training is O(sample x k), never cluster-wide)."""
    rng = np.random.default_rng(seed)
    X = np.asarray(sample, dtype=np.float64)
    cent = X[rng.choice(len(X), size=k, replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            m = a == j
            if m.any():
                cent[j] = X[m].mean(axis=0)
    return cent


def with_ivf_cluster(emb: DataFrame, centroids: np.ndarray,
                     vec_col="embedding") -> DataFrame:
    """Assign each vector its nearest coarse centroid id (Arrow-batched
    matmul against the broadcast centroid matrix — map-only)."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))

    @F.pandas_udf(T.LongType())
    def assign(vecs):
        import pandas as pd

        C = bc.value
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d = ((V ** 2).sum(axis=1)[:, None] - 2.0 * (V @ C.T)
             + (C ** 2).sum(axis=1)[None, :])
        return pd.Series(d.argmin(axis=1).astype(np.int64))

    return emb.withColumn("ivf_cluster", assign(vec_col))


def ann_topk_ivf(emb: DataFrame, queries, centroids: np.ndarray, k=3,
                 nprobe=2, vec_col="embedding", id_col="vec_id") -> DataFrame:
    """IVF approximate top-k (the inverted-file scale path named in
    SURVEY's similarity plan): vectors partition by nearest coarse
    centroid; each query probes its ``nprobe`` nearest centroids and
    re-ranks ONLY those clusters' members — candidates drop from N to
    ~N*nprobe/k_clusters. The probe list is an equi-join on the cluster
    id (hash join; the same shape as the LSH bucket join).

    queries: [(qid, np.ndarray)]. Returns (qid, vec_id, cos_sim, rank).
    """
    spark = emb.sparkSession
    C = np.asarray(centroids, dtype=np.float64)
    e = with_ivf_cluster(emb, C, vec_col)
    probe_rows = []
    for qid, qv in queries:
        qv = np.asarray(qv, dtype=np.float64)
        d = ((C - qv[None, :]) ** 2).sum(axis=1)
        for c in np.argsort(d)[:nprobe]:
            probe_rows.append((int(qid), qv.tolist(), int(c)))
    probes = local_df(spark, 
        probe_rows, "qid LONG, qvec ARRAY<DOUBLE>, ivf_cluster LONG"
    )
    cand = e.join(F.broadcast(probes), "ivf_cluster").filter(
        F.col("qid") != F.col(id_col)
    )
    scored = cand.select(
        "qid",
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"{_dot_expr(vec_col, 'qvec')} / ({_norm_expr(vec_col)} * {_norm_expr('qvec')})"
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(emb: DataFrame, planes, threshold=0.95,
                             vec_col="embedding", id_col="vec_id",
                             max_bucket: int | None = 1000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: candidates share a sign-LSH
    bucket in ANY table (same recall lever as ann_topk_lsh), then the
    exact cosine filter keeps pairs >= threshold. The quadratic step is
    confined to same-bucket groups — never all-pairs — and a degenerate
    bucket (e.g. the all-near-identical empty-page vector) is bounded by
    ``max_bucket``: buckets larger than the cap are dropped from pair
    generation (same mitigation and default as
    dedup.lsh_candidate_pairs). Pass ``max_bucket=None`` to disable."""
    tables = planes if isinstance(planes, (list, tuple)) else [planes]
    e = emb
    for t, pl in enumerate(tables):
        e = with_lsh_bucket(e, pl, vec_col).withColumnRenamed("lsh_bucket", f"b{t}")
    nt = len(tables)
    kv = e.select(
        id_col, vec_col,
        F.explode(F.array(*[
            F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("bucket"))
            for t in range(nt)
        ])).alias("tb"),
    ).select(id_col, vec_col, "tb.t", "tb.bucket")
    if max_bucket is not None:
        w = Window.partitionBy("t", "bucket")
        kv = (
            kv.withColumn("_n", F.count("*").over(w))
            .filter(F.col("_n") <= int(max_bucket))
            .drop("_n")
        )
    a = kv.alias("l")
    b = kv.alias("r")
    pairs = (
        a.join(b, (F.col("l.t") == F.col("r.t"))
               & (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"l.{vec_col}").alias("va"),
            F.col(f"r.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    scored = pairs.select(
        "id_a", "id_b",
        F.expr(
            f"{_dot_expr('va', 'vb')} / ({_norm_expr('va')} * {_norm_expr('vb')})"
        ).alias("cos_sim"),
    )
    return scored.filter(F.col("cos_sim") >= threshold)


def quantize_int8(emb: DataFrame, vec_col="embedding",
                  id_col="vec_id") -> DataFrame:
    """Scalar int8 quantization of an embedding column — the standard
    4x memory compression applied before ANN at 100 TB (per-dimension
    min/max scale, mid-rise dequantization):

      code_d = clamp(floor((v_d - min_d) / (max_d - min_d) * 256), 0, 255)
      v'_d   = min_d + (code_d + 0.5) * (max_d - min_d) / 256

    Plan: per-dimension min/max via posexplode + partially-aggregated
    groupBy(pos) (the shuffle carries D rows per partition, never
    vectors), assembled into two D-length arrays and broadcast; codes
    and the reconstruction error are then a map-only transform. The
    error fold is sequential (aggregate), so its value is deterministic
    and cross-engine exact. Constant dimensions (max == min) code to 0.

    Returns (vec_id, code_sum, code_min, code_max, err).
    """
    pos = emb.select(
        F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    stats = pos.groupBy("pos").agg(
        F.min(F.col("v").cast("double")).alias("mn"),
        F.max(F.col("v").cast("double")).alias("mx"),
    )
    row = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
        ).alias("mins"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
        ).alias("maxs"),
    )
    code = (
        "IF(maxs[i] = mins[i], 0L, "
        "LEAST(255L, GREATEST(0L, CAST(FLOOR("
        f"(CAST({vec_col}[i] AS DOUBLE) - mins[i])"
        " / (maxs[i] - mins[i]) * CAST(256.0 AS DOUBLE)) AS BIGINT))))"
    )
    deq = (
        f"(mins[i] + ({code} + CAST(0.5 AS DOUBLE))"
        " * (maxs[i] - mins[i]) / CAST(256.0 AS DOUBLE))"
    )
    n = f"size({vec_col})"
    return emb.crossJoin(F.broadcast(row)).select(
        F.col(id_col),
        F.expr(
            f"aggregate(sequence(0, {n} - 1), 0L, (acc, i) -> acc + {code})"
        ).alias("code_sum"),
        F.expr(
            f"aggregate(sequence(0, {n} - 1), 255L, "
            f"(acc, i) -> least(acc, {code}))"
        ).alias("code_min"),
        F.expr(
            f"aggregate(sequence(0, {n} - 1), 0L, "
            f"(acc, i) -> greatest(acc, {code}))"
        ).alias("code_max"),
        F.expr(
            f"aggregate(sequence(0, {n} - 1), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + ABS(CAST({vec_col}[i] AS DOUBLE) - {deq}))"
        ).alias("err"),
    )

