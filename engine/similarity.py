"""Similarity search over embedding columns (array<float>):
brute-force cosine top-k (exact baseline) and LSH-bucketed ANN (the
scale path).

Exact path is a pure Catalyst expression (zip_with/aggregate -> JVM
codegen) ending in TakeOrderedAndProject; the ANN path prunes the scan to
hyperplane-sign buckets within Hamming distance <= r of the query bucket
(deterministic pseudo-random hyperplanes from xxhash64 — no stored model).
At cluster scale the bucket column is a parquet partition/cluster key, so
pruning happens at the scan.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, functions as F


def dot_expr(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm_expr(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a, b):
    ad = a.cast("array<double>")
    bd = b.cast("array<double>")
    return dot_expr(ad, bd) / (norm_expr(ad) * norm_expr(bd))


def _query_lit(vec) -> "F.Column":
    return F.array(*[F.lit(float(x)) for x in vec])


# TakeOrderedAndProject keeps 2k slots a task (Guava's leastOf): 512 KB
# at k = 2^16 with 4-byte references, 8 GB at k = 10^9. Below that a clip
# does not pay: on a 2,000-row frame of 16-dim vectors (local[4], 4-core
# box, median of 7) the top-k collect took 65-78 ms for every k from
# 2^14 to 2^22, and the count job a clip runs 44 ms more.
TOPK_COUNT_FROM = 1 << 16


def cosine_topk(emb: DataFrame, query_vec, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                exclude_id: int | None = None) -> DataFrame:
    """Exact brute-force cosine top-k: full scan, JVM-side arithmetic,
    per-partition top-k heap via TakeOrderedAndProject. A ``k`` above
    ``TOPK_COUNT_FROM`` is clipped to the frame's row count first (one
    count job): TakeOrderedAndProject sizes each task's selection buffer
    from the limit (2k slots), so ``k = 10**9``, the usual "whole
    ranking" request, would ask for gigabytes of heap per task."""
    if k > TOPK_COUNT_FROM:
        k = min(int(k), emb.count())
    q = [float(x) for x in query_vec]
    qn = math.sqrt(sum(x * x for x in q))
    cos = (dot_expr(F.col(vec_col).cast("array<double>"), _query_lit(q))
           / (norm_expr(F.col(vec_col).cast("array<double>")) * F.lit(qn)))
    out = emb.select(id_col, F.round(cos, 6).alias("cos"))
    if exclude_id is not None:
        out = out.filter(F.col(id_col) != exclude_id)
    return out.orderBy(F.desc("cos"), F.asc(id_col)).limit(k)


# --------------------------------------------------------------------------
# LSH (random-hyperplane signs)
# --------------------------------------------------------------------------

def _planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def adaptive_n_planes(n_rows: int, target_bucket: int = 256,
                      lo: int = 4, hi: int = 30) -> int:
    """Derive the hyperplane count from the data size so the EXPECTED
    bucket population stays ~``target_bucket`` as N grows: 2^planes ≈
    N / target. Fixed planes (r1's 8 -> 256 buckets) make every
    bucket-join degenerate toward all-pairs at 100x — N²/256 comparisons;
    with data-scaled planes the per-bucket pair work stays
    ~target_bucket² regardless of corpus size."""
    return max(lo, min(hi, math.ceil(math.log2(
        max(2.0, n_rows / max(1, target_bucket))))))


def lsh_bucket_expr(vec_col, n_planes: int = 8, dim: int = 64,
                    seed: int = 42):
    """Hyperplane-sign bucket id (int): bit_p = 1 iff <v, h_p> > 0.
    Deterministic planes from seed -> identical buckets across runs and
    engines that share this code."""
    planes = _planes(dim, n_planes, seed)
    v = vec_col.cast("array<double>")
    bits = []
    for p in range(n_planes):
        d = dot_expr(v, F.array(*[F.lit(float(x)) for x in planes[p]]))
        bits.append(F.when(d > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return sum(bits[1:], start=bits[0]).cast("int")


def ann_lsh_topk(emb: DataFrame, query_vec, k: int = 10, n_planes: int = 8,
                 radius: int = 1, id_col: str = "vec_id",
                 vec_col: str = "embedding", seed: int = 42,
                 exclude_id: int | None = None) -> DataFrame:
    """Approximate cosine top-k: scan only vectors whose LSH bucket is
    within Hamming distance <= radius of the query's bucket, then exact
    cosine + top-k on the survivors. Recall/latency dial = (n_planes,
    radius). At 100 TB the bucket is a storage partition key -> the
    pruned buckets never leave disk."""
    q = np.asarray([float(x) for x in query_vec])
    planes = _planes(q.size, n_planes, seed)
    qb = int(sum((1 << p) for p in range(n_planes) if planes[p] @ q > 0))
    bucket = lsh_bucket_expr(F.col(vec_col), n_planes, q.size, seed)
    pruned = emb.withColumn("_bkt", bucket).filter(
        F.bit_count(F.col("_bkt").bitwiseXOR(F.lit(qb))) <= radius)
    return cosine_topk(pruned, q, k, id_col, vec_col, exclude_id)


# --------------------------------------------------------------------------
# Physical ANN layout: bucket/cell as a parquet PARTITION key, so pruning
# happens at the scan (PartitionFilters) — unprobed buckets never leave
# disk. This is the write path the r1 docstrings promised; the plan is
# asserted in tests/test_plans.py with the same evidence standard as the
# postings scan.
# --------------------------------------------------------------------------

def write_embeddings_lsh(emb: DataFrame, path: str, n_planes: int = 8,
                         dim: int = 64, seed: int = 42,
                         vec_col: str = "embedding") -> None:
    """Persist the embedding table partitioned by its LSH sign-bucket.
    One shuffle-free pass (the bucket is a narrow expression); the
    partition count is 2^n_planes — pick n_planes via adaptive_n_planes
    so per-partition file sizes stay sane at scale."""
    (emb.withColumn("bkt", lsh_bucket_expr(F.col(vec_col), n_planes, dim,
                                           seed))
        .repartition(F.col("bkt"))  # cluster rows so each bucket dir gets
        .write.mode("overwrite")    # one file per holding task, not one
        .partitionBy("bkt")         # per (task x bucket) — file hygiene
        .parquet(path))             # at scale and fewer files to list


def _hamming_ball(center: int, n_planes: int, radius: int) -> list[int]:
    """All bucket ids within Hamming distance <= radius of ``center`` —
    enumerated by flipped-bit combinations (O(C(p, r)), never 2^p)."""
    from itertools import combinations
    out = []
    for r in range(radius + 1):
        for bits in combinations(range(n_planes), r):
            b = center
            for p in bits:
                b ^= (1 << p)
            out.append(b)
    return sorted(out)


def ann_lsh_topk_indexed(spark, path: str, query_vec, k: int = 10,
                         n_planes: int = 8, radius: int = 1,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: int = 42,
                         exclude_id: int | None = None) -> DataFrame:
    """ANN over the write_embeddings_lsh layout: the Hamming ball around
    the query's bucket is enumerated DRIVER-side and becomes a partition
    filter — the scan only opens those bucket directories (multi-probe
    recall with physical pruning)."""
    q = np.asarray([float(x) for x in query_vec])
    planes = _planes(q.size, n_planes, seed)
    qb = int(sum((1 << p) for p in range(n_planes) if planes[p] @ q > 0))
    ball = _hamming_ball(qb, n_planes, radius)
    pruned = spark.read.parquet(path).filter(F.col("bkt").isin(ball))
    return cosine_topk(pruned, q, k, id_col, vec_col, exclude_id)


def write_embeddings_ivf(emb: DataFrame, path: str, centroids,
                         vec_col: str = "embedding") -> None:
    """Persist the embedding table partitioned by its IVF cell (nearest
    centroid of the coarse quantizer) — the inverted-file layout."""
    (emb.withColumn("cell", ivf_cell_expr(F.col(vec_col), centroids))
        .repartition(F.col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(path))


def ivf_topk_indexed(spark, path: str, query_vec, centroids, k: int = 10,
                     nprobe: int = 2, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     exclude_id: int | None = None) -> DataFrame:
    """IVF ANN over the write_embeddings_ivf layout: the nprobe nearest
    cells are ranked driver-side (tiny codebook) and pruned at the scan
    via the cell partition key."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qs = [q @ c - h for c, h in _cell_scores(centroids)]
    order = np.argsort([-s for s in qs], kind="stable")
    probe = [int(j) + 1 for j in order[:nprobe]]  # 1-based cell ids
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    return cosine_topk(pruned, q, k, id_col, vec_col, exclude_id)


def knn_join_lsh(emb: DataFrame, k: int = 5, n_planes: int | None = 8,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 seed: int = 42) -> DataFrame:
    """Approximate k-NN self-join: exact cosine within LSH buckets, k best
    neighbors per vector (window top-k per id). Equi-join on the bucket
    key — no global crossJoin. ``n_planes=None`` scales the plane count
    with the row count (adaptive_n_planes) so bucket populations — and
    the per-bucket quadratic compare — stay bounded as N grows."""
    from pyspark.sql import Window
    if n_planes is None:
        n_planes = adaptive_n_planes(emb.count())
    with_b = emb.select(id_col, vec_col,
                        lsh_bucket_expr(F.col(vec_col), n_planes,
                                        seed=seed).alias("bkt"))
    a, b = with_b.alias("a"), with_b.alias("b")
    cos = cosine_expr(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
    pairs = (a.join(b, "bkt")
             .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
             .select(F.col(f"a.{id_col}").alias("id"),
                     F.col(f"b.{id_col}").alias("neighbor"),
                     F.round(cos, 6).alias("cos")))
    w = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("neighbor"))
    return (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).drop("rn"))


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN: k-means coarse quantizer + cell probing
# --------------------------------------------------------------------------

def ivf_centroids(sample: np.ndarray, n_cells: int = 8, iters: int = 10,
                  seed: int = 42) -> np.ndarray:
    """Deterministic tiny k-means (Lloyd's, fixed iters) over a coarse
    sample — the IVF codebook. Engine-independent: callers embed the
    centroids as literals so any engine assigns identical cells."""
    rng = np.random.default_rng(seed)
    x = np.asarray(sample, dtype=np.float64)
    c = x[rng.choice(len(x), size=n_cells, replace=False)]
    for _ in range(iters):
        d = ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(n_cells):
            m = x[a == j]
            if len(m):
                c[j] = m.mean(axis=0)
    return c


def _cell_scores(centroids: np.ndarray):
    """Per-cell affinity  v·c_j − ||c_j||²/2  (argmax == nearest centroid
    by L2; ||v||² is constant across cells so it drops out)."""
    return [(c, 0.5 * float(c @ c)) for c in np.asarray(centroids, np.float64)]


def ivf_cell_expr(vec_col, centroids) -> "F.Column":
    """Nearest-centroid cell id as a Spark expression (1-based argmax via
    array_position — first-match tie-break, mirrored in the SQL twin)."""
    v = vec_col.cast("array<double>")
    scores = [dot_expr(v, F.array(*[F.lit(float(x)) for x in c])) - F.lit(h)
              for c, h in _cell_scores(centroids)]
    arr = F.array(*scores)
    return F.array_position(arr, F.array_max(arr)).cast("int")


def ivf_topk(emb: DataFrame, query_vec, centroids, k: int = 10,
             nprobe: int = 2, id_col: str = "vec_id",
             vec_col: str = "embedding",
             exclude_id: int | None = None) -> DataFrame:
    """IVF ANN: scan only the ``nprobe`` cells whose centroids are nearest
    the query, exact cosine + top-k on the survivors. At cluster scale the
    cell id is a storage partition key, so unprobed cells never leave
    disk (same pruning story as the LSH buckets, different geometry —
    IVF adapts to the data distribution via the learned codebook)."""
    q = np.asarray([float(x) for x in query_vec], dtype=np.float64)
    qs = [q @ c - h for c, h in _cell_scores(centroids)]
    order = np.argsort([-s for s in qs], kind="stable")
    probe = [int(j) + 1 for j in order[:nprobe]]  # 1-based cell ids
    cell = ivf_cell_expr(F.col(vec_col), centroids)
    pruned = emb.withColumn("_cell", cell).filter(F.col("_cell").isin(probe))
    return cosine_topk(pruned, q, k, id_col, vec_col, exclude_id)


def ivf_random_codebook(dim: int = 64, n_cells: int = 8,
                        seed: int = 7) -> np.ndarray:
    """Data-independent seeded codebook (random directions). Used where an
    engine-external oracle must reproduce the cells without access to a
    training sample; production indexes train ivf_centroids instead."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_cells, dim))
