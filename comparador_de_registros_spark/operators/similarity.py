"""Similarity search over an embedding column (``array<float>``).

* :func:`cosine_topk` — brute-force baseline: native dot product via
  ``aggregate(zip_with(...))`` (no Python), window top-k. Exact; the
  correctness oracle for the approximate paths.
* :func:`srp_lsh_buckets` / :func:`srp_candidate_pairs` — scale path 1:
  signed random projections (Charikar 2002) hash each vector to
  bit-band bucket keys; candidates are generated per shared band
  (equi-join, the same physical shape as MinHash-LSH) and re-ranked
  with the exact cosine. At 100 TB this replaces the O(n*q) scan with
  bucket joins.
* :func:`ivf_topk` — scale path 2 (IVF — the inverted-file coarse
  quantizer of Sivic & Zisserman 2003 / Jegou et al. 2011, the
  FAISS-style construction): spherical k-means centroids trained
  driver-side on a BOUNDED deterministic sample (standard IVF
  practice — training cost is independent of corpus size), cell
  assignment via one Arrow-batched matmul, then each query probes its
  ``nprobe`` nearest cells and re-ranks exactly. With ``nprobe ==
  nlist`` the result is provably identical to :func:`cosine_topk`
  (every cell probed), which is how the driver gate value-checks it;
  recall at ``nprobe < nlist`` is pinned by tests on clustered data.

The projection/centroid matrices are tiny and ride into executors via
the UDF closure — vectors never leave the JVM except for the batched
projections.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def dot_col(a: Column, b: Column) -> Column:
    """Native dot product of two float-array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_col(a: Column) -> Column:
    """Native L2 norm of a float-array column."""
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_from_parts(dot: Column, na: Column, nb: Column) -> Column:
    """cosine from a precomputed dot product and per-side norms — the
    same expression tree :func:`cosine_col` builds, so results are
    bit-identical; hoisting the norms to per-ROW columns before a join
    removes two of the three interpreted array folds from every PAIR
    (the higher-order aggregate is the expensive part: each side's norm
    was being recomputed once per pair instead of once per row)."""
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def cosine_col(a: Column, b: Column) -> Column:
    """Native cosine similarity between two float-array columns."""
    return cosine_from_parts(dot_col(a, b), norm_col(a), norm_col(b))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors for each query vector (brute force).

    ``queries(query_id, embedding)`` x ``embeddings(vec_id, embedding)``
    -> (query_id, vec_id, cosine, rank), excluding self-matches.
    The query side is broadcast (queries are few; the corpus is big)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm_col(F.col(vec_col)).alias("__qn"),
        )
    )
    scored = (
        embeddings.select(
            id_col, vec_col, norm_col(F.col(vec_col)).alias("__n")
        )
        .crossJoin(q)
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_from_parts(
                    dot_col(F.col("__qvec"), F.col(vec_col)),
                    F.col("__qn"),
                    F.col("__n"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def srp_bits_udf(n_bits: int, seed: int, dim: int | None = None):
    """pandas UDF: embedding -> packed sign-bit fingerprint (long).
    The Gaussian projection matrix is regenerated from the seed in each
    worker (deterministic, no broadcast payload); the embedding
    dimension is read from the first vector of each Arrow batch when not
    given — no driver-side probe action (round-1 ran a ``.first()``
    per query invocation)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="int64")
        d = dim if dim is not None else len(vecs.iloc[0])
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((d, n_bits))
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        signs = (mat @ planes) > 0
        weights = np.uint64(1) << np.arange(n_bits, dtype=np.uint64)
        with np.errstate(over="ignore"):
            packed = (signs.astype(np.uint64) * weights[None, :]).sum(axis=1)
        return pd.Series(packed.view(np.int64))

    return _udf


def srp_lsh_buckets(
    embeddings: DataFrame,
    n_bits: int = 64,
    bands: int = 4,
    seed: int = 0xA11CE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """-> (vec_id, band, key): one bucket key per band of sign bits.
    Two vectors with cosine close to 1 agree on a full band with high
    probability (P[bit agree] = 1 - theta/pi).

    Geometry: width = n_bits/bands sign bits per key. The 64/4 default
    gives 16-bit keys — 65,536 buckets per band, so expected bucket
    occupancy is n/2^16 (round-1 shipped 4-bit keys: 16 buckets/band =
    O(n^2/16) candidate pairs). For corpora >> 10^7 raise n_bits (e.g.
    96/4 -> 2^24 buckets) — recall at cosine c scales as
    1-(1-p^width)^bands with p = 1 - arccos(c)/pi; the bucket-size cap
    below is the skew guard either way."""
    bits = srp_bits_udf(n_bits, seed, dim)(F.col(vec_col))
    width = n_bits // bands
    mask = (1 << width) - 1
    return embeddings.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(bits, i * width).bitwiseAND(F.lit(mask))
                    for i in range(bands)
                ]
            )
        ).alias("band", "key"),
    )


def srp_candidate_pairs(
    embeddings: DataFrame,
    n_bits: int = 64,
    bands: int = 4,
    seed: int = 0xA11CE,
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Approximate near-duplicate vectors: bucket-join candidates then
    exact-cosine verify (the embedding-space analogue of MinHash-LSH +
    Jaccard verify). Buckets larger than ``max_bucket_size`` are dropped
    from pair enumeration (same skew guard + accounting shape as
    operators/lsh.py; use :func:`srp_candidate_pairs_with_dropped` when
    the dropped-bucket table is needed for metrics).
    -> (a, b, cosine) with a < b."""
    pairs, _ = srp_candidate_pairs_with_dropped(
        embeddings, n_bits, bands, seed, min_cosine, id_col, vec_col, dim,
        max_bucket_size,
    )
    return pairs


def srp_candidate_pairs_with_dropped(
    embeddings: DataFrame,
    n_bits: int = 64,
    bands: int = 4,
    seed: int = 0xA11CE,
    min_cosine: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_bucket_size: int = 2000,
) -> tuple[DataFrame, DataFrame]:
    """As :func:`srp_candidate_pairs`, also returning
    ``dropped(band, key, sz)`` for lineage/metrics."""
    buckets = srp_lsh_buckets(
        embeddings, n_bits, bands, seed, id_col, vec_col, dim
    )
    sized = buckets.groupBy("band", "key").agg(
        F.collect_list(id_col).alias("members"), F.count("*").alias("sz")
    )
    dropped = sized.where(F.col("sz") > max_bucket_size).select(
        "band", "key", "sz"
    )
    # enumerate pairs inside each capped bucket without a second
    # shuffle: a sorted-array double-explode instead of re-joining the
    # exploded table against itself
    m = F.array_sort("members")
    cand = (
        sized.where(F.col("sz").between(2, max_bucket_size))
        .select(m.alias("m"))
        .select(F.posexplode("m").alias("i", "a"), F.col("m"))
        .select(
            "a", F.explode(F.slice("m", F.col("i") + 2, F.size("m"))).alias("b")
        )
        .distinct()
    )
    # NOTE: unlike the top-k paths, norms are NOT hoisted here — the
    # candidate set is bucket-capped and small relative to the corpus,
    # so the per-pair folds are negligible, while an extra projection on
    # the vec side defeats Catalyst's size estimate and flips these
    # joins from broadcast to sort-merge in the static plan (observed in
    # the r06 plan dumps).
    vecs = embeddings.select(F.col(id_col), F.col(vec_col))
    withv = (
        cand.join(vecs.withColumnRenamed(id_col, "a").withColumnRenamed(vec_col, "va"), "a")
        .join(vecs.withColumnRenamed(id_col, "b").withColumnRenamed(vec_col, "vb"), "b")
    )
    pairs = (
        withv.select(
            "a", "b", F.round(cosine_col(F.col("va"), F.col("vb")), 6).alias("cosine")
        )
        .where(F.col("cosine") >= min_cosine)
    )
    return pairs, dropped


# ---------------------------------------------------------------------------
# IVF: coarse-quantizer ANN (spherical k-means cells + probe re-rank)
# ---------------------------------------------------------------------------


def _normalize_rows(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    return np.divide(mat, norms, out=np.zeros_like(mat), where=norms > 0)


def train_ivf_centroids(
    embeddings: DataFrame,
    nlist: int = 16,
    seed: int = 0x1FF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = None,
    iters: int = 15,
) -> np.ndarray:
    """Spherical k-means centroids from a bounded deterministic sample.

    The sample is the ``sample_cap`` rows with the smallest
    ``xxhash64(id)`` — a deterministic pseudo-random subset selected via
    ``TakeOrderedAndProject`` (driver memory bounded by the cap, never
    by corpus size; FAISS trains IVF quantizers on samples the same
    way). Lloyd iterations run in numpy on the driver: O(cap * nlist *
    dim * iters), independent of corpus size. Empty cells are reseeded
    to the point farthest from its centroid (deterministic).
    -> (nlist, dim) float64, rows L2-normalized.
    """
    cap = sample_cap or max(nlist * 128, 2048)
    rows = (
        embeddings.select(F.col(vec_col).alias("v"), F.col(id_col).alias("i"))
        .orderBy(F.xxhash64(F.col("i")), F.col("i"))
        .limit(cap)
        .collect()
    )
    x = _normalize_rows(
        np.array([np.asarray(r["v"], dtype=np.float64) for r in rows])
    )
    n = len(x)
    if n == 0:
        raise ValueError("cannot train IVF centroids on an empty table")
    k = min(nlist, n)
    rng = np.random.default_rng(seed)
    cent = x[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        sims = x @ cent.T
        assign = sims.argmax(axis=1)
        best = sims[np.arange(n), assign]
        for c in range(k):
            members = x[assign == c]
            if len(members) == 0:
                cent[c] = x[best.argmin()]
                best[best.argmin()] = 1.0
                continue
            m = members.sum(axis=0)
            nm = np.linalg.norm(m)
            cent[c] = m / nm if nm > 0 else cent[c]
    return cent


def _ivf_cells_udf(centroids: np.ndarray, nprobe: int):
    """pandas UDF: embedding -> the ``nprobe`` nearest cell ids
    (descending cosine to the cell centroid), as array<int>."""
    from pyspark.sql.functions import pandas_udf

    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    p = min(nprobe, len(cent))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _udf(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype="object")
        mat = _normalize_rows(
            np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        )
        sims = mat @ cent.T
        if p == 1:
            idx = sims.argmax(axis=1)[:, None]
        else:
            part = np.argpartition(-sims, p - 1, axis=1)[:, :p]
            order = np.take_along_axis(sims, part, axis=1).argsort(axis=1)[:, ::-1]
            idx = np.take_along_axis(part, order, axis=1)
        return pd.Series([row.astype("int32") for row in idx])

    return _udf


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 0x1FF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: "np.ndarray | None" = None,
) -> DataFrame:
    """IVF approximate top-k: each query scans only its ``nprobe``
    nearest cells instead of the whole corpus.

    Physical shape at scale: the corpus is assigned to cells once (one
    narrow Arrow-batched matmul — at 10^12 scale write it partitioned
    BY cell so probes prune file groups), the query side carries
    exploded probe cells and is broadcast, and the equi-join on ``cell``
    touches ~nprobe/nlist of the corpus. Expected scan fraction
    nprobe/nlist; with ``nprobe == nlist`` output == :func:`cosine_topk`.
    -> (query_id, vec_id, cosine, rank).
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            embeddings, nlist, seed, id_col, vec_col
        )
    corpus = embeddings.select(
        id_col,
        vec_col,
        norm_col(F.col(vec_col)).alias("__n"),
        _ivf_cells_udf(centroids, 1)(F.col(vec_col))[0].alias("cell"),
    )
    probes = F.broadcast(
        queries.select(
            F.col(query_id_col),
            F.col(vec_col).alias("__qvec"),
            norm_col(F.col(vec_col)).alias("__qn"),
            F.explode(
                _ivf_cells_udf(centroids, nprobe)(F.col(vec_col))
            ).alias("cell"),
        )
    )
    scored = (
        corpus.join(probes, "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_from_parts(
                    dot_col(F.col("__qvec"), F.col(vec_col)),
                    F.col("__qn"),
                    F.col("__n"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Persisted IVF index (centroids side table + cell-partitioned corpus)
# ---------------------------------------------------------------------------

def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    nlist: int = 16,
    seed: int = 0x1FF,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_cap: int | None = None,
) -> None:
    """Train once, persist the index: a ``centroids`` side table
    (cell, centroid) plus the corpus written ``partitionBy(cell)`` so a
    probe of ``nprobe`` cells later prunes to nprobe/nlist of the DATA
    FILES at scan time — the 10^12-scale layout the ivf_topk docstring
    calls for. Retraining per query (the pre-index behavior) is gone:
    :func:`ivf_topk_indexed` only reads these two tables."""
    spark = embeddings.sparkSession
    centroids = train_ivf_centroids(
        embeddings, nlist, seed, id_col, vec_col, sample_cap
    )
    cent_rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    spark.createDataFrame(
        cent_rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    corpus = embeddings.select(
        id_col,
        vec_col,
        _ivf_cells_udf(centroids, 1)(F.col(vec_col))[0].alias("cell"),
    )
    corpus.write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/corpus"
    )


def load_ivf_centroids(spark, path: str) -> np.ndarray:
    """Centroid matrix from the persisted side table (nlist rows —
    a metadata-sized collect)."""
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF top-k over a PERSISTED index (:func:`build_ivf_index`): no
    retraining, no corpus-wide cell assignment — the probe-cell set is
    computed from the (small) query batch and pushed as a partition
    filter, so the parquet scan reads only the probed cells' files
    (``PartitionFilters: [cell IN (...)]`` — plan-asserted in tests).
    Semantics match :func:`ivf_topk` at the same centroids.
    -> (query_id, vec_id, cosine, rank)."""
    centroids = load_ivf_centroids(spark, path)
    probes = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        norm_col(F.col(vec_col)).alias("__qn"),
        F.explode(
            _ivf_cells_udf(centroids, nprobe)(F.col(vec_col))
        ).alias("cell"),
    )
    # the query batch is the driver-sized side: collect its distinct
    # probe cells and push them into the corpus scan as a partition
    # predicate (partition PRUNING, not just a join key)
    cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    corpus = (
        spark.read.parquet(f"{path}/corpus")
        .where(F.col("cell").isin(cells))
    )
    scored = (
        corpus.withColumn("__n", norm_col(F.col(vec_col)))
        .join(F.broadcast(probes), "cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(
                cosine_from_parts(
                    dot_col(F.col("__qvec"), F.col(vec_col)),
                    F.col("__qn"),
                    F.col("__n"),
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )
