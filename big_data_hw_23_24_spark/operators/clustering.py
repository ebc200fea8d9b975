"""k-center clustering: Farthest-First Traversal and the MRFFT pipeline.

Reference: ``G016HW2.java``.

* ``SequentialFFT`` (``G016HW2.java:114-154``): Gonzalez 2-approximation
  — start from the first point, repeatedly add the point farthest from
  the chosen centers, maintaining a running nearest-center distance
  array for O(|P|·K) total work.
* ``MRFFT`` (``G016HW2.java:164-220``): Round 1 runs SequentialFFT per
  partition (composable coreset of L·K points, ``mapPartitions``),
  Round 2 runs SequentialFFT on the collected coreset (driver), Round 3
  broadcasts the K centers and takes the max over per-point min
  distances → radius (a 2-approximation of the optimal k-center
  radius, Second Assignment.pdf task 3).

Spark-first shape here: Round 1 is ``mapInPandas`` with a vectorized
NumPy kernel (Arrow batches, no Python row loop); Round 3 is a second
``mapInPandas`` pass emitting one partial max per partition, reduced by
a 1-row ``agg(max)`` — no shuffle at all on the data path, exactly the
narrow map + tree-reduce the reference uses. The only driver-side data
movement is the L·K-row coreset, bounded by design.

Also here: ``kmeans_fit``, distributed Lloyd's k-means over embedding
vectors (no reference counterpart — the north-star trainer for IVF
centroids). It follows the same iteration contract as MRFFT: bounded
driver state, one bounded-shuffle distributed job per round.

Determinism caveat (SURVEY §7 risk 1): the result depends on the
partition layout (which points share a partition, and which arrives
first). The reference accepts this — its own goldens differ between
L=4 and L=16 runs. Tests therefore assert the 2-approximation property
and seeded reproducibility, not exact radii.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ROUND_TO = 6  # decimal places of the Lloyd statistics
SAMPLE_SIZE = 10_000  # driver sample that seeds the centroids


def sequential_fft(points: np.ndarray, k: int) -> np.ndarray:
    """Gonzalez farthest-first traversal over an (n, 2) float64 array.

    Returns the (min(k, n), 2) chosen centers. First center is
    ``points[0]`` (the reference's ``P.get(0)`` rule,
    ``G016HW2.java:122``); the nearest-distance array is maintained
    incrementally (``G016HW2.java:131-151``), here vectorized.
    """
    n = len(points)
    if n == 0:
        return points.reshape(0, 2)
    k = min(k, n)
    centers = np.empty((k, 2), dtype=np.float64)
    centers[0] = points[0]
    # squared distances to the nearest chosen center so far
    d2 = ((points - points[0]) ** 2).sum(axis=1)
    for i in range(1, k):
        nxt = int(np.argmax(d2))
        centers[i] = points[nxt]
        cand = ((points - points[nxt]) ** 2).sum(axis=1)
        np.minimum(d2, cand, out=d2)
    return centers


def _partition_fft(k: int):
    """mapInPandas kernel: local FFT coreset per partition (MRFFT R1)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [b[["x", "y"]].to_numpy(dtype=np.float64) for b in batches]
        if not parts:
            return
        pts = np.concatenate(parts) if len(parts) > 1 else parts[0]
        centers = sequential_fft(pts, k)
        yield pd.DataFrame({"x": centers[:, 0], "y": centers[:, 1]})

    return kernel


def _partition_max_min_dist(centers: np.ndarray):
    """mapInPandas kernel: per-partition max over min sq-distances (R3).

    ``centers`` is captured in the task closure (small: K×2 floats —
    the moral equivalent of the reference's ``sc.broadcast(C)``,
    ``G016HW2.java:197``).
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        best = 0.0
        for b in batches:
            pts = b[["x", "y"]].to_numpy(dtype=np.float64)
            if len(pts) == 0:
                continue
            # (n, k) pairwise squared distances, min over centers
            d2 = ((pts[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            best = max(best, float(d2.min(axis=1).max()))
        yield pd.DataFrame({"partial_max": [best]})

    return kernel


def mrfft(points: DataFrame, k: int, num_partitions: int | None = None
          ) -> tuple[np.ndarray, float]:
    """MRFFT: returns (centers (k,2), radius).

    ``num_partitions`` pins L for reproducible tests; default keeps the
    incoming partitioning (AQE-sized at scale).
    """
    df = points.select("x", "y")
    if num_partitions is not None:
        df = df.repartition(num_partitions)

    # R1: per-partition coreset (executors) → driver collect of ≤ L·K rows
    coreset_df = df.mapInPandas(_partition_fft(k), "x double, y double")
    coreset = np.array([[r.x, r.y] for r in coreset_df.collect()],
                       dtype=np.float64).reshape(-1, 2)

    # R2: FFT on the coreset (driver, O(L·K²))
    centers = sequential_fft(coreset, k)

    # R3: broadcast centers, narrow map → per-partition partial max,
    # 1-row final max. radius = sqrt(max min-dist) (G016HW2.java:212).
    partials = df.mapInPandas(_partition_max_min_dist(centers),
                              "partial_max double")
    row = partials.agg(F.max("partial_max").alias("m")).collect()[0]
    radius = float(row["m"]) ** 0.5
    return centers, radius


def lloyd_round(vecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd round's sufficient statistics from FIXED centroids →
    (centroid_id, pos, sum_x, sum_sq, cnt): exactly what ``kmeans_fit``
    aggregates each iteration (assign to nearest centroid by squared
    L2, then per-(cluster, dimension) sum / sum-of-squares / count —
    the k·dim-bounded state the next centroids and the Lloyd cost are
    both derived from).

    This is the deterministic, SQL-expressible face of the iterative
    trainer (the ``embedding_nearest_centroid`` move applied to the
    whole round): ``centroids`` is a bounded (centroid_id, cv) table
    broadcast into a JVM-expression argmin — the trainer's Arrow
    kernel computes the same assignment (pinned to this face in
    tests), and the aggregate is the same hash aggregate with
    map-side combine, so the shuffle stays O(k · dim) regardless of
    corpus size. Sums are rounded so cross-engine summation order
    can't flip value checks; ties broken by centroid_id ascending,
    matching the trainer's argmin-of-ordered-scan.
    """
    dist = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    assigned = (
        vecs.where(F.col("v").isNotNull())
        .crossJoin(F.broadcast(centroids))
        .select(F.col("vec_id"), F.col("v"),
                F.struct(dist.alias("d"),
                         F.col("centroid_id").alias("cid")).alias("s"))
        .groupBy("vec_id")
        .agg(F.min("s").alias("b"), F.first("v").alias("v")))
    return (assigned
            .select(F.col("b.cid").alias("centroid_id"),
                    F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.sum("x"), ROUND_TO).alias("sum_x"),
                 F.round(F.sum(F.col("x") * F.col("x")),
                         ROUND_TO).alias("sum_sq"),
                 F.count("*").alias("cnt")))


def kmeans_fit(df: DataFrame, k: int,
               iters: int = 10) -> tuple[np.ndarray, list[float]]:
    """Distributed Lloyd's k-means over a vector column → (centroids
    (k, dim), per-iteration mean cost): the full-corpus trainer, for
    when a driver sample isn't representative enough.

    Same iteration contract as MRFFT above: per round, ONE distributed
    job whose shuffle is bounded by the model size, never the data —
    assign each vector to its nearest centroid (closure-captured
    ndarray, Arrow-batched narrow map), then ``posexplode`` to
    (list, pos, x) and hash-aggregate sum/sum-sq/count per (list, pos).
    Map-side partial aggregation compresses every partition to at most
    k·dim rows before the exchange, so the shuffle moves O(partitions ·
    k · dim) bytes regardless of corpus size; the driver touches only
    the k×dim sufficient statistics (the L·K-coreset bound again).

    The Lloyd cost Σ‖x − c(x)‖² is recovered from those same
    statistics — Σx² − 2Σ⟨c, S_c⟩ + Σ n_c‖c‖² — so cost tracking adds
    no extra pass. Init is k-means on a bounded seeded driver sample
    (what FAISS does for IVF training); empty clusters keep their
    previous centroid. Stops early when no centroid moves more than
    1e-6 (L∞ on the shift).
    """
    from .similarity import KMEANS_SEED, _kmeans_lite, _nearest_lists_udf

    vecs = (df.select(F.col("embedding").alias("v"))
            .where(F.col("v").isNotNull()))
    n = vecs.count()
    if n == 0:
        raise ValueError("kmeans_fit: no non-null vectors")
    frac = min(1.0, (SAMPLE_SIZE * 1.25) / n)
    sample = np.array(
        [r[0] for r in vecs.sample(fraction=frac, seed=KMEANS_SEED)
         .limit(SAMPLE_SIZE).collect()], dtype=np.float64)
    centroids = _kmeans_lite(sample, k)
    k, dim = centroids.shape

    costs: list[float] = []
    for _ in range(iters):
        assign = _nearest_lists_udf(centroids, 1)
        stats = (
            vecs.withColumn("list_id", assign(F.col("v"))[0])
            .select("list_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("list_id", "pos")
            .agg(F.sum("x").alias("s"),
                 F.sum(F.col("x") * F.col("x")).alias("sq"),
                 F.count("*").alias("cnt"))
            .collect()
        )
        sums = np.zeros((k, dim))
        counts = np.zeros(k)
        sq_total = 0.0
        for r in stats:
            sums[r.list_id, r.pos] = r.s
            counts[r.list_id] = r.cnt  # same for every pos of a list
            sq_total += r.sq
        # Lloyd cost of the CURRENT assignment under the current centers
        cost = (sq_total
                - 2.0 * float((centroids * sums).sum())
                + float(counts @ (centroids ** 2).sum(axis=1)))
        costs.append(cost / n)
        nonempty = counts > 0
        new_c = centroids.copy()
        new_c[nonempty] = sums[nonempty] / counts[nonempty, None]
        shift = float(np.abs(new_c - centroids).max())
        centroids = new_c
        if shift < 1e-6:
            break
    return centroids, costs
