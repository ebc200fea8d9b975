"""FFT / MRFFT property tests (SURVEY §7 Phase 3).

Exact radii are partition-layout-dependent (the reference's own goldens
differ between L=4 and L=16 runs), so tests assert the algorithmic
guarantees: 2-approximation of the optimal k-center radius, coverage,
determinism under a pinned layout.
"""

from __future__ import annotations

import numpy as np

from big_data_hw_23_24_spark.operators.clustering import mrfft, sequential_fft


def _planted_points(n_clusters=9, per_cluster=300, n_outliers=0, seed=7):
    """artificialXM_9_100-shaped data: 9 tight clusters (+ optional far
    outliers), known structure → known k-center behavior."""
    rng = np.random.default_rng(seed)
    centers = rng.uniform(-50, 50, size=(n_clusters, 2))
    pts = np.concatenate([
        c + rng.normal(0, 0.5, size=(per_cluster, 2)) for c in centers])
    if n_outliers:
        pts = np.concatenate([pts, rng.uniform(200, 400, size=(n_outliers, 2))])
    return pts


def brute_force_radius(points: np.ndarray, centers: np.ndarray) -> float:
    d2 = ((points[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    return float(np.sqrt(d2.min(axis=1).max()))


def test_sequential_fft_2_approximation():
    pts = _planted_points()
    k = 9
    centers = sequential_fft(pts, k)
    assert centers.shape == (k, 2)
    radius = brute_force_radius(pts, centers)
    # optimal radius for 9 well-separated σ=0.5 clusters with k=9 is
    # ≈ cluster spread (~2σ·√(2 ln n) ≈ 2.4); FFT guarantees ≤ 2·OPT
    assert radius < 2 * 3.0, radius


def test_sequential_fft_first_point_rule():
    pts = np.array([[0.0, 0.0], [10.0, 0.0], [5.0, 5.0]])
    centers = sequential_fft(pts, 2)
    assert (centers[0] == pts[0]).all()          # G016HW2.java:122
    assert (centers[1] == pts[1]).all()          # farthest from P[0]


def test_sequential_fft_edge_cases():
    assert sequential_fft(np.empty((0, 2)), 3).shape == (0, 2)
    one = np.array([[1.0, 2.0]])
    assert (sequential_fft(one, 5) == one).all()  # k > n → n centers


def test_mrfft_radius_covers_all_points(spark):
    pts = _planted_points()
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts],
                               "x double, y double")
    centers, radius = mrfft(df, k=9, num_partitions=4)
    # R3's radius is by construction the max point-to-center distance,
    # so every point is covered at that radius; cross-check in NumPy
    assert abs(brute_force_radius(pts, centers) - radius) < 1e-9
    # composable-coreset guarantee: within 2× of sequential FFT's radius
    seq_radius = brute_force_radius(pts, sequential_fft(pts, 9))
    assert radius <= 2 * seq_radius + 1e-9


def test_mrfft_deterministic_under_pinned_layout(spark):
    pts = _planted_points(per_cluster=100)
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts],
                               "x double, y double")
    r1 = mrfft(df, k=5, num_partitions=4)[1]
    r2 = mrfft(df, k=5, num_partitions=4)[1]
    assert r1 == r2


def test_mrfft_radius_shrinks_with_k(spark):
    pts = _planted_points(per_cluster=100)
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts],
                               "x double, y double").cache()
    radii = [mrfft(df, k=k, num_partitions=4)[1] for k in (2, 5, 9)]
    # BASELINE.md k-center effectiveness: radius decreases in K
    assert radii[0] >= radii[1] >= radii[2]


def test_mrfft_feeds_outlier_pipeline(spark):
    """HW2 composition: D = MRFFT radius → MRApproxOutliers recovers
    the planted outliers (Second Assignment semantics)."""
    from big_data_hw_23_24_spark.operators.outliers import mr_approx_outliers

    pts = _planted_points(per_cluster=300, n_outliers=20)
    df = spark.createDataFrame([(float(x), float(y)) for x, y in pts],
                               "x double, y double").cache()
    _, radius = mrfft(df, k=9, num_partitions=4)
    row = mr_approx_outliers(df, radius, m=50).collect()[0]
    # the 20 far-away outliers are sure outliers at cluster-scale D
    assert row["sure_outliers"] >= 20
    # clusters themselves are dense → not flagged
    assert row["sure_outliers"] + row["uncertain_points"] <= 100


# --- distributed Lloyd's k-means ---------------------------------------------
def _blob_df(spark, centers, per=60, jitter=0.05, dim=8, seed=7):
    import numpy as np

    rng = np.random.default_rng(seed)
    rows = []
    for ci, c in enumerate(centers):
        pts = np.asarray(c)[None, :] + rng.normal(0, jitter, (per, dim))
        rows += [(ci * per + i, [float(v) for v in p])
                 for i, p in enumerate(pts)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_recovers_separated_blobs(spark, monkeypatch):
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.clustering import kmeans_fit

    true = np.eye(3, 8) * 10.0  # 3 well-separated blob centers in 8-dim
    df = _blob_df(spark, true).cache()
    monkeypatch.setattr(similarity, "KMEANS_SEED", 1)
    cent, costs = kmeans_fit(df, k=3, iters=10)
    # each true center has a recovered centroid within the jitter scale
    d = np.sqrt(((true[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2))
    assert d.min(axis=1).max() < 0.5
    # and the match is a bijection (no two blobs share a centroid)
    assert len(set(d.argmin(axis=1))) == 3


def test_kmeans_cost_monotone_nonincreasing(spark, monkeypatch):
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.clustering import kmeans_fit

    rng = np.random.default_rng(3)
    rows = [(i, [float(v) for v in rng.normal(0, 1, 6)]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "KMEANS_SEED", 2)
    _, costs = kmeans_fit(df.cache(), k=8, iters=6)
    assert len(costs) >= 2
    for a, b in zip(costs, costs[1:]):
        assert b <= a + 1e-9  # Lloyd guarantee


def test_kmeans_centroids_feed_ivf(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.clustering import kmeans_fit
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from big_data_hw_23_24_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings").cache()
    q = emb.limit(8).cache()
    monkeypatch.setattr(similarity, "KMEANS_SEED", 5)
    cent, _ = kmeans_fit(emb, k=16, iters=4)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, q, k=5).collect()}
    # the sample trainer is stubbed: the kernel gets kmeans_fit's lists
    monkeypatch.setattr(similarity, "_kmeans_lite",
                        lambda sample, n_lists: cent)
    monkeypatch.setattr(similarity, "IVF_NPROBE", 8)
    monkeypatch.setattr(similarity, "KNN_K", 5)
    approx = {(r.query_id, r.neighbor_id)
              for r in ivf_topk(emb, q).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # nprobe=8 of 16 lists on near-random vectors
