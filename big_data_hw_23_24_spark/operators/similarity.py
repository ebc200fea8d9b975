"""Embedding similarity search: brute-force cosine top-k + IVF scale path.

North-star extension. The `embeddings` table carries `array<float>`
vectors; two search paths:

* ``cosine_topk``: exact brute force — broadcast the (small) query set,
  score every corpus vector with JVM array intrinsics
  (``zip_with`` + ``aggregate``, no Python), rank per query with a
  partitioned window. The right baseline, and exactly what you run on
  a candidate set after any ANN pruning.
* ``ivf_topk``: inverted-file ANN — k-means-lite centroids learned on
  a seeded uniform sample, corpus partitioned by nearest centroid via
  an Arrow-batched pandas UDF over the broadcast centroid matrix,
  queries probe only the ``nprobe`` nearest lists. The scan is pruned
  by a factor ≈ n_lists/nprobe; at 100 TB the cluster assignment is a
  one-off narrow map and the probe join is an equi-join on list id.

Ranking note: the per-query window orders by the *unrounded* cosine
(ties past the 6th decimal would otherwise resolve differently than an
oracle ranking on the exact value); only the output column is rounded.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

IVF_SAMPLE_SIZE = 10_000  # driver sample that trains the IVF centroids
KMEANS_SEED = 42  # seed of the driver samples and their k-means
IVF_N_LISTS = 16  # lists ivf_topk trains
IVF_NPROBE = 4  # nearest lists each ivf_topk query probes
KNN_K = 10  # neighbours per query of the top-k searches and gates
RERANK_FACTOR = 4  # quantized_topk reranks RERANK_FACTOR * KNN_K candidates
COSINE_THRESHOLD = 0.4  # cosine of a near-duplicate embedding pair
PCA_COMPONENTS = 8  # basis vectors pca_components returns
RECALL_PREFIX_DIM = 32  # leading coordinates prefix_dim_recall keeps
RECALL_QUERIES = 20  # prefix_dim_recall queries the ids below this
TRIPLET_ANCHORS_BELOW = 30  # triplet_mining anchors the ids below this
RP_TARGET_DIM = 16  # dimension of rp_distortion's random projection
RP_OFFSETS = (1, 7, 49)  # id offsets of rp_distortion's probe pairs
EIGEN_ROUNDS = 5  # power-iteration rounds of top_eigenvector
LSH_BITS = 256  # random-hyperplane signature bits
LSH_BANDS = 16  # LSH bands over the signature
MMR_K = 5  # results mmr_rerank picks per query
MMR_POOL = 20  # cosine top-k pool mmr_rerank picks from
MMR_LAM = 0.7  # relevance weight of the MMR score


def _dot(a, b):
    """JVM-side dot product of two array columns (double accumulator)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def with_l2_norm(emb: DataFrame, vec_col: str = "embedding",
                 out_col: str = "norm") -> DataFrame:
    return emb.withColumn(out_col, F.sqrt(_dot(F.col(vec_col), F.col(vec_col))))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Rank on the raw cosine, round only the reported value."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(),
                                          F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id",
                F.round(F.col("cosine_raw"), 6).alias("cosine"), "rank")
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame,
                k: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors per query → (query_id, neighbor_id,
    cosine, rank). Excludes self-matches. Deterministic: ties broken by
    neighbor id on the unrounded score."""
    q = with_l2_norm(queries.select(F.col("vec_id").alias("query_id"),
                                    F.col("embedding").alias("q_vec")),
                     "q_vec", "q_norm")
    c = with_l2_norm(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                   F.col("embedding").alias("c_vec")),
                     "c_vec", "c_norm")
    scored = (
        F.broadcast(q).crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (_dot(F.col("q_vec"), F.col("c_vec"))
                 / (F.col("q_norm") * F.col("c_norm"))).alias("cosine_raw"))
    )
    return _rank_topk(scored, k)


def _kmeans_lite(sample: np.ndarray, n_lists: int) -> np.ndarray:
    """Tiny k-means on a driver-side sample (bounded like MRFFT R2),
    initialised from ``KMEANS_SEED``."""
    rng = np.random.default_rng(KMEANS_SEED)
    idx = rng.choice(len(sample), size=min(n_lists, len(sample)),
                     replace=False)
    centroids = sample[idx].copy()
    for _ in range(8):
        d = ((sample[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for j in range(len(centroids)):
            members = sample[assign == j]
            if len(members):
                centroids[j] = members.mean(axis=0)
    return centroids


def _nearest_lists_udf(centroids: np.ndarray, n: int):
    """Arrow-batched pandas UDF: n nearest centroid ids per vector.

    The centroid matrix rides to executors as a closure-captured
    ndarray (the broadcast-variable pattern, X4) — plan size stays
    O(1) regardless of n_lists × dim, unlike inlining the centroids
    as literal expressions, which blows up the Catalyst tree at the
    thousands of lists a 100 TB index needs. Ties broken by list id
    (stable argsort), matching the old (dist, id) struct sort.
    """
    cent = np.ascontiguousarray(centroids, dtype=np.float64)
    cent_sq = (cent ** 2).sum(axis=1)

    @F.pandas_udf("array<int>")
    def nearest(vecs: pd.Series) -> pd.Series:
        # null embeddings propagate as null assignments (np.stack would
        # otherwise throw and fail the whole batch)
        vals = vecs.to_numpy()
        out = np.empty(len(vals), dtype=object)
        mask = np.array([v is not None for v in vals], dtype=bool)
        if mask.any():
            m = np.stack(vals[mask]).astype(np.float64)
            # ||x - c||² = ||x||² - 2 x·c + ||c||² ; ||x||² constant per row
            d = cent_sq[None, :] - 2.0 * (m @ cent.T)
            idx = np.argsort(d, axis=1, kind="stable")[:, :n].astype(np.int32)
            for pos, row in zip(np.flatnonzero(mask), idx):
                out[pos] = row
        return pd.Series(out)

    return nearest


def ivf_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF approximate top-k cosine → same schema as ``cosine_topk``.

    Train ``IVF_N_LISTS`` centroids on a seeded uniform sample
    (``df.sample`` — not ``limit``, which is partition-order biased),
    assign each corpus vector to its nearest list (narrow
    Arrow-batched map), probe the ``IVF_NPROBE`` nearest lists per
    query (explode + equi-join on list_id), exact-score only the
    probed lists. Recall < 1 by design; tests measure it against
    ``cosine_topk``.
    """
    n = corpus.count()
    frac = min(1.0, (IVF_SAMPLE_SIZE * 1.25) / max(n, 1))
    sample = np.array(
        [r[0] for r in
         corpus.select("embedding").sample(fraction=frac, seed=KMEANS_SEED)
         .limit(IVF_SAMPLE_SIZE).collect()],
        dtype=np.float64)
    centroids = _kmeans_lite(sample, IVF_N_LISTS)

    assign1 = _nearest_lists_udf(centroids, 1)
    assign_probe = _nearest_lists_udf(centroids, IVF_NPROBE)

    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("c_vec"))
    c = c.withColumn("list_id", assign1(F.col("c_vec"))[0])
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_vec"))
    q = q.withColumn("probe", F.explode(assign_probe(F.col("q_vec"))))

    nq = with_l2_norm(F.broadcast(q), "q_vec", "q_norm")
    nc = with_l2_norm(c, "c_vec", "c_norm")
    scored = (
        nq.join(nc, nq.probe == nc.list_id)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                (_dot(F.col("q_vec"), F.col("c_vec"))
                 / (F.col("q_norm") * F.col("c_norm"))).alias("cosine_raw"))
    )
    return _rank_topk(scored, KNN_K)


# --- embedding-cosine near-duplicate detection -------------------------------
# The dedup face of the similarity surface: pairs of corpus vectors
# with cosine ≥ threshold. Two paths, mirroring the MinHash/Jaccard
# design in operators/dedup.py: an exact all-pairs form (the
# small-scale oracle) and a random-hyperplane LSH form whose shuffle
# key is a signature band — never a vector pair — for the 100 TB path.

def cosine_pairs(emb: DataFrame) -> DataFrame:
    """Exact all-pairs cosine near-dup → (id_a, id_b, cosine ≥ t).

    A theta self-join (id_a < id_b) scored with JVM array intrinsics:
    O(n²) comparisons by definition — the ground truth the LSH path is
    verified against, and the oracle-checkable face. Small-scale only;
    ``embedding_lsh_pairs`` is the scale path. The comparison uses the
    ROUNDED cosine (6 dp) on both engines so a threshold-straddling
    ulp can't flip membership between Spark and the oracle.
    """
    a = with_l2_norm(emb.select(F.col("vec_id").alias("id_a"),
                                F.col("embedding").alias("va")), "va", "na")
    b = with_l2_norm(emb.select(F.col("vec_id").alias("id_b"),
                                F.col("embedding").alias("vb")), "vb", "nb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.round(_dot(F.col("va"), F.col("vb"))
                        / (F.col("na") * F.col("nb")), 6).alias("cosine"))
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


def _pack_sig_rows(bits: np.ndarray) -> list:
    """Pack an (n, n_bits) boolean matrix into per-row lists of
    int64 words, 64 bits per word, little-endian words/bits."""
    n, n_bits = bits.shape
    n_words = (n_bits + 63) // 64
    out = []
    u = bits.astype(np.uint64)
    for r in range(n):
        words = []
        for w in range(n_words):
            chunk = u[r, w * 64:(w + 1) * 64]
            weights = 1 << np.arange(len(chunk), dtype=np.uint64)
            words.append(int((chunk * weights)
                             .sum(dtype=np.uint64).view(np.int64)))
        out.append(words)
    return out


def _hyperplane_sig_udf(planes: np.ndarray):
    """Arrow-batched pandas UDF: sign-bit signature of v against the
    closure-captured hyperplane matrix (dim × n_bits), packed into
    ``ceil(n_bits/64)`` longs — multi-word signatures are what lets
    the band space scale past 64 total bits (bits-per-band must track
    log₂(corpus) or band buckets crowd and candidate generation goes
    quadratic; measured in the r10 sf1 probe). Null embeddings
    propagate as null signatures."""
    mat = np.ascontiguousarray(planes, dtype=np.float64)

    @F.pandas_udf("array<long>")
    def sig(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        out = np.empty(len(vals), dtype=object)
        mask = np.array([v is not None for v in vals], dtype=bool)
        if mask.any():
            m = np.stack(vals[mask]).astype(np.float64)
            packed = _pack_sig_rows((m @ mat) > 0)
            for pos, v in zip(np.flatnonzero(mask), packed):
                out[pos] = v
        return pd.Series(out)

    return sig


def _lsh_band_verify(s: DataFrame, n_bits: int, bands: int,
                     threshold: float) -> DataFrame:
    """Shared LSH tail: band the packed ``sig`` word array into
    ``bands`` equal-width chunks, equi-join agreeing (chunk, value)
    pairs, then verify candidates with the exact JVM cosine (rounded
    6 dp on the threshold so an ulp can't flip membership
    cross-engine). ``s`` must carry (id, v, sig: array<long>).

    Scale shape (both r10 lessons from the sf1 probe):
    * the band join carries ONLY (id, chunk, val) — vectors join back
      once per deduped candidate pair, never riding the bands× explode
      through the shuffle;
    * ``width = n_bits // bands`` must satisfy ``2^width ≳ corpus``
      or every bucket crowds and candidates grow quadratically — the
      16-bit default band space (65 536) holds to ~100k vectors per
      partition-disjoint corpus slice; at billions of vectors use
      32-bit bands (the parameterization exists for exactly that).
    * ``s`` is localCheckpoint'd before fan-out (the r11 simhash
      lesson, same cause here): Catalyst does NOT reuse the signature
      subtree across the self-join sides and the two verify joins —
      un-checkpointed, the plan carried FOUR ArrowEvalPython nodes and
      EIGHT parquet scans, re-running the projection UDF once per
      consumer. Materializing (id, v, sig) once makes every consumer
      a checkpoint read: one scan, one UDF pass.
    """
    width = n_bits // bands
    if width > 63 or 64 % width:
        raise ValueError(f"band width must divide 64 and be < 64, "
                         f"got {width} (n_bits={n_bits}, bands={bands})")
    s = s.localCheckpoint(eager=True)
    base = s.select("id", "v")
    banded = s.select(
        "id",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright(F.col("sig").getItem((c * width) // 64),
                                  (c * width) % 64)
                     .bitwiseAND((1 << width) - 1).alias("val"))
            for c in range(bands)
        ])).alias("b"),
    ).select("id", F.col("b.chunk"), F.col("b.val"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (cand
             .join(base.select(F.col("id").alias("id_a"),
                               F.col("v").alias("va")), "id_a")
             .join(base.select(F.col("id").alias("id_b"),
                               F.col("v").alias("vb")), "id_b"))
    na = F.sqrt(_dot(F.col("va"), F.col("va")))
    nb = F.sqrt(_dot(F.col("vb"), F.col("vb")))
    return (
        pairs.select("id_a", "id_b",
                     F.round(_dot(F.col("va"), F.col("vb")) / (na * nb), 6)
                     .alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def embedding_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs → (id_a, id_b, cosine ≥ t).

    SimHash-for-vectors: sgn(v·h_i) bits from ``LSH_BITS`` seeded
    Gaussian hyperplanes (P[bit match] = 1 − θ/π), banded
    pigeonhole-style into ``LSH_BANDS`` equal chunks; vectors agreeing
    on ≥1 whole band become candidates via an equi-join on (band,
    chunk value), then candidates
    are verified with the exact JVM cosine — so precision is 1 and only
    recall is approximate (16 bands of 16 bits: ≈1.0 at cos 0.99,
    ≈0.96 at 0.95, ≈2·10⁻⁴ of random pairs). Shuffle keys are band
    chunk values — work scales with bucket sizes, never n², PROVIDED
    the band space exceeds the corpus: the r10 sf1 probe measured the
    old 8-bit bands (256 values) going quadratic at 20k vectors (32×
    time at 10× data) because every bucket crowds; 16-bit bands hold
    to ~100k vectors, 32-bit bands (256 bits in 8 bands) are the
    billion-vector setting. The one driver action is a single-row
    ``first()`` to infer the vector dimension.
    """
    dim = len(emb.select("embedding").dropna().first()[0])
    rng = np.random.default_rng(42)
    sig = _hyperplane_sig_udf(rng.standard_normal((dim, LSH_BITS)))
    s = (emb.select(F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"))
         .where(F.col("v").isNotNull())
         .withColumn("sig", sig("v")))
    return _lsh_band_verify(s, LSH_BITS, LSH_BANDS, COSINE_THRESHOLD)


def _pinned_sign_planes(dim: int, n_bits: int) -> np.ndarray:
    """±1 sign-projection hyperplanes derived from md5 — the engine-
    portable pinning that makes the LSH face oracle-checkable (the E76
    md5-MinHash precedent): plane entry (j, d) is +1 iff the first 8
    hex chars of md5("j_d") are even. md5 is md5 in every engine, so
    DuckDB reproduces the identical matrix from SQL while Spark builds
    it driver-side (bounded: n_bits × dim ints)."""
    import hashlib

    mat = np.empty((dim, n_bits), dtype=np.int64)
    for j in range(n_bits):
        for d in range(dim):
            h = int(hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:8], 16)
            mat[d, j] = 1 if h % 2 == 0 else -1
    return mat


def _pinned_sig_udf(mat: np.ndarray):
    """Arrow-batched signature against a ±1 INTEGER plane matrix over
    int8-quantized codes: the dot products are exact integer sums, so
    the sign bits are bit-identical across engines regardless of float
    summation order (the reason the pinned face quantizes first —
    a float dot near zero could flip a bit between numpy and SQL).
    Quantization is the engine-shared floor(x/m·127+0.5) round-half-up
    of quantize_embeddings."""

    @F.pandas_udf("array<long>")
    def sig(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        out = np.empty(len(vals), dtype=object)
        mask = np.array([v is not None for v in vals], dtype=bool)
        if mask.any():
            m = np.stack(vals[mask]).astype(np.float64)
            mx = np.abs(m).max(axis=1, keepdims=True)
            safe = np.where(mx > 0, mx, 1.0)
            codes = np.where(mx > 0,
                             np.floor(m / safe * 127.0 + 0.5),
                             0.0).astype(np.int64)
            packed = _pack_sig_rows((codes @ mat) > 0)
            for pos, v in zip(np.flatnonzero(mask), packed):
                out[pos] = v
        return pd.Series(out)

    return sig


def embedding_lsh_pairs_pinned(emb: DataFrame) -> DataFrame:
    """The oracle-checkable face of ``embedding_lsh_pairs``: identical
    band-join-verify dataflow, but the Gaussian hyperplanes are
    replaced by the md5-pinned ±1 sign planes over int8-quantized
    codes, so every sign bit — hence every candidate pair — is an
    exact integer computation DuckDB reproduces from SQL. Same plan
    shape and shuffle keys as the production face; only the projection
    matrix differs (sign projections are themselves a standard SimHash
    choice, not a test-only approximation)."""
    dim = len(emb.select("embedding").dropna().first()[0])
    sig = _pinned_sig_udf(_pinned_sign_planes(dim, LSH_BITS))
    s = (emb.select(F.col("vec_id").alias("id"),
                    F.col("embedding").alias("v"))
         .where(F.col("v").isNotNull())
         .withColumn("sig", sig("v")))
    return _lsh_band_verify(s, LSH_BITS, LSH_BANDS, COSINE_THRESHOLD)


def quantize_embeddings(emb: DataFrame, round_scale: bool = True) -> DataFrame:
    """Symmetric per-vector int8 quantization → (vec_id, scale, codes).

    The storage-compression step of an embedding pipeline: float32 →
    int8 is a 4× cut (and the format ANN accelerators consume).
    Per-vector max-abs scaling: ``code_i = floor(x_i / m · 127 + 0.5)``
    with m = max|x| (round-half-up via floor so the arithmetic is
    bit-identical in any engine; ``round()`` half-even vs half-away
    differs across engines). All-zero vectors get scale 0 and all-zero
    codes. Dequantization is ``code · m / 127``, with per-element
    error ≤ m/254 — pinned by test. Pure array intrinsics over a
    narrow map: streams at scan speed.

    ``round_scale=True`` (the reporting face, and the oracle
    convention) rounds the emitted scale to 6 dp; dequantization
    consumers MUST pass ``round_scale=False`` so codes and scale use
    the same raw max-abs value — dequantizing with the rounded scale
    introduces ulp-level drift that can flip shortlist membership at a
    rerank cut even though cosine itself is scale-invariant.
    """
    xd = F.col("embedding").cast("array<double>")
    m = F.array_max(F.transform(xd, lambda v: F.abs(v)))
    codes = F.when(m > 0, F.transform(
        xd, lambda v: F.floor(v / m * 127.0 + 0.5).cast("int"))) \
        .otherwise(F.transform(xd, lambda v: F.lit(0)))
    return emb.select(
        F.col("vec_id"),
        (F.round(m, 6) if round_scale else m).alias("scale"),
        codes.alias("codes"),
    )


def quantized_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Top-k cosine search over the int8-QUANTIZED corpus with exact
    rerank → (query_id, neighbor_id, cosine, rank).

    Two stages: (1) score dequantized codes against the broadcast
    queries and keep ``RERANK_FACTOR·KNN_K`` candidates per query — at
    scale this stage scans the codes table, 4× smaller than the float
    corpus, which is the point of quantizing; (2) join the short
    candidate list (bounded: RERANK_FACTOR·KNN_K rows per query) back to
    the float vectors and rerank by exact cosine. Reported cosines are
    therefore exact; only RECALL is approximate, bounded by how often
    a true top-k neighbor falls outside the quantized top
    ``RERANK_FACTOR·KNN_K`` (property-tested ≥ 0.9 at the defaults).
    """
    deq = quantize_embeddings(corpus, round_scale=False).select(
        "vec_id",
        F.transform("codes",
                    lambda c: c * F.col("scale") / 127.0).alias("embedding"))
    cand = cosine_topk(deq, queries, k=RERANK_FACTOR * KNN_K) \
        .select("query_id", "neighbor_id")
    c = with_l2_norm(corpus.select(F.col("vec_id").alias("neighbor_id"),
                                   F.col("embedding").alias("c_vec")),
                     "c_vec", "c_norm")
    q = with_l2_norm(queries.select(F.col("vec_id").alias("query_id"),
                                    F.col("embedding").alias("q_vec")),
                     "q_vec", "q_norm")
    scored = (cand.join(c, "neighbor_id").join(F.broadcast(q), "query_id")
              .select("query_id", "neighbor_id",
                      (_dot(F.col("q_vec"), F.col("c_vec"))
                       / (F.col("q_norm") * F.col("c_norm")))
                      .alias("cosine_raw")))
    return _rank_topk(scored, KNN_K)


def semantic_dedup(emb: DataFrame, centroids: DataFrame,
                   threshold: float = 0.3) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embeddings, then WITHIN each cluster drop every vector that has a
    sufficiently-cosine-similar representative with a smaller id —
    semantic near-duplicates collapse to one exemplar per ε-ball,
    O(cluster²) instead of O(corpus²).

    Returns every input id with (cluster, dropped): ``dropped`` is
    true iff some same-cluster vector with a smaller id has rounded
    cosine ≥ ``threshold`` (round-then-compare on 6 dp, the engine
    convention that keeps threshold-straddling ulps engine-portable).

    Scale shape: the pair join is an equi-join ON THE CLUSTER ID — at
    real scale ``centroids`` comes from ``clustering.kmeans_fit`` with
    k ≈ √N lists sized so clusters fit a task (the IVF geometry), so
    the quadratic term is bounded per cluster and the whole step is
    one parallel hash join + one semi-join. The assignment table
    (id, cluster, vector, norm) is materialized ONCE
    (``localCheckpoint`` — the E52 move: Catalyst does not reuse a
    subtree across the three consumers, so without it the corpus
    would be scanned and re-assigned three times; plan-contract-pinned
    to zero FileScans in the final plan). The oracle face fixes 4
    seed centroids, which makes every value deterministic and
    SQL-checkable; recall/precision of the clustering itself is the
    property-tested concern of the k-means trainer, not this operator.
    """
    v = emb.select(F.col("vec_id").alias("_id"),
                   F.col("embedding").cast("array<double>").alias("_v"))
    dist = F.aggregate(
        F.zip_with("_v", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    # one corpus pass: broadcast-cross the small centroid table,
    # min-struct argmin keyed by id, vector carried through the agg
    # (constant within its group) — no join-back scan
    sides = with_l2_norm(
        v.crossJoin(F.broadcast(centroids))
        .select("_id", "_v",
                F.struct(dist.alias("d"),
                         F.col("centroid_id").alias("cid")).alias("s"))
        .groupBy("_id").agg(F.min("s").alias("b"),
                            F.first("_v").alias("_v"))
        .select("_id", F.col("b.cid").alias("cluster"), "_v"),
        "_v", "_n").localCheckpoint(eager=True)
    a = sides.select(F.col("_id").alias("id_a"), "cluster",
                     F.col("_v").alias("va"), F.col("_n").alias("na"))
    b = sides.select(F.col("_id").alias("id_b"),
                     F.col("cluster").alias("cluster_b"),
                     F.col("_v").alias("vb"), F.col("_n").alias("nb"))
    dup_ids = (a.join(b, (F.col("cluster") == F.col("cluster_b"))
                      & (F.col("id_a") < F.col("id_b")))
               .where(F.round(_dot(F.col("va"), F.col("vb"))
                              / (F.col("na") * F.col("nb")), 6)
                      >= threshold)
               .select(F.col("id_b").alias("_id")).distinct()
               .withColumn("_dup", F.lit(True)))
    return (sides.select("_id", "cluster")
            .join(dup_ids, "_id", "left")
            .select(F.col("_id").alias("vec_id"), "cluster",
                    F.coalesce(F.col("_dup"), F.lit(False)).alias("dropped")))


def embedding_gram(emb: DataFrame) -> DataFrame:
    """Distributed Gram matrix -> (i, j, value): the upper triangle of
    (1/n) * sum over vectors of v v-transpose, 1-based indices.

    The one-pass linear-algebra kernel PCA / ZCA-whitening /
    covariance-conditioning of an embedding corpus starts from (MLlib's
    ``computeGramianMatrix``, the classic map-reduce outer-product
    sum). Scale shape: each Arrow batch contributes ONE d x d partial
    via a BLAS matmul (``M.T @ M``) inside ``mapInPandas``, so the
    shuffle carries #batches x d(d+1)/2 fixed-width rows — independent
    of n. The per-batch row count rides along and the final division
    happens in-plan, so the whole thing is one job with no driver
    state. The MEAN (not raw sum) is returned so the 6-dp rounding
    sits at O(1) magnitudes where cross-engine summation-order noise
    (~1e-12 relative) cannot flip a rounding boundary.

    Python is justified here (X3): a per-element JVM expression would
    evaluate d^2 products per ROW with no fused multiply — the BLAS
    batch matmul is the vectorized form of exactly that loop.
    """
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            vals = [v for v in pdf["embedding"].to_numpy() if v is not None]
            if not vals:
                continue
            m = np.stack(vals).astype(np.float64)
            g = m.T @ m
            iu, ju = np.triu_indices(g.shape[0])
            yield pd.DataFrame({
                "i": (iu + 1).astype(np.int32),
                "j": (ju + 1).astype(np.int32),
                "psum": g[iu, ju],
                "pn": np.full(len(iu), len(m), dtype=np.int64),
            })

    from .util import ensure_fanout

    # a sub-row-group scan arrives as one split — fan out so the batch
    # matmuls use every core (no-op when the scan has enough splits)
    parts = ensure_fanout(emb.select("embedding")).mapInPandas(
        partials, "i int, j int, psum double, pn long")
    return (parts.groupBy("i", "j")
            .agg(F.sum("psum").alias("_s"), F.sum("pn").alias("_n"))
            .select("i", "j",
                    F.round(F.col("_s") / F.col("_n"), 6).alias("value")))


def pca_components(emb: DataFrame) -> "np.ndarray":
    """Exact corpus PCA basis -> (PCA_COMPONENTS, d) ndarray: top
    eigenvectors of the covariance, computed from ONE distributed pass.

    Composition of :func:`embedding_gram`: cov = E[v v^T] - mean
    mean^T, where the mean outer product comes from the Gram kernel
    (shuffle independent of n) and the per-dimension mean from d
    JVM ``sum`` aggregates. The eigendecomposition itself runs on the
    DRIVER over a d x d matrix — bounded driver state of the same kind
    as the L*K MRFFT coreset, NOT a data-sized collect (d is 64-4096
    in practice; the corpus never leaves the executors).

    Signs are canonicalized (largest-|coefficient| entry positive) so
    the basis is deterministic across LAPACK implementations.
    """
    import numpy as np

    first = (emb.select("embedding").where(F.col("embedding").isNotNull())
             .first())
    if first is None:
        raise ValueError("no non-null vectors to fit PCA on")
    d = len(first[0])
    if PCA_COMPONENTS > d:
        raise ValueError(f"n_components {PCA_COMPONENTS} > dim {d}")
    gram = {(r.i, r.j): r.value
            for r in embedding_gram(emb).collect()}
    nn = emb.where(F.col("embedding").isNotNull())
    sums = nn.agg(
        F.count("*").alias("_n"),
        *[F.sum(F.element_at(F.col("embedding"), i + 1)).alias(f"_s{i}")
          for i in range(d)]).collect()[0]
    mean = np.array([sums[f"_s{i}"] for i in range(d)],
                    dtype=np.float64) / sums["_n"]
    g = np.zeros((d, d))
    for (i, j), v in gram.items():
        g[i - 1, j - 1] = v
        g[j - 1, i - 1] = v
    cov = g - np.outer(mean, mean)
    vals, vecs = np.linalg.eigh(cov)          # ascending
    comps = vecs[:, ::-1][:, :PCA_COMPONENTS].T  # (k, d), top-down
    for r in range(comps.shape[0]):
        if comps[r, np.argmax(np.abs(comps[r]))] < 0:
            comps[r] = -comps[r]
    return comps


def pca_project(emb: DataFrame, components: "np.ndarray") -> DataFrame:
    """Project vectors onto a PCA basis -> (id, projected): the
    dimensionality-reduction step before ANN indexing (a 64->8 cut
    shrinks the index 8x and the scan cost with it). The (k, d)
    component matrix rides to executors as a closure-captured
    ndarray (the X4 broadcast pattern, plan size O(1)); projection is
    one BLAS matmul per Arrow batch. Null vectors project to null.
    """
    import numpy as np

    comp = np.ascontiguousarray(components, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        vals = vecs.to_numpy()
        out = np.empty(len(vals), dtype=object)
        mask = np.array([v is not None for v in vals], dtype=bool)
        if mask.any():
            m = np.stack(vals[mask]).astype(np.float64)
            p = m @ comp.T
            for pos, row in zip(np.flatnonzero(mask), p):
                out[pos] = row.tolist()
        return pd.Series(out)

    return emb.select(F.col("vec_id"),
                      project(F.col("embedding")).alias("projected"))


def mmr_rerank(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``MMR_K`` results that balance query relevance
    against redundancy with what is already picked —
    ``score(d) = λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)``
    with λ = ``MMR_LAM``.

    The diversity step a retrieval-augmented or dedup-aware selection
    pipeline runs AFTER top-k: plain cosine top-k returns near-copies
    of one passage; MMR k=5 over a pool of 20 returns five *distinct*
    relevant passages.

    Shape: stage 1 is the distributed exact ``cosine_topk`` pool of
    ``MMR_POOL`` (broadcast queries, corpus never shuffled); the greedy
    stage is ``MMR_K`` UNROLLED relational steps over the persisted
    pool — each an anti-join (drop picked), a query-keyed join to the
    ≤ i picked rows for the pairwise max, and a per-query argmax —
    every join keyed on query_id, every frame bounded by queries ×
    pool. Greedy
    selection is inherently sequential in k (each pick conditions the
    next), so fixed-k unrolling is the honest dataflow — and keeps
    the whole thing deterministic relational algebra with a DuckDB
    oracle (same unrolled CTEs), unlike a per-query Python kernel.
    Ranks on RAW doubles (ties by cand id), rounds only reported
    values — the ``_rank_topk`` convention.
    """
    k, pool_size, lam = MMR_K, MMR_POOL, MMR_LAM
    lam1 = 1.0 - lam
    q = with_l2_norm(queries.select(F.col("vec_id").alias("query_id"),
                                    F.col("embedding").alias("qv")),
                     "qv", "qn")
    c = with_l2_norm(corpus.select(F.col("vec_id").alias("cand_id"),
                                   F.col("embedding").alias("cv")),
                     "cv", "cn")
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col("query_id") != F.col("cand_id"))
              .select("query_id", "cand_id", "cv", "cn",
                      (_dot(F.col("qv"), F.col("cv"))
                       / (F.col("qn") * F.col("cn"))).alias("rel")))
    w = W.partitionBy("query_id").orderBy(F.col("rel").desc(),
                                          F.col("cand_id"))
    pool = (scored.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= pool_size).drop("_r").persist())

    def _pick(frame: DataFrame, rank: int) -> DataFrame:
        ww = W.partitionBy("query_id").orderBy(F.col("score").desc(),
                                               F.col("cand_id"))
        return (frame.withColumn("_rr", F.row_number().over(ww))
                .where(F.col("_rr") == 1).drop("_rr")
                .withColumn("mmr_rank", F.lit(rank)))

    # each sel_i sits under every later step's anti-join, pairwise max
    # AND union, so the LOGICAL plan doubles per step — persist() alone
    # doesn't help because Catalyst still analyzes the full unrolled
    # tree (measured: step times 1.7 → 3.3 → OOM at k=5, sf0.01).
    # localCheckpoint truncates the lineage each round — the
    # connected_components / MRFFT iterative contract (SURVEY §3.2);
    # the checkpointed state is ≤ queries × k tiny rows. LAZY (the
    # label_propagation treatment): the plan is truncated immediately
    # either way, but eager ran k blocking driver round-trips — lazy
    # lets the caller's single action materialize the whole chain.
    sel = _pick(pool.withColumn(
        "score", F.lit(lam) * F.col("rel") - F.lit(lam1) * F.lit(0.0)),
        1).localCheckpoint(eager=False)
    for i in range(2, k + 1):
        rem = pool.join(sel.select("query_id", "cand_id"),
                        ["query_id", "cand_id"], "left_anti")
        ms = (rem.join(sel.select("query_id",
                                  F.col("cv").alias("sv"),
                                  F.col("cn").alias("sn")), "query_id")
              .groupBy("query_id", "cand_id")
              .agg(F.max(_dot(F.col("cv"), F.col("sv"))
                         / (F.col("cn") * F.col("sn"))).alias("_m")))
        cand = (rem.join(ms, ["query_id", "cand_id"], "left")
                .withColumn("score",
                            F.lit(lam) * F.col("rel")
                            - F.lit(lam1) * F.coalesce("_m", F.lit(0.0)))
                .drop("_m"))
        sel = sel.unionByName(_pick(cand, i)).localCheckpoint(eager=False)
    return sel.select("query_id",
                      F.col("cand_id").alias("neighbor_id"),
                      F.col("mmr_rank").cast("long").alias("mmr_rank"),
                      F.round("rel", 6).alias("cosine"),
                      F.round("score", 6).alias("mmr_score"))


def ivf_topk_pinned(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    cent_below: int | None = None) -> DataFrame:
    """IVF approximate top-k cosine with FIXED centroids — the oracle
    face of :func:`ivf_topk`, same schema as ``cosine_topk``.

    The Lloyd/PQ fixed-centroid move applied to IVF: centroids are the
    first ``IVF_N_LISTS`` corpus vectors, so list assignment, probing and
    scoring are ALL relational JVM expressions (no sampled k-means, no
    Arrow kernel) and a DuckDB oracle reproduces the entire dataflow —
    assignment argmin (squared L2, list-id tiebreak, the
    ``embedding_lloyd_round`` convention), per-query ``IVF_NPROBE``
    nearest lists, exact cosine over only the probed lists. Recall vs
    the exact scan is a property of the geometry, identical in both
    engines, so the face value-checks the IVF DATAFLOW exactly while
    ``ivf_topk`` keeps the production trained-codebook path.

    Scale shape identical to the production face: the IVF_N_LISTS-row
    centroid table broadcasts into one argmin per corpus vector, the
    probe join is an equi-join on list_id, and only probed lists are
    scored — never an all-pairs scan.

    ``cent_below`` widens the pinned-centroid rule for corpora whose
    id space doesn't start at 0 (the mutual-NN sides): centroids are
    the corpus rows with ``id < cent_below`` (default ``IVF_N_LISTS``) —
    still a pure predicate both engines state identically, and the
    list count is however many corpus rows match (sparse id spaces
    yield fewer, denser never more than the cap by construction of
    the caller's choice).
    """
    cents = (corpus.where(F.col("vec_id") < (cent_below if cent_below
                                           is not None else IVF_N_LISTS))
             .select(F.col("vec_id").cast("int").alias("list_id"),
                     F.col("embedding").cast("array<double>").alias("cv")))

    def sq_l2(vec):
        return F.aggregate(
            F.zip_with(vec, "cv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)

    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").cast("array<double>").alias("v"))
    assigned = (c.crossJoin(F.broadcast(cents))
                .select("neighbor_id", "v",
                        F.struct(sq_l2(F.col("v")).alias("d"),
                                 F.col("list_id").alias("lid")).alias("s"))
                .groupBy("neighbor_id")
                .agg(F.min("s").alias("b"), F.first("v").alias("v"))
                .select("neighbor_id", F.col("b.lid").alias("list_id"),
                        "v"))
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("qv"))
    # IVF_NPROBE nearest lists per query: bounded IVF_N_LISTS rows per
    # query,
    # query-keyed window — no global funnel
    wp = W.partitionBy("query_id").orderBy(F.col("_d"), F.col("list_id"))
    probes = (q.crossJoin(F.broadcast(cents))
              .select("query_id", "qv", F.col("list_id"),
                      sq_l2(F.col("qv")).alias("_d"))
              .withColumn("_pr", F.row_number().over(wp))
              .where(F.col("_pr") <= IVF_NPROBE)
              .select("query_id", "qv", "list_id"))
    scored = (probes.join(assigned, "list_id")
              .where(F.col("query_id") != F.col("neighbor_id"))
              .select("query_id", "neighbor_id",
                      (_dot(F.col("qv"), F.col("v"))
                       / (F.sqrt(_dot(F.col("qv"), F.col("qv")))
                          * F.sqrt(_dot(F.col("v"), F.col("v")))))
                      .alias("cosine_raw")))
    return _rank_topk(scored, k)


def reciprocal_best_match(side_a: DataFrame, side_b: DataFrame) -> DataFrame:
    """Reciprocal best match / mutual nearest neighbors (E166) →
    ``(id_a, id_b, cosine)``: pairs where b is a's cosine top-1 in
    ``side_b`` AND a is b's top-1 back in ``side_a``.

    The bilingual-lexicon-induction / cross-modal alignment primitive
    (MUSE-style): one-directional top-1 is noisy under hubness —
    mutuality is the standard filter. ``side_a`` is the bounded query
    set (it broadcasts, the retrieval convention); the back direction
    is scored only for the candidate b's that won a forward match —
    ≤ |A| vectors — against ``side_a`` as the corpus, so the whole
    operator is two query-bounded scans of the big side, never
    |B|-side all-pairs.

    Contract: ``vec_id`` values must be DISJOINT across the two sides.
    Scoring reuses :func:`cosine_topk`, whose self-exclusion is by id
    equality — a b sharing an id value with an a would be silently
    excluded from both directions even though cross-set matching
    legitimately allows equal ids. Callers matching sets with
    overlapping id spaces must disambiguate first (e.g. prefix the id
    by side); the registry face uses disjoint halves of ``vec_id``.
    """
    # fwd is ≤|A| rows but consumed twice (candidate semi-join + the
    # mutuality join) — un-checkpointed, the whole forward scan of the
    # big side re-runs per consumer (the subtree-reuse lesson). EAGER
    # deliberately (r14 A/B): both consumers are broadcast build sides
    # that race to materialize a lazy checkpoint concurrently — the
    # cache-population race re-ran the expensive forward scan and
    # measured as a regression; one blocking job is the cheaper form.
    # Collecting fwd to a driver-local relation (collect +
    # createDataFrame, broadcast to both consumers) is ALSO a regression — exact 2.69 -> 2.93 s median,
    # IVF 3.15 -> 3.81 (interleaved min-of-6) — the Python->JVM
    # literal round-trip costs more than the checkpoint job it
    # replaces. Both alternatives now measured; eager stands.
    fwd = (cosine_topk(side_b, side_a, k=1)
           .select(F.col("query_id").alias("id_a"),
                   F.col("neighbor_id").alias("id_b"),
                   F.col("cosine").alias("cosine"))
           .localCheckpoint(eager=True))
    cand = (side_b.join(
        fwd.select(F.col("id_b").alias("vec_id")).distinct(), "vec_id"))
    back = (cosine_topk(side_a, cand, k=1)
            .select(F.col("query_id").alias("id_b"),
                    F.col("neighbor_id").alias("id_a")))
    return fwd.join(back, ["id_a", "id_b"]).select("id_a", "id_b",
                                                   "cosine")


def reciprocal_best_match_ivf(side_a: DataFrame, side_b: DataFrame,
                              cent_below_a: int = 16) -> DataFrame:
    """Mutual nearest neighbors with BOTH directions routed through
    the pinned-IVF index (E172) → ``(id_a, id_b, cosine)``.

    The 100 TB path for pipeline-embedded mutual-NN:
    :func:`reciprocal_best_match` scans the big side exactly (the
    honest run-once audit), while this variant scores each direction
    against only the ``IVF_NPROBE`` probed lists — per-query work is
    ``IVF_NPROBE / IVF_N_LISTS`` of the corpus, the IVF contract. The
    recall cost of probing is MEASURED, not assumed: the
    ``knn_eval_reciprocal`` gate scores these pairs against the exact
    mutual set. Same disjoint-id contract as the exact form.

    ``cent_below_a`` pins A's centroid set (rows with id below the
    bound; B's are its rows with id below ``IVF_N_LISTS`` — the sides'
    id spaces differ, so one rule can't serve both); list assignment,
    probing and scoring stay fully relational, hence oracle-checkable.
    """
    fwd = (ivf_topk_pinned(side_b, side_a, k=1)
           .select(F.col("query_id").alias("id_a"),
                   F.col("neighbor_id").alias("id_b"),
                   F.col("cosine").alias("cosine"))
           .localCheckpoint(eager=True))  # ≤|A| rows, two consumers
    # (eager deliberately — the consumers race a lazy checkpoint; see
    # reciprocal_best_match)
    cand = (side_b.join(
        fwd.select(F.col("id_b").alias("vec_id")).distinct(), "vec_id"))
    back = (ivf_topk_pinned(side_a, cand, k=1, cent_below=cent_below_a)
            .select(F.col("query_id").alias("id_b"),
                    F.col("neighbor_id").alias("id_a")))
    return fwd.join(back, ["id_a", "id_b"]).select("id_a", "id_b",
                                                   "cosine")


def centroid_drift(base: DataFrame, cur: DataFrame) -> DataFrame:
    """Per-label embedding centroid drift (E171) → ``(label, n_base,
    n_cur, l2_shift, top_dim, top_dim_shift)``: how far each label's
    mean vector moved between two snapshots, with the single most
    responsible dimension.

    The embedding-model drift monitor (re-embedding after a model
    update, or data drift under a frozen model): centroids are
    per-(label, dim) averages from one ``posexplode`` + one hash
    aggregate per snapshot — the corpus never moves, only
    #labels × dim aggregate rows — joined on (label, dim) and reduced
    to the L2 norm and argmax dimension (min-dim tiebreak). Everything
    after the two scans is dimension-grid-sized.

    Contract: drift is reported only for labels present in BOTH
    snapshots (the (label, dim) join is inner — a label that appeared
    or vanished has no "shift", it's a membership change; diff it with
    the snapshot-diff operator instead), and a label's vectors must
    share one dimensionality — dims beyond a shorter vector have no
    base/cur pair to compare. Per-label counts are taken as the MAX
    across dims so ragged inputs surface as n_base/n_cur disagreement
    rather than a nondeterministic first-dim read.
    """
    def cents(df, n_col):
        ex = df.select(F.col("label").alias("lbl"),
                       F.posexplode("embedding").alias("dim", "v"))
        return ex.groupBy("lbl", "dim").agg(
            F.avg("v").alias("c"),
            F.count("*").alias(n_col))
    b = cents(base, "_nb")
    c = cents(cur, "_nc")
    j = (b.select("lbl", "dim", F.col("c").alias("_cb"), "_nb")
         .join(c.select("lbl", "dim", F.col("c").alias("_cc"), "_nc"),
               ["lbl", "dim"])
         .select("lbl", "dim", "_nb", "_nc",
                 (F.col("_cc") - F.col("_cb")).alias("_d")))
    shift = F.sqrt(F.sum(F.col("_d") * F.col("_d")))
    top = F.min(F.struct((-F.abs("_d")).alias("s"),
                         F.col("dim").alias("d")))
    return (j.groupBy(F.col("lbl").alias("label"))
            .agg(F.max("_nb").cast("long").alias("n_base"),
                 F.max("_nc").cast("long").alias("n_cur"),
                 F.round(shift, 6).alias("l2_shift"),
                 top.alias("_t"))
            .select("label", "n_base", "n_cur", "l2_shift",
                    F.col("_t.d").cast("int").alias("top_dim"),
                    F.round(-F.col("_t.s"), 6).alias("top_dim_shift")))


def hubness_report(emb: DataFrame) -> DataFrame:
    """Hubness diagnostic of the exact k-NN graph (E197) → ONE row
    ``(n_vectors, k, max_in_degree, n_antihubs, skewness)``.

    The ANN-health readout Radovanovic et al. 2010 made standard: in
    high dimension, a few "hub" vectors appear in a disproportionate
    share of OTHER vectors' top-k lists while "antihubs" appear in
    none — a skewed in-degree distribution degrades every downstream
    consumer (near-dup verify misses, retrieval over-returns hubs) and
    is invisible to recall-style gates, which score each query
    independently. Readout: the in-degree distribution's max, the
    antihub count (in-degree 0, ZERO-degree vectors included via the
    left join — dropping them understates the pathology), and its
    population skewness g₁ from integer moment sums (Σd, Σd², Σd³ are
    exact BIGINTs, so both engines divide the same integers — parity
    is structural).

    Scale: the exact k-NN graph is quadratic by intent — this is a
    RUN-ONCE index-rollout gate on the pinned eval subset (the
    knn_reciprocal_best treatment), not a pipeline stage; production
    paths route through the IVF faces, and hubness on a larger corpus
    is measured on a deterministic id-ordered sample.
    """
    nn = cosine_topk(emb, emb, k=KNN_K)
    indeg = nn.groupBy(F.col("neighbor_id").alias("_id")).agg(
        F.count("*").cast("long").alias("_d"))
    full = (emb.select(F.col("vec_id").alias("_id"))
            .join(indeg, "_id", "left")
            .select(F.coalesce(F.col("_d"), F.lit(0)).alias("_d")))
    m = full.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.max("_d").alias("max_in_degree"),
        F.sum((F.col("_d") == 0).cast("long")).cast("long")
        .alias("n_antihubs"),
        F.sum("_d").alias("_s1"),
        F.sum(F.col("_d") * F.col("_d")).alias("_s2"),
        F.sum(F.col("_d") * F.col("_d") * F.col("_d")).alias("_s3"))
    n = F.col("n_vectors").cast("double")
    mu = F.col("_s1") / n
    var = F.col("_s2") / n - mu * mu
    m3 = F.col("_s3") / n - 3 * mu * F.col("_s2") / n + 2 * mu * mu * mu
    # denominator as var * sqrt(var), never pow(sqrt(var), 3): the two
    # engines' pow() libraries may differ in the last ulp, plain * and
    # sqrt are IEEE-pinned
    return m.select(
        "n_vectors", F.lit(KNN_K).cast("long").alias("k"),
        "max_in_degree", "n_antihubs",
        F.when(var > 0, F.round(m3 / (var * F.sqrt(var)), 6))
        .alias("skewness"))


def prefix_dim_recall(emb: DataFrame) -> DataFrame:
    """Matryoshka prefix-dimension retrieval gate (E198) → ONE row
    ``(n_queries, k, prefix_dim, recall)``.

    The rollout question for truncatable (MRL-style) embeddings: "if
    we keep only the first ``RECALL_PREFIX_DIM`` of ``dim``
    coordinates — half the storage, half the FLOPs — what fraction of
    the full-dimension top-k do we still retrieve?" recall = |top_k(prefix) ∩
    top_k(full)| / k averaged over the pinned query set, the same
    pair-set metric as the IVF gate so the two readouts compare.

    Scale: two bounded-query-set exact scans (the sanctioned
    brute-force shape — queries broadcast, corpus scanned once each),
    one equi-join on (query, neighbor), one global average. The
    prefix side SLICES the stored vector in-plan; no second embedding
    table is materialized.
    """
    queries = emb.where(F.col("vec_id") < RECALL_QUERIES)
    full = cosine_topk(emb, queries, k=KNN_K)
    pemb = emb.select("vec_id",
                      F.slice("embedding", 1, RECALL_PREFIX_DIM)
                      .alias("embedding"))
    pq = pemb.where(F.col("vec_id") < RECALL_QUERIES)
    pref = cosine_topk(pemb, pq, k=KNN_K)
    hits = (full.select("query_id", "neighbor_id")
            .join(pref.select("query_id", "neighbor_id"),
                  ["query_id", "neighbor_id"])
            .groupBy("query_id").agg(F.count("*").alias("_h")))
    per_q = (full.select("query_id").distinct()
             .join(hits, "query_id", "left")
             .select(F.coalesce(F.col("_h"), F.lit(0)).alias("_h")))
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(KNN_K).alias("k"),
        F.lit(RECALL_PREFIX_DIM).alias("prefix_dim"),
        F.round(F.sum("_h") / (F.count("*") * KNN_K), 6).alias("recall"))


def triplet_mining(emb: DataFrame) -> DataFrame:
    """Hardest-positive / semi-hard-negative triplet mining (E199) →
    one row per anchor: ``(anchor_id, pos_id, pos_cos, neg_id,
    neg_cos, margin)``.

    The contrastive-training data step (FaceNet's mining rule,
    Schroff et al. 2015) on a labeled embedding table: per anchor,
    the hardest POSITIVE is the same-label vector with the LOWEST
    cosine (the pair the model finds hardest to pull together) and
    the SEMI-HARD negative is the different-label vector with the
    highest cosine that is still FARTHER than the positive
    (cos_neg < cos_pos) — harder negatives than the positive produce
    gradient collapse, so the semi-hard band is the useful one.
    Anchors with no semi-hard negative surface with null neg columns
    (dropping them would hide exactly the anchors whose positives are
    already too weak). margin = pos_cos − neg_cos.

    Determinism: both argmaxes run as ONE min/max of a (cosine, id)
    struct — lexicographic, so ties break to the smaller id for the
    positive and (via negated id) the smaller id for the negative,
    with no row_number shuffle. Scale: the anchor set is bounded and
    BROADCASTS against the corpus (the sanctioned bounded-query-set
    scan); per-anchor state is two structs, map-side combinable.
    """
    anchors = emb.select(F.col("vec_id").alias("_aid"),
                         F.col("label").alias("_alab"),
                         F.col("embedding").alias("_avec"))
    anchors = with_l2_norm(anchors.where(F.col("_aid")
                                         < TRIPLET_ANCHORS_BELOW),
                           "_avec", "_anorm")
    cand = with_l2_norm(
        emb.select(F.col("vec_id").alias("_cid"),
                   F.col("label").alias("_clab"),
                   F.col("embedding").alias("_cvec")), "_cvec", "_cnorm")
    scored = (F.broadcast(anchors).crossJoin(cand)
              .where(F.col("_aid") != F.col("_cid"))
              .select("_aid", "_alab", "_clab", "_cid",
                      (_dot(F.col("_avec"), F.col("_cvec"))
                       / (F.col("_anorm") * F.col("_cnorm")))
                      .alias("_cos")))
    pos = (scored.where(F.col("_clab") == F.col("_alab"))
           .groupBy("_aid")
           .agg(F.min(F.struct("_cos", "_cid")).alias("_p"))
           .select("_aid", F.col("_p._cid").alias("pos_id"),
                   F.col("_p._cos").alias("_pcos")))
    neg = (scored.where(F.col("_clab") != F.col("_alab"))
           .join(F.broadcast(pos), "_aid")
           .where(F.col("_cos") < F.col("_pcos"))
           .groupBy("_aid")
           .agg(F.max(F.struct(F.col("_cos"),
                               (-F.col("_cid")).alias("_nid")))
                .alias("_n"))
           .select("_aid", (-F.col("_n._nid")).alias("neg_id"),
                   F.col("_n._cos").alias("_ncos")))
    return (pos.join(neg, "_aid", "left")
            .select(F.col("_aid").alias("anchor_id"), "pos_id",
                    F.round("_pcos", 6).alias("pos_cos"), "neg_id",
                    F.round("_ncos", 6).alias("neg_cos"),
                    F.round(F.col("_pcos") - F.col("_ncos"), 6)
                    .alias("margin")))


def rp_distortion(emb: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss random-projection distortion audit
    (E200) → ONE row ``(n_pairs, target_dim, mean_ratio, min_ratio,
    max_ratio)``.

    The pre-flight check before swapping full vectors for a k-dim
    sketch in the dedup/ANN tier: project with a ±1 sign matrix and
    measure, over a deterministic pair sample, the ratio
    ``‖Rx−Ry‖² / (k·‖x−y‖²)`` — E[ratio] = 1 by construction, and the
    min/max spread IS the distortion the sketch would inject into
    every downstream distance. Signs are md5-derived
    (``rp:i:j`` parity — the engine-wide deterministic-draw
    convention), so the matrix is identical across runs, partitions
    and engines without materializing randomness anywhere.

    Scale: the projection is relational — posexplode the vector ONCE,
    equi-join the dim×k broadcast sign table, one hash aggregate to
    (id, j) — no UDF, fully codegen. The pair sample joins each id to
    id+offset (equi-joins, linear in corpus size, never all-pairs);
    distances on the k-dim projected LONG table are one more
    (pair, j)-keyed aggregate.
    """
    spark = emb.sparkSession
    dim = len(emb.select("embedding").first()[0])
    proj = (spark.range(dim * RP_TARGET_DIM)
            .select((F.col("id") / RP_TARGET_DIM).cast("long").alias("_i"),
                    (F.col("id") % RP_TARGET_DIM).alias("_j")))
    u = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.lit("rp"),
                          F.col("_i").cast("string"),
                          F.col("_j").cast("string"))), 1, 8),
        16, 10).cast("long")
    proj = proj.select("_i", "_j",
                       F.when(u % 2 == 0, F.lit(1.0))
                       .otherwise(F.lit(-1.0)).alias("_s"))
    ex = emb.select(F.col("vec_id").alias("_id"),
                    F.posexplode("embedding").alias("_i", "_x"))
    y = (ex.join(F.broadcast(proj), "_i")
         .groupBy("_id", "_j")
         .agg(F.sum(F.col("_x").cast("double") * F.col("_s"))
              .alias("_y")))
    ids = emb.select(F.col("vec_id").alias("_a"))
    pairs = None
    for off in RP_OFFSETS:
        p = ids.join(emb.select((F.col("vec_id") - off).alias("_a"),
                                F.col("vec_id").alias("_b")), "_a")
        pairs = p if pairs is None else pairs.unionByName(p)
    dorig = (pairs
             .join(emb.select(F.col("vec_id").alias("_a"),
                              F.col("embedding").alias("_va")), "_a")
             .join(emb.select(F.col("vec_id").alias("_b"),
                              F.col("embedding").alias("_vb")), "_b")
             .select("_a", "_b",
                     F.aggregate(
                         F.zip_with("_va", "_vb",
                                    lambda x, v: (x.cast("double")
                                                  - v.cast("double"))
                                    * (x.cast("double")
                                       - v.cast("double"))),
                         F.lit(0.0), lambda acc, v: acc + v)
                     .alias("_d2")))
    ya = y.select(F.col("_id").alias("_a"), "_j", F.col("_y").alias("_ya"))
    yb = y.select(F.col("_id").alias("_b"), "_j", F.col("_y").alias("_yb"))
    dproj = (pairs.join(ya, "_a").join(yb, ["_b", "_j"])
             .groupBy("_a", "_b")
             .agg(F.sum((F.col("_ya") - F.col("_yb"))
                        * (F.col("_ya") - F.col("_yb"))).alias("_p2")))
    ratios = (dorig.join(dproj, ["_a", "_b"])
              .where(F.col("_d2") > 0)
              .select((F.col("_p2") / (F.lit(float(RP_TARGET_DIM))
                                       * F.col("_d2"))).alias("_r")))
    return ratios.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.lit(RP_TARGET_DIM).alias("target_dim"),
        F.round(F.avg("_r"), 6).alias("mean_ratio"),
        F.round(F.min("_r"), 6).alias("min_ratio"),
        F.round(F.max("_r"), 6).alias("max_ratio"))


def label_silhouette(df: DataFrame) -> DataFrame:
    """Representative-based silhouette per label (E222) → one row per
    label: ``(label, n, mean_a, mean_b, mean_s)``.

    The cluster-separation gate for any labeled embedding table (class
    labels, k-means assignments, dedup clusters): s = (b − a) /
    max(a, b) with a = distance to the OWN label's representative and
    b = the nearest OTHER label's representative — the medoid-style
    simplification that keeps the audit LINEAR (classic silhouette's
    all-pairs a/b is quadratic; this is the same "pinned
    representative" treatment as the pinned-IVF face). s → 1 means
    tight and far from the next cluster; s ≤ 0 flags labels whose
    points sit closer to a foreign representative than their own —
    the "these two classes are the same thing" readout that gates
    SemDeDup thresholds and classifier label sets.

    Determinism: the representative is the label's min-id vector
    (min_by/arg_min — unique ids make it exact in both engines);
    distances are sequential zip_with folds over FIXED vectors
    (DuckDB's list_distance folds the same order); per-row s is
    rounded to integer MICROS before the per-label mean, so the
    aggregate is an exact BIGINT sum — summation order cannot move
    the 6-dp readout.

    Scale shape: representatives are label-bounded — they collect to
    the driver (the k-centroid/lloyd broadcast convention) and come
    back as literal vectors inside ONE zero-shuffle narrow map: each
    row computes its #labels distances inline (the first cut ran a
    broadcast crossJoin + per-(label, id) re-aggregate: two extra
    shuffles, measured 4.3 s → under 2 s at sf0.1). The only shuffle
    is the final per-label mean. Labels must be non-null and the
    label alphabet driver-bounded (it is k, not corpus size).
    """
    base = df.select(F.col("label").alias("_l"),
                     F.col("embedding").alias("_v"),
                     F.col("vec_id").alias("_id"))
    reps = sorted(
        base.groupBy("_l").agg(F.min_by("_v", "_id").alias("_rep"))
        .collect(), key=lambda r: str(r._l))

    def dist_to(vals) -> object:
        lit_vec = F.array(*[F.lit(float(x)) for x in vals])
        return F.sqrt(F.aggregate(
            F.zip_with("_v", lit_vec, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x))

    a_expr = None
    for r in reps:
        cond = F.col("_l") == F.lit(r._l)
        d = dist_to(r._rep)
        a_expr = F.when(cond, d) if a_expr is None else \
            a_expr.when(cond, d)
    # least() skips nulls: with one label every branch is null → null b
    b_branches = [F.when(F.col("_l") != F.lit(r._l), dist_to(r._rep))
                  for r in reps]
    b_expr = b_branches[0] if len(b_branches) == 1 else \
        F.least(*b_branches)
    per_row = base.select("_l", a_expr.alias("_a"), b_expr.alias("_b"))
    s = (F.col("_b") - F.col("_a")) / F.greatest("_a", "_b")
    # zero distances both ways (duplicate representatives) → s = 0
    s = F.when(F.greatest("_a", "_b") > 0, s).otherwise(F.lit(0.0))
    micros = per_row.select(
        "_l",
        F.round(F.col("_a") * 1e6).cast("long").alias("_am"),
        F.round(F.col("_b") * 1e6).cast("long").alias("_bm"),
        F.when(F.col("_b").isNotNull(),
               F.round(s * 1e6).cast("long")).alias("_sm"))
    return (micros.groupBy("_l").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("_am") / 1e6 / F.count("*"), 6).alias("mean_a"),
        F.when(F.count("_bm") > 0,
               F.round(F.sum("_bm") / 1e6 / F.count("_bm"), 6))
        .alias("mean_b"),
        F.when(F.count("_sm") > 0,
               F.round(F.sum("_sm") / 1e6 / F.count("_sm"), 6))
        .alias("mean_s"))
        .withColumnRenamed("_l", "label"))


def top_eigenvector(emb: DataFrame) -> DataFrame:
    """Top principal direction of the embedding Gram matrix via power
    iteration (E224) → one row per dimension: ``(dim, component,
    rayleigh)`` with the Rayleigh quotient repeated per row.

    The oracle-checkable face of :func:`pca_components` (whose numpy
    eigendecomposition no SQL engine replays): the leading direction
    is what PCA-whitening, ZCA conditioning and the Matryoshka
    prefix-dim gate all consume first, and the Rayleigh quotient is
    the variance it explains. Composition: the corpus-scale work is
    the ONE distributed pass of :func:`embedding_gram`; the iteration
    runs on the collected d×d matrix (dim-bounded — the k-centroid /
    BPE-argmax driver convention).

    Determinism — the novel bit: the iteration runs in EXACT INTEGER
    arithmetic. Gram entries are 6-dp decimals by contract → integer
    micros; v₀ = all-ones; each matvec Σⱼ Gᵢⱼvⱼ is an exact integer
    (Python bigint / DuckDB HUGEINT), and because the Gram is PSD no
    normalization is needed for a bounded number of rounds — values
    grow by ≤ d·max|G_micro| per round, guarded against 10³⁷ (the
    HUGEINT/DECIMAL(38) ceiling) at runtime. Floats appear exactly
    ONCE, at the end: unit-normalize V_r and form the Rayleigh
    quotient — so cross-engine divergence has a single rounding
    surface instead of compounding per round.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    gram = embedding_gram(emb).collect()
    if not gram:
        return emb.sparkSession.createDataFrame(
            [], "dim int, component double, rayleigh double")
    dim = max(max(r.i, r.j) for r in gram)
    G = [[0] * (dim + 1) for _ in range(dim + 1)]
    for r in gram:
        # value is an exact 6-dp decimal in a double: ×1e6 lands within
        # 1e-4 of an integer, so nearest-int is unambiguous (no .5 case
        # for banker's rounding to bite)
        g = int(round(r.value * 1e6))
        G[r.i][r.j] = g
        G[r.j][r.i] = g
    # growth bound: |V_r|∞ ≤ (max row L1 norm)^r from v₀ = 1; HUGEINT
    # tops out at 1.7e38 — guard with margin
    rowsum = max(sum(abs(G[i][j]) for j in range(1, dim + 1))
                 for i in range(1, dim + 1))
    if rowsum and rowsum ** EIGEN_ROUNDS >= 10 ** 38:
        raise ValueError(
            f"power iteration would overflow the oracle's HUGEINT: "
            f"(max row L1 of G_micro)^rounds = {rowsum}^{EIGEN_ROUNDS}; "
            f"reduce EIGEN_ROUNDS or rescale the vectors")
    v_int = [1] * (dim + 1)
    for _ in range(EIGEN_ROUNDS):
        v_int = [0] + [
            sum(G[i][j] * v_int[j] for j in range(1, dim + 1))
            for i in range(1, dim + 1)]
    fl = [float(x) for x in v_int[1:]]
    nm = math.sqrt(sum(x * x for x in fl))
    spark = emb.sparkSession
    if nm == 0.0:  # all-zero Gram: no direction, by contract
        return spark.createDataFrame(
            [(i, None, None) for i in range(1, dim + 1)],
            "dim int, component double, rayleigh double")
    v = [x / nm for x in fl]
    lam = sum((G[i][j] / 1e6) * v[i - 1] * v[j - 1]
              for i in range(1, dim + 1) for j in range(1, dim + 1))

    def r6(x: float) -> float:
        # HALF_UP on the shortest decimal rendering — the same
        # convention Spark's round() applies (BigDecimal.valueOf)
        return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                               rounding=ROUND_HALF_UP))

    lam6 = r6(lam)
    return spark.createDataFrame(
        [(i, r6(v[i - 1]), lam6) for i in range(1, dim + 1)],
        "dim int, component double, rayleigh double")
