"""Product quantization (PQ): sub-codebook vector compression and
asymmetric-distance (ADC) search — the tier above int8 quantization on
the ANN ladder (``operators/similarity.py``).

PQ splits each d-dim vector into ``m`` contiguous subvectors and
replaces each with the id of its nearest centroid from a per-subspace
codebook of ``k`` centroids: d floats become m small codes (64×4 bytes
→ 8 bytes here), and distances are approximated without decoding via a
per-query lookup table (LUT): ``dist(q, x) ≈ Σ_j LUT[j][code_j(x)]``
where ``LUT[j][c] = ‖q_j − centroid_{j,c}‖²`` (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011 — public
method).

Spark-first shapes, all JVM expressions:

* encode: explode each vector to its m (j, subvector) rows (narrow),
  ONE broadcast hash join against the m·k-row codebook table, min-by
  argmin per (vec, subspace) — never a per-row Python loop;
* ADC search: the corpus side joins its (vec, j, code) rows to the
  broadcast (query, j, code)-keyed LUT and sum-aggregates per
  (query, vec) — the scan reads 8-byte codes, not 256-byte vectors,
  and the exact-rerank stage (``cosine_topk`` / brute L2) touches only
  the shortlist, mirroring ``quantized_topk``.

The encode/search kernels take codebooks as an input table; the
registry faces pass FIXED codebooks (``fixed_codebooks``) and carry
full DuckDB oracles (the ``embedding_nearest_centroid`` move, applied
per subspace).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

ROUND_TO = 6  # decimal places of every distance


def _subvector_rows(df: DataFrame, m: int, vec_col: str,
                    id_col: str) -> DataFrame:
    """(id, j, sub): each vector exploded to its m contiguous
    subvectors — a narrow map (transform + inline explode), no
    shuffle. Vector length must be divisible by ``m`` (checked at
    runtime via an ANSI-safe filter contract: callers see missing rows
    rather than silently ragged slices)."""
    v = F.col(vec_col).cast("array<double>")
    sub = (F.size(v) / m).cast("int")
    subs = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.struct(j.cast("int").alias("j"),
                           F.slice(v, j * sub + 1, sub).alias("sub")))
    return (df.where(F.size(v) % m == 0)
            .select(F.col(id_col), F.inline(subs)))


def fixed_codebooks(df: DataFrame, m: int, k: int) -> DataFrame:
    """Deterministic codebooks for the oracle faces: centroid ``c`` of
    subspace ``j`` is subvector ``j`` of the corpus vector with
    ``id == c`` (the fixed-centroid move of the Lloyd/IVF faces) →
    (j, centroid_id, cv)."""
    return (_subvector_rows(df.where(F.col("vec_id") < k), m, "embedding",
                            "vec_id")
            .select("j", F.col("vec_id").cast("int").alias("centroid_id"),
                    F.col("sub").alias("cv")))


def pq_encode(df: DataFrame, codebooks: DataFrame, m: int) -> DataFrame:
    """Encode every vector → (id, j, code, dist_sq): the long-form PQ
    code table (one row per subspace; ``collect_list`` it back to an
    array at the sink if desired — the long form is what ADC joins
    against anyway). ``dist_sq`` is the subspace quantization error,
    whose sum over j is the vector's reconstruction error.

    One broadcast join (m·k codebook rows) + one min-by aggregate;
    ties broken by centroid_id ascending in both this plan and the
    SQL oracle.
    """
    ex = _subvector_rows(df, m, "embedding", "vec_id")
    dist = F.aggregate(
        F.zip_with("sub", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    return (ex.join(F.broadcast(codebooks), "j")
            .select(F.col("vec_id"), "j",
                    F.struct(dist.alias("d"),
                             F.col("centroid_id").alias("cid")).alias("s"))
            .groupBy("vec_id", "j").agg(F.min("s").alias("b"))
            .select(F.col("vec_id"), "j",
                    F.col("b.cid").alias("code"),
                    F.round(F.col("b.d"), ROUND_TO).alias("dist_sq")))


def pq_adc_topk(codes: DataFrame, queries: DataFrame, codebooks: DataFrame,
                m: int, k_top: int = 10,
                exclude_self: bool = False) -> DataFrame:
    """Asymmetric-distance top-k → (query_id, neighbor_id, adist,
    rank): for each query, the ``k_top`` corpus vectors with the
    smallest LUT-approximated squared L2 distance.

    The LUT is (query × subspace × centroid) — bounded by
    |queries|·m·k rows, broadcast — so the corpus side is ONE hash
    join on (j, code) plus a (query, vec) sum aggregate: the data
    path reads codes only, never raw vectors. Per-cell LUT distances
    are rounded before summing so cross-engine float summation order
    cannot flip ranks; ties broken by neighbor id.
    """
    lut = (_subvector_rows(queries, m, "embedding", "vec_id")
           .withColumnRenamed("vec_id", "query_id")
           .join(codebooks, "j")
           .select("query_id", "j", F.col("centroid_id").alias("code"),
                   F.round(F.aggregate(
                       F.zip_with("sub", "cv",
                                  lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x),
                       ROUND_TO).alias("d")))
    scored = (codes.join(F.broadcast(lut), ["j", "code"])
              .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
              .agg(F.round(F.sum("d"), ROUND_TO).alias("adist")))
    if exclude_self:  # before ranking, so rank k really is the k-th other
        scored = scored.where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_top))


def pq_rerank_topk(corpus: DataFrame, codes: DataFrame, queries: DataFrame,
                   codebooks: DataFrame, m: int, k_top: int = 10,
                   fetch: int = 40) -> DataFrame:
    """The full production PQ search path → (query_id, neighbor_id,
    dist_sq, rank): ADC over the code table produces a ``fetch``-deep
    shortlist (code-bytes scan only), then EXACT squared-L2 reranks
    just those |queries|·fetch pairs against the raw vectors — the
    ``quantized_topk`` two-stage shape with PQ as the cheap stage.

    The rerank join touches the raw-vector table once, filtered to the
    shortlist (an equi-join on the neighbor id — AQE broadcasts the
    shortlist side); exact distances are rounded before ranking, ties
    broken by neighbor id, so results are engine-stable end to end.
    """
    short = pq_adc_topk(codes, queries, codebooks, m, k_top=fetch,
                        exclude_self=True) \
        .select("query_id", "neighbor_id")
    q = queries.select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").cast("array<double>").alias("qv"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").cast("array<double>").alias("nv"))
    dist = F.aggregate(
        F.zip_with("qv", "nv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)
    w = Window.partitionBy("query_id").orderBy("dist_sq", "neighbor_id")
    return (short.join(F.broadcast(q), "query_id").join(c, "neighbor_id")
            .select("query_id", "neighbor_id",
                    F.round(dist, ROUND_TO).alias("dist_sq"))
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k_top))
