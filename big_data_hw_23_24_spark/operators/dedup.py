"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

North-star extension (BASELINE.json): the training-data-pipeline
operators a 100 TB corpus needs. The reference has no dedup surface;
the design is Spark-first throughout:

* everything is JVM-side Column expressions (split/transform/xxhash64/
  array_min) — no Python in the hot path;
* exact dedup is a hash-groupBy (one shuffle on a 128-bit fingerprint);
* MinHash-LSH shuffles only (band, band_hash) pairs — candidate
  generation never compares documents pairwise, so it scales to
  corpora where the O(n²) exact join is impossible;
* the exact n-gram Jaccard join exists as the small-scale oracle and
  as the verifier for LSH candidates.

Shingling convention used everywhere: distinct word 3-grams of the
space-tokenized text (empty tokens dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_HASHES = 32  # MinHash signature length
BANDS = 8  # LSH bands over the signature
SHINGLE_N = 3  # words per shingle
BLOOM_M_BITS = 1 << 17  # bloom filter of the incremental dedup
SETSIM_THRESHOLD = 0.7  # Jaccard bound of the exact prefix-filtered join


def normalized_text(col: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapsed whitespace."""
    return F.regexp_replace(F.lower(F.trim(col)), " +", " ")


def exact_duplicate_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy → (fingerprint, n_docs, keep_id).

    One shuffle on md5(normalized text); ``keep_id`` = min id is the
    canonical survivor. Only groups with duplicates are returned.
    """
    return (
        docs.select(F.md5(normalized_text(F.col("text")))
                    .alias("fingerprint"), F.col("doc_id"))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def _shifted_gram_zip(words: Column, n: int) -> Column:
    """Struct array of ``n`` consecutive words, evaluating ``words``
    exactly ``n`` times per ROW: ``arrays_zip`` of n shifted slices,
    trimmed to the m−n+1 full windows.

    The r12 shingling root-cause: a transform lambda that INDEXES the
    words expression (``element_at(words, i+j)`` or
    ``slice(words, i+1, n)``) re-evaluates the whole split+filter
    subexpression PER ELEMENT — there is no common-subexpression
    elimination inside higher-order-function codegen — turning O(len)
    shingling into O(len²) (measured 6.8 s → 0.6 s at sf0.1 for the
    hash form, 2.2 s → 1.0 s for strings). Zipping shifted slices
    keeps every consumer a per-row O(len) map and stays a pure lazy
    Column — no materialization needed.
    """
    m = F.size(words)
    z = F.arrays_zip(words, *[F.slice(words, j + 1, m - j)
                              for j in range(1, n)])
    return F.slice(z, 1, m - n + 1)


def word_shingles(docs: DataFrame, text_col: str = "text",
                  n: int = SHINGLE_N) -> DataFrame:
    """Distinct word n-gram shingles as an array column (JVM-side).

    Shingles come from ``arrays_zip`` of shifted slices (see
    :func:`_shifted_gram_zip` — an index-into-words lambda would
    re-evaluate the split per element); empty tokens from repeated
    spaces are dropped first so the shingle set is insensitive to
    run-length of spaces. Documents with fewer than ``n`` words get
    an empty shingle array.
    """
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    z = _shifted_gram_zip(words, n)
    grams = F.when(
        F.size(words) >= n,
        F.transform(z, lambda x: F.concat_ws(
            " ", *[x[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))
    return docs.withColumn("shingles", F.array_distinct(grams))


def md5_minhash_constants(num_hashes: int = NUM_HASHES
                          ) -> list[tuple[int, int]]:
    """Pinned (a_i, c_i) pairs for the engine-portable md5 MinHash
    family: h_i(s) = (a_i·b + c_i) mod (2³¹−1) where b is the 28-bit
    md5 prefix of the shingle. The formula below is the spec — the
    DuckDB oracle embeds the SAME literals, so both engines compute
    bit-identical signatures. a_i < 2³⁰ and b < 2²⁸ keep the product
    under 2⁵⁸, far from 64-bit overflow in either engine."""
    mask = (1 << 30) - 1
    return [(((2654435761 * (i + 1) + 104729) & mask) | 1,
             (40503 * (i + 1) + 9973) & mask)
            for i in range(num_hashes)]


def minhash_signature(shingled: DataFrame, num_hashes: int = NUM_HASHES,
                      hash_family: str = "xxhash64") -> DataFrame:
    """MinHash signature: sig[i] = min over shingles of h_i(s).

    Each shingle *string* is hashed exactly once (xxhash64 → long);
    the i-th hash function is then a cheap integer re-hash
    ``xxhash64(i, h)`` of that long — the classic trick that replaces
    num_hashes string hashes per shingle with one string hash plus
    num_hashes fixed-width mixes (~30% faster measured at sf0.1).
    All JVM-side expressions, evaluated per row with no explode, so
    the signature computation is a narrow map. Empty shingle sets get a
    sentinel signature of Long.MAX_VALUE (callers must drop them
    before LSH banding — see ``minhash_near_duplicates``).

    ``hash_family="md5"`` swaps xxhash64 for an ENGINE-PORTABLE family
    (md5-prefix base hash + pinned linear mixes mod 2³¹−1, see
    ``md5_minhash_constants``) that a DuckDB oracle can reproduce
    bit-for-bit — the oracle-checkable face of the same plan shape.
    xxhash64 stays the production default: one JVM intrinsic per
    shingle vs an md5 digest, same narrow-map plan.

    Built as ONE ``F.expr`` SQL string rather than nested Column
    lambdas, for two reasons. (a) Speed: the Column form costs
    hundreds of py4j round trips (~0.7 s of driver time per call);
    one parse is ~0.1 s. (b) Correctness: a two-parameter Python
    lambda like ``lambda h, i=i:`` is treated by pyspark as an
    (element, *array-index*) lambda, silently binding ``i`` to the
    element position — which collapses all ``num_hashes`` functions
    into one and degenerates LSH to a single-hash scheme.
    """
    maxl = f"{2**63 - 1}L"
    if hash_family == "md5":
        terms = ", ".join(
            f"coalesce(array_min(transform(_sg_b, "
            f"b -> ({a}L * b + {c}L) % 2147483647L)), {maxl})"
            for a, c in md5_minhash_constants(num_hashes)
        )
        return (
            shingled
            .withColumn("_sg_b",
                        F.expr("transform(shingles, s -> "
                               f"cast(conv(substr(md5(s), 1, 7), 16, 10)"
                               f" as bigint))"))
            .withColumn("signature", F.expr(f"array({terms})"))
            .drop("_sg_b")
        )
    if hash_family != "xxhash64":
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', "
                         f"got {hash_family!r}")
    terms = ", ".join(
        f"coalesce(array_min(transform(_sg_h64, h -> xxhash64({i}, h))),"
        f" {maxl})"
        for i in range(num_hashes)
    )
    return (
        shingled
        .withColumn("_sg_h64",
                    F.expr("transform(shingles, s -> xxhash64(s))"))
        .withColumn("signature", F.expr(f"array({terms})"))
        .drop("_sg_h64")
    )


def lsh_candidate_pairs(signed: DataFrame) -> DataFrame:
    """Banded LSH: docs agreeing on all rows of ≥1 of the ``BANDS``
    bands → (id_a, id_b).

    Explode to one row per band, hash the band slice, self-join on
    (band, band_hash): the shuffle key is the band hash, so work is
    proportional to bucket sizes, never to n². Pairs are deduped
    (a < b) across bands.
    """
    banded = _banded(signed, BANDS, "doc_id")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_hash") == F.col("b.band_hash"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def _banded(signed: DataFrame, bands: int, id_col: str) -> DataFrame:
    """(id, band, band_hash): one row per band of each signature —
    the LSH bucketing projection shared by the self-join
    (``lsh_candidate_pairs``) and the cross-frame incremental match.
    The signature is carried THROUGH the explode (projecting it away
    and joining it back would cost a full extra shuffle of
    (docs × bands) rows)."""
    n_hashes_col = F.size(F.col("signature"))
    rows_per_band = (n_hashes_col / bands).cast("int")
    return signed.select(
        F.col(id_col), F.col("signature"),
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(
        id_col, "band",
        F.xxhash64(F.col("band"),
                   F.concat_ws(",", F.slice(
                       F.col("signature"),
                       F.col("band") * rows_per_band + 1,
                       rows_per_band).cast("array<string>")))
        .alias("band_hash"),
    )


def minhash_match_against(batch: DataFrame, corpus_signed: DataFrame,
                          threshold: float = 0.7,
                          hash_family: str = "xxhash64") -> DataFrame:
    """Incremental NEAR-dup matching: new batch vs a stored signature
    corpus → (batch_id, corpus_id, est_jaccard ≥ threshold).

    The near-dup rung of the incremental-dedup ladder
    (``incremental_dedup_against_fingerprints`` is the exact rung):
    the corpus store holds only ``(doc_id, signature)`` — fixed-width,
    text never retained — so matching a new batch costs shingling the
    BATCH only, one banded equi-join against the store's bands, and a
    signature-overlap estimate on the collided pairs. Never all-pairs,
    never a corpus re-scan.

    Jaccard here is the standard MinHash ESTIMATE — the fraction of
    agreeing signature components, unbiased with sd ≈
    √(j(1−j)/NUM_HASHES) (≈ 0.08 at j = 0.7, H = 32) — because
    estimating from the store is the point: exact verification would
    require retaining corpus text. Raise ``NUM_HASHES`` to tighten the
    threshold boundary; pairs the LSH bands never collide are missed
    with the usual 1−(1−j^r)^b probability. Batch-internal duplicates
    are NOT reported (pair the batch with itself via
    ``minhash_near_duplicates`` for that).

    ``corpus_signed`` must carry signatures produced with the SAME
    ``NUM_HASHES``, ``hash_family`` (and shingling) — the store format
    is exactly ``minhash_signature(word_shingles(docs))'s``
    (id, signature) projection.
    """
    from .util import ensure_fanout

    # the NUM_HASHES-way signature map is the heavy stage: fan a
    # sub-row-group batch out first (no-op when the scan has splits).
    # The empty-shingle filter runs AFTER the checkpoint: filtering on
    # the _nsh alias before it lets Catalyst inline the whole shingle
    # HOF expression below the fanout exchange (scan DataFilter +
    # Filter re-evaluation, in the scan's few input splits)
    batch_signed = (minhash_signature(word_shingles(ensure_fanout(batch)),
                                      hash_family=hash_family)
                    .select(F.col("doc_id"), F.size("shingles").alias("_nsh"),
                            "signature")
                    .localCheckpoint(eager=True)
                    .where(F.col("_nsh") > 0))
    return minhash_match_signed(batch_signed, corpus_signed,
                                threshold=threshold)


def minhash_match_signed(batch_signed: DataFrame, corpus_signed: DataFrame,
                         threshold: float = 0.7, bands: int = BANDS,
                         id_col: str = "doc_id") -> DataFrame:
    """The signed-input core of :func:`minhash_match_against`: both
    sides already carry ``(id, signature)`` (empty-shingle rows
    dropped). Exposed so callers that need the batch signatures for
    OTHER purposes too — the streaming ingest harness appends them to
    its store — can sign once instead of re-shingling."""
    bb = _banded(batch_signed, bands, id_col) \
        .withColumnRenamed(id_col, "batch_id")
    cb = _banded(corpus_signed, bands, id_col) \
        .withColumnRenamed(id_col, "corpus_id")
    cand = (bb.join(cb, ["band", "band_hash"])
            .select("batch_id", "corpus_id").distinct())
    sa = batch_signed.select(F.col(id_col).alias("batch_id"),
                             F.col("signature").alias("_sig_a"))
    sb = corpus_signed.select(F.col(id_col).alias("corpus_id"),
                              F.col("signature").alias("_sig_b"))
    agree = F.size(F.filter(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
        lambda m: m))
    return (cand.join(sa, "batch_id").join(sb, "corpus_id")
            .select("batch_id", "corpus_id",
                    F.round(agree / F.size("_sig_a"), 6)
                    .alias("est_jaccard"))
            .where(F.col("est_jaccard") >= threshold))


def jaccard_verify(pairs: DataFrame, shingled: DataFrame,
                   threshold: float) -> DataFrame:
    """Exact Jaccard on candidate pairs → (id_a, id_b, jaccard ≥ t).

    Joins the shingle arrays back and computes
    |A∩B| / |A∪B| with array intrinsics — candidates only, so the
    expensive comparison runs on the LSH-pruned set.
    """
    sa = shingled.select(F.col("doc_id").alias("id_a"),
                         F.col("shingles").alias("sh_a"))
    sb = shingled.select(F.col("doc_id").alias("id_b"),
                         F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b",
                F.round(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def shingle_containment_pairs(docs: DataFrame, threshold: float = 0.8,
                              max_df: int | None = None) -> DataFrame:
    """ASYMMETRIC near-dup detection → (id_a, id_b, n_common,
    containment_a, containment_b): pairs where either directed
    containment |A∩B|/|A| (resp. /|B|) reaches ``threshold``.

    Jaccard misses subset duplication by construction: a paragraph
    quoted inside a 100× larger page has J ≈ 0.01 but containment 1.0
    — the partially-copied / quoted / truncated-mirror case a corpus
    dedup actually wants (Broder 1997's *containment*, next to the
    resemblance everything else here uses). MinHash-LSH can't route
    these either (band collision probability tracks J, not C), so
    candidate generation is the inverted-index shape instead: explode
    distinct word n-gram shingles, equi-join on the shingle, count
    per pair — cost Σ df(s)², bounded by the ``max_df``
    stop-shingle guard (a boilerplate shingle in a million docs would
    otherwise build a quadratic bucket; same cure as winnowing's and
    boilerplate mining's). The shuffle key is always the shingle,
    never a document pair.

    The pinned table is fanout-guarded (a sub-row-group scan must
    not serialize a 50x explode onto two cores) and materialized
    once — the size projection, the df guard and the pair join are
    three consumers of the same shingle build (the E52
    localCheckpoint pattern). Shingles are HASHED IN PLACE —
    ``xxhash64(w_i, …, w_{i+n-1})`` straight off the word array, no
    n-gram string ever built — so the index rows are two longs and
    the shuffle key is 8 bytes instead of a ~30-byte string; hash
    equality stands in for word-tuple equality exactly as in the LSH
    band hash, with the same measure-zero 64-bit collision caveat
    (and no concat-separator ambiguity, since the words are hashed as
    separate arguments).

    The pin holds ONE ROW PER DOC ``(id, shingle array)`` (r15; same
    bytes as the exploded rows, 50x fewer of them): set sizes |A| are
    then ``size(arr)`` — a zero-shuffle map over the pin replacing a
    corpus-scale count aggregate (its Exchange appeared twice in the
    plan, once per pair side) — and each consumer explodes from the
    pinned blocks in place. The r8 caveat about alias-indirected
    array columns (Catalyst planned the whole explode into the
    exchange's map side, 19 s) does not bite here: the checkpoint is
    an optimizer barrier, so the explode stays a post-pin map and the
    fanout guard's partitioning is preserved by the pin. Interleaved
    min-of-6 A/B at sf0.1: 1.85 -> 1.71 s median, identical 1040-row
    output.
    """
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from .util import ensure_fanout

    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    hashes = F.array_distinct(F.transform(
        _shifted_gram_zip(words, SHINGLE_N),
        lambda x: F.xxhash64(*[x[str(j)] for j in range(SHINGLE_N)])))
    arr = F.when(F.size(words) >= SHINGLE_N, hashes) \
        .otherwise(F.array().cast("array<bigint>"))
    sh_docs = (ensure_fanout(docs)
               .select(F.col("doc_id"), arr.alias("_arr"))
               .localCheckpoint(eager=True))
    # denominators from the UNFILTERED shingle sets (the arrays are
    # distinct by construction, so size(arr) IS the set size; docs
    # with an empty set get a 0 row that no pair can ever join)
    sizes = sh_docs.select(F.col("doc_id"),
                           F.size("_arr").cast("long").alias("_sz"))
    sh = sh_docs.select(F.col("doc_id"), F.explode("_arr").alias("_s"))
    if max_df is not None:
        # anti-join against the STOP set, not semi against the keep
        # set: survivors are ~every distinct shingle (corpus-scale
        # shuffle as a join side) while stop shingles number ≤
        # rows/max_df — shuffling the small complement is strictly
        # cheaper, and AQE broadcasts it outright when it fits
        stop = (sh.groupBy("_s").agg(F.count("*").alias("_df"))
                .where(F.col("_df") > max_df).select("_s"))
        sh = sh.join(stop, "_s", "left_anti")
    a = sh.select(F.col("doc_id").alias("id_a"), "_s")
    b = sh.select(F.col("doc_id").alias("id_b"), "_s")
    pairs = (a.join(b, "_s")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count("*").alias("n_common")))
    ca = F.round(F.col("n_common") / F.col("_na"), 6)
    cb = F.round(F.col("n_common") / F.col("_nb"), 6)
    return (pairs
            .join(sizes.select(F.col("doc_id").alias("id_a"),
                               F.col("_sz").alias("_na")), "id_a")
            .join(sizes.select(F.col("doc_id").alias("id_b"),
                               F.col("_sz").alias("_nb")), "id_b")
            .select("id_a", "id_b",
                    F.col("n_common").cast("long").alias("n_common"),
                    ca.alias("containment_a"), cb.alias("containment_b"))
            .where((F.col("containment_a") >= threshold)
                   | (F.col("containment_b") >= threshold)))


def minhash_near_duplicates(docs: DataFrame,
                            threshold: float = 0.7) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → sign → band → verify.

    Approximate in candidate *generation* (recall < 1 for pairs near
    the threshold), exact in *verification* — every returned pair
    truly has Jaccard ≥ threshold. With b=8 bands of r=4 rows the
    match probability is 1-(1-j⁴)⁸: ≈0.99 at j=0.8, ≈0.07 at j=0.3.

    Documents with an *empty* shingle set (fewer than n words) are
    dropped before banding: they all share the sentinel signature, so
    banding them would make every short doc collide with every other
    short doc in every band — a quadratic candidate blowup on exactly
    the skewed key LSH exists to avoid. They can never verify at
    threshold > 0 (empty intersection), so this is semantics-preserving.

    The signed intermediate is persisted for the duration of the
    computation — the banded self-join scans it twice, so without the
    cache the ``NUM_HASHES``-way signature expression is evaluated on
    both branches. Two measured choices shape what is cached (together
    3.2 s → 2.1 s at sf0.1):

    * Only ``(id, n_shingles, signature)`` is persisted — fixed-width
      columns. Caching the shingle *arrays* for the verify step costs
      more to build (columnar cache of variable-length string arrays)
      than re-shingling the candidate docs, which are semi-joined down
      to the LSH survivors first — candidate-scale, not corpus-scale.
    * Few-split inputs (fewer input partitions than
      ``defaultParallelism``, e.g. one parquet row group locally) are
      re-width-ed by ``ensure_fanout`` before the signature map,
      which otherwise runs on a single core. At scale the input has
      more splits than cores and the repartition — a full shuffle of
      the corpus text — is correctly skipped.

    The verified pairs are localCheckpointed (small) and the cache
    released, so nothing outlives the call.
    """
    from .util import ensure_fanout

    docs = ensure_fanout(docs.select("doc_id", "text"))
    signed = minhash_signature(word_shingles(docs)) \
        .select("doc_id", F.size("shingles").alias("n_sh"), "signature") \
        .persist()
    pairs = None
    try:
        # eager count populates the cache in ONE deterministic narrow
        # job before the self-join's two branches scan it. (A prior
        # revision let the join populate the cache "in flight"; the
        # race meant both branches — and the broadcast below — could
        # recompute the 32-hash signature from scratch, measured up to
        # 6× slower and growing run-over-run at sf0.1.)
        signed.count()
        # persist+count the candidate pairs ONCE: both the broadcast
        # candidate-id set and the verify join read them, and without
        # materialization the broadcast thread would re-execute the
        # entire banded self-join as a private subplan
        pairs = lsh_candidate_pairs(
            signed.where(F.col("n_sh") > 0)).persist()
        pairs.count()
        cand_ids = pairs.select(
            F.explode(F.array("id_a", "id_b")).alias("doc_id")).distinct()
        cand_shingled = word_shingles(
            docs.join(F.broadcast(cand_ids), "doc_id", "semi"))
        # materialize the SMALL verified-pair result and release every
        # intermediate deterministically in the finally below. (A prior
        # revision localCheckpointed the candidate pairs and returned
        # lazily; each call then left checkpoint blocks in executor
        # storage until Python GC reached the DataFrame — repeated runs
        # measured 2.3 s to 22 s at sf0.1 as storage pressure built.)
        return jaccard_verify(pairs, cand_shingled, threshold) \
            .localCheckpoint(eager=True)
    finally:
        signed.unpersist()
        if pairs is not None:
            pairs.unpersist()


def exact_jaccard_pairs(docs: DataFrame, threshold: float = 0.7) -> DataFrame:
    """Exact all-pairs n-gram Jaccard ≥ t via inverted shingle index.

    Explode distinct shingles → self-equi-join on shingle → count
    intersections per pair → join sizes. Work is Σ (docs per shingle)²
    — fine when shared shingles are rare (true for 3-grams), and the
    ground truth the LSH pipeline is tested against. This is the
    oracle-checkable face; prefer ``minhash_near_duplicates`` at scale.
    """
    # the shingle expression feeds four branches (a/b explode + two
    # size joins): persist it for the duration, checkpoint the small
    # pair result, release — same pattern as minhash_near_duplicates
    shingled = word_shingles(docs.select("doc_id", "text")) \
        .select("doc_id", "shingles").persist()
    try:
        ex = shingled.select("doc_id", F.explode("shingles").alias("shingle"))
        sizes = shingled.select("doc_id", F.size("shingles").alias("sz"))
        a, b = ex.alias("a"), ex.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("id_a"),
                     F.col("b.doc_id").alias("id_b"))
            .agg(F.count("*").alias("ix"))
        )
        return (
            inter
            .join(sizes.select(F.col("doc_id").alias("id_a"),
                               F.col("sz").alias("sz_a")), "id_a")
            .join(sizes.select(F.col("doc_id").alias("id_b"),
                               F.col("sz").alias("sz_b")), "id_b")
            .select("id_a", "id_b",
                    F.round(F.col("ix") / (F.col("sz_a") + F.col("sz_b")
                                           - F.col("ix")), 6)
                    .alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
            .localCheckpoint(eager=True)
        )
    finally:
        shingled.unpersist()


SIMHASH_FAMILY_BITS = {"xxhash64": 64, "md5": 60}


def simhash_fingerprints(docs: DataFrame,
                         hash_family: str = "xxhash64") -> DataFrame:
    """SimHash per document → (id, simhash).

    Explode tokens → one hash per token → per-bit ±1 majority vote as
    conditional sums in ONE hash aggregate — all JVM expressions.
    Near-identical documents differ in few bits (compare with
    ``bit_count(simhash_a ^ simhash_b)``).

    ``hash_family``: ``"xxhash64"`` (production default, 64 bits,
    Spark-private) or ``"md5"`` — the E76 pinning move applied to
    SimHash: the per-token hash is the 60-bit md5 prefix
    (``conv(substr(md5(word),1,15),16,10)`` == DuckDB
    ``('0x'||substr(md5(word),1,15))::BIGINT``), making fingerprints,
    banding and Hamming distances bit-identical across engines — the
    family a full value oracle runs on. Same vote/assemble plan, 60
    columns instead of 64.

    Contract (pinned by test): zero-token documents have NO fingerprint
    row — the explode yields nothing to vote on — and therefore never
    appear in near-dup pairs. Reports that must cover every doc id
    should left-join fingerprints back to the corpus.

    Vote layout — SWAR-packed lanes: the naive form is one ±1
    conditional sum per bit (60-64 aggregate expressions plus a
    60-deep CASE/OR assembly chain), and the dominant cost of a FRESH
    plan is driver-side Catalyst analysis of that ~120-expression
    tree, ~1.2 s regardless of data size (measured: same-DataFrame
    re-execution 0.61 s vs fresh-plan 1.85 s at sf0.1). Instead each
    aggregate long packs three 20-bit ONES-counters (vote_b > 0 ⟺
    2·ones_b > n, algebraically identical — pinned bit-identical by
    test), so the aggregate is ⌈bits/3⌉+1 sums and the assembly is a
    balanced tree of boolean-cast shifts: fresh-plan 1.26 s for the
    same execution. 20-bit lanes bound the per-doc token count at
    2^20; a longer document would silently corrupt its neighbors'
    counters, so the guard below raises on it (split such documents
    upstream — at 100 TB a >1M-token doc is a parse failure, not
    prose).
    """
    bits = SIMHASH_FAMILY_BITS.get(hash_family)
    if bits is None:
        raise ValueError(f"hash_family must be one of "
                         f"{sorted(SIMHASH_FAMILY_BITS)}, got {hash_family!r}")
    lane = 20
    per = 64 // lane                      # counters per packed long
    n_longs = (bits + per - 1) // per
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    if hash_family == "md5":
        h = F.conv(F.substring(F.md5("word"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("word")
    tok = docs.select(F.col("doc_id"),
                      F.explode(words).alias("word")) \
        .withColumn("h", h)
    packs = []
    for g in range(n_longs):
        expr = None
        for ln in range(per):
            b = g * per + ln
            if b >= bits:
                break
            e = F.shiftleft(F.shiftright("h", b).bitwiseAND(1), ln * lane)
            expr = e if expr is None else expr + e
        packs.append(F.sum(expr).alias(f"p{g}"))
    voted = tok.groupBy("doc_id").agg(F.count("*").alias("_n"), *packs)
    too_long = F.when(
        F.col("_n") >= (1 << lane),
        F.raise_error(F.concat(
            F.lit("simhash_fingerprints: document "),
            F.col("doc_id").cast("string"),
            F.lit(f" has >= 2^{lane} tokens — past the packed-counter "
                  f"range; split it upstream"))).cast("long"))
    terms = [too_long]
    for g in range(n_longs):
        for ln in range(per):
            b = g * per + ln
            if b >= bits:
                break
            ones = F.shiftright(F.col(f"p{g}"), ln * lane) \
                .bitwiseAND((1 << lane) - 1)
            terms.append(F.shiftleft((ones * 2 > F.col("_n")).cast("long"),
                                     b))
    # balanced sum tree (bits are disjoint, + == OR; the guard term is
    # null-when-in-range — coalesce restores 0 so it rides the sum)
    terms[0] = F.coalesce(terms[0], F.lit(0).cast("long"))
    while len(terms) > 1:
        terms = [a + b for a, b in zip(terms[::2], terms[1::2])] + \
                ([terms[-1]] if len(terms) % 2 else [])
    return voted.select(F.col("doc_id"), terms[0].alias("simhash"))


def simhash_near_duplicates(docs: DataFrame, max_hamming: int = 3,
                            hash_family: str = "xxhash64") -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ max_hamming.

    Pigeonhole banding: two fingerprints within Hamming k must agree
    exactly on ≥1 of k+1 equal bit-chunks → equi-join per chunk, then
    exact bit_count verify. Shuffle key is the chunk value — no
    pairwise scan. ``hash_family="md5"`` (60-bit, 15-bit chunks at the
    default ``max_hamming=3``) is the engine-portable oracle face; the
    pigeonhole guarantee is family-independent.

    The fingerprint table is PINNED (localCheckpoint) before the
    banded self-join: both join sides derive from it and Catalyst does
    not reuse the subtree across a broadcast and a streamed side, so
    an unpinned plan runs the whole tokenize+hash+vote pass — and
    analyzes its large expression tree — twice (measured 2.57 s →
    2.35 s at sf0.1 even at this corpus size; at scale the duplicated
    pass dominates). The pinned table is 16 bytes/doc — the cheap side
    of the trade everywhere.
    """
    chunks = max_hamming + 1
    bits = SIMHASH_FAMILY_BITS.get(hash_family, 64)
    if bits % chunks:
        raise ValueError(f"{bits}-bit fingerprint not divisible into "
                         f"{chunks} chunks")
    width = bits // chunks
    fps = simhash_fingerprints(docs, hash_family=hash_family) \
        .localCheckpoint(eager=True)
    banded = fps.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("chunk"),
                     F.shiftright(F.col("simhash"), c * width)
                     .bitwiseAND((1 << width) - 1).alias("val"))
            for c in range(chunks)
        ])).alias("band"),
    ).select("doc_id", "simhash", "band.chunk", "band.val")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.val") == F.col("b.val"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                F.bit_count(F.col("a.simhash").bitwiseXOR(
                    F.col("b.simhash"))).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def incremental_dedup(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """Dedup an ingestion batch against an existing corpus →
    (doc_id, fingerprint, status) for every NEW document, with status

    * ``dup_of_corpus`` — normalized fingerprint already in the corpus;
    * ``dup_in_batch``  — first seen earlier (lower id) in this batch;
    * ``novel``         — safe to append.

    The continuous-ingestion face of ``exact_duplicate_groups``: a
    pipeline re-crawling the web dedups each day's batch against the
    accumulated corpus without ever re-grouping the corpus itself.
    Scale shape: the corpus side is reduced to DISTINCT fingerprints —
    32-byte rows, no text — before the join, so corpus text is scanned
    once and never shuffled; in steady state that fingerprint set is a
    bucketed table the join co-locates with (``bucketBy`` +
    ``saveAsTable``). The batch side takes one window over its
    own fingerprints (batch ≪ corpus) and one equi-join; AQE
    broadcasts the batch when it is small. Corpus-dup wins over
    batch-dup when both hold, so statuses are join-order independent.
    """
    fp = F.md5(normalized_text(F.col("text")))
    seen = corpus.select(fp.alias("fingerprint")).distinct()
    return incremental_dedup_against_fingerprints(new_docs, seen)


def incremental_dedup_bloom(new_docs: DataFrame,
                            corpus: DataFrame) -> DataFrame:
    """Bloom-prefiltered :func:`incremental_dedup` — IDENTICAL results
    (same statuses, same oracle), different 100 TB cost profile.

    The exact form's steady-state cost is shuffling every batch
    fingerprint into the corpus-fingerprint store's buckets even
    though, at typical re-crawl churn, most batch rows match nothing.
    This face builds a compact bitmap over the corpus fingerprints
    (one pass over the store, ≤ m/64 longs ≈ 16 KB at m = 2¹⁷ —
    ``operators.bloom``), broadcasts it, and routes the batch by the
    probe: rows the bitmap REJECTS are definitively not in the corpus
    (no false negatives) and settle their status from the in-batch
    rank alone — they never enter a join; only accepted rows (true
    members + the (1−e^(−kn/m))^k false-positive sliver) pay the exact
    verification join, so the shuffle is proportional to the duplicate
    fraction, not the batch. Verification keeps precision exact.

    ``BLOOM_M_BITS`` is sized to the false-positive budget, not bigger: every
    probe test deserializes the broadcast word array per call (k
    tests × 2 accesses per row), so an oversized bitmap taxes each
    batch row — measured 15.5 s at m=2²⁰ vs 0.8 s at m=2¹⁷ for a
    5 k-row probe. At m=2¹⁷/k=5 the FP rate is < 2·10⁻⁴ up to ~13 k
    distinct fingerprints; grow m with the store keeping kn/m ≲ 0.2.
    """
    from pyspark.sql import Window

    from .bloom import bloom_build, bloom_flag

    fp = F.md5(normalized_text(F.col("text")))
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy("doc_id"))
    batch = (new_docs.select(F.col("doc_id"), fp.alias("fingerprint"))
             .withColumn("rn", rn))
    seen = corpus.select(fp.alias("fingerprint")).distinct()
    bf = bloom_build(seen, "fingerprint", BLOOM_M_BITS)
    flagged = bloom_flag(batch, bf, "fingerprint", m_bits=BLOOM_M_BITS)
    batch_status = (F.when(F.col("rn") > 1, "dup_in_batch")
                    .otherwise("novel"))
    rejected = (flagged.where(~F.col("maybe"))
                .select("doc_id", "fingerprint",
                        batch_status.alias("status")))
    accepted = (
        flagged.where(F.col("maybe"))
        .join(seen.withColumn("in_corpus", F.lit(True)),
              "fingerprint", "left")
        .select("doc_id", "fingerprint",
                F.when(F.col("in_corpus"), "dup_of_corpus")
                .otherwise(batch_status).alias("status")))
    return accepted.unionByName(rejected)


def incremental_dedup_against_fingerprints(
        new_docs: DataFrame, fingerprints: DataFrame,
        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """``incremental_dedup`` against an already-materialized corpus
    fingerprint store (a ``fingerprint`` column) — the steady-state
    form: a continuously-ingesting pipeline keeps the store on disk
    (ideally bucketed on fingerprint) and never
    re-reads corpus text at all. Same contract and statuses."""
    from pyspark.sql import Window

    fp = F.md5(normalized_text(F.col(text_col)))
    batch = new_docs.select(F.col(id_col), fp.alias("fingerprint"))
    seen = (fingerprints.select("fingerprint").distinct()
            .withColumn("in_corpus", F.lit(True)))
    rn = F.row_number().over(
        Window.partitionBy("fingerprint").orderBy(id_col))
    return (batch.withColumn("rn", rn)
            .join(seen, "fingerprint", "left")
            .select(id_col, "fingerprint",
                    F.when(F.col("in_corpus"), "dup_of_corpus")
                    .when(F.col("rn") > 1, "dup_in_batch")
                    .otherwise("novel").alias("status")))


def dedup_impact_report(docs: DataFrame) -> DataFrame:
    """What would exact dedup do to this corpus → one row per
    duplicate-cluster size: ``(cluster_size, n_clusters, n_docs,
    n_tokens, tokens_lost)``.

    The go/no-go report BEFORE running a dedup pass: ``tokens_lost``
    (tokens of every non-survivor; survivor = min id, the engine-wide
    election) is exactly the training-token cost of deduplicating at
    this granularity, and the cluster-size histogram shows whether the
    duplication is a long tail of pairs or a few mega-clusters (which
    is what decides between plain dedup and boilerplate treatment).

    Scale shape: text reduces to (fingerprint, id, n_tokens) in one
    narrow map — 40-byte rows — then two keyed aggregations
    (fingerprint → cluster stats, cluster_size → histogram). The
    survivor's token count rides the first aggregate as a
    ``min(struct(id, tokens))`` so no second pass over the corpus and
    no join back; output is bounded by the number of DISTINCT cluster
    sizes (≤ tens).
    """
    fp = F.md5(normalized_text(F.col("text")))
    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    t = docs.select(fp.alias("fingerprint"), F.col("doc_id"),
                    F.size(words).cast("long").alias("n_tokens"))
    per = (t.groupBy("fingerprint")
           .agg(F.count("*").cast("long").alias("cluster_size"),
                F.sum("n_tokens").alias("n_tokens"),
                F.min(F.struct("doc_id", "n_tokens")).alias("_keep")))
    return (per.groupBy("cluster_size")
            .agg(F.count("*").cast("long").alias("n_clusters"),
                 F.sum("cluster_size").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum(F.col("n_tokens") - F.col("_keep.n_tokens"))
                 .cast("long").alias("tokens_lost"))
            .orderBy("cluster_size"))


def dup_rate_by_window(docs: DataFrame) -> DataFrame:
    """Duplicate-rate trend over ingest windows → ``(day, n_docs,
    n_dups, dup_rate)``: per window, the fraction of documents whose
    content fingerprint already occurred in an EARLIER (window, id)
    position corpus-wide.

    The standing crawler-health monitor: a dup rate trending up means
    the crawler is revisiting (seed-list loop, frontier bug) or a
    mirror farm entered the seed set — caught per ingest day, not
    after a full-corpus dedup. First occurrence is elected as the
    lexicographic ``min(struct(day, id))`` per fingerprint (one
    struct-min — deterministic under any partitioning, same election
    convention as the survivor rules, and correct for ANY id range
    including negative ids, unlike an arithmetic ``day·C + id``
    encoding which mis-elects once ids reach C), then one window-keyed
    aggregate. ~48-byte rows end to end; text never shuffles.
    """
    fp = F.md5(normalized_text(F.col("text")))
    t = docs.select(fp.alias("fingerprint"),
                    F.col("day").cast("long").alias("day"),
                    F.col("doc_id").cast("long").alias("_id"))
    firsts = (t.groupBy("fingerprint")
              .agg(F.min(F.struct("day", "_id")).alias("_first")))
    dup = ((F.col("day") != F.col("_first.day"))
           | (F.col("_id") != F.col("_first._id"))).cast("int")
    return (t.join(firsts, "fingerprint")
            .groupBy("day")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(dup).cast("long").alias("n_dups"),
                 F.round(F.sum(dup) / F.count("*"), 6).alias("dup_rate"))
            .orderBy("day"))


def bcubed_report(assignments: DataFrame) -> DataFrame:
    """B-cubed extrinsic clustering evaluation (E162) → ONE row
    ``(n_docs, b3_precision, b3_recall, b3_f1)`` scoring a predicted
    clustering against ground-truth clusters (Bagga & Baldwin 1998 —
    the standard dedup/coreference cluster metric, unlike pair-F1 not
    dominated by the largest cluster).

    Per document d: precision(d) = |C(d) ∩ T(d)| / |C(d)|,
    recall(d) = |C(d) ∩ T(d)| / |T(d)| where C/T are d's predicted /
    truth clusters; the report averages over documents and takes the
    harmonic mean. Everything derives from THREE hash aggregates —
    predicted-cluster sizes, truth-cluster sizes, and (pred, truth)
    CELL sizes — joined back onto the assignment rows: no document
    pair is ever materialized, so the metric costs O(n) + cluster-count
    aggregates at any corpus size (the naive pairwise definition is
    quadratic in the largest cluster).
    """
    a = assignments.select(F.col("doc_id").alias("_id"),
                           F.col("pred").alias("_c"),
                           F.col("truth").alias("_t"))
    csz = a.groupBy("_c").agg(F.count("*").alias("_nc"))
    tsz = a.groupBy("_t").agg(F.count("*").alias("_nt"))
    cell = a.groupBy("_c", "_t").agg(F.count("*").alias("_cell"))
    per = (a.join(cell, ["_c", "_t"]).join(csz, "_c").join(tsz, "_t")
           .select((F.col("_cell") / F.col("_nc")).alias("_p"),
                   (F.col("_cell") / F.col("_nt")).alias("_r")))
    agg = per.agg(F.count("*").cast("long").alias("n_docs"),
                  F.avg("_p").alias("_ap"), F.avg("_r").alias("_ar"))
    f1 = 2 * F.col("_ap") * F.col("_ar") / (F.col("_ap") + F.col("_ar"))
    return agg.select("n_docs",
                      F.round("_ap", 6).alias("b3_precision"),
                      F.round("_ar", 6).alias("b3_recall"),
                      F.round(f1, 6).alias("b3_f1"))


def setsim_join_prefix(docs: DataFrame) -> DataFrame:
    """EXACT all-pairs Jaccard ≥ t (``SETSIM_THRESHOLD``) via prefix
    filtering (E182) →
    ``(id_a, id_b, jaccard)`` — the AllPairs/PPJoin family (Bayardo et
    al. 2007), the exact-at-scale complement of MinHash-LSH (whose
    recall is probabilistic) and of ``exact_jaccard_pairs`` (whose
    index holds EVERY token, so Σ df² runs over the full vocabulary).

    Prefix principle: order each document's distinct shingle hashes by
    one GLOBAL total order (the hash value itself) and index only the
    first ``L = |d| − ⌈t·|d|⌉ + 1`` of them. Completeness: J(A,B) ≥ t
    implies |A∩B| ≥ ⌈t·max(|A|,|B|)⌉; the globally smallest common
    element c cannot sit in A's last ⌈t|A|⌉−1 positions (everything of
    A∩B is ≥ c, and fewer than |A∩B| elements fit there) — so c is in
    BOTH prefixes and the pair meets the index. The suffix — the bulk
    of every document at high t — is never indexed, which is the whole
    cost win: candidate mass is Σ df_prefix², a (1−t)-fraction token
    sample of the full index.

    Guards, all exact: the prefix bound uses ``floor(t·|d|)`` (≤ the
    true ceiling under any float rounding — can only LENGTHEN the
    prefix, never break completeness); the symmetric length filter
    ``10⁶·min ≥ round(10⁶t)·max`` runs in integers (a float
    ``t·size`` comparison can over-prune the exact boundary pair;
    thresholds are treated as 6-decimal rationals); and the PPJoin
    POSITIONAL filter prunes before any array moves: the smallest
    matching prefix token of a pair IS the pair's globally smallest
    common element (the completeness argument again), every common
    element is ≥ it, so ``overlap ≤ min(|A|−pa, |B|−pb)`` at its
    positions — pairs whose bound can't reach the required overlap
    ``o·(10⁶+10⁶t) ≥ 10⁶t·(|A|+|B|)`` are dropped (integer compare;
    measured 214k → 81k candidates at sf0.1, and it tightens as
    documents grow, exactly when verify gets expensive).
    Verification is the exact hash-set intersection on survivors
    only, with the UNROUNDED ratio compared against t (the ratio of
    exact integers divides to the identical double in any engine, so
    the usual round-before-compare convention is unnecessary — and
    would admit boundary pairs the exact filters already pruned);
    only the reported value is rounded. The slim (id, sorted-hash-array, size) table is
    checkpointed — prefix explode plus two verify joins consume it
    (root-cause 4).
    """
    from .util import ensure_fanout

    tm = int(round(SETSIM_THRESHOLD * 1_000_000))
    words = F.filter(F.split(F.col("_t"), " "), lambda w: w != "")
    hashes = F.array_distinct(F.transform(
        _shifted_gram_zip(words, SHINGLE_N),
        lambda x: F.xxhash64(*[x[str(j)] for j in range(SHINGLE_N)])))
    arr = F.sort_array(F.when(F.size(words) >= SHINGLE_N, hashes)
                       .otherwise(F.array().cast("array<bigint>")))
    # fanout BEFORE the shingle+sort projection: a sub-row-group local
    # scan would evaluate the whole per-doc hashing/sorting on two
    # splits while the cluster idles (the calibration-face lesson)
    slim = (ensure_fanout(docs.select(F.col("doc_id").alias("_id"),
                                      F.col("text").alias("_t")))
            .select("_id", arr.alias("_arr"))
            .withColumn("_sz", F.size("_arr"))
            .where(F.col("_sz") >= 1)
            .localCheckpoint(eager=True))
    pref_len = (F.col("_sz")
                - F.floor(F.lit(SETSIM_THRESHOLD) * F.col("_sz")).cast("int")
                + 1)
    prefix = slim.select(
        "_id", F.col("_sz").cast("long").alias("_sz"),
        F.posexplode(F.slice("_arr", 1, pref_len)).alias("_p", "_h"))
    a, b = prefix.alias("a"), prefix.alias("b")
    # sizes ride as LONG: int32 size * 10^6 overflows at ~2148
    # shingles (ANSI raise, or silent mis-pruning with ANSI off)
    matches = (a.join(b, (F.col("a._h") == F.col("b._h"))
                      & (F.col("a._id") < F.col("b._id"))
                      & (F.col("a._sz") * 1_000_000
                         >= F.lit(tm) * F.col("b._sz"))
                      & (F.col("b._sz") * 1_000_000
                         >= F.lit(tm) * F.col("a._sz")))
               .select(F.col("a._id").alias("id_a"),
                       F.col("b._id").alias("id_b"),
                       F.struct(F.col("a._h").alias("h"),
                                F.col("a._p").alias("pa"),
                                F.col("b._p").alias("pb"),
                                F.col("a._sz").alias("sa"),
                                F.col("b._sz").alias("sb")).alias("_m")))
    # min over h = the pair's smallest common element (it is provably
    # in both prefixes); its positions give the PPJoin overlap bound
    first = (matches.groupBy("id_a", "id_b")
             .agg(F.min("_m").alias("_m"))
             .select("id_a", "id_b", "_m.pa", "_m.pb", "_m.sa", "_m.sb"))
    ub = F.least(F.col("sa") - F.col("pa"), F.col("sb") - F.col("pb"))
    cand = first.where(ub.cast("long") * (1_000_000 + tm)
                       >= F.lit(tm) * (F.col("sa") + F.col("sb")))
    va = slim.select(F.col("_id").alias("id_a"),
                     F.col("_arr").alias("_aa"),
                     F.col("_sz").alias("_sa"))
    vb = slim.select(F.col("_id").alias("id_b"),
                     F.col("_arr").alias("_ab"),
                     F.col("_sz").alias("_sb"))
    inter = F.size(F.array_intersect("_aa", "_ab"))
    jraw = inter / (F.col("_sa") + F.col("_sb") - inter)
    # the filters enforce J >= t EXACTLY, so verify must too: compare
    # the unrounded ratio (exact-integer division, identical doubles
    # in any engine) and round only the reported value — a rounded
    # compare would admit boundary pairs the filters already pruned
    return (cand.select("id_a", "id_b")
            .join(va, "id_a").join(vb, "id_b")
            .where(jraw >= SETSIM_THRESHOLD)
            .select("id_a", "id_b",
                    F.round(jraw, 6).alias("jaccard")))
