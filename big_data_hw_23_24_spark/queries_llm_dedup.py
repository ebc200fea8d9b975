"""LLM-pipeline queries, dedup tier: exact / MinHash-LSH / SimHash /
containment / embedding-LSH / incremental / span-level deduplication
faces and their audit reports. One of the four queries_llm_* tier
modules ``queries._ensure_loaded`` imports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.dedup import (  # noqa: F401  (used at query call time)
    SIMHASH_FAMILY_BITS,
    exact_duplicate_groups,
    exact_jaccard_pairs,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from .operators.multimodal import decode_media, media_from_documents  # noqa: F401
from .operators.similarity import cosine_topk, ivf_topk  # noqa: F401
from .operators.textstats import (  # noqa: F401
    content_fingerprints,
    detect_language,
    quality_scores,
    token_stats,
)
from .queries import _REGISTRY, register
from .queries_llm_shared import (  # noqa: F401  (used inside f-string oracles)
    _BAND_COLLIDE,
    _BOILER_SQL_BASE,
    _EST_JACCARD,
    _PINNED_BPE_MERGES,
    _SHINGLES_CTE,
    _SYNTH_LINES_CTE,
    _bpe_oracle_sql,
    _md5_minhash_sig_cte,
    _synth_lines,
)
from .sources.tables import load_table


# --- exact dedup -------------------------------------------------------------
# The synthetic corpus has no exact duplicates, so the check would pass
# vacuously (0 rows from both engines). Instead dedup runs over
# documents UNION ALL a mangled copy (uppercased, doubled+leading
# whitespace, shifted ids) that normalization must collapse — every
# fingerprint group provably has ≥2 members, so a green cell certifies
# real grouping, not an empty intersection.
@register(
    "dedup_exact_groups",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper('  ' || replace(text, ' ', '  '))
      FROM documents
    )
    SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM (SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
            AS fingerprint, doc_id FROM all_docs)
    GROUP BY fingerprint HAVING count(*) > 1
    """,
    doc="exact dedup: hash-groupBy on normalized-text md5 "
        "(input salted with mangled duplicates so the check is non-vacuous)",
)
def dedup_exact_groups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "),
                         F.regexp_replace("text", " ", "  "))).alias("text"),
    )
    return exact_duplicate_groups(docs.unionAll(mangled))


# --- exact n-gram Jaccard pairs (ground truth for LSH) ----------------------
@register(
    "jaccard_pairs_exact",
    f"""
    WITH {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(ix * 1.0 / (sa.sz + sb.sz - ix), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    """,
    doc="exact all-pairs 3-gram Jaccard ≥ 0.7 via inverted shingle index",
)
def jaccard_pairs_exact(spark, sf_dir):
    return exact_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.7)


# --- MinHash-LSH near-dedup (approximate candidates, exact verify) ----------
@register(
    "dedup_minhash_lsh",
    None,  # xxhash64-based signatures are Spark-specific; recall vs the
           # exact pairs is asserted in tests/test_dedup.py instead
    doc="MinHash(32)+LSH(8×4) near-dup pairs, Jaccard-verified ≥ 0.7",
)
def dedup_minhash_lsh(spark, sf_dir):
    return minhash_near_duplicates(load_table(spark, sf_dir, "documents"),
                                   threshold=0.7)


@register(
    "dedup_simhash",
    None,
    doc="64-bit SimHash near-dup pairs, Hamming ≤ 3, pigeonhole-banded",
)
def dedup_simhash(spark, sf_dir):
    return simhash_near_duplicates(load_table(spark, sf_dir, "documents"),
                                   max_hamming=3)


# --- dedup components (pairs → groups) ---------------------------------------
# Transitive closure of the near-dup relation: the step that turns pair
# lists into dedup groups with a canonical survivor (min id). Spark
# side: iterative min-label propagation (driver-bounded rounds, the
# MRFFT iteration contract); oracle side: DuckDB recursive CTE over the
# same exact-Jaccard ≥ 0.7 edges — one of the few iterative operators
# with a full value-checked oracle.
@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, min(lbl) AS component
    FROM reach GROUP BY node
    """,
    doc="connected components over exact-Jaccard ≥ 0.7 pairs: "
        "iterative min-label propagation vs recursive-CTE oracle",
)
def dedup_components(spark, sf_dir):
    from .operators.components import connected_components

    pairs = exact_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.7)
    return connected_components(pairs)


@register(
    "dedup_survivor_groups",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
    SELECT component AS keep_id, count(*) AS n_docs,
           count(*) - 1 AS n_dropped
    FROM comp GROUP BY component
    """,
    doc="per-component survivor summary (keep min-id, drop the rest) — "
        "the aggregation the corpus pipeline and dedup report act on",
)
def dedup_survivor_groups(spark, sf_dir):
    from .operators.components import connected_components, dedup_survivors

    pairs = exact_jaccard_pairs(load_table(spark, sf_dir, "documents"), 0.7)
    return dedup_survivors(connected_components(pairs))


# --- embedding-cosine near-dup (the dedup face of similarity) ----------------
# The synthetic embeddings are near-random (max pairwise cosine ≈ 0.51
# at sf0.01), so the near-dup threshold sits at 0.4 to make the check
# non-vacuous (59 pairs at sf0.01). Both engines compare the ROUNDED
# cosine so a threshold-straddling ulp can't flip membership.
@register(
    "dedup_embedding_cosine",
    """
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6)
          >= 0.4
    """,
    doc="exact embedding-cosine near-dup pairs (small-scale oracle "
        "face; embedding_lsh_pairs is the scale path)",
)
def dedup_embedding_cosine(spark, sf_dir):
    from .operators.similarity import cosine_pairs

    return cosine_pairs(load_table(spark, sf_dir, "embeddings"))


@register(
    "dedup_embedding_lsh",
    None,
    doc="random-hyperplane LSH near-dup: banded sign-bit signatures → "
        "chunk equi-join candidates → exact-cosine verify (precision 1, "
        "recall <1 by design at this low threshold; property-tested "
        "against cosine_pairs with planted near-dups)",
)
def dedup_embedding_lsh(spark, sf_dir):
    from .operators.similarity import embedding_lsh_pairs

    return embedding_lsh_pairs(load_table(spark, sf_dir, "embeddings"))


# The oracle-checkable face of the LSH path (r8, the E76 md5-MinHash
# precedent applied to hyperplanes): ±1 sign planes pinned from md5
# parity over int8-quantized codes make every sign bit an exact
# integer computation both engines reproduce; the band-join-verify
# dataflow (and its shuffle keys) is byte-for-byte the production
# face's (_lsh_band_verify). 256 planes over dim 64 (the testdata
# embedding dim — the Spark face infers dim at runtime), 16 bands x
# 16 bits since r10: the sf1 probe measured the old 8-bit band space
# (256 values) crowding at 20k vectors — candidate pairs grew
# quadratically (32x time at 10x data); a 65 536-value band space
# keeps bucket occupancy < 1 and the probe linear-ish.
@register(
    "dedup_embedding_lsh_pinned",
    """
    WITH planes AS (
      SELECT jj.j, dd.d,
             CASE WHEN ('0x' || substr(md5(jj.j || '_' || dd.d), 1, 8))::BIGINT
                       % 2 = 0 THEN 1 ELSE -1 END AS sgn
      FROM (SELECT unnest(generate_series(0, 255)) AS j) jj,
           (SELECT unnest(generate_series(0, 63)) AS d) dd
    ),
    q AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                     x -> abs(x))) AS m
      FROM embeddings WHERE embedding IS NOT NULL
    ),
    el AS (
      SELECT vec_id, t.d,
             CASE WHEN m > 0
                  THEN floor(v[t.d + 1] / m * 127 + 0.5)::BIGINT
                  ELSE 0 END AS c
      FROM q, unnest(generate_series(0, 63)) t(d)
    ),
    bits AS (
      SELECT e.vec_id, p.j,
             CASE WHEN sum(e.c * p.sgn) > 0 THEN 1 ELSE 0 END AS bit
      FROM el e JOIN planes p ON p.d = e.d
      GROUP BY e.vec_id, p.j
    ),
    bandv AS (
      SELECT vec_id, j // 16 AS chunk,
             sum(bit * (1 << (j % 16)))::BIGINT AS val
      FROM bits GROUP BY vec_id, j // 16
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bandv a JOIN bandv b
        ON a.chunk = b.chunk AND a.val = b.val AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                        CAST(eb.embedding AS DOUBLE[])), 6)
             AS cosine
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                       CAST(eb.embedding AS DOUBLE[])), 6)
          >= 0.4
    """,
    doc="md5-pinned sign-plane LSH near-dup pairs: every candidate pair "
        "an exact integer computation, full value oracle for the banded "
        "LSH dataflow (production Gaussian face stays dedup_embedding_lsh)",
)
def dedup_embedding_lsh_pinned(spark, sf_dir):
    from .operators.similarity import embedding_lsh_pairs_pinned

    return embedding_lsh_pairs_pinned(load_table(spark, sf_dir, "embeddings"))


# --- incremental batch-vs-corpus dedup ---------------------------------------
# The synthetic corpus has no duplicates, so the batch is constructed
# to exercise every status non-vacuously: mangled copies of doc_id%10=0
# (normalization must collapse them → dup_of_corpus), novel rewrites of
# doc_id%10=1 (→ novel), and a second copy of each rewrite under a
# higher id (→ dup_in_batch). Both engines build the identical batch.
@register(
    "dedup_incremental",
    """
    WITH batch AS (
      SELECT doc_id + 1000000 AS doc_id,
             upper('  ' || replace(text, ' ', '  ')) AS text
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' zzznovel'
      FROM documents WHERE doc_id % 10 = 1
      UNION ALL
      SELECT doc_id + 3000000, text || ' zzznovel'
      FROM documents WHERE doc_id % 10 = 1
    ),
    fp AS (
      SELECT doc_id,
             md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
               AS fingerprint,
             row_number() OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               ' +', ' ', 'g'))
               ORDER BY doc_id) AS rn
      FROM batch
    ),
    seen AS (
      SELECT DISTINCT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
               AS fingerprint
      FROM documents
    )
    SELECT f.doc_id, f.fingerprint,
           CASE WHEN s.fingerprint IS NOT NULL THEN 'dup_of_corpus'
                WHEN f.rn > 1 THEN 'dup_in_batch'
                ELSE 'novel' END AS status
    FROM fp f LEFT JOIN seen s ON s.fingerprint = f.fingerprint
    """,
    doc="incremental ingestion dedup: batch fingerprints vs the corpus "
        "DISTINCT-fingerprint set (novel / dup_of_corpus / dup_in_batch)",
)
def dedup_incremental(spark, sf_dir):
    from .operators.dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "),
                         F.regexp_replace("text", " ", "  "))).alias("text"))
    novel = docs.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zzznovel")).alias("text"))
    again = novel.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return incremental_dedup(mangled.unionAll(novel).unionAll(again), docs)


# Bloom-prefiltered face of the same contract: IDENTICAL statuses (so
# it shares dedup_incremental's oracle verbatim), but batch rows the
# corpus bitmap rejects never enter the verification join — the
# shuffle is proportional to the duplicate fraction, not the batch.
# The synthetic batch exercises both routes non-vacuously: mangled
# copies pass the bloom and verify as dup_of_corpus; the zzznovel
# rewrites are (mostly) rejected outright and settle from the in-batch
# rank alone.
@register(
    "dedup_incremental_bloom",
    _REGISTRY["dedup_incremental"].oracle,
    doc="bloom-prefiltered incremental ingestion dedup: broadcast "
        "corpus-fingerprint bitmap routes the batch, only possible "
        "members pay the exact verification join; no false negatives, "
        "exact statuses",
)
def dedup_incremental_bloom(spark, sf_dir):
    from .operators.dedup import incremental_dedup_bloom

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "),
                         F.regexp_replace("text", " ", "  "))).alias("text"))
    novel = docs.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" zzznovel")).alias("text"))
    again = novel.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return incremental_dedup_bloom(
        mangled.unionAll(novel).unionAll(again), docs)


# --- streaming continuous-ingestion dedup ------------------------------------
# E38 composed with the idempotent sink (E28) behind a real
# Structured Streaming query: the salted corpus replays as 10 ordered
# micro-batches (originals first in doc_id order, then mangled copies
# of every 5th doc, then doubled novel rewrites), and each epoch dedups
# against fingerprints accumulated in strictly-earlier epochs. The
# final status table is deterministic — the oracle recomputes the
# identical epoch assignment (row_number over doc_id, div ceil(N/10))
# and the identical three-way status rules in SQL.
@register(
    "streaming_ingest_dedup",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper('  ' || replace(text, ' ', '  '))
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 3000000 + 2 * doc_id + dup.k, text || ' zzznovel'
      FROM documents, (SELECT unnest([0, 1]) AS k) dup
      WHERE doc_id % 5 = 1
    ),
    seqd AS (
      SELECT doc_id, text,
             row_number() OVER (ORDER BY doc_id) - 1 AS seq,
             (SELECT (count(*) + 9) // 10 FROM all_docs) AS chunk
      FROM all_docs
    ),
    ep AS (
      SELECT doc_id, epoch, fingerprint,
             row_number() OVER (PARTITION BY epoch, fingerprint
                                ORDER BY doc_id) AS rn
      FROM (SELECT doc_id, (seq // chunk)::INT AS epoch,
                   md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
                     AS fingerprint
            FROM seqd)
    )
    SELECT e.doc_id, e.fingerprint,
           CASE WHEN EXISTS (SELECT 1 FROM ep p
                             WHERE p.fingerprint = e.fingerprint
                               AND p.epoch < e.epoch)
                  THEN 'dup_of_corpus'
                WHEN e.rn > 1 THEN 'dup_in_batch'
                ELSE 'novel' END AS status,
           e.epoch
    FROM ep e
    """,
    doc="continuous-ingestion dedup over real micro-batches: per-epoch "
        "statuses vs the accumulated fingerprint store, idempotent "
        "epoch-keyed appends",
)
def streaming_ingest_dedup(spark, sf_dir):
    import shutil
    import tempfile

    from pyspark.sql import Window

    from .streaming.ingest_dedup import StreamingIngestDedup
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangled = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "),
                         F.regexp_replace("text", " ", "  "))).alias("text"))
    novel = docs.where(F.col("doc_id") % 5 == 1) \
        .select("doc_id", F.concat("text", F.lit(" zzznovel")).alias("text"))
    doubled = novel.select(
        (3000000 + 2 * F.col("doc_id")).alias("doc_id"), "text").unionAll(
        novel.select((3000000 + 2 * F.col("doc_id") + 1).alias("doc_id"),
                     "text"))
    all_docs = docs.unionAll(mangled).unionAll(doubled)
    # global seq for the replay harness only (bounded salted corpus)
    seqd = all_docs.withColumn(
        "seq", F.row_number().over(Window.orderBy("doc_id")) - 1)
    d = tempfile.mkdtemp(prefix="ingest_stream_")
    store = tempfile.mkdtemp(prefix="ingest_store_")
    try:
        glob = write_microbatches(seqd, d, n_buckets=10)
        stream = (spark.readStream
                  .schema("doc_id long, text string, seq long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        pipe = StreamingIngestDedup(spark, store)
        with replay_shuffle_cap(spark):
            q = (stream.writeStream.foreachBatch(pipe)
                 .trigger(availableNow=True).start())
            # fail loudly on timeout — a silent partial status table
            # would surface as a confusing oracle mismatch downstream
            assert q.awaitTermination(180), "ingest-dedup stream timed out"
        # materialize before the store directory is removed
        return (pipe.statuses()
                .select("doc_id", "fingerprint", "status",
                        F.col("epoch").cast("int").alias("epoch"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


@register(
    "doc_dedup_lines",
    f"""
    WITH {_SYNTH_LINES_CTE},
    lines AS (
      SELECT doc_id, unnest([la, la, lb, ld, la]) AS line,
             generate_subscripts([la, la, lb, ld, la], 1) AS pos
      FROM synth
    ),
    firsts AS (
      SELECT doc_id, line, pos,
             row_number() OVER (PARTITION BY doc_id, line
                                ORDER BY pos) AS rn
      FROM lines
    )
    SELECT doc_id, 5::INT AS n_lines,
           CAST(count(*) AS INT) AS n_unique_lines,
           md5(string_agg(line, chr(10) ORDER BY pos)) AS dedup_md5
    FROM firsts WHERE rn = 1 GROUP BY doc_id
    """,
    doc="within-document repeated-line removal, keep-first in original "
        "order (zero-shuffle HOF fold; planted duplicate lines make "
        "the check non-vacuous)",
)
def doc_dedup_lines(spark, sf_dir):
    from .operators.cleaning import dedup_lines

    s = _synth_lines(spark, sf_dir)
    docs = s.select(
        "doc_id",
        F.concat_ws("\n", "la", "la", "lb", "ld", "la").alias("text"))
    out = dedup_lines(docs)
    return out.select(
        "doc_id", F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_unique_lines").cast("int").alias("n_unique_lines"),
        F.md5("text_deduped").alias("dedup_md5"))


# --- SemDeDup: semantic dedup within embedding clusters ----------------------
# Same fixed-centroid convention as embedding_nearest_centroid (the
# first four corpus vectors), same round-then-compare cosine rule as
# dedup_embedding_cosine; τ=0.35 keeps ~100 in-cluster pairs live at
# both checked SFs so the dropped set is provably non-empty.
@register(
    "dedup_semantic_clusters",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv FROM e WHERE vec_id < 4),
    d AS (
      SELECT e.vec_id, e.v, c.centroid_id,
             list_sum(list_transform(range(1, len(e.v) + 1),
                                     i -> (e.v[i] - c.cv[i]) ^ 2)) AS dist
      FROM e, c
    ),
    a AS (SELECT vec_id, v, centroid_id,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, centroid_id) AS rn
          FROM d),
    asg AS (SELECT vec_id, v, centroid_id AS cluster FROM a WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT y.vec_id
      FROM asg x JOIN asg y
        ON x.cluster = y.cluster AND x.vec_id < y.vec_id
      WHERE round(list_cosine_similarity(x.v, y.v), 6) >= 0.35
    )
    SELECT g.vec_id, g.cluster,
           (dr.vec_id IS NOT NULL) AS dropped
    FROM asg g LEFT JOIN dropped dr USING (vec_id)
    """,
    doc="SemDeDup (arXiv:2303.09540): nearest-centroid clustering, "
        "then per-cluster cosine ≥ 0.35 collapses near-duplicates to "
        "the smallest-id exemplar — the pair join is keyed by cluster, "
        "never all-pairs",
)
def dedup_semantic_clusters(spark, sf_dir):
    from .operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    cents = (emb.where(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").cast("array<double>").alias("cv")))
    return semantic_dedup(emb, cents, threshold=0.35)


# --- dedup impact report (r8) ------------------------------------------------
# The go/no-go audit before a dedup pass. The synthetic corpus has no
# duplicates, so the input is salted with planted clusters covering
# FOUR sizes: every doc (size-1 tail), a mangled copy of doc_id%3=0
# (size 2), a verbatim + a mangled copy of doc_id%5=0 (size 3), and
# the %15=0 overlap of both rules (size 4) — the histogram, doc and
# token conservation, and survivor-token arithmetic all non-vacuous.
@register(
    "corpus_dedup_impact",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper('  ' || replace(text, ' ', '  '))
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id + 2000000, text
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 3000000, upper('  ' || replace(text, ' ', '  '))
      FROM documents WHERE doc_id % 5 = 0
    ),
    t AS (
      SELECT md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g'))
               AS fingerprint,
             doc_id,
             len(list_filter(string_split(text, ' '),
                             w -> w <> ''))::BIGINT AS n_tokens
      FROM all_docs
    ),
    per AS (
      SELECT fingerprint, count(*)::BIGINT AS cluster_size,
             sum(n_tokens)::BIGINT AS n_tokens,
             arg_min(n_tokens, doc_id) AS keep_tokens
      FROM t GROUP BY fingerprint
    )
    SELECT cluster_size, count(*)::BIGINT AS n_clusters,
           sum(cluster_size)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(n_tokens - keep_tokens)::BIGINT AS tokens_lost
    FROM per GROUP BY cluster_size ORDER BY cluster_size
    """,
    doc="dedup impact audit: duplicate-cluster size histogram with "
        "exact training-token cost of deduplicating (tokens of every "
        "non-survivor); 40-byte projection + two keyed aggregations, "
        "output bounded by distinct cluster sizes",
)
def corpus_dedup_impact(spark, sf_dir):
    from .operators.dedup import dedup_impact_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mangle = F.upper(F.concat(F.lit("  "),
                              F.regexp_replace("text", " ", "  ")))
    d3 = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), mangle.alias("text"))
    d5a = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text")
    d5b = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"), mangle.alias("text"))
    return dedup_impact_report(
        docs.unionAll(d3).unionAll(d5a).unionAll(d5b))


# --- exact repeated-span removal (E69) ---------------------------------------
@register(
    "doc_span_dedup",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS words
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS start,
             array_to_string(words[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, words,
                   unnest(range(1, len(words) - 8 + 2)) AS i
            FROM base WHERE len(words) >= 8)
    ),
    mined AS (
      SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd
                        FROM pos GROUP BY gram)
      WHERE nd >= 2
    ),
    fl AS (
      SELECT doc_id, list_sort(list(DISTINCT start)) AS starts
      FROM pos JOIN mined USING (gram) GROUP BY doc_id
    ),
    cleaned AS (
      SELECT b.doc_id, b.words,
             CASE WHEN f.starts IS NULL THEN b.words
             ELSE list_filter(b.words, (w, i) ->
                    len(list_filter(f.starts,
                                    s -> s <= i AND i <= s + 7)) = 0)
             END AS kept
      FROM base b LEFT JOIN fl f USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(len(words) - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark
           coalesce(array_to_string(kept, ' '), '') AS clean_text
    FROM cleaned
    """,
    doc="exact repeated-span removal (Lee et al. 2022 at word "
        "granularity, strip-all-occurrences variant): drop every "
        "token covered by a word 8-gram shared by >= 2 docs; ONE "
        "materialized positioned-gram table feeds both the mined set "
        "(broadcast back) and the per-doc flagged starts",
)
def doc_span_dedup(spark, sf_dir):
    from .operators.textstats import remove_repeated_spans

    return remove_repeated_spans(load_table(spark, sf_dir, "documents"))


# --- exact-substring dedup, keep-one variant (E131, r9) -----------------------
# The published ExactSubstr semantics (Lee et al. 2022): the FIRST
# OWNER (min doc_id) of a shared word 8-gram keeps its occurrences;
# every later doc loses the covered tokens — one copy of each
# duplicated span survives the corpus. Sibling of doc_span_dedup
# (strip-all, the boilerplate default); same positioned-gram table,
# the mined aggregate just also elects min(doc_id) as owner and the
# flag join drops the owner's own rows. Non-vacuous on the natural
# corpus (sf0.001: 1 115 shared grams, 22 owners, 24 losing docs).
@register(
    "doc_span_dedup_keepone",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS words
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i AS start,
             array_to_string(words[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, words,
                   unnest(range(1, len(words) - 8 + 2)) AS i
            FROM base WHERE len(words) >= 8)
    ),
    mined AS (
      SELECT gram, owner FROM (
        SELECT gram, count(DISTINCT doc_id) AS nd,
               min(doc_id) AS owner
        FROM pos GROUP BY gram)
      WHERE nd >= 2
    ),
    fl AS (
      SELECT doc_id, list_sort(list(DISTINCT start)) AS starts
      FROM pos JOIN mined USING (gram)
      WHERE doc_id <> owner
      GROUP BY doc_id
    ),
    cleaned AS (
      SELECT b.doc_id, b.words,
             CASE WHEN f.starts IS NULL THEN b.words
             ELSE list_filter(b.words, (w, i) ->
                    len(list_filter(f.starts,
                                    s -> s <= i AND i <= s + 7)) = 0)
             END AS kept
      FROM base b LEFT JOIN fl f USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_tokens,
           CAST(len(words) - len(kept) AS BIGINT) AS n_removed,
           -- array_to_string([]) is NULL in DuckDB, '' in Spark
           coalesce(array_to_string(kept, ' '), '') AS clean_text
    FROM cleaned
    """,
    doc="exact repeated-span dedup, keep-one variant (Lee et al. 2022 "
        "ExactSubstr at word granularity): the min-doc_id owner of a "
        "shared 8-gram keeps its occurrences, later docs lose the "
        "covered tokens; same single positioned-gram table as "
        "doc_span_dedup, owner elected inside the mined aggregate",
)
def doc_span_dedup_keepone(spark, sf_dir):
    from .operators.textstats import remove_repeated_spans_keepone

    return remove_repeated_spans_keepone(
        load_table(spark, sf_dir, "documents"))


# --- quality-aware dedup survivors (E70) -------------------------------------
@register(
    "dedup_survivors_best",
    f"""
    WITH RECURSIVE {_SHINGLES_CTE},
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    prs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM prs
      UNION SELECT id_b, id_a FROM prs
    ),
    reach(node, lbl) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node AS doc_id, min(lbl) AS component
             FROM reach GROUP BY node),
    q AS (
      SELECT doc_id,
             round(0.4 * length_ok + 0.3 * rep
                   + 0.2 * (1 - least(punct * 10, 1.0))
                   + 0.1 * (1 - least(digits * 10, 1.0)), 6) AS quality_score
      FROM (
        SELECT doc_id,
               (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
                 * 1.0 / greatest(length(text), 1) AS punct,
               (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
                 * 1.0 / greatest(length(text), 1) AS digits,
               len(list_distinct(list_filter(string_split(lower(text), ' '),
                                             w -> w <> '')))
                 * 1.0 / greatest(len(list_filter(string_split(lower(text), ' '),
                                                  w -> w <> '')), 1) AS rep,
               CASE WHEN length(text) BETWEEN 100 AND 20000
                    THEN 1.0 ELSE 0.5 END AS length_ok
        FROM documents)
    )
    SELECT component, doc_id AS keep_id, quality_score AS keep_score,
           n_docs, n_docs - 1 AS n_dropped
    FROM (
      SELECT c.component, c.doc_id, q.quality_score,
             row_number() OVER (PARTITION BY c.component
                                ORDER BY q.quality_score DESC, c.doc_id)
               AS r,
             count(*) OVER (PARTITION BY c.component) AS n_docs
      FROM comp c JOIN q USING (doc_id))
    WHERE r = 1
    """,
    doc="quality-aware survivor per near-dup component (RefinedWeb "
        "keep-best-of-cluster): argmax of the heuristic quality score, "
        "id tiebreak, vs the recursive-CTE components + quality oracle",
)
def dedup_survivors_best(spark, sf_dir):
    from .operators.components import best_survivors, connected_components
    from .operators.textstats import quality_scores

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(exact_jaccard_pairs(docs, 0.7))
    return best_survivors(comp, quality_scores(docs))


@register(
    "dedup_incremental_minhash",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz1 zz2 zz3'
      FROM documents WHERE doc_id % 5 = 0
    ),
    {_md5_minhash_sig_cte("all_docs")}
    SELECT batch_id, corpus_id, est_jaccard FROM (
      SELECT a.doc_id AS batch_id, b.doc_id AS corpus_id,
             round({_EST_JACCARD}, 6) AS est_jaccard
      FROM sig a JOIN sig b
        ON a.doc_id >= 1000000 AND b.doc_id < 1000000
       AND ({_BAND_COLLIDE}))
    WHERE est_jaccard >= 0.5
    """,
    doc="incremental NEAR-dup matching of a new batch against a "
        "signature-only corpus store (text never retained): batch "
        "shingled alone, one banded equi-join vs the store's bands, "
        "MinHash-estimate Jaccard on collided pairs; batch = every "
        "5th doc with a 3-word tail appended (J about 0.9); md5 hash "
        "family so the full signature pipeline is oracle-replayable",
)
def dedup_incremental_minhash(spark, sf_dir):
    from .operators.dedup import (
        minhash_match_against, minhash_signature, word_shingles)

    docs = load_table(spark, sf_dir, "documents")
    # the store is read by BOTH the banding and the estimate branches;
    # in production it is a premade parquet (cheap re-scan), here it
    # would be the 32-hash signature map recomputed twice — build once
    from .operators.util import ensure_fanout

    store = (minhash_signature(word_shingles(ensure_fanout(docs)),
                               hash_family="md5")
             .select("doc_id", "signature")
             .localCheckpoint(eager=True))
    # near-dup derivation: append a 3-word tail — shingles are
    # case-SENSITIVE (unlike the exact rung's normalized fingerprints),
    # so a case mangle would zero the overlap; a suffix keeps
    # J = S/(S+3) ≈ 0.9 for the ~50-word docs
    batch = (docs.where(F.col("doc_id") % 5 == 0)
             .select((F.col("doc_id") + 1000000).alias("doc_id"),
                     F.concat("text", F.lit(" zz1 zz2 zz3")).alias("text")))
    return minhash_match_against(batch, store, threshold=0.5,
                                 hash_family="md5")


# --- banded LSH self-join, oracle face (E76) ---------------------------------
@register(
    "dedup_minhash_banded",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz1 zz2 zz3'
      FROM documents WHERE doc_id % 5 = 0
    ),
    {_md5_minhash_sig_cte("all_docs")}
    SELECT id_a, id_b, est_jaccard FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round({_EST_JACCARD}, 6) AS est_jaccard
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id AND ({_BAND_COLLIDE}))
    WHERE est_jaccard >= 0.5
    """,
    doc="banded-LSH SELF-join near-dup face of dedup_minhash_lsh with "
        "the md5 hash family: same lsh_candidate_pairs plan (band-hash "
        "equi-join, never all-pairs), signature-estimate Jaccard "
        "instead of the re-shingle verify, fully oracle-replayable; "
        "input salted with 3-word-suffix copies so every planted pair "
        "must surface",
)
def dedup_minhash_banded(spark, sf_dir):
    from .operators.dedup import (
        lsh_candidate_pairs, minhash_signature, word_shingles)
    from .operators.util import ensure_fanout

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.where(F.col("doc_id") % 5 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat("text", F.lit(" zz1 zz2 zz3")).alias("text")))
    # signature map read by banding AND both sides of the estimate
    # join — materialize once (the dedup_minhash_lsh persist strategy).
    # The empty-shingle filter runs AFTER the checkpoint, on the
    # materialized n_sh int: a pre-checkpoint where(size(shingles)>0)
    # gets pushed below ensure_fanout's exchange into the scan stage,
    # where it (a) re-evaluates the whole shingle HOF expression as a
    # scan DataFilter + Filter node and (b) drags the per-doc compute
    # into the scan's few input splits instead of the fanned-out stage
    # (measured 20.3 s → 5.6 s at the 10× sf1 probe; sf0.1 3.5 → 1.3 s)
    signed = (minhash_signature(
                  word_shingles(ensure_fanout(docs.unionAll(copies))),
                  hash_family="md5")
              .select("doc_id", F.size("shingles").alias("_n_sh"),
                      "signature")
              .localCheckpoint(eager=True)
              .where(F.col("_n_sh") > 0)
              .select("doc_id", "signature"))
    pairs = lsh_candidate_pairs(signed)
    sa = signed.select(F.col("doc_id").alias("id_a"),
                       F.col("signature").alias("_sig_a"))
    sb = signed.select(F.col("doc_id").alias("id_b"),
                       F.col("signature").alias("_sig_b"))
    agree = F.size(F.filter(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
        lambda m: m))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    F.round(agree / F.size("_sig_a"), 6)
                    .alias("est_jaccard"))
            .where(F.col("est_jaccard") >= 0.5))


# --- cross-document paragraph dedup (E75) ------------------------------------
# CCNet-style: each distinct line survives only in its first
# (doc_id, position) owner corpus-wide. Runs over the synthetic
# multi-line corpus (the C4 derivation), where 'Ok.' and the closing
# line are shared by construction across most documents.
@register(
    "corpus_dedup_paragraphs",
    f"""
    WITH {_SYNTH_LINES_CTE},
    d AS (
      SELECT doc_id,
             la || chr(10) || lb || chr(10) || lc || chr(10) || ld
                || chr(10) || le AS text
      FROM synth
    ),
    l AS (
      SELECT doc_id, pos, line FROM (
        SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
               generate_subscripts(string_split(text, chr(10)), 1) AS pos
        FROM d)
    ),
    r AS (
      SELECT doc_id, pos, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, pos) AS rn
      FROM l
    ),
    k AS (SELECT * FROM r WHERE line = '' OR rn = 1)
    SELECT d.doc_id,
           5::BIGINT AS n_lines,
           CAST(coalesce(c.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(c.clean_text, '') AS clean_text
    FROM d LEFT JOIN (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text
      FROM k GROUP BY doc_id) c USING (doc_id)
    """,
    doc="CCNet cross-document paragraph dedup: every distinct line "
        "survives only in its first (doc, position) owner corpus-wide "
        "(empty lines structural, always kept); one line-keyed owner "
        "election, one join back, one doc-keyed ordered reassembly",
)
def corpus_dedup_paragraphs(spark, sf_dir):
    from .operators.cleaning import dedup_paragraphs_global

    s = _synth_lines(spark, sf_dir)
    docs = s.select(
        "doc_id",
        F.concat_ws("\n", "la", "lb", "lc", "ld", "le").alias("text"))
    return dedup_paragraphs_global(docs)


# --- URL-normalization dedup (E78) -------------------------------------------
# The testdata has no url column, so the face synthesizes a
# deterministic provenance URL per doc (scheme/case/www/query/trailing
# variants by doc_id residue) that normalization must collapse --
# every group's membership is provable, the dedup_exact_groups salting
# pattern applied to provenance.
_URL_SYNTH_SPARK = (
    "concat('HTTPS://WWW.', coalesce(source, 'none'), '.Example.com/p', "
    "cast(doc_id % 40 as string), "
    "case when doc_id % 3 = 0 then '?utm_source=feed' "
    "when doc_id % 3 = 1 then '/' else '' end)")


_URL_SYNTH_DUCK = (
    "'HTTPS://WWW.' || coalesce(source, 'none') || '.Example.com/p' || "
    "CAST(doc_id % 40 AS VARCHAR) || "
    "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' "
    "WHEN doc_id % 3 = 1 THEN '/' ELSE '' END")


@register(
    "dedup_url_normalized",
    f"""
    WITH u AS (SELECT doc_id, {_URL_SYNTH_DUCK} AS url FROM documents),
    n AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               lower(url), '^https?://', ''), '^www\\.', ''),
               '[?#].*$', ''), '/+$', '') AS norm_url
      FROM u
    )
    SELECT norm_url, count(*) AS n_docs, min(doc_id) AS keep_id
    FROM n GROUP BY norm_url HAVING count(*) > 1
    """,
    doc="provenance (URL) dedup groups: normalize scheme/case/www/"
        "query/trailing-slash variants, hash-groupBy on the normalized "
        "URL, keep-first survivor -- the RefinedWeb first-stage dedup "
        "that runs before any content hashing",
)
def dedup_url_normalized(spark, sf_dir):
    from .operators.cleaning import url_duplicate_groups

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", F.expr(_URL_SYNTH_SPARK).alias("url")))
    return url_duplicate_groups(docs)


# --- asymmetric containment near-dup (E80) -----------------------------------
# Salted with TRUNCATED copies (first half of the words of every 7th
# doc): a truncated mirror has Jaccard about 0.5 against its source but
# directed containment exactly 1.0 -- the case Jaccard-based dedup
# misses by construction, provably planted.
@register(
    "dedup_containment_pairs",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             coalesce(array_to_string(
               words[1:CAST(floor(len(words) / 2) AS INT)], ' '), '')
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                     AS words
            FROM documents)
      WHERE doc_id % 7 = 0
    ),
    w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM all_docs)
      WHERE word <> ''
    ),
    sh AS (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word AS shingle
      FROM w a
      JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    keep AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING count(*) <= 100),
    shf AS (SELECT s.doc_id, s.shingle FROM sh s JOIN keep USING (shingle)),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
      FROM shf a JOIN shf b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common, containment_a, containment_b FROM (
      SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common,
             round(n_common * 1.0 / sa.sz, 6) AS containment_a,
             round(n_common * 1.0 / sb.sz, 6) AS containment_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b)
    WHERE containment_a >= 0.9 OR containment_b >= 0.9
    """,
    doc="asymmetric (containment) near-dup pairs, Broder 1997: "
        "directed |A-int-B|/|A| >= 0.9 either way over distinct word "
        "3-gram shingles -- catches subset/quoted/truncated duplication "
        "that Jaccard misses; inverted-index pairing with a max_df=100 "
        "stop-shingle guard, denominators from the UNFILTERED shingle "
        "sets; input salted with half-truncated copies (containment "
        "exactly 1.0 by construction)",
)
def dedup_containment_pairs(spark, sf_dir):
    from .operators.dedup import shingle_containment_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    trunc = (docs.where(F.col("doc_id") % 7 == 0)
             .select((F.col("doc_id") + 2000000).alias("doc_id"),
                     F.concat_ws(" ", F.slice(
                         words, F.lit(1),
                         F.floor(F.size(words) / 2).cast("int")))
                     .alias("text")))
    return shingle_containment_pairs(docs.unionAll(trunc),
                                     threshold=0.9, max_df=100)


SIMHASH_MAX_HAMMING = 3


# --- md5-pinned SimHash near-dup face (E137, r9) --------------------------------
# The E76/E104 pinning move applied to the LAST dedup fingerprint
# family still rows-only: with the per-token hash pinned to the 60-bit
# md5 prefix, fingerprints, 15-bit pigeonhole bands and Hamming
# distances are bit-identical across engines — the whole
# band -> collide -> bit_count-verify dataflow (same shuffle keys as
# the production xxhash64 face) earns a full value oracle. The corpus
# is salted with token-SORTED copies: SimHash is a bag-of-tokens
# fingerprint, so a reorder is hamming-0 — every planted pair must
# surface, while natural 15-bit band collisions exercise the
# hamming-filter branch non-vacuously.
def _simhash_md5_oracle_sql() -> str:
    bits = SIMHASH_FAMILY_BITS["md5"]
    chunks = SIMHASH_MAX_HAMMING + 1
    width = bits // chunks
    mask = (1 << width) - 1
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits))
    asm = " + ".join(
        f"CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(bits))
    chunk_vals = ", ".join(str(c) for c in range(chunks))
    return f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000,
             array_to_string(list_sort(list_filter(
               string_split(text, ' '), w -> w <> '')), ' ')
      FROM documents
    ),
    tok AS (
      SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id,
                   unnest(list_filter(string_split(text, ' '),
                                      w -> w <> '')) AS word
            FROM all_docs)
    ),
    v AS (SELECT doc_id, {votes} FROM tok GROUP BY doc_id),
    fp AS (SELECT doc_id, ({asm})::BIGINT AS simhash FROM v),
    banded AS (
      SELECT doc_id, simhash, c AS chunk,
             (simhash >> (c * {width})) & {mask} AS val
      FROM fp, unnest([{chunk_vals}]) AS t(c)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS ha, b.simhash AS hb
      FROM banded a
      JOIN banded b ON a.chunk = b.chunk AND a.val = b.val
                   AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
    FROM pairs
    WHERE bit_count(xor(ha, hb)) <= {SIMHASH_MAX_HAMMING}
    """


@register(
    "dedup_simhash_pinned",
    _simhash_md5_oracle_sql(),
    doc="md5-pinned 60-bit SimHash near-dup pairs (Hamming <= 3, "
        "15-bit pigeonhole bands): the engine-portable oracle face of "
        "dedup_simhash — same band/collide/verify dataflow, per-token "
        "hash pinned to the md5 prefix; salted with token-sorted "
        "copies (bag-of-tokens reorder = hamming 0)",
)
def dedup_simhash_pinned(spark, sf_dir):
    from .operators.dedup import simhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    sorted_copy = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.array_sort(toks), " ").alias("text"))
    out = simhash_near_duplicates(docs.unionByName(sorted_copy),
                                  max_hamming=SIMHASH_MAX_HAMMING,
                                  hash_family="md5")
    return out.select("id_a", "id_b",
                      F.col("hamming").cast("long").alias("hamming"))


# --- dedup-face evaluation report (E140, r9) ------------------------------------
# The meta-face every production dedup rollout needs before trusting an
# approximate family: banded-MinHash predictions scored against EXACT
# Jaccard ground truth on the same salted corpus — TP/FP/FN, precision,
# recall in ONE row. Composable here because both sides are already
# value-checked faces (E14 exact pairs, E76 md5 banded LSH), so the
# oracle is their CTE composition; disagreements near the threshold are
# the real signature-estimate-vs-true-Jaccard error being measured, not
# engine noise (both engines compute both sides identically).
@register(
    "dedup_eval_minhash",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz1 zz2 zz3'
      FROM documents WHERE doc_id % 5 = 0
    ),
    {_md5_minhash_sig_cte("all_docs")},
    szs AS (SELECT doc_id, count(*) AS sz FROM shg GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM shg a JOIN shg b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b FROM inter
      JOIN szs sa ON sa.doc_id = id_a
      JOIN szs sb ON sb.doc_id = id_b
      WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.5
    ),
    pred AS (
      SELECT id_a, id_b FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round({_EST_JACCARD}, 6) AS est
        FROM sig a JOIN sig b
          ON a.doc_id < b.doc_id AND ({_BAND_COLLIDE}))
      WHERE est >= 0.5
    ),
    m AS (
      SELECT t.id_a IS NOT NULL AS in_truth,
             p.id_a IS NOT NULL AS in_pred
      FROM truth t FULL OUTER JOIN pred p
        ON t.id_a = p.id_a AND t.id_b = p.id_b
    )
    SELECT sum(CASE WHEN in_truth THEN 1 ELSE 0 END)::BIGINT AS n_truth,
           sum(CASE WHEN in_pred THEN 1 ELSE 0 END)::BIGINT AS n_pred,
           sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END)::BIGINT
             AS tp,
           sum(CASE WHEN in_pred AND NOT in_truth THEN 1 ELSE 0 END)::BIGINT
             AS fp,
           sum(CASE WHEN in_truth AND NOT in_pred THEN 1 ELSE 0 END)::BIGINT
             AS fn,
           round(sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END)
                 * 1.0 / greatest(sum(CASE WHEN in_pred THEN 1 ELSE 0 END),
                                  1), 6) AS precision,
           round(sum(CASE WHEN in_truth AND in_pred THEN 1 ELSE 0 END)
                 * 1.0 / greatest(sum(CASE WHEN in_truth THEN 1 ELSE 0 END),
                                  1), 6) AS recall
    FROM m
    """,
    doc="dedup-face evaluation: banded md5-MinHash predictions vs "
        "exact-Jaccard ground truth on the same salted corpus -> "
        "TP/FP/FN + precision/recall in one row; the rollout gate "
        "report composed from two value-checked faces",
)
def dedup_eval_minhash(spark, sf_dir):
    from .operators.dedup import (
        exact_jaccard_pairs, lsh_candidate_pairs, minhash_signature,
        word_shingles)
    from .operators.util import ensure_fanout

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.where(F.col("doc_id") % 5 == 0)
              .select((F.col("doc_id") + 1000000).alias("doc_id"),
                      F.concat("text", F.lit(" zz1 zz2 zz3")).alias("text")))
    salted = docs.unionAll(copies)
    truth = (exact_jaccard_pairs(salted, threshold=0.5)
             .select("id_a", "id_b", F.lit(True).alias("_t")))
    # empty-filter after the checkpoint on the materialized count —
    # see dedup_minhash_banded for the pushdown/scan-stage rationale
    signed = (minhash_signature(word_shingles(ensure_fanout(salted)),
                                hash_family="md5")
              .select("doc_id", F.size("shingles").alias("_n_sh"),
                      "signature")
              .localCheckpoint(eager=True)
              .where(F.col("_n_sh") > 0)
              .select("doc_id", "signature"))
    pairs = lsh_candidate_pairs(signed)
    sa = signed.select(F.col("doc_id").alias("id_a"),
                       F.col("signature").alias("_sig_a"))
    sb = signed.select(F.col("doc_id").alias("id_b"),
                       F.col("signature").alias("_sig_b"))
    agree = F.size(F.filter(
        F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y),
        lambda m: m))
    pred = (pairs.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    F.round(agree / F.size("_sig_a"), 6).alias("_est"))
            .where(F.col("_est") >= 0.5)
            .select("id_a", "id_b", F.lit(True).alias("_p")))
    m = truth.join(pred, ["id_a", "id_b"], "full_outer")
    t = F.coalesce("_t", F.lit(False))
    p = F.coalesce("_p", F.lit(False))
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    tp, n_t, n_p = cnt(t & p), cnt(t), cnt(p)
    return m.agg(
        n_t.alias("n_truth"), n_p.alias("n_pred"), tp.alias("tp"),
        cnt(p & ~t).alias("fp"), cnt(t & ~p).alias("fn"),
        F.round(tp / F.greatest(n_p, F.lit(1)), 6).alias("precision"),
        F.round(tp / F.greatest(n_t, F.lit(1)), 6).alias("recall"))


# --- entity resolution tier (E157/E158, r11) ---------------------------------
# Record linkage over short ENTITY STRINGS under typos — edit distance,
# not set overlap, where the shingle families degenerate (a 1-char typo
# in a 3-word title flips word shingles all-or-nothing). Entities are
# the documents' 4-word "titles"; the dirty variants are deterministic
# tail-character deletions (every 9th doc), so every planted pair is
# distance 1 and shares its blocking key. Both classic candidate
# strategies get a face: Fellegi-Sunter blocking (equi-join on a cheap
# key, max_block-guarded) and Hernández-Stolfo sorted-neighborhood
# (rank-adjacency, O(n·w) under any skew). The oracle states the
# DEFINITION (all same-block pairs / all rank-window pairs + the same
# levenshtein), so parity proves the guarded/bucketed plans equal it.

_LINKAGE_ENTS_CTE = """
    base AS (
      SELECT doc_id,
             array_to_string((string_split(text, ' '))[1:4], ' ') AS e
      FROM documents
    ),
    ents AS (
      SELECT doc_id, e FROM base
      UNION ALL
      SELECT doc_id + 3000000, substr(e, 1, length(e) - 1)
      FROM base WHERE doc_id % 9 = 0 AND length(e) >= 8
    )"""


def _linkage_entities(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    e = F.array_join(F.slice(F.split("text", " "), 1, 4), " ")
    base = docs.select("doc_id", e.alias("e"))
    # the dirty variant deletes the LAST character: distance 1, never
    # touches a space or the first two words, so the blocking key
    # below is provably shared by every planted pair
    dirty = (base.where((F.col("doc_id") % 9 == 0)
                        & (F.length("e") >= 8))
             .select((F.col("doc_id") + 3000000).alias("doc_id"),
                     F.expr("substr(e, 1, length(e) - 1)").alias("e")))
    return base.unionByName(dirty)


@register(
    "doc_linkage_blocked",
    f"""
    WITH {_LINKAGE_ENTS_CTE},
    blk AS (
      SELECT doc_id, e,
             split_part(e, ' ', 1) || ' ' || split_part(e, ' ', 2) AS b
      FROM ents
    ),
    keep AS (SELECT b FROM blk GROUP BY b HAVING count(*) <= 1000),
    s AS (SELECT blk.* FROM blk SEMI JOIN keep USING (b))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.e, b.e) AS INTEGER) AS dist
    FROM s a JOIN s b ON a.b = b.b AND a.doc_id < b.doc_id
    WHERE levenshtein(a.e, b.e) <= 2
    """,
    doc="blocked fuzzy record linkage (Fellegi-Sunter blocking) over "
        "4-word document titles: equi-join on the two-word block "
        "(MAX_BLOCK=1000 guard), exact levenshtein <= 2 verify; every "
        "9th doc gets a last-char-deletion variant (distance 1, block "
        "intact) as planted ground truth; dist-0 rows are exact-title "
        "duplicates",
)
def doc_linkage_blocked(spark, sf_dir):
    from .operators.linkage import blocked_fuzzy_pairs

    ents = _linkage_entities(spark, sf_dir)
    # two-word block: a first-word-only key leaves ~30 blocks whose
    # sizes grow linearly with the corpus (sum(block^2) ~1M pairs and
    # 4.9 s at sf0.1); the refined key keeps every planted pair (the
    # mangle never reaches the first two words) at ~18k block pairs
    blk = F.concat(F.split_part(F.col("e"), F.lit(" "), F.lit(1)),
                   F.lit(" "),
                   F.split_part(F.col("e"), F.lit(" "), F.lit(2)))
    return blocked_fuzzy_pairs(ents, "e", blk)


@register(
    "doc_linkage_snm",
    f"""
    WITH {_LINKAGE_ENTS_CTE},
    r AS (
      SELECT doc_id, e,
             row_number() OVER (ORDER BY e, doc_id) AS rk
      FROM ents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(b.rk - a.rk AS INTEGER) AS rank_gap,
           CAST(levenshtein(a.e, b.e) AS INTEGER) AS dist
    FROM r a JOIN r b
      ON b.rk > a.rk AND b.rk - a.rk <= 4
    WHERE levenshtein(a.e, b.e) <= 2
    """,
    doc="sorted-neighborhood record linkage (Hernandez-Stolfo SNM) "
        "over the same titled entities: global rank by (title, id) on "
        "the range-partitioned rank spine, candidates = rank distance "
        "<= 4 via a bucket-adjacency self-join (O(n*w) under any "
        "skew), exact levenshtein <= 2 verify; the oracle ranks with "
        "a window row_number and joins the definitional rank window",
)
def doc_linkage_snm(spark, sf_dir):
    from .operators.linkage import sorted_neighborhood_pairs

    ents = _linkage_entities(spark, sf_dir)
    return sorted_neighborhood_pairs(ents, "e", window=4)


# --- E162: B-cubed cluster-quality gate ---------------------------------------
# The fourth approximation gate (E140 dedup pairs, E145 percentiles,
# E146 ANN): dedup is consumed as CLUSTERS, and pair-level P/R hides
# which clusters broke — B-cubed (Bagga & Baldwin 1998) is the
# standard cluster-extrinsic metric. Truth = planted families (every
# 6th doc gets a case-mangled copy and a suffixed copy; the family is
# the parent id); predicted = exact groups on NORMALIZED text, which
# merges the case mangle but must miss the suffix — so recall < 1
# structurally — while any naturally text-identical docs from
# different families drag precision below 1. No pair is ever
# materialized: three hash aggregates + joins back onto assignments.
@register(
    "dedup_eval_bcubed",
    """
    WITH fam AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 4000000, upper(text) FROM documents
      WHERE doc_id % 6 = 0
      UNION ALL
      SELECT doc_id + 5000000, text || ' zz tail' FROM documents
      WHERE doc_id % 6 = 0
      UNION ALL
      -- boilerplate bleed: every 17th doc's family also emits a page
      -- carrying the NEXT doc's text verbatim -> predicted dedup must
      -- merge it into the WRONG family (precision < 1 structurally)
      SELECT a.doc_id + 6000000, b.text
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 17 = 0
    ),
    a AS (
      SELECT doc_id,
             min(doc_id) OVER (
               PARTITION BY md5(regexp_replace(lower(trim(text)),
                                               ' +', ' ', 'g'))) AS c,
             doc_id % 1000000 AS t
      FROM fam
    ),
    csz AS (SELECT c, count(*) AS nc FROM a GROUP BY c),
    tsz AS (SELECT t, count(*) AS nt FROM a GROUP BY t),
    cell AS (SELECT c, t, count(*) AS cl FROM a GROUP BY c, t),
    per AS (
      SELECT 1.0 * cell.cl / csz.nc AS p, 1.0 * cell.cl / tsz.nt AS r
      FROM a JOIN cell USING (c, t) JOIN csz USING (c) JOIN tsz USING (t)
    ),
    agg AS (SELECT count(*)::BIGINT AS n_docs, avg(p) AS ap, avg(r) AS ar
            FROM per)
    SELECT n_docs, round(ap, 6) AS b3_precision, round(ar, 6) AS b3_recall,
           round(2 * ap * ar / (ap + ar), 6) AS b3_f1
    FROM agg
    """,
    doc="B-cubed extrinsic evaluation of normalized-exact dedup "
        "clusters against planted duplicate families (case-mangled "
        "copy merges, suffixed copy must not, boilerplate-bleed pages "
        "merge into the WRONG family): per-doc precision/"
        "recall from cluster/truth/cell SIZE aggregates only — no "
        "document pair materialized — averaged and F1'd; the cluster-"
        "level rollout gate beside the pair-level E140",
)
def dedup_eval_bcubed(spark, sf_dir):
    from .operators.dedup import bcubed_report, normalized_text

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sixth = docs.where(F.col("doc_id") % 6 == 0)
    # boilerplate bleed: every 17th family emits a page carrying the
    # NEXT doc's text verbatim — predicted dedup merges it into the
    # wrong family, keeping the precision branch non-vacuous
    bleed = (docs.alias("a").where(F.col("a.doc_id") % 17 == 0)
             .join(docs.alias("b"),
                   F.col("b.doc_id") == F.col("a.doc_id") + 1)
             .select((F.col("a.doc_id") + 6000000).alias("doc_id"),
                     F.col("b.text").alias("text")))
    fam = (docs
           .unionByName(sixth.select(
               (F.col("doc_id") + 4000000).alias("doc_id"),
               F.upper("text").alias("text")))
           .unionByName(sixth.select(
               (F.col("doc_id") + 5000000).alias("doc_id"),
               F.concat("text", F.lit(" zz tail")).alias("text")))
           .unionByName(bleed))
    fp = F.md5(normalized_text(F.col("text")))
    groups = (fam.select("doc_id", fp.alias("_fp"))
              .groupBy("_fp").agg(F.min("doc_id").alias("_c")))
    assign = (fam.select("doc_id", fp.alias("_fp"),
                         (F.col("doc_id") % 1000000).alias("truth"))
              .join(groups, "_fp")
              .select("doc_id", F.col("_c").alias("pred"), "truth"))
    return bcubed_report(assign)


# --- E182: exact set-similarity join via prefix filtering (r12) -----------------
# The exact-at-scale member of the dedup tier: MinHash-LSH recall is
# probabilistic and exact_jaccard_pairs indexes EVERY token (Σ df²
# over the full vocabulary) — the AllPairs/PPJoin prefix filter keeps
# the result exactly complete while indexing only the first
# |d| − ⌈t·|d|⌉ + 1 hash-ordered shingles per document (the globally
# smallest common element of any qualifying pair provably lands in
# both prefixes). Salt: every 11th doc re-ingested with every 25th
# word dropped — J against its source ≈ 0.75-0.9 (each dropped word
# kills ≤3 shingles, adds ≤1 bridge), comfortably over the 0.7
# threshold, so true pairs exist at every SF. The oracle states the
# DEFINITIONAL all-pairs Jaccard over the same salted corpus, so the
# parity row is the completeness proof run as data.
@register(
    "dedup_setsim_prefix",
    """
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 8000000,
             array_to_string(
               list_filter(
                 list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i % 25 = 0 THEN NULL ELSE ws[i] END),
                 x -> x IS NOT NULL), ' ')
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                     AS ws
            FROM documents)
      WHERE doc_id % 11 = 0
    ),
    w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM all_docs)
      WHERE word <> ''
    ),
    sh AS (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word AS shingle
      FROM w a
      JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(ix * 1.0 / (sa.sz + sb.sz - ix), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    """,
    doc="exact all-pairs Jaccard >= 0.7 via AllPairs/PPJoin prefix "
        "filtering: only the first |d| - ceil(t|d|) + 1 hash-ordered "
        "shingles are indexed (completeness proven via the smallest "
        "common element), integer-exact length filter, exact "
        "verification on candidates only; oracle = the definitional "
        "all-pairs join, so parity IS the completeness proof; salted "
        "with word-dropped re-ingests (J ~ 0.8)",
)
def dedup_setsim_prefix(spark, sf_dir):
    from .operators.dedup import setsim_join_prefix

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    # 2-param HOF lambda receives (element, 0-based index): keep words
    # whose 1-based position is not a multiple of 25
    dropped = F.array_join(
        F.filter(words, lambda w, i: (i + 1) % 25 != 0), " ")
    salt = (docs.where(F.col("doc_id") % 11 == 0)
            .select((F.col("doc_id") + 8000000).alias("doc_id"),
                    dropped.alias("text")))
    return setsim_join_prefix(docs.unionByName(salt))


# --- E223: LSH candidate recall vs the exact join ------------------------------
# The rollout gate for the banding CONFIG itself: E76 value-checks
# the banded plan, E182 proves the exact join complete — this face
# measures what the probabilistic step actually costs, candidate
# recall AND candidate precision of md5-banded LSH against the
# definitional Jaccard >= 0.7 truth set on the SAME salted corpus
# (the knn_eval_reciprocal treatment applied to the dedup tier).
@register(
    "dedup_eval_lsh_recall",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 8000000,
             array_to_string(
               list_filter(
                 list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i % 25 = 0 THEN NULL ELSE ws[i] END),
                 x -> x IS NOT NULL), ' ')
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                     AS ws
            FROM documents)
      WHERE doc_id % 11 = 0
      UNION ALL
      SELECT doc_id + 16000000,
             array_to_string(
               list_filter(
                 list_transform(range(1, len(ws) + 1),
                   i -> CASE WHEN i % 12 = 0 THEN NULL ELSE ws[i] END),
                 x -> x IS NOT NULL), ' ')
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '')
                     AS ws
            FROM documents)
      WHERE doc_id % 7 = 0
    ),
    w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM all_docs)
      WHERE word <> ''
    ),
    sh AS (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word AS shingle
      FROM w a
      JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ix
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ix * 1.0 / (sa.sz + sb.sz - ix) >= 0.7
    ),
    {_md5_minhash_sig_cte("all_docs")},
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sig a JOIN sig b
        ON a.doc_id < b.doc_id AND ({_BAND_COLLIDE})
    ),
    tc AS (SELECT count(*)::BIGINT AS n_truth FROM truth),
    cc AS (SELECT count(*)::BIGINT AS n_candidates FROM cand),
    hc AS (SELECT count(*)::BIGINT AS n_hit
           FROM truth t JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b)
    SELECT n_truth, n_candidates, n_hit,
           CASE WHEN n_truth > 0
                THEN round(n_hit * 1.0 / n_truth, 6) END AS recall,
           CASE WHEN n_candidates > 0
                THEN round(n_hit * 1.0 / n_candidates, 6)
           END AS candidate_precision
    FROM tc, cc, hc
    """,
    doc="banded-LSH rollout gate: candidate recall and precision of "
        "the md5 32-hash / 8-band pipeline against the definitional "
        "exact Jaccard >= 0.7 pair set on the word-drop-salted corpus; "
        "the corpus is checkpointed once for both sides, both pair "
        "sets are pair-scale checkpoints, the readout is three counts",
)
def dedup_eval_lsh_recall(spark, sf_dir):
    from .operators.dedup import (
        lsh_candidate_pairs, minhash_signature, setsim_join_prefix,
        word_shingles)
    from .operators.util import ensure_fanout

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    # dual salt: every-25th-word drops (J ~ 0.88 — the always-caught
    # anchor) plus every-12th-word drops (J ~ 0.70 — the near-threshold
    # band where banding at b=8, r=4 actually misses: P(catch) ~ 0.92
    # at J = 0.72), so recall < 1 and precision < 1 are both REAL
    drop25 = F.array_join(
        F.filter(words, lambda w, i: (i + 1) % 25 != 0), " ")
    drop12 = F.array_join(
        F.filter(words, lambda w, i: (i + 1) % 12 != 0), " ")
    salt_a = (docs.where(F.col("doc_id") % 11 == 0)
              .select((F.col("doc_id") + 8000000).alias("doc_id"),
                      drop25.alias("text")))
    salt_b = (docs.where(F.col("doc_id") % 7 == 0)
              .select((F.col("doc_id") + 16000000).alias("doc_id"),
                      drop12.alias("text")))
    # the exact side AND the signature side both scan the corpus:
    # fan out once, checkpoint once (root-cause 4)
    corpus = (ensure_fanout(docs.unionByName(salt_a).unionByName(salt_b))
              .localCheckpoint(eager=True))
    truth = (setsim_join_prefix(corpus)
             .select("id_a", "id_b").localCheckpoint(eager=True))
    signed = (minhash_signature(word_shingles(corpus), hash_family="md5")
              .select("doc_id", F.size("shingles").alias("_n_sh"),
                      "signature")
              .localCheckpoint(eager=True)
              .where(F.col("_n_sh") > 0)
              .select("doc_id", "signature"))
    cand = (lsh_candidate_pairs(signed)
            .localCheckpoint(eager=True))
    tc = truth.agg(F.count("*").cast("long").alias("n_truth"))
    cc = cand.agg(F.count("*").cast("long").alias("n_candidates"))
    hc = (truth.join(cand, ["id_a", "id_b"])
          .agg(F.count("*").cast("long").alias("n_hit")))
    return (tc.crossJoin(cc).crossJoin(hc)
            .select("n_truth", "n_candidates", "n_hit",
                    F.when(F.col("n_truth") > 0,
                           F.round(F.col("n_hit") * 1.0
                                   / F.col("n_truth"), 6)).alias("recall"),
                    F.when(F.col("n_candidates") > 0,
                           F.round(F.col("n_hit") * 1.0
                                   / F.col("n_candidates"), 6))
                    .alias("candidate_precision")))
