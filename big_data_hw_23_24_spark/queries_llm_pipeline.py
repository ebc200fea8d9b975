"""LLM-pipeline queries, pipeline-assembly tier: corpus mixing /
splits / sampling / packing / shards / snapshots / drift and ops
analytics (events, cohorts, streaming ingest). One of the four
queries_llm_* tier modules ``queries._ensure_loaded`` imports.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators.dedup import (  # noqa: F401  (used at query call time)
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
from .operators.tokenizer import BPE_MERGES
from .queries import register
from .queries import _REGISTRY as _R  # post-registration oracle patches
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
from .streaming.late_audit import late_audit_oracle_sql


# --- BPE pair statistics (tokenizer training, step 1) ------------------------
@register(
    "bpe_pair_counts",
    """
    WITH vocab AS (
      SELECT word, count(*) AS n_occ
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    pairs AS (
      SELECT substr(word, i, 2) AS pair, n_occ, word
      FROM (SELECT word, n_occ,
                   unnest(generate_series(1, length(word) - 1)) AS i
            FROM vocab WHERE length(word) >= 2)
    )
    SELECT pair, sum(n_occ)::BIGINT AS n_occurrences,
           count(DISTINCT word)::BIGINT AS n_distinct_words
    FROM pairs GROUP BY pair
    """,
    doc="BPE merge-selection statistics: adjacent char-pair frequencies "
        "exploded from the aggregated vocabulary, never the token stream",
)
def bpe_pair_counts(spark, sf_dir):
    from .operators.tokenizer import bpe_pair_counts as _bpe

    return _bpe(load_table(spark, sf_dir, "documents"))


# --- vocabulary coverage curve (tokenizer training, step 2) ------------------
@register(
    "vocab_coverage",
    """
    WITH counts AS (
      SELECT word, count(*) AS n_occ
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    ranked AS (
      SELECT sum(n_occ) OVER (ORDER BY n_occ DESC, word
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             row_number() OVER (ORDER BY n_occ DESC, word) AS rank,
             sum(n_occ) OVER () AS total
      FROM counts
    )
    SELECT p AS coverage_target,
           min(rank)::BIGINT AS vocab_size,
           min_by(cum, rank)::BIGINT AS tokens_covered,
           max(total)::BIGINT AS total_tokens
    FROM ranked,
         (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p)
    WHERE cum >= p * total
    GROUP BY p
    """,
    doc="vocabulary sizing: smallest top-frequency vocab covering "
        "50/90/99% of token occurrences (cumsum over the vocab table)",
)
def vocab_coverage(spark, sf_dir):
    from .operators.tokenizer import vocab_coverage as _vc

    return _vc(load_table(spark, sf_dir, "documents"))


# --- source mixing (corpus recipe) -------------------------------------------
# A graded mixture over the synthetic sources: full src0, half src1,
# a quarter src2, a tenth src3, 5% of everything else — every rate
# band exercised, every row's keep decision value-checked.
@register(
    "corpus_source_mix",
    """
    WITH rated AS (
      SELECT doc_id, source, substr(md5(text), 1, 4) AS bucket,
             CASE source WHEN 'src0' THEN 1.0::DOUBLE
                         WHEN 'src1' THEN 0.5::DOUBLE
                         WHEN 'src2' THEN 0.25::DOUBLE
                         WHEN 'src3' THEN 0.1::DOUBLE
                         ELSE 0.05::DOUBLE END AS keep_rate,
             CASE source WHEN 'src0' THEN 'g'
                         WHEN 'src1' THEN '8000'
                         WHEN 'src2' THEN '4000'
                         WHEN 'src3' THEN '1999'
                         ELSE '0ccc' END AS bound
      FROM documents
    )
    SELECT doc_id, source, bucket, keep_rate, bucket < bound AS keep
    FROM rated
    """,
    doc="deterministic data-mixing: per-source content-hash downsampling "
        "to a target corpus recipe (1.0/0.5/0.25/0.1/0.05 rate bands)",
)
def corpus_source_mix(spark, sf_dir):
    from .operators.splits import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}
    return (mix_sources(docs, rates, default_rate=0.05)
            .select("doc_id", "source", "bucket", "keep_rate", "keep"))


@register(
    "corpus_boilerplate_ngrams",
    _BOILER_SQL_BASE + """
    SELECT ngram, n_docs, n_occ FROM boiler
    """,
    doc="cross-document boilerplate mining: word 8-grams in >=3 docs "
        "with doc and occurrence counts (operators/textstats.py)",
)
def corpus_boilerplate_ngrams(spark, sf_dir):
    from .operators.textstats import boilerplate_ngrams

    return boilerplate_ngrams(load_table(spark, sf_dir, "documents"))


# --- full BPE training loop --------------------------------------------------
# Formerly rows-only (iterative argmax); converted to a full oracle in
# r8 by UNROLLING the 8 training rounds as CTE rounds, the same pinned-
# input pattern as knn_mmr_rerank's greedy steps and
# events_item_pagerank's iterations. Each round k is three CTEs:
# p{k} (adjacent-pair counts off the framed-symbol vocabulary — the
# frame trick documented at _bpe_oracle_sql), b{k} (the argmax with the
# engine-shared tie-break: count desc, then lexicographic a, b), and
# v{k+1} (the greedy merge as a framed-string replace, left-to-right
# non-overlapping exactly like tokenizer._merge_pair's JVM fold).
# tests/test_llm_ops.py additionally pins the merge sequence to an
# independent pure-Python BPE reference.
def _bpe_train_oracle_sql() -> str:
    parts = ["""WITH w AS (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents),
wc AS (SELECT word, count(*) AS n_occ FROM w WHERE word <> '' GROUP BY word),
v0 AS (SELECT array_to_string(list_transform(string_split(word, ''),
         c -> chr(2) || c || chr(3)), '') AS fs, n_occ FROM wc)"""]
    for k in range(BPE_MERGES):
        parts.append(f"""p{k} AS (
  SELECT s.syms[t.i - 1] AS a, s.syms[t.i] AS b, sum(s.n_occ)::BIGINT AS cnt
  FROM (SELECT string_split(substr(fs, 2, length(fs) - 2),
               chr(3) || chr(2)) AS syms, n_occ FROM v{k}) s,
       unnest(generate_series(2, len(s.syms))) AS t(i)
  GROUP BY a, b),
b{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
v{k + 1} AS (SELECT replace(fs, chr(2) || a || chr(3) || chr(2) || b || chr(3),
                chr(2) || a || b || chr(3)) AS fs, n_occ FROM v{k}, b{k})""")
    sel = "\nUNION ALL ".join(
        f'SELECT {k} AS step, a AS "left", b AS "right", cnt AS pair_count '
        f"FROM b{k}" for k in range(BPE_MERGES))
    return ",\n".join(parts) + "\n" + sel + "\nORDER BY step"


@register(
    "bpe_learned_merges",
    _bpe_train_oracle_sql(),
    doc="distributed BPE training: 8 learned merges over the corpus "
        "(vocab-scale pair aggregate + bounded argmax + JVM merge fold "
        "per round); oracle unrolls the rounds as framed-symbol CTEs",
)
def bpe_learned_merges(spark, sf_dir):
    from .operators.tokenizer import bpe_train

    merges = bpe_train(load_table(spark, sf_dir, "documents"))
    rows = [(i, a, b, c) for i, (a, b, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "step int, left string, right string, pair_count long")


# --- exact per-source stratified sample --------------------------------------
@register(
    "corpus_stratified_sample",
    """
    SELECT doc_id, source, CAST(rn AS BIGINT) AS sample_rank
    FROM (SELECT doc_id, source,
                 row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
          FROM documents)
    WHERE rn <= 10
    """,
    doc="exactly 10 documents per source, chosen by md5(doc_id) order "
        "— seed-free, engine-portable, prefix-consistent sampling via "
        "the two-stage grouped top-k (no stratum ever funnels through "
        "one reducer)",
)
def corpus_stratified_sample(spark, sf_dir):
    from .operators.selection import stratified_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return stratified_sample(docs, ["source"], 10, "doc_id") \
        .select("doc_id", "source",
                F.col("sample_rank").cast("bigint").alias("sample_rank"))


# --- token-budget quality curation -------------------------------------------
# Rank documents by a deterministic quality signal (non-space character
# density: one integer/integer division, bit-identical in any IEEE
# engine) and admit them best-first until a 10k-token budget fills.
# The cumulative sum is the range-partitioned two-pass prefix sum
# (operators/ranking.py) — no single-partition window ever sees the
# corpus.
@register(
    "corpus_quality_budget",
    """
    WITH scored AS (
      SELECT doc_id,
             len(replace(text, ' ', '')) * 1.0 / n_chars AS score,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, score, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY score DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tokens
      FROM scored
    )
    SELECT doc_id, round(score, 6) AS score, n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 10000
    """,
    doc="compute-optimal curation: fill a 10k-token budget best-first "
        "by character-density score via the scalable global prefix sum",
)
def corpus_quality_budget(spark, sf_dir):
    from .operators.selection import quality_budget

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        (F.length(F.regexp_replace("text", " ", "")) * 1.0
         / F.col("n_chars")).alias("score"),
        F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))
        .cast("bigint").alias("n_tokens"))
    out = quality_budget(scored, [F.col("score").desc(), F.col("doc_id")],
                         "n_tokens", 10000, cum_col="cum_tokens")
    return out.select("doc_id", F.round("score", 6).alias("score"),
                      "n_tokens", "cum_tokens")


# --- token-balanced shards ---------------------------------------------------
@register(
    "corpus_token_shards",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(cum AS BIGINT) AS cum_tokens,
           CAST(floor((cum - n_tokens) / 2000) AS BIGINT) AS shard
    FROM c
    """,
    doc="equal-work training shards: ~2000 tokens per shard in "
        "deterministic md5-shuffled order, via the range-partitioned "
        "two-pass global prefix sum (no single-reducer window)",
)
def corpus_token_shards(spark, sf_dir):
    from .operators.selection import token_shards

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda w: w != F.lit("")))
        .cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"))
    out = token_shards(t, ["_h", "doc_id"], "n_tokens", 2000,
                       cum_col="cum_tokens")
    return out.select("doc_id", "n_tokens", "cum_tokens", "shard")


# --- dataset card (corpus ops report) ----------------------------------------
# The rollup a corpus owner actually reads before training: per
# (source, lang), per source, and grand-total document/char/token
# inventories. Integer-derived metrics only (sums, min/max, one exact
# division for the mean) so every cell is engine-exact; one pass, one
# grouping-sets aggregate — the Expand operator costs 3 rows per input
# row, all map-side combined before the single shuffle.
@register(
    "corpus_stats_card",
    """
    SELECT source, lang,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid,
           count(*) AS n_docs,
           sum(n_chars)::BIGINT AS total_chars,
           CAST(sum(len(list_filter(string_split(text, ' '),
                                    w -> w <> ''))) AS BIGINT)
             AS total_tokens,
           min(n_chars)::BIGINT AS min_chars,
           max(n_chars)::BIGINT AS max_chars,
           round(sum(n_chars) * 1.0 / count(*), 4) AS avg_chars
    FROM documents
    GROUP BY ROLLUP (source, lang)
    """,
    doc="dataset card: per-(source, lang) / per-source / grand-total "
        "document, char and token inventories in ONE rollup pass "
        "(3-row Expand, map-side combined before the single shuffle)",
)
def corpus_stats_card(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", " "),
                            lambda w: w != F.lit("")))
    return (docs.withColumn("_nt", n_tok)
            .rollup("source", "lang")
            .agg(F.grouping_id().alias("gid"),
                 F.count("*").alias("n_docs"),
                 F.sum("n_chars").alias("total_chars"),
                 F.sum("_nt").cast("bigint").alias("total_tokens"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars"),
                 F.round(F.sum("n_chars") * 1.0 / F.count("*"), 4)
                 .alias("avg_chars"))
            .select("source", "lang", "gid", "n_docs", "total_chars",
                    "total_tokens", "min_chars", "max_chars",
                    "avg_chars"))


# --- temperature-based source resampling (E67) -------------------------------
@register(
    "corpus_temperature_mix",
    """
    -- join on a null-coalesced shadow key, mirroring the operator:
    -- NULL sources form their own upsampling group and must NOT be
    -- dropped by NULL-never-equals-NULL join semantics
    WITH c AS (SELECT coalesce(source, chr(0) || '<null>') AS srckey,
                      count(*) AS ns
               FROM documents GROUP BY 1),
    mx AS (SELECT max(ns) AS nmax FROM c),
    s AS (
      SELECT srckey,
             round(sqrt(nmax / (ns * 1.0)), 6) AS multiplicity,
             CAST(floor(sqrt(nmax / (ns * 1.0))) AS BIGINT) AS base,
             CAST(floor((sqrt(nmax / (ns * 1.0))
                         - floor(sqrt(nmax / (ns * 1.0)))) * 65536)
                  AS BIGINT) AS extra
      FROM c CROSS JOIN mx
    ),
    d AS (
      SELECT d.doc_id, d.source, s.multiplicity,
             s.base + CASE WHEN ('0x' || substr(md5(d.text), 1, 4))::BIGINT
                                < s.extra THEN 1 ELSE 0 END AS n_copies
      FROM documents d
      JOIN s ON s.srckey = coalesce(d.source, chr(0) || '<null>')
    )
    SELECT doc_id, source, multiplicity,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy
    FROM d
    """,
    doc="temperature-based source upsampling (XLM-R/mT5 mixing rule, "
        "alpha=0.5): multiplicity (n_max/n_s)^0.5 per source, "
        "fractional copies realized by content-hash bucket — sqrt is "
        "IEEE-correctly-rounded so the whole path is engine-exact; "
        "tiny count table broadcast back, corpus never shuffles",
)
def corpus_temperature_mix(spark, sf_dir):
    from .operators.splits import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    out = temperature_resample(docs)
    return out.select("doc_id", "source", "multiplicity",
                      F.col("n_copies").cast("long").alias("n_copies"),
                      F.col("copy").cast("long").alias("copy"))


# --- streaming quality-gated ingestion (E68) ---------------------------------
# The classifier gate run AT INGEST over real micro-batches: documents
# replay in 10 ordered epochs, each epoch is scored and flagged by the
# stateless hashed-linear gate and written through the epoch-keyed
# idempotent sink. Deterministic end state — the oracle recomputes the
# identical scores, flags and epoch assignment (doc_id div ceil(N/10))
# in SQL.
@register(
    "streaming_quality_gate",
    """
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS words
      FROM documents
    ),
    n AS (SELECT count(*) AS total FROM documents),
    sc AS (
      SELECT doc_id, len(words) AS n_tokens,
             CASE WHEN len(words) > 0 THEN
               round(list_sum(list_transform(words,
                 w -> ('0x' || substr(md5('q:' || w), 1, 8))::BIGINT
                      / 4294967296.0 * 2.0 - 1.0)) / len(words), 6)
             ELSE 0.0 END AS logit
      FROM s
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens, logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS prob,
           round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5
             AND n_tokens >= 5 AS kept,
           CAST(doc_id // CAST(ceil(total / 10.0) AS BIGINT) AS BIGINT)
             AS epoch
    FROM sc CROSS JOIN n
    """,
    doc="streaming quality-gated ingestion: the hashed-linear "
        "classifier gate applied per micro-batch over 10 replayed "
        "epochs, all rows written with flags through the epoch-keyed "
        "idempotent sink; oracle recomputes scores, flags and epoch "
        "assignment in SQL",
)
def streaming_quality_gate(spark, sf_dir):
    import shutil
    import tempfile

    from .streaming.quality_gate import StreamingQualityGate, run_quality_gate
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").withColumn("seq", F.col("doc_id"))
    d = tempfile.mkdtemp(prefix="sqg_stream_")
    try:
        glob = write_microbatches(docs, d, n_buckets=10)
        stream = (spark.readStream
                  .schema("doc_id long, text string, seq long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        gate = StreamingQualityGate(d + "_out")
        with replay_shuffle_cap(spark):
            run_quality_gate(spark, stream, gate, timeout_sec=180)
        out = gate.results(spark) \
            .select("doc_id", "n_tokens", "logit", "prob", "kept",
                    F.col("epoch").cast("long").alias("epoch"))
        # materialize before the temp store is deleted below
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + "_out", ignore_errors=True)
        shutil.rmtree(d + "_out_ckpt", ignore_errors=True)


# --- shard manifest with content checksums (r8) ------------------------------
@register(
    "corpus_shard_manifest",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w <> '')) AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h,
             ('0x' || substr(md5(regexp_replace(lower(trim(text)),
                                                ' +', ' ', 'g')),
                             1, 8))::BIGINT AS fp
      FROM documents
    ),
    c AS (
      SELECT doc_id, n_tokens, fp,
             sum(n_tokens) OVER (
               ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM t
    )
    SELECT CAST(floor((cum - n_tokens) / 2000) AS BIGINT) AS shard,
           count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(fp)::BIGINT AS checksum
    FROM c GROUP BY 1
    """,
    doc="shard manifest with order-insensitive content checksums "
        "(sum of member 32-bit fingerprint ints): the integrity "
        "artifact a trainer verifies before consuming a sharded "
        "export — stable under any partitioning, broken by any "
        "flipped/dropped/duplicated document",
)
def corpus_shard_manifest(spark, sf_dir):
    from .operators.selection import shard_manifest

    return shard_manifest(load_table(spark, sf_dir, "documents"))


# --- language-ID confusion matrix (r8) ---------------------------------------
# The detector-QA audit: labeled languages vs the stopword-profile
# detector, including how the profile-less zh label mis-buckets and
# the 'und' spill. Exact integer counts, one ratio division.
@register(
    "corpus_language_confusion",
    """
    WITH det AS (
      SELECT doc_id,
             CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                  WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr
                    THEN 'de'
                  WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                  WHEN h_es >= h_fr THEN 'es'
                  ELSE 'fr' END AS detected_lang
      FROM (
        SELECT doc_id,
               len(list_intersect(words,
                   ['der','die','und','ist','das'])) AS h_de,
               len(list_intersect(words,
                   ['the','and','of','to','is'])) AS h_en,
               len(list_intersect(words, ['el','la','y','es','los']))
                 AS h_es,
               len(list_intersect(words, ['le','la','et','est','les']))
                 AS h_fr
        FROM (SELECT doc_id,
                     list_distinct(list_filter(
                       string_split(lower(text), ' '), w -> w <> ''))
                       AS words
              FROM documents))
    ),
    cells AS (
      SELECT d.lang, det.detected_lang, count(*)::BIGINT AS n_docs
      FROM det JOIN documents d USING (doc_id)
      GROUP BY 1, 2
    ),
    tot AS (SELECT lang, sum(n_docs)::BIGINT AS label_total
            FROM cells GROUP BY 1)
    SELECT c.lang, c.detected_lang, c.n_docs, t.label_total,
           round(c.n_docs * 1.0 / t.label_total, 6) AS recall
    FROM cells c JOIN tot t USING (lang)
    """,
    doc="language-ID confusion matrix: stopword-profile detector vs "
        "provenance labels (per-cell share of the label's docs) -- "
        "the detector-QA audit before thresholds gate a multilingual "
        "corpus; two aggregates on the bounded label x detected grid",
)
def corpus_language_confusion(spark, sf_dir):
    from .operators.textstats import language_confusion

    return language_confusion(load_table(spark, sf_dir, "documents"))


# --- quality-score calibration audit (r8) ------------------------------------
# Classifier-prob deciles (exact-ntile spine) crossed with the
# independent lexicon gate: exact integer counts + one ratio division
# per decile — no float-sum hazard past the scoring step.
@register(
    "corpus_quality_calibration",
    """
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS words
      FROM documents
    ),
    sc AS (
      SELECT doc_id,
             CASE WHEN len(words) > 0 THEN
               round(list_sum(list_transform(words,
                 w -> ('0x' || substr(md5('q:' || w), 1, 8))::BIGINT
                      / 4294967296.0 * 2.0 - 1.0)) / len(words), 6)
             ELSE 0.0 END AS logit,
             len(list_filter(words, x -> x IN ('slow', 'dup'))) <= 1
               AS kept
      FROM s
    ),
    j AS (
      SELECT doc_id, round(1.0 / (1.0 + exp(-logit)), 6) AS prob, kept
      FROM sc
    ),
    d AS (
      SELECT *, ntile(10) OVER (ORDER BY prob, doc_id) AS decile FROM j
    )
    SELECT decile::BIGINT AS decile, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN NOT kept THEN 1 ELSE 0 END)::BIGINT
             AS n_flagged,
           round(sum(CASE WHEN NOT kept THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS flag_rate
    FROM d GROUP BY 1
    """,
    doc="quality-score calibration: classifier-prob deciles x "
        "independent lexicon-gate flag rate -- the audit a learned "
        "curation score needs before it gates terabytes; exact-ntile "
        "spine, integer counts, single ratio division",
)
def corpus_quality_calibration(spark, sf_dir):
    from .operators.selection import quality_calibration

    return quality_calibration(load_table(spark, sf_dir, "documents"),
                               ["slow", "dup"])


# --- k-anonymity audit (r8) --------------------------------------------------
# Quasi-identifiers over the customer dimension: nation x market
# segment x coarse balance band — combinations small enough that some
# equivalence classes fall under k=5 while most don't, so at_risk
# fires both ways.
@register(
    "customers_k_anonymity",
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           count(*)::BIGINT AS class_size,
           count(*) < 5 AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
    doc="k-anonymity audit: equivalence-class sizes over "
        "quasi-identifier combinations with under-k classes flagged "
        "-- the re-identification check before a data release; one "
        "keyed aggregate, output bounded by class count",
)
def customers_k_anonymity(spark, sf_dir):
    from .operators.textstats import k_anonymity_report

    c = load_table(spark, sf_dir, "customer")
    return k_anonymity_report(
        c, ["c_nationkey", "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("long")
            .alias("bal_band")])


# --- pruned n-gram count table (r8) ------------------------------------------
@register(
    "corpus_ngram_table",
    """
    WITH w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM documents)
      WHERE word <> ''
    ),
    u AS (
      SELECT 1 AS n, word AS gram FROM w
      UNION ALL
      SELECT 2, a.word || ' ' || b.word
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      UNION ALL
      SELECT 3, a.word || ' ' || b.word || ' ' || c.word
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
               JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    )
    SELECT n::BIGINT AS n, gram, count(*)::BIGINT AS cnt
    FROM u GROUP BY 1, 2 HAVING count(*) >= 2
    """,
    doc="pruned n-gram count table (orders 1-3, min count 2): the "
        "KenLM-style LM training table -- every occurrence counted, "
        "all orders in one scan + one map-side-combinable aggregate, "
        "hapax tail pruned",
)
def corpus_ngram_table(spark, sf_dir):
    from .operators.textstats import ngram_count_table

    return ngram_count_table(load_table(spark, sf_dir, "documents"))


# --- per-doc n-gram novelty (r8) ---------------------------------------------
@register(
    "corpus_gram_novelty",
    f"""
    WITH {_SHINGLES_CTE},
    own AS (SELECT shingle, min(doc_id) AS owner FROM sh GROUP BY shingle)
    SELECT s.doc_id, count(*)::BIGINT AS n_grams,
           sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel,
           round(sum(CASE WHEN o.owner = s.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM sh s JOIN own o USING (shingle)
    GROUP BY s.doc_id
    """,
    doc="per-document n-gram novelty: fraction of a doc's distinct "
        "3-grams first owned by this doc (min-id election) -- the "
        "per-doc dedup-strength / memorization-exposure signal; "
        "inverted-index shape, no pair join",
)
def corpus_gram_novelty(spark, sf_dir):
    from .operators.textstats import gram_novelty

    return gram_novelty(load_table(spark, sf_dir, "documents"))


# --- ingest dup-rate trend (r8) ----------------------------------------------
# Both engines assign day = doc_id % 7 and plant mangled copies of
# doc_id%4=0 on the NEXT day ((doc_id+1)%7), so every day has real
# docs and most days have cross-day duplicates — rates non-vacuous in
# both directions. First occurrence is elected on the encoded
# day·10^8+id key in BOTH engines (integer min, no struct-vs-SQL
# mismatch).
@register(
    "corpus_dup_rate_daily",
    """
    WITH all_docs AS (
      SELECT doc_id, text, doc_id % 7 AS day FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper('  ' || replace(text, ' ', '  ')),
             (doc_id + 1) % 7
      FROM documents WHERE doc_id % 4 = 0
    ),
    t AS (
      SELECT day::BIGINT AS day, doc_id::BIGINT AS id,
             md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fp
      FROM all_docs
    ),
    firsts AS (
      SELECT fp, min({'day': day, 'id': id}) AS fkey FROM t GROUP BY fp
    )
    SELECT day, count(*)::BIGINT AS n_docs,
           sum(CASE WHEN day <> fkey.day OR id <> fkey.id
                    THEN 1 ELSE 0 END)::BIGINT AS n_dups,
           round(sum(CASE WHEN day <> fkey.day OR id <> fkey.id
                          THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS dup_rate
    FROM t JOIN firsts USING (fp)
    GROUP BY day
    """,
    doc="ingest dup-rate trend: per ingest window, the fraction of "
        "docs whose fingerprint occurred earlier corpus-wide "
        "(min(struct(day,id)) first-occurrence election — safe for "
        "any id range; text never shuffles) -- the standing "
        "crawler-health monitor",
)
def corpus_dup_rate_daily(spark, sf_dir):
    from .operators.dedup import dup_rate_by_window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.withColumn("day", F.col("doc_id") % 7)
    mangled = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "),
                         F.regexp_replace("text", " ", "  ")))
        .alias("text"),
        ((F.col("doc_id") + 1) % 7).alias("day"))
    return dup_rate_by_window(base.unionByName(mangled))


# --- split representativeness drift (r8) -------------------------------------
# Composition face: the content-hash split (E31 machinery) feeding the
# E102 KS machinery with the SPLIT label as the group — "is my val
# slice distributionally representative of train". A content-hash
# split should show near-zero KS on length; a big gap would mean the
# split machinery (or the corpus) is length-biased.
@register(
    "corpus_split_drift",
    """
    WITH lab AS (
      SELECT CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                  WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                  ELSE 'test' END AS split,
             n_chars AS x
      FROM documents WHERE n_chars IS NOT NULL
    ),
    vc AS (SELECT split AS grp, x, count(*) AS c FROM lab GROUP BY 1, 2),
    grid AS (SELECT DISTINCT x FROM vc),
    sizes AS (SELECT grp, sum(c) AS n FROM vc GROUP BY 1),
    dense AS (
      SELECT s.grp, g.x, s.n, coalesce(v.c, 0) AS c
      FROM sizes s CROSS JOIN grid g
      LEFT JOIN vc v ON v.grp = s.grp AND v.x = g.x
    ),
    cdf AS (
      SELECT grp, x, n,
             sum(c) OVER (PARTITION BY grp ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) / n AS cdf
      FROM dense
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           CAST(max(a.n) AS BIGINT) AS n_a,
           CAST(max(b.n) AS BIGINT) AS n_b,
           round(max(abs(a.cdf - b.cdf)), 6) AS ks
    FROM cdf a JOIN cdf b ON a.x = b.x AND a.grp < b.grp
    GROUP BY 1, 2
    """,
    doc="split representativeness: pairwise KS distance between the "
        "train/val/test slices' length distributions — the "
        "content-hash split audited by the drift machinery; bounded "
        "by distinct lengths x 3 slices",
)
def corpus_split_drift(spark, sf_dir):
    from .operators.grouped import ks_distance_matrix
    from .operators.splits import hash_split

    docs = load_table(spark, sf_dir, "documents")
    lab = hash_split(docs, "text").select("split", "n_chars")
    return ks_distance_matrix(lab, "n_chars", group_col="split")


# --- data-constrained epoch schedule (r8) ------------------------------------
# Weights derive from the source NUMBER (1 + n%4, a 4x spread) while
# availability is near-uniform, so with budget = 1.5x the corpus the
# cap provably fires both ways at every SF (epochs_raw ≈ 30·w_norm ∈
# {0.6, 1.2, 1.8, 2.4} with max_epochs=2). The budget itself is a
# bounded 1-row aggregate taken before plan construction (the
# L·K-coreset category of driver action).
@register(
    "corpus_epoch_schedule",
    """
    WITH t AS (
      SELECT source,
             sum(len(list_filter(string_split(text, ' '),
                                 w -> w <> '')))::BIGINT AS avail
      FROM documents GROUP BY 1
    ),
    tot AS (SELECT floor(1.5 * sum(avail))::BIGINT AS budget FROM t),
    w AS (SELECT source,
                 (1 + CAST(substr(source, 4) AS INT) % 4) * 1.0 AS wt
          FROM t),
    tw AS (SELECT sum(wt) AS tw FROM w),
    base AS (
      SELECT t.source, t.avail AS n_tokens_avail,
             round(w.wt / tw.tw, 6) AS weight_norm
      FROM t JOIN w USING (source), tw
    ),
    calc AS (
      SELECT source, n_tokens_avail, weight_norm,
             floor(weight_norm * tot.budget)::BIGINT AS target_tokens
      FROM base, tot
    ),
    e AS (
      SELECT *, target_tokens * 1.0 / n_tokens_avail AS er FROM calc
    )
    SELECT source, n_tokens_avail, weight_norm, target_tokens,
           round(least(2.0, er), 6) AS epochs,
           er > 2.0 AS capped,
           floor(round(least(2.0, er), 6)
                 * n_tokens_avail)::BIGINT AS realized_tokens,
           (target_tokens - floor(round(least(2.0, er), 6)
                                  * n_tokens_avail))::BIGINT
             AS deficit_tokens
    FROM e
    """,
    doc="data-constrained epoch schedule: target shares -> per-source "
        "repeat factors capped at MAX_EPOCHS, with the shortfall "
        "reported as deficit instead of silently redistributed; the "
        "corpus reduces to |sources| rows before any join",
)
def corpus_epoch_schedule(spark, sf_dir):
    from .operators.selection import epoch_schedule

    docs = load_table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    total = docs.agg(F.sum(F.size(words)).cast("long")).first()[0]
    weights = (docs.select("source").distinct()
               .select("source",
                       ((F.substring("source", 4, 10).cast("int") % 4 + 1)
                        .cast("double")).alias("weight")))
    return epoch_schedule(docs, weights, int(total * 1.5 // 1))


# --- length-bucketed padded batching (r8) ------------------------------------
# The padded-batching complement of doc_pack_sequences: inference /
# encoder / reward-scoring batches pad to the batch max, so the
# assignment IS the wasted-FLOPs audit. One range-partitioned global
# rank (the E79 spine) + a keyed 32-row window — no single-reducer
# window anywhere.
@register(
    "corpus_length_batches",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '),
                             w -> w <> ''))::BIGINT AS n_tokens
      FROM documents
    ),
    r AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens, doc_id) AS rn
      FROM t
    ),
    b AS (SELECT doc_id, n_tokens, (rn - 1) // 32 AS batch_id FROM r)
    SELECT doc_id, n_tokens, batch_id::BIGINT AS batch_id,
           max(n_tokens) OVER (PARTITION BY batch_id)::BIGINT AS batch_max,
           (max(n_tokens) OVER (PARTITION BY batch_id)
            - n_tokens)::BIGINT AS pad_waste
    FROM b
    """,
    doc="length-bucketed micro-batch assignment with exact per-doc "
        "padding waste: range-partitioned global length rank, batch = "
        "rank div B, pad to batch max — the wasted-FLOPs audit of "
        "padded batching",
)
def corpus_length_batches(spark, sf_dir):
    from .operators.packing import length_batches

    return length_batches(load_table(spark, sf_dir, "documents"))


# --- streaming ingest health (r8) --------------------------------------------
# no_oracle by design: trigger durations, rates and wall-clock stamps
# are runtime facts, not data facts (the reservoir/MRFFT category).
# The structural invariants — monotonic batch ids, non-decreasing
# watermark, input-row conservation, non-negative lag — are property-
# tested in tests/test_streaming.py.
@register(
    "streaming_ingest_health",
    None,
    doc="per-trigger ingest health from StreamingQueryProgress: "
        "throughput, trigger duration, watermark and watermark lag — "
        "the ops-side complement of the ingest gates; bounded by the "
        "progress retention count, never by data size",
)
def streaming_ingest_health(spark, sf_dir):
    import shutil
    import tempfile

    from .streaming.health import health_report, query_progress
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id",
                    F.timestamp_seconds(F.lit(1_700_000_000)
                                        + F.col("doc_id")).alias("ts"))
            .withColumn("seq", F.col("doc_id")))
    d = tempfile.mkdtemp(prefix="sih_stream_")
    try:
        glob = write_microbatches(docs, d, n_buckets=5)
        stream = (spark.readStream
                  .schema("doc_id long, ts timestamp, seq long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        agg = (stream.withWatermark("ts", "10 seconds")
               .groupBy(F.window("ts", "60 seconds")).count())
        with replay_shuffle_cap(spark):
            q = (agg.writeStream.outputMode("update")
                 .foreachBatch(lambda df, eid: df.count())
                 .trigger(availableNow=True)
                 .option("checkpointLocation", d + "_ckpt").start())
            assert q.awaitTermination(180), "health stream did not finish"
        return health_report(spark, query_progress(q))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(d + "_ckpt", ignore_errors=True)


# --- bounded backfill / catch-up (E134, r9) ------------------------------------
# The post-outage operation steady-state ingest faces don't cover:
# re-read ONLY the lagged bucket range (range bound in the source glob
# — partitions outside the lag window are never listed), land via
# dynamic partition overwrite. The query runs the catch-up TWICE with
# fresh checkpoints — the driver's value compare against the source-
# side oracle IS the no-duplicate-landing proof (a second append would
# double every count and checksum).
@register(
    "streaming_backfill_catchup",
    """
    WITH n AS (SELECT count(*) AS total FROM documents),
    t AS (
      SELECT doc_id,
             CAST(doc_id // CAST(ceil(total / 10.0) AS BIGINT)
                  AS BIGINT) AS bucket,
             len(list_filter(string_split(text, ' '),
                             w -> w <> ''))::BIGINT AS n_tokens,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
               AS fp
      FROM documents CROSS JOIN n
    )
    SELECT bucket, count(*)::BIGINT AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(fp)::BIGINT AS checksum
    FROM t WHERE bucket BETWEEN 4 AND 7
    GROUP BY bucket
    """,
    doc="bounded backfill of lagged buckets [4,7]: range-pruned source "
        "glob (unlagged partitions never listed), availableNow replay, "
        "dynamic-partition-overwrite landing; the catch-up runs TWICE "
        "with fresh checkpoints so the per-bucket counts + order-"
        "insensitive checksums also prove no-duplicate landing",
)
def streaming_backfill_catchup(spark, sf_dir):
    import shutil
    import tempfile

    from .streaming.backfill import backfill_report, run_backfill
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "text").withColumn("seq", F.col("doc_id")))
    d = tempfile.mkdtemp(prefix="bfc_stream_")
    try:
        write_microbatches(docs, d, n_buckets=10)
        schema = "doc_id long, text string, seq long, bucket int"
        with replay_shuffle_cap(spark):
            run_backfill(spark, d, schema, 4, 7, d + "_out",
                         d + "_ck1")
            # the outage double-run: same range, lost checkpoint —
            # the sink contract (not the checkpoint) prevents dups
            sink = run_backfill(spark, d, schema, 4, 7, d + "_out",
                                d + "_ck2")
        out = backfill_report(sink.read(spark))
        # materialize before the temp store is deleted below
        return out.localCheckpoint(eager=True)
    finally:
        for suffix in ("", "_out", "_ck1", "_ck2"):
            shutil.rmtree(d + suffix, ignore_errors=True)


# --- tokenizer fertility per source (E73) ------------------------------------
def _bpe_fertility_oracle_sql() -> str:
    """Per-source rollup of the pinned-merge BPE encode: reuses the
    framed-symbol replace fold of ``_bpe_oracle_sql`` and aggregates
    chars/words/symbols into the two tokenizer-selection metrics."""
    sl, sr = "\x02", "\x03"
    expr = ("array_to_string(list_transform(string_split(word, ''), "
            f"c -> '{sl}' || c || '{sr}'), '')")
    for a, b in _PINNED_BPE_MERGES:
        expr = f"replace({expr}, '{sl}{a}{sr}{sl}{b}{sr}', '{sl}{a}{b}{sr}')"
    return f"""
    WITH w AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents)
      WHERE word <> ''
    ),
    enc AS (SELECT doc_id, {expr} AS s FROM w),
    per AS (
      SELECT doc_id, count(*) AS n_words,
             sum(length(s) - length(replace(s, '{sr}', ''))) AS n_symbols
      FROM enc GROUP BY doc_id
    )
    SELECT d.source,
           count(*) AS n_docs,
           sum(d.n_chars)::BIGINT AS total_chars,
           coalesce(sum(p.n_words), 0)::BIGINT AS total_words,
           coalesce(sum(p.n_symbols), 0)::BIGINT AS total_symbols,
           round(sum(p.n_symbols) * 1.0 / sum(p.n_words), 6) AS fertility,
           round(sum(d.n_chars) * 1.0 / sum(p.n_symbols), 6)
             AS chars_per_symbol
    FROM documents d LEFT JOIN per p USING (doc_id)
    GROUP BY d.source
    """


@register(
    "corpus_bpe_fertility",
    _bpe_fertility_oracle_sql(),
    doc="tokenizer fertility per source: symbols/word and chars/symbol "
        "under the pinned 8-merge BPE — the metric a tokenizer/corpus "
        "pairing is selected on (high fertility = the tokenizer "
        "fragments that source); narrow encode fold + one rollup",
)
def corpus_bpe_fertility(spark, sf_dir):
    from .operators.tokenizer import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, _PINNED_BPE_MERGES) \
        .select("doc_id", "n_words", "n_symbols")
    return (docs.select("doc_id", "source", "n_chars")
            .join(enc, "doc_id", "left")
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.coalesce(F.sum("n_words"), F.lit(0)).cast("long")
                 .alias("total_words"),
                 F.coalesce(F.sum("n_symbols"), F.lit(0)).cast("long")
                 .alias("total_symbols"),
                 F.round(F.sum("n_symbols") * 1.0 / F.sum("n_words"), 6)
                 .alias("fertility"),
                 F.round(F.sum("n_chars") * 1.0 / F.sum("n_symbols"), 6)
                 .alias("chars_per_symbol")))


# --- Z-order layout key (E81) ------------------------------------------------
def _zorder_oracle_sql() -> str:
    from .operators.layout import z_value_sql

    z = z_value_sql("user_id % 4096", "event_id % 4096", bits=12)
    return f"""
    SELECT event_id,
           CAST(user_id % 4096 AS BIGINT) AS cx,
           CAST(event_id % 4096 AS BIGINT) AS cy,
           {z} AS zval
    FROM events
    """


@register(
    "events_zorder_key",
    _zorder_oracle_sql(),
    doc="Z-order (Morton) layout key: interleave the bits of two "
        "grid coordinates so one range-partitioned sort gives parquet "
        "files tight min/max stats on BOTH dimensions (the Delta "
        "OPTIMIZE ZORDER BY kernel); pure 64-bit mask-shift "
        "arithmetic, generated from the same spread schedule in both "
        "engines",
)
def events_zorder_key(spark, sf_dir):
    from .operators.layout import z_value

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        (F.col("user_id") % 4096).cast("long").alias("cx"),
        (F.col("event_id") % 4096).cast("long").alias("cy"),
        z_value(F.col("user_id") % 4096, F.col("event_id") % 4096,
                bits=12).alias("zval"))


# --- leakage-safe (component-keyed) split (E83) ------------------------------
@register(
    "corpus_leakage_safe_split",
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
             FROM reach GROUP BY node)
    SELECT d.doc_id, c.component,
           substr(md5(CAST(coalesce(c.component, d.doc_id) AS VARCHAR)),
                  1, 4) AS bucket,
           CASE WHEN substr(md5(CAST(coalesce(c.component, d.doc_id)
                                     AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train'
                WHEN substr(md5(CAST(coalesce(c.component, d.doc_id)
                                     AS VARCHAR)), 1, 4) < 'e666'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents d LEFT JOIN comp c USING (doc_id)
    """,
    doc="leakage-safe train/val/test split: the md5 bucket is keyed on "
        "the near-dup COMPONENT label (singletons on their own id), so "
        "no near-duplicate pair can straddle train/eval -- the "
        "benchmark-inflation leak Lee et al. 2022 measure on C4; vs "
        "the recursive-CTE components oracle",
)
def corpus_leakage_safe_split(spark, sf_dir):
    from .operators.components import connected_components
    from .operators.splits import leakage_safe_split

    docs = load_table(spark, sf_dir, "documents")
    comp = connected_components(exact_jaccard_pairs(docs, 0.7))
    return leakage_safe_split(docs.select("doc_id"), comp) \
        .select("doc_id", "component", "bucket", "split")


# --- streaming incremental MinHash ingestion (E84) ---------------------------
# The near-dup sibling of streaming_ingest_dedup: per-epoch banded
# matching against the signature store (epochs strictly before), plus
# keep-first matching within the batch. Salted so all three statuses
# are non-vacuous: every 5th doc re-appears later with a 3-word tail
# (near_dup_corpus), and every 5th-plus-1 doc contributes a pair of
# identical WORD-REVERSED twins (no shingles shared with the original,
# so the pair's only match is each other -> the larger id is
# near_dup_batch when they land in the same epoch; epoch-boundary
# splits make it near_dup_corpus, and the oracle states the same
# condition, so there is nothing partitioning-dependent).
@register(
    "streaming_ingest_minhash",
    f"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text || ' zz1 zz2 zz3'
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 5000000 + 2 * doc_id + tw.k,
             array_to_string(list_reverse(
               list_filter(string_split(text, ' '), w -> w <> '')), ' ')
      FROM documents, (SELECT unnest([0, 1]) AS k) tw
      WHERE doc_id % 5 = 1
    ),
    seqd AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY doc_id) - 1 AS seq,
             (SELECT (count(*) + 9) // 10 FROM all_docs) AS chunk
      FROM all_docs
    ),
    {_md5_minhash_sig_cte("all_docs")},
    se AS (
      SELECT s.doc_id, s.s, (q.seq // q.chunk)::INT AS epoch
      FROM sig s JOIN seqd q USING (doc_id)
    ),
    m AS (
      SELECT a.doc_id,
             max(CASE WHEN b.epoch < a.epoch THEN 1 ELSE 0 END) AS mc,
             max(CASE WHEN b.epoch = a.epoch AND b.doc_id < a.doc_id
                      THEN 1 ELSE 0 END) AS mb
      FROM se a JOIN se b
        ON ({_BAND_COLLIDE})
       AND round({_EST_JACCARD}, 6) >= 0.5
       AND (b.epoch < a.epoch
            OR (b.epoch = a.epoch AND b.doc_id < a.doc_id))
      GROUP BY a.doc_id
    )
    SELECT q.doc_id,
           CASE WHEN m.mc = 1 THEN 'near_dup_corpus'
                WHEN m.mb = 1 THEN 'near_dup_batch'
                ELSE 'novel' END AS status,
           (q.seq // q.chunk)::INT AS epoch
    FROM seqd q LEFT JOIN m USING (doc_id)
    """,
    doc="continuous-ingestion NEAR-dup detection over real "
        "micro-batches: per-epoch banded MinHash matching against the "
        "accumulated signature store (text never retained) plus "
        "keep-first in-batch matching, idempotent epoch-keyed appends; "
        "md5 hash family makes the whole replay oracle-recomputable",
)
def streaming_ingest_minhash(spark, sf_dir):
    import shutil
    import tempfile

    from pyspark.sql import Window

    from .streaming.ingest_minhash import StreamingIngestMinhash
    from .streaming.replay import replay_shuffle_cap, write_microbatches

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tailed = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat("text", F.lit(" zz1 zz2 zz3")).alias("text"))
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    rev = docs.where(F.col("doc_id") % 5 == 1).select(
        "doc_id", F.array_join(F.reverse(words), " ").alias("text"))
    twins = rev.select(
        (5000000 + 2 * F.col("doc_id")).alias("doc_id"), "text").unionAll(
        rev.select((5000000 + 2 * F.col("doc_id") + 1).alias("doc_id"),
                   "text"))
    all_docs = docs.unionAll(tailed).unionAll(twins)
    seqd = all_docs.withColumn(
        "seq", F.row_number().over(Window.orderBy("doc_id")) - 1)
    d = tempfile.mkdtemp(prefix="minhash_stream_")
    store = tempfile.mkdtemp(prefix="minhash_store_")
    try:
        glob = write_microbatches(seqd, d, n_buckets=10)
        stream = (spark.readStream
                  .schema("doc_id long, text string, seq long")
                  .option("maxFilesPerTrigger", 1).parquet(glob))
        pipe = StreamingIngestMinhash(spark, store, threshold=0.5)
        with replay_shuffle_cap(spark):
            q = (stream.writeStream.foreachBatch(pipe)
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(240), \
                "ingest-minhash stream timed out"
        return (pipe.statuses()
                .select("doc_id", "status",
                        F.col("epoch").cast("int").alias("epoch"))
                .localCheckpoint(eager=True))
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)


# --- key-skew diagnosis report (E88) -----------------------------------------
def _skew_oracle_one(col: str) -> str:
    return f"""
    SELECT '{col}' AS key_col, key_value, cnt,
           CAST(rank AS INT) AS rank, n_distinct,
           round(mx * n_distinct * 1.0 / total, 6) AS skew_factor
    FROM (SELECT key_value, cnt,
                 row_number() OVER (ORDER BY cnt DESC, key_value) AS rank
          FROM (SELECT CAST({col} AS VARCHAR) AS key_value,
                       count(*) AS cnt
                FROM events GROUP BY 1)
          QUALIFY rank <= 10),
         (SELECT count(*) AS n_distinct, sum(cnt) AS total,
                 max(cnt) AS mx
          FROM (SELECT count(*) AS cnt FROM events
                GROUP BY CAST({col} AS VARCHAR)))
    """


@register(
    "events_skew_report",
    _skew_oracle_one("user_id") + " UNION ALL "
    + _skew_oracle_one("event_type"),
    doc="key-skew diagnosis: per candidate shuffle key, the top-10 "
        "heaviest values and the max-over-uniform skew factor -- the "
        "measurement that decides between plain joins, salting and "
        "AQE skew handling; map-side-combined counts, "
        "TakeOrderedAndProject top-N, 1-row summary broadcast",
)
def events_skew_report(spark, sf_dir):
    from .operators.skew import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, ["user_id", "event_type"])


# --- PMI collocations (E89) --------------------------------------------------
@register(
    "corpus_pmi_collocations",
    """
    WITH w AS (
      SELECT word, i, doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS wi
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word,
                   generate_subscripts(string_split(lower(text), ' '), 1)
                     AS i
            FROM documents)
      WHERE word <> ''
    ),
    uni AS (SELECT word, count(*) AS c FROM w GROUP BY word),
    tot AS (SELECT sum(c)::DOUBLE AS t FROM uni),
    bi AS (
      SELECT a.word AS w1, b.word AS w2, count(*) AS pair_count
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.wi = a.wi + 1
      GROUP BY 1, 2
    ),
    ptot AS (SELECT sum(pair_count)::DOUBLE AS p FROM bi),
    scored AS (
      SELECT bi.w1, bi.w2, bi.pair_count,
             round(ln((bi.pair_count / ptot.p)
                      / ((u1.c / tot.t) * (u2.c / tot.t))), 6) AS pmi
      FROM bi
      JOIN uni u1 ON u1.word = bi.w1
      JOIN uni u2 ON u2.word = bi.w2, tot, ptot
      WHERE bi.pair_count >= 5
    )
    SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count, pmi,
           CAST(row_number() OVER (ORDER BY pmi DESC, w1, w2) AS INT)
             AS rank
    FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    doc="top-20 PMI collocations with a min-count-5 support floor "
        "(multi-word vocabulary / phrase-merge mining): one bigram "
        "aggregate + vocab-scale unigram broadcast, ranked on the "
        "6-dp-rounded score with word tiebreaks",
)
def corpus_pmi_collocations(spark, sf_dir):
    from .operators.textstats import pmi_collocations

    return pmi_collocations(load_table(spark, sf_dir, "documents"))


# --- deterministic weighted sampling (E93) -----------------------------------
# Priority sampling (Duffield-Lund-Thorup): the ranking key w/u is ONE
# IEEE division of identical doubles, so both engines rank bit-
# identically -- no pow/ln ulp hazard (the reason this face is NOT
# Efraimidis-Spirakis). 16^12 + 1 = 281474976710657.
@register(
    "corpus_priority_sample",
    """
    WITH wtd AS (
      SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS weight,
             CAST(n_chars AS DOUBLE) / (
               ((('0x' || substr(md5('ps' || ':' || source || ':'
                                     || CAST(doc_id AS VARCHAR)),
                   1, 12))::BIGINT + 1.0) / 281474976710657.0))
               AS priority
      FROM documents WHERE n_chars > 0
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY source
                                   ORDER BY priority DESC, doc_id)
                  AS rank
      FROM wtd
    ),
    t AS (
      SELECT *, coalesce(max(CASE WHEN rank = 11 THEN priority END)
                           OVER (PARTITION BY source), 0.0) AS tau
      FROM r WHERE rank <= 11
    )
    SELECT source, doc_id, weight, CAST(rank AS BIGINT) AS rank,
           round(priority, 6) AS priority, round(tau, 6) AS tau,
           round(greatest(weight, tau), 6) AS est_weight
    FROM t WHERE rank <= 10
    """,
    doc="deterministic weighted per-source sampling via priority "
        "sampling (w/u with a reproducible md5 uniform, top-k per "
        "stratum through the two-stage grouped funnel) plus the "
        "Horvitz-Thompson est_weight = max(w, tau) estimator; "
        "length-weighted eval carving that any engine reproduces "
        "bit-identically",
)
def corpus_priority_sample(spark, sf_dir):
    from .operators.selection import priority_sample

    return priority_sample(load_table(spark, sf_dir, "documents"),
                           weight_col="n_chars", k=10)


# --- Zipf rank-frequency fit (E94) -------------------------------------------
@register(
    "corpus_zipf_fit",
    """
    WITH freq AS (
      SELECT source AS grp, w, count(*) AS c
      FROM (SELECT source,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS w
            FROM documents)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY grp
                                   ORDER BY c DESC, w) AS r
      FROM freq
    )
    SELECT grp AS source,
           CAST(count(*) AS BIGINT) AS n_vocab,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(regr_slope(ln(c), ln(r)), 6) AS zipf_slope,
           round(regr_intercept(ln(c), ln(r)), 6) AS zipf_intercept,
           round(regr_r2(ln(c), ln(r)), 6) AS zipf_r2
    FROM ranked GROUP BY grp
    """,
    doc="per-source Zipf-law diagnostic: OLS of ln(freq) on ln(rank) "
        "over the vocabulary-scale frequency table via the built-in "
        "regr_* aggregates; slope far from -1 or low R2 flags "
        "machine-generated / keyword-stuffed slices before mixing",
)
def corpus_zipf_fit(spark, sf_dir):
    from .operators.textstats import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"))


# --- fixed-iteration PageRank (E95) ------------------------------------------
# The oracle unrolls the SAME three damped iterations as CTEs; the
# multiplication order (pr * (w/ow)) is mirrored exactly, and damping
# constants are interpolated from the same Python doubles the Spark
# plan uses, so both engines evaluate identical IEEE expressions.
def _pagerank_oracle_sql() -> str:
    from .operators.graph import PAGERANK_DAMPING, PAGERANK_ITERATIONS

    d, one_minus_d = repr(PAGERANK_DAMPING), repr(1.0 - PAGERANK_DAMPING)
    parts = ["""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS item
      FROM events
    ),
    hops AS (
      SELECT item AS src,
             lead(item) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS dst
      FROM seq
    ),
    edges AS (SELECT src, dst, count(*)::DOUBLE AS w
              FROM hops WHERE dst IS NOT NULL GROUP BY 1, 2),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    n AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY 1),
    pr0 AS (SELECT node, 1.0 / n.n AS pr FROM nodes, n)"""]
    for i in range(1, PAGERANK_ITERATIONS + 1):
        parts.append(f""",
    c{i} AS (SELECT e.dst AS node, sum(p.pr * (e.w / o.ow)) AS c
             FROM edges e JOIN pr{i - 1} p ON p.node = e.src
             JOIN outw o ON o.src = e.src GROUP BY 1),
    d{i} AS (SELECT coalesce(sum(p.pr), 0.0) AS dm FROM pr{i - 1} p
             LEFT JOIN outw o ON o.src = p.node WHERE o.src IS NULL),
    pr{i} AS (SELECT nodes.node,
              {one_minus_d} / n.n
                + {d} * (coalesce(c{i}.c, 0.0) + d{i}.dm / n.n) AS pr
              FROM nodes LEFT JOIN c{i} USING (node), n, d{i})""")
    parts.append(f"""
    SELECT p.node AS item, round(p.pr, 6) AS pagerank,
           coalesce(o.ow, 0.0) AS out_weight
    FROM pr{PAGERANK_ITERATIONS} p LEFT JOIN outw o ON o.src = p.node""")
    return "".join(parts)


@register(
    "events_item_pagerank",
    _pagerank_oracle_sql(),
    doc="fixed-iteration weighted PageRank over the item-transition "
        "graph (consecutive events per user via a user-partitioned "
        "lead window): damped rank with explicit dangling-mass "
        "redistribution, three unrolled iterations of vertex-keyed "
        "join+aggregate -- the clickstream importance signal, "
        "deterministic relational algebra end to end",
)
def events_item_pagerank(spark, sf_dir):
    from .operators.graph import pagerank, transition_edges

    ev = (load_table(spark, sf_dir, "events")
          .select("user_id", "ts", "event_id",
                  F.get_json_object("props", "$.k").cast("long")
                  .alias("item")))
    return (pagerank(transition_edges(ev))
            .withColumnRenamed("node", "item"))


# --- cross-source containment matrix (E96) -----------------------------------
# n = 5 (not the decontamination default 8): the synthetic corpus's
# docs are ~56 words over a small vocabulary, and cross-source
# repeated 8-grams don't exist at sf0.001 -- a vacuous 0-row face
# proves nothing, the r04 lesson.
@register(
    "corpus_source_overlap",
    """
    WITH f AS (
      SELECT source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT source,
             unnest(list_transform(range(0, len(ws) - 4),
                    i -> array_to_string(ws[i + 1 : i + 5], ' ')))
               AS ngram
      FROM f WHERE len(ws) >= 5
    ),
    sg AS (SELECT DISTINCT source, ngram FROM g),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_grams_a
              FROM sg GROUP BY 1),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sg a JOIN sg b USING (ngram)
      WHERE a.source <> b.source GROUP BY 1, 2
    )
    SELECT src_a, src_b, s.n_grams_a, n_common,
           round(n_common::DOUBLE / s.n_grams_a, 6) AS containment
    FROM inter JOIN sizes s ON s.source = inter.src_a
    """,
    doc="directed cross-source 5-gram containment matrix: how much of "
        "slice A literally occurs in slice B -- the slice-independence "
        "diagnostic before mixing; gram-keyed equi-join with fanout "
        "bounded by sources^2 per gram, never doc-pairs",
)
def corpus_source_overlap(spark, sf_dir):
    from .operators.textstats import source_overlap_matrix

    return source_overlap_matrix(
        load_table(spark, sf_dir, "documents"), n=5)


# --- daily volume anomaly scores (E99) ---------------------------------------
@register(
    "events_daily_anomaly",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    scored AS (
      SELECT event_type, day, n,
             avg(n) OVER w AS a,
             stddev_samp(n) OVER w AS s,
             count(n) OVER w AS c
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, CAST(day AS VARCHAR) AS day, n,
           CASE WHEN c >= 3 THEN round(a, 6) END AS baseline_avg,
           CASE WHEN c >= 3 THEN round(s, 6) END AS baseline_std,
           round(CASE WHEN c >= 3 AND s > 0
                      THEN (n - a) / s END, 6) AS z,
           coalesce(abs(CASE WHEN c >= 3 AND s > 0
                             THEN (n - a) / s END) > 2.0, false)
             AS is_anomaly
    FROM scored
    """,
    doc="per-type daily event-volume anomaly: z-score of each day's "
        "count against the strictly-trailing 7-day ROWS baseline "
        "(never self-inclusive); ingestion failures read as z << 0, "
        "bot floods as z >> 0; the window side is days x keys rows, "
        "never event-scale",
)
def events_daily_anomaly(spark, sf_dir):
    from .operators.timeseries import daily_anomaly_scores

    # DATE → ISO string on both sides: the compare layer treats
    # Spark date objects and DuckDB datetime64 days as different
    return (daily_anomaly_scores(load_table(spark, sf_dir, "events"))
            .withColumn("day", F.col("day").cast("string")))


# --- Heaps vocabulary-growth curve (E100) ------------------------------------
@register(
    "corpus_vocab_growth",
    """
    WITH per_doc AS (
      SELECT source, doc_id,
             len(list_filter(string_split(lower(text), ' '),
                             x -> x <> '')) AS n_words
      FROM documents
    ),
    tok AS (
      SELECT source, doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> x <> '')) AS w
      FROM documents
    ),
    first_occ AS (
      SELECT source, w, min(doc_id) AS first_id
      FROM tok GROUP BY 1, 2
    ),
    news AS (
      SELECT source, first_id AS doc_id, count(*) AS new_words
      FROM first_occ GROUP BY 1, 2
    )
    SELECT p.source, p.doc_id,
           CAST(p.n_words AS BIGINT) AS n_words,
           CAST(coalesce(n.new_words, 0) AS BIGINT) AS new_words,
           CAST(sum(p.n_words) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(n.new_words, 0)) OVER w AS BIGINT)
             AS cum_vocab
    FROM per_doc p LEFT JOIN news n USING (source, doc_id)
    WINDOW w AS (PARTITION BY p.source ORDER BY p.doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    doc="Heaps-law vocabulary-growth curve per source: cumulative "
        "tokens vs cumulative distinct vocabulary in doc order -- "
        "'is more data still adding new words'; first-occurrence "
        "min-aggregate plus source-partitioned cumulative windows, "
        "vocabulary-scale shuffles only",
)
def corpus_vocab_growth(spark, sf_dir):
    from .operators.textstats import vocab_growth_curve

    return vocab_growth_curve(load_table(spark, sf_dir, "documents"))


# --- snapshot diff (E101) ----------------------------------------------------
# Two snapshots are synthesized deterministically from the one corpus:
# OLD drops doc_id % 43 = 1 (those become 'added'), NEW drops
# doc_id % 47 = 0 ('removed') and rewrites doc_id % 31 = 2
# ('modified'); everything else is 'unchanged' -- all four statuses
# provably populated.
@register(
    "corpus_snapshot_diff",
    """
    WITH old AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(text)), ' +', ' ',
                                         'g'), '')) AS old_fp
      FROM documents WHERE doc_id % 43 <> 1
    ),
    new AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(
               CASE WHEN doc_id % 31 = 2 THEN text || ' rewritten'
                    ELSE text END)), ' +', ' ', 'g'), '')) AS new_fp
      FROM documents WHERE doc_id % 47 <> 0
    )
    SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp = new_fp THEN 'unchanged'
                ELSE 'modified' END AS status,
           old_fp, new_fp
    FROM old FULL OUTER JOIN new USING (doc_id)
    """,
    doc="dataset snapshot diff: content change set between two corpus "
        "versions by dedup fingerprint (added/removed/modified/"
        "unchanged), one full-outer equi-join of 32-byte (id, hash) "
        "projections -- text never shuffles; the promotion gate "
        "before training on a re-crawled snapshot",
)
def corpus_snapshot_diff(spark, sf_dir):
    from .operators.diff import snapshot_diff

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 43 != 1).select("doc_id", "text")
    new = (docs.where(F.col("doc_id") % 47 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 31 == 2,
                          F.concat(F.col("text"), F.lit(" rewritten")))
                   .otherwise(F.col("text")).alias("text")))
    return snapshot_diff(old, new)


# --- snapshot MERGE / upsert (r8) --------------------------------------------
# The step after the diff: APPLY the change set — the re-crawl refresh
# every training-corpus pipeline runs. Same old/new derivation as
# corpus_snapshot_diff; the end-to-end contract is
# merge(old, change_set(old, new)) == new, and the `action` column
# value-checks WHICH merge path produced each row (kept = passed
# through from old, upserted = taken from the change set), so the
# oracle is a real reconstruction, not a tautology. Replay-idempotency
# (re-applying the change set is a no-op) is pinned in
# tests/test_llm_ops.py along with the dynamic-partition-overwrite
# write face.
@register(
    "corpus_apply_snapshot",
    """
    WITH old AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(text)), ' +', ' ',
                                         'g'), '')) AS old_fp
      FROM documents WHERE doc_id % 43 <> 1
    ),
    new AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(
               CASE WHEN doc_id % 31 = 2 THEN text || ' rewritten'
                    ELSE text END)), ' +', ' ', 'g'), '')) AS new_fp
      FROM documents WHERE doc_id % 47 <> 0
    )
    SELECT new.doc_id, new_fp AS fp,
           CASE WHEN old_fp IS NOT NULL AND old_fp = new_fp
                THEN 'kept' ELSE 'upserted' END AS action
    FROM new LEFT JOIN old USING (doc_id)
    """,
    doc="idempotent keyed MERGE: apply the snapshot change set "
        "(upsert + delete tombstones) to the current corpus -> next "
        "snapshot with per-row merge provenance; one full-outer "
        "equi-join on the id, change-set payload is the only text "
        "that moves",
)
def corpus_apply_snapshot(spark, sf_dir):
    from .operators.dedup import normalized_text
    from .operators.diff import apply_snapshot, change_set

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 43 != 1).select("doc_id", "text")
    new = (docs.where(F.col("doc_id") % 47 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 31 == 2,
                          F.concat(F.col("text"), F.lit(" rewritten")))
                   .otherwise(F.col("text")).alias("text")))
    merged = apply_snapshot(old, change_set(old, new))
    fp = F.md5(F.coalesce(normalized_text(F.col("text")), F.lit("")))
    return merged.select("doc_id", fp.alias("fp"), "action")


# --- KS distance matrix (E102) -----------------------------------------------
@register(
    "corpus_length_ks_matrix",
    """
    WITH vc AS (
      SELECT source AS grp, n_chars AS x, count(*) AS c
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    grid AS (SELECT DISTINCT x FROM vc),
    sizes AS (SELECT grp, sum(c) AS n FROM vc GROUP BY 1),
    dense AS (
      SELECT s.grp, g.x, s.n, coalesce(v.c, 0) AS c
      FROM sizes s CROSS JOIN grid g
      LEFT JOIN vc v ON v.grp = s.grp AND v.x = g.x
    ),
    cdf AS (
      SELECT grp, x, n,
             sum(c) OVER (PARTITION BY grp ORDER BY x
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) / n AS cdf
      FROM dense
    )
    SELECT a.grp AS grp_a, b.grp AS grp_b,
           CAST(max(a.n) AS BIGINT) AS n_a,
           CAST(max(b.n) AS BIGINT) AS n_b,
           round(max(abs(a.cdf - b.cdf)), 6) AS ks
    FROM cdf a JOIN cdf b ON a.x = b.x AND a.grp < b.grp
    GROUP BY 1, 2
    """,
    doc="pairwise two-sample KS distance between per-source length "
        "distributions: max CDF gap over the densified value grid -- "
        "the distributional drift / slice-independence test; bounded "
        "by distinct-values x groups, CDFs are exact integer ratios "
        "so no float hazard",
)
def corpus_length_ks_matrix(spark, sf_dir):
    from .operators.grouped import ks_distance_matrix

    return ks_distance_matrix(load_table(spark, sf_dir, "documents"),
                              "n_chars")


# --- SpaceSaving heavy hitters (E103) ----------------------------------------
# no_oracle by design: per-partition counter evictions depend on
# arrival order within each partition (the reservoir/sticky category,
# SURVEY §5); the guarantees -- any item with global count > N/k
# present, est_min <= true <= est_max -- are property-tested in
# tests/test_llm_ops.py. The face plants a deterministic skew so the
# heavy set is non-vacuous.
@register(
    "streaming_spacesaving_topk",
    None,
    doc="distributed SpaceSaving heavy hitters (Metwally 2005 + "
        "mergeable-summaries merge): <= k counters per partition via "
        "one Arrow mapInPandas pass, P x k-row merge with absent-"
        "partition threshold bounds; the order-insensitive third leg "
        "of the reference's HW3 frequent-items triple",
)
def streaming_spacesaving_topk(spark, sf_dir):
    from .operators.frequent import space_saving_topk

    ev = load_table(spark, sf_dir, "events")
    items = ev.select(
        F.when(F.col("user_id") % 3 == 0, F.lit("heavy-0"))
        .when(F.col("user_id") % 7 == 1, F.lit("heavy-1"))
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("item"))
    return space_saving_topk(items, "item", k=50, out_k=10)


# --- robust per-source stats (E104) ------------------------------------------
@register(
    "corpus_robust_stats",
    """
    WITH base AS (
      SELECT coalesce(CAST(source AS VARCHAR), chr(0) || '<null>')
               AS gkey,
             source AS grp, CAST(n_chars AS DOUBLE) AS v, doc_id
      FROM documents WHERE n_chars IS NOT NULL
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY gkey
                                   ORDER BY v, doc_id) AS r,
             count(*) OVER (PARTITION BY gkey) AS n
      FROM base
    ),
    marked AS (
      SELECT *,
             greatest(CAST(ceil(n * 5 / 100.0) AS BIGINT), 1) AS lo_r,
             greatest(CAST(ceil(n * 95 / 100.0) AS BIGINT), 1) AS hi_r
      FROM ranked
    ),
    fences AS (
      SELECT gkey, max(CASE WHEN r = lo_r THEN v END) AS p_lo,
                   max(CASE WHEN r = hi_r THEN v END) AS p_hi
      FROM marked GROUP BY 1
    )
    SELECT m.grp AS source, CAST(count(*) AS BIGINT) AS n,
           max(f.p_lo) AS p_lo, max(f.p_hi) AS p_hi,
           round(avg(CASE WHEN m.r > m.lo_r AND m.r <= m.hi_r
                          THEN m.v END), 6) AS trimmed_mean,
           round(avg(greatest(least(m.v, f.p_hi), f.p_lo)), 6)
             AS winsor_mean,
           round(avg(m.v), 6) AS plain_mean
    FROM marked m JOIN fences f USING (gkey)
    GROUP BY m.grp
    """,
    doc="outlier-robust per-source stats: EXACT rank-order P5/P95 "
        "fences (integer rank logic, no engine-varying interpolation) "
        "with trimmed and Winsorized means beside the plain mean; "
        "ranks from the range-partitioned global spine, never a "
        "per-group reducer funnel",
)
def corpus_robust_stats(spark, sf_dir):
    from .operators.grouped import robust_stats

    return robust_stats(load_table(spark, sf_dir, "documents"),
                        "n_chars")


# --- KMV distinct-count sketch (E135, r9) --------------------------------------
# The value-checkable sketch beside the rows-only HLL face: KMV's
# state is just the k smallest md5 hashes, so both engines compute
# IDENTICAL sketches hash-by-hash — a cardinality sketch with a full
# value oracle. Two key types exercise both estimator branches at
# every SF: user_id (15 distinct per type at sf0.001 -> exact branch)
# and event_id (unique per event -> (k-1)/u_k estimator branch).
@register(
    "events_kmv_distinct",
    """
    WITH src AS (
      SELECT 'users' AS key, event_type,
             CAST(user_id AS VARCHAR) AS item FROM events
      UNION ALL
      SELECT 'events', event_type,
             CAST(event_id AS VARCHAR) FROM events
    ),
    d AS (
      SELECT DISTINCT key, event_type,
             ('0x' || substr(md5(item), 1, 15))::BIGINT AS h
      FROM src
    ),
    r AS (
      SELECT key, event_type, h,
             row_number() OVER (PARTITION BY key, event_type
                                ORDER BY h) AS rk
      FROM d
    ),
    s AS (SELECT key, event_type, h FROM r WHERE rk <= 64)
    SELECT key, event_type, count(*)::BIGINT AS n_sketch,
           max(h)::BIGINT AS kth_hash,
           CASE WHEN count(*) < 64 THEN count(*) * 1.0
                ELSE round(63.0 * 1152921504606846976.0 / max(h), 6) END
             AS est_distinct
    FROM s GROUP BY key, event_type
    """,
    doc="KMV distinct-count sketch (k=64 minimum md5 hash values) per "
        "event_type over two key types: deterministic, mergeable "
        "(union sketch == sketch of union, pinned by test), exact "
        "below k, (k-1)/u_k estimator at k; two-stage grouped top-k, "
        "never a per-group funnel",
)
def events_kmv_distinct(spark, sf_dir):
    from .operators.frequent import kmv_estimate, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    parts = []
    for key, col in (("users", "user_id"), ("events", "event_id")):
        est = kmv_estimate(kmv_sketch(ev, col, "event_type", k=64), k=64)
        parts.append(est.withColumn("key", F.lit(key)))
    return (parts[0].unionByName(parts[1])
            .select("key", F.col("grp").alias("event_type"),
                    "n_sketch", "kth_hash", "est_distinct"))


# --- SCD2 snapshot history (E136, r9) ------------------------------------------
# The versioning tier's third face (diff -> merge -> HISTORY): type-2
# validity intervals answering "which version of this doc did model X
# train on". Same synthesized old/new as corpus_apply_snapshot, so all
# four diff statuses populate the taxonomy non-vacuously at every SF.
@register(
    "corpus_scd2_history",
    """
    WITH old AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(text)), ' +', ' ',
                                         'g'), '')) AS old_fp
      FROM documents WHERE doc_id % 43 <> 1
    ),
    new AS (
      SELECT doc_id,
             md5(coalesce(regexp_replace(lower(trim(
               CASE WHEN doc_id % 31 = 2 THEN text || ' rewritten'
                    ELSE text END)), ' +', ' ', 'g'), '')) AS new_fp
      FROM documents WHERE doc_id % 47 <> 0
    ),
    j AS (
      SELECT doc_id, old_fp, new_fp
      FROM old FULL OUTER JOIN new USING (doc_id)
    )
    SELECT doc_id, old_fp AS fp,
           0::BIGINT AS valid_from, 1::BIGINT AS valid_to,
           FALSE AS is_current
    FROM j
    WHERE old_fp IS NOT NULL
      AND (new_fp IS NULL OR new_fp <> old_fp)
    UNION ALL
    SELECT doc_id, new_fp,
           CASE WHEN old_fp = new_fp THEN 0 ELSE 1 END::BIGINT,
           NULL::BIGINT, TRUE
    FROM j WHERE new_fp IS NOT NULL
    """,
    doc="SCD2 history from two snapshot versions: per content version "
        "a validity interval (closed when rewritten/removed, open + "
        "is_current while live); the diff's one full-outer id join "
        "then a bounded <=2-row struct-array explode, text never "
        "shuffles",
)
def corpus_scd2_history(spark, sf_dir):
    from .operators.diff import scd2_history

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 43 != 1).select("doc_id", "text")
    new = (docs.where(F.col("doc_id") % 47 != 0)
           .select("doc_id",
                   F.when(F.col("doc_id") % 31 == 2,
                          F.concat(F.col("text"), F.lit(" rewritten")))
                   .otherwise(F.col("text")).alias("text")))
    return scd2_history(old, new)


# --- time-decayed trending items (E141, r9) --------------------------------------
# Freshness-weighted frequent items: integer-micro decay weights
# (floor(1e6/2^days_ago), half-life one day) make the score an EXACT
# integer sum — no float summation, no pow() library variance; "now"
# is the corpus max day on a 1-row broadcast.
@register(
    "events_trending_items",
    """
    WITH b AS (
      SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
               AS item,
             (epoch_ns(ts) // 1000) // 86400000000 AS day
      FROM events
      WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
              IS NOT NULL
    ),
    r AS (SELECT max(day) AS ref FROM b),
    w AS (
      SELECT item,
             CASE WHEN ref - day <= 19
                  THEN CAST(floor(1000000 /
                         power(2, least(ref - day, 19))) AS BIGINT)
                  ELSE 0 END AS wt
      FROM b CROSS JOIN r
    )
    SELECT item, count(*)::BIGINT AS n_events,
           sum(wt)::BIGINT AS decayed_micros
    FROM w GROUP BY item
    ORDER BY decayed_micros DESC, item
    LIMIT 20
    """,
    doc="time-decayed trending items (half-life 1 day): exact "
        "integer-micro decay weights summed per item, corpus max day "
        "as the 1-row broadcast reference, top-20 by decayed score -- "
        "yesterday's spike outranks last week's drip",
)
def events_trending_items(spark, sf_dir):
    from .operators.timeseries import trending_items

    ev = (load_table(spark, sf_dir, "events")
          .select(F.get_json_object("props", "$.k").try_cast("long")
                  .alias("item"), "ts"))
    return trending_items(ev)


# --- population-stability drift report (E151, r10) ------------------------------
# The production drift metric beside the KS faces (corpus_split_drift,
# corpus_length_ks_matrix): bin edges = the BASELINE's exact deciles
# (the reference period defines the grid), both periods assigned by
# the same edges (ties at an edge go DOWN: bin = 1 + #edges strictly
# below), psi_contrib = (p-q)*ln(p/q) on add-half-smoothed proportions
# so an empty bin cannot produce +-inf. The "current" period is a
# deterministic degraded re-crawl (every 3rd odd doc truncated to half
# length), so several bins drift non-vacuously at every SF while the
# baseline half stays untouched. Total PSI = sum(psi_contrib); > 0.25
# is the usual investigate threshold.
@register(
    "corpus_drift_psi",
    """
    WITH base AS (
      SELECT doc_id, n_chars FROM documents WHERE doc_id % 2 = 0
    ),
    cur AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN n_chars // 2
                  ELSE n_chars END AS n_chars
      FROM documents WHERE doc_id % 2 = 1
    ),
    nt AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS b
      FROM base
    ),
    edges AS (
      SELECT list(e ORDER BY e) AS es FROM (
        SELECT max(n_chars) AS e FROM nt WHERE b <= 9 GROUP BY b)
    ),
    nb AS (
      SELECT 1 + len(list_filter(es, x -> x < n_chars)) AS bin,
             count(*)::BIGINT AS n_base
      FROM base CROSS JOIN edges GROUP BY 1
    ),
    nc AS (
      SELECT 1 + len(list_filter(es, x -> x < n_chars)) AS bin,
             count(*)::BIGINT AS n_cur
      FROM cur CROSS JOIN edges GROUP BY 1
    ),
    grid AS (SELECT unnest(generate_series(1, 10)) AS bin),
    j AS (
      SELECT CAST(grid.bin AS INTEGER) AS bin,
             coalesce(n_base, 0) AS n_base,
             coalesce(n_cur, 0) AS n_cur
      FROM grid LEFT JOIN nb ON nb.bin = grid.bin
                LEFT JOIN nc ON nc.bin = grid.bin
    ),
    t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
    SELECT bin, n_base, n_cur,
           round(((n_base + 0.5) / (t.tb + 5.0)
                  - (n_cur + 0.5) / (t.tc + 5.0))
                 * ln(((n_base + 0.5) / (t.tb + 5.0))
                      / ((n_cur + 0.5) / (t.tc + 5.0))), 6)
             AS psi_contrib
    FROM j CROSS JOIN t
    """,
    doc="population-stability-index drift report over doc length: "
        "baseline-decile bin edges from the range-partitioned ntile "
        "spine, both periods assigned by the same edges, add-half "
        "smoothed (p-q)*ln(p/q) per bin; current period is a "
        "deterministic degraded re-crawl so the drift is non-vacuous",
)
def corpus_drift_psi(spark, sf_dir):
    from .operators.grouped import psi_report

    docs = load_table(spark, sf_dir, "documents")
    base = (docs.where(F.col("doc_id") % 2 == 0)
            .select("doc_id", "n_chars"))
    cur = (docs.where(F.col("doc_id") % 2 == 1)
           .select("doc_id",
                   F.when(F.col("doc_id") % 3 == 0,
                          (F.col("n_chars") / 2).cast("long"))
                   .otherwise(F.col("n_chars")).alias("n_chars")))
    return psi_report(base, cur, "n_chars", "doc_id")


# --- KMV set-operation estimates + exactness gate (E153, r10) ------------------
# The theta-sketch pattern on the E135 KMV: "how many users did both X
# and Y" answered from per-group sketches alone — S = k smallest of
# sketch(A) u sketch(B) (exactly the union sketch, by mergeability),
# rho = fraction of S in BOTH sketches estimates Jaccard, est_union =
# (k-1)/u_k on S, est_intersection = rho * est_union. The exact
# union/intersection ride along per pair (the E140/E145/E146 gate
# convention), so the sketch's set-op error is REPORTED, not assumed.
@register(
    "events_kmv_setops",
    """
    WITH src AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS grp, user_id
      FROM events WHERE CAST(ts AS DATE) < DATE '2024-01-06'
    ),
    d AS (
      SELECT DISTINCT grp,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM src
    ),
    r AS (
      SELECT grp, h,
             row_number() OVER (PARTITION BY grp ORDER BY h) AS rk
      FROM (SELECT DISTINCT grp, h FROM d)
    ),
    sk AS (SELECT grp, h FROM r WHERE rk <= 64),
    g AS (SELECT DISTINCT grp FROM sk),
    pairs AS (
      SELECT x.grp AS grp_a, y.grp AS grp_b
      FROM g x JOIN g y ON x.grp < y.grp
    ),
    uh AS (
      SELECT DISTINCT p.grp_a, p.grp_b, s.h
      FROM pairs p JOIN sk s ON s.grp = p.grp_a OR s.grp = p.grp_b
    ),
    ur AS (
      SELECT grp_a, grp_b, h,
             row_number() OVER (PARTITION BY grp_a, grp_b
                                ORDER BY h) AS rk
      FROM uh
    ),
    s AS (SELECT grp_a, grp_b, h FROM ur WHERE rk <= 64),
    fl AS (
      SELECT s.grp_a, s.grp_b, s.h,
             (sa.h IS NOT NULL AND sb.h IS NOT NULL) AS in_both
      FROM s
      LEFT JOIN sk sa ON sa.grp = s.grp_a AND sa.h = s.h
      LEFT JOIN sk sb ON sb.grp = s.grp_b AND sb.h = s.h
    ),
    est AS (
      SELECT grp_a, grp_b, count(*)::BIGINT AS n_s,
             sum(CASE WHEN in_both THEN 1 ELSE 0 END)::BIGINT AS n_common,
             round(CASE WHEN count(*) < 64 THEN count(*) * 1.0
                        ELSE 63.0 * 1152921504606846976.0 / max(h) END, 6)
               AS est_union,
             round(sum(CASE WHEN in_both THEN 1 ELSE 0 END)
                   * (CASE WHEN count(*) < 64 THEN count(*) * 1.0
                           ELSE 63.0 * 1152921504606846976.0 / max(h) END)
                   / count(*), 6) AS est_intersection,
             round(sum(CASE WHEN in_both THEN 1 ELSE 0 END) * 1.0
                   / count(*), 6) AS est_jaccard
      FROM fl GROUP BY grp_a, grp_b
    ),
    sets AS (SELECT DISTINCT grp, user_id FROM src),
    sz AS (SELECT grp, count(*)::BIGINT AS n FROM sets GROUP BY grp),
    inter AS (
      SELECT a.grp AS grp_a, b.grp AS grp_b, count(*)::BIGINT AS ni
      FROM sets a JOIN sets b
        ON a.user_id = b.user_id AND a.grp < b.grp
      GROUP BY 1, 2
    )
    SELECT e.grp_a, e.grp_b, e.n_s, e.n_common,
           e.est_union, e.est_intersection, e.est_jaccard,
           (za.n + zb.n - coalesce(i.ni, 0))::BIGINT AS exact_union,
           coalesce(i.ni, 0)::BIGINT AS exact_intersection,
           round(coalesce(i.ni, 0) * 1.0
                 / (za.n + zb.n - coalesce(i.ni, 0)), 6) AS exact_jaccard
    FROM est e
    JOIN sz za ON za.grp = e.grp_a
    JOIN sz zb ON zb.grp = e.grp_b
    LEFT JOIN inter i ON i.grp_a = e.grp_a AND i.grp_b = e.grp_b
    """,
    doc="KMV set-operation estimates per day pair (first 5 days: union, "
        "intersection, Jaccard from the k-min union sketch and the "
        "both-membership fraction) beside the exact values — the "
        "sketch's set-op error reported per pair, never assumed; "
        "everything after the per-group sketches is arithmetic over "
        "<= k rows per pair",
)
def events_kmv_setops(spark, sf_dir):
    from .operators.frequent import kmv_set_ops, kmv_sketch

    ev = load_table(spark, sf_dir, "events")
    src = (ev.where(F.to_date("ts") < F.lit("2024-01-06").cast("date"))
           .select(F.to_date("ts").cast("string").alias("day"), "user_id"))
    ops = kmv_set_ops(kmv_sketch(src, "user_id", "day", k=64))
    sets = src.select(F.col("day").alias("grp"), "user_id").distinct()
    sz = sets.groupBy("grp").agg(F.count("*").cast("long").alias("n"))
    inter = (sets.alias("a")
             .join(sets.alias("b"),
                   (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.grp") < F.col("b.grp")))
             .groupBy(F.col("a.grp").alias("grp_a"),
                      F.col("b.grp").alias("grp_b"))
             .agg(F.count("*").cast("long").alias("_ni")))
    ex_union = (F.col("_na") + F.col("_nb")
                - F.coalesce("_ni", F.lit(0))).cast("long")
    return (ops
            .join(sz.select(F.col("grp").alias("grp_a"),
                            F.col("n").alias("_na")), "grp_a")
            .join(sz.select(F.col("grp").alias("grp_b"),
                            F.col("n").alias("_nb")), "grp_b")
            .join(inter, ["grp_a", "grp_b"], "left")
            .select("grp_a", "grp_b", "n_s", "n_common",
                    "est_union", "est_intersection", "est_jaccard",
                    ex_union.alias("exact_union"),
                    F.coalesce("_ni", F.lit(0)).cast("long")
                    .alias("exact_intersection"),
                    F.round(F.coalesce("_ni", F.lit(0)) / ex_union, 6)
                    .alias("exact_jaccard")))


# --- incremental view maintenance of corpus stats (E154, r10) -------------------
# The warehouse classic completing the versioning tier (diff -> merge
# -> SCD2 -> MAINTAINED AGGREGATE): per-source (n_docs, n_tokens) of
# the new snapshot computed from the OLD stats plus churn-sized
# deltas — removed/modified decrement at the old group, added/modified
# increment at the new one; only changed docs' text is tokenized. The
# oracle recomputes the stats from the new snapshot DIRECTLY, so the
# parity row is the incremental-equals-full-recompute proof. Same
# synthesized old/new as corpus_apply_snapshot/corpus_scd2_history, so
# every delta branch populates at every SF.
@register(
    "corpus_incremental_stats",
    """
    WITH new AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 31 = 2 THEN text || ' rewritten'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 47 <> 0
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len(list_filter(string_split(coalesce(text, ''), ' '),
                               w -> w <> '')))::BIGINT AS n_tokens
    FROM new GROUP BY source
    """,
    doc="incremental view maintenance: per-source doc/token stats of "
        "the new snapshot from old stats + churn-sized diff deltas "
        "(only changed docs tokenized); the oracle is the full "
        "recompute, so parity proves the maintenance exact",
)
def corpus_incremental_stats(spark, sf_dir):
    from .operators.diff import incremental_stats

    docs = load_table(spark, sf_dir, "documents")
    old = (docs.where(F.col("doc_id") % 43 != 1)
           .select("doc_id", "source", "text"))
    new = (docs.where(F.col("doc_id") % 47 != 0)
           .select("doc_id", "source",
                   F.when(F.col("doc_id") % 31 == 2,
                          F.concat(F.col("text"), F.lit(" rewritten")))
                   .otherwise(F.col("text")).alias("text")))
    toks = F.size(F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: w != ""))
    old_stats = (old.groupBy("source")
                 .agg(F.count("*").cast("long").alias("n_docs"),
                      F.sum(toks).cast("long").alias("n_tokens")))
    return incremental_stats(old, new, old_stats)


# --- data-skipping (file pruning) audit (E156, r10) -----------------------------
# The E81 Z-order claim, QUANTIFIED: rows land in 64 files under the
# insertion order and under the Z-order key; per-file min/max footer
# stats are probed by 4 rectangle predicates with the parquet
# row-group pruning rule (stat-range overlap). n_rows_match is
# layout-independent by construction — only files touched differ —
# so the report is self-checking. Probes: user-range-only (linear
# layout prunes nothing), event-range-only (linear prunes perfectly),
# and two 2-D rectangles (Z prunes on both dimensions).
def _zorder_pruning_oracle() -> str:
    from .operators.layout import z_value_sql

    z = z_value_sql("(user_id % 64) * 64", "event_id % 4096", bits=12)
    return f"""
    WITH base AS (
      SELECT CAST((user_id % 64) * 64 AS BIGINT) AS cx,
             CAST(event_id % 4096 AS BIGINT) AS cy,
             event_id AS o, {z} AS zv
      FROM events
    ),
    filed AS (
      SELECT 'linear' AS layout, cx, cy,
             ntile(64) OVER (ORDER BY o) AS f
      FROM base
      UNION ALL
      SELECT 'zorder', cx, cy,
             ntile(64) OVER (ORDER BY zv, o)
      FROM base
    ),
    st AS (
      SELECT layout, f,
             min(cx) AS mcx, max(cx) AS xcx,
             min(cy) AS mcy, max(cy) AS xcy
      FROM filed GROUP BY 1, 2
    ),
    probes(probe_id, cx_lo, cx_hi, cy_lo, cy_hi) AS (
      VALUES (1, 0, 511, 0, 4095), (2, 0, 4095, 0, 255),
             (3, 0, 1023, 0, 1023), (4, 1024, 2047, 1024, 2047)
    ),
    fh AS (
      SELECT layout, probe_id,
             sum(CASE WHEN mcx <= cx_hi AND xcx >= cx_lo
                       AND mcy <= cy_hi AND xcy >= cy_lo
                      THEN 1 ELSE 0 END)::BIGINT AS n_files_hit,
             count(*)::BIGINT AS n_files
      FROM st CROSS JOIN probes GROUP BY 1, 2
    ),
    rm AS (
      SELECT probe_id, count(*)::BIGINT AS n
      FROM base CROSS JOIN probes
      WHERE cx BETWEEN cx_lo AND cx_hi AND cy BETWEEN cy_lo AND cy_hi
      GROUP BY 1
    )
    SELECT fh.layout, fh.probe_id, fh.n_files_hit, fh.n_files,
           coalesce(rm.n, 0)::BIGINT AS n_rows_match
    FROM fh LEFT JOIN rm ON rm.probe_id = fh.probe_id
    """


@register(
    "events_zorder_pruning",
    _zorder_pruning_oracle(),
    doc="data-skipping audit: 64-file layouts under insertion order "
        "vs the Z-order key, per-file min/max stats probed by 4 "
        "rectangle predicates with the parquet pruning rule; "
        "n_rows_match is layout-independent so the report "
        "self-checks; file ids from the range-partitioned ntile spine",
)
def events_zorder_pruning(spark, sf_dir):
    from .operators.layout import layout_pruning_audit

    ev = load_table(spark, sf_dir, "events")
    # cx spreads the 6 user bits into the TOP of the 12-bit field:
    # with raw user ids (~150 distinct) only the low bits populate and
    # the interleave degenerates to cy order (measured: 63-vs-64 files
    # pruned); spread, the contrast is textbook (17-vs-64 on the
    # user-range probe, 7-vs-24 on the 2-D probe, and the cy-only
    # probe modestly FAVORS linear, 7-vs-11 — the documented trade)
    base = ev.select(
        ((F.col("user_id") % 64) * 64).cast("long").alias("cx"),
        (F.col("event_id") % 4096).cast("long").alias("cy"),
        "event_id")
    return layout_pruning_audit(
        base, "cx", "cy", "event_id",
        probes=[(1, 0, 511, 0, 4095), (2, 0, 4095, 0, 255),
                (3, 0, 1023, 0, 1023), (4, 1024, 2047, 1024, 2047)])


# --- E164: column profile report -----------------------------------------------
@register(
    "corpus_profile_report",
    """
    SELECT 'doc_id' AS "column", count(*)::BIGINT AS n_rows,
           (count(*) - count(doc_id))::BIGINT AS n_null,
           count(DISTINCT doc_id)::BIGINT AS n_distinct,
           CAST(min(doc_id) AS VARCHAR) AS min_value,
           CAST(max(doc_id) AS VARCHAR) AS max_value
    FROM documents
    UNION ALL
    SELECT 'lang', count(*)::BIGINT, (count(*) - count(lang))::BIGINT,
           count(DISTINCT lang)::BIGINT,
           CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'source', count(*)::BIGINT, (count(*) - count(source))::BIGINT,
           count(DISTINCT source)::BIGINT,
           CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
    FROM documents
    UNION ALL
    SELECT 'n_chars', count(*)::BIGINT,
           (count(*) - count(n_chars))::BIGINT,
           count(DISTINCT n_chars)::BIGINT,
           CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
    FROM documents
    """,
    doc="column profile report (the Deequ/schema-discovery artifact): "
        "per column, null count, exact distinct cardinality and "
        "min/max bounds rendered as strings (typed ordering, shared "
        "report schema); ONE aggregate pass computes every metric — "
        "the per-column rows explode from the aggregated struct array, "
        "never a scan per column",
)
def corpus_profile_report(spark, sf_dir):
    from .operators.profile import profile_report

    docs = load_table(spark, sf_dir, "documents")
    return profile_report(docs, ["doc_id", "lang", "source", "n_chars"])


# --- E167: rendezvous-hashing shard movement audit ------------------------------
@register(
    "corpus_shard_movement",
    """
    WITH a AS (
      SELECT doc_id,
             list_position(sc8, list_max(sc8)) - 1 AS f,
             list_position(sc9, list_max(sc9)) - 1 AS t
      FROM (
        SELECT doc_id,
               [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                     CAST(s AS VARCHAR)), 1, 15))::BIGINT
                FOR s IN range(8)] AS sc8,
               [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                     CAST(s AS VARCHAR)), 1, 15))::BIGINT
                FOR s IN range(9)] AS sc9
        FROM documents)
    ),
    tt AS (
      SELECT t AS shard, count(*)::BIGINT AS n_at_to,
             sum(CASE WHEN f != t THEN 1 ELSE 0 END)::BIGINT AS moved_in
      FROM a GROUP BY t
    ),
    ff AS (SELECT f AS shard, count(*)::BIGINT AS n_at_from
           FROM a GROUP BY f)
    SELECT CAST(coalesce(tt.shard, ff.shard) AS INTEGER) AS shard,
           coalesce(ff.n_at_from, 0)::BIGINT AS n_at_from,
           coalesce(tt.n_at_to, 0)::BIGINT AS n_at_to,
           coalesce(tt.moved_in, 0)::BIGINT AS moved_in
    FROM tt FULL OUTER JOIN ff ON ff.shard = tt.shard
    """,
    doc="rendezvous (HRW) consistent-hashing audit for growing 8 -> 9 "
        "shards: per target shard, key counts under both shard counts "
        "and how many keys moved in — rendezvous guarantees movement "
        "lands ONLY on the new shard (~n/9 keys), and the report "
        "MEASURES that instead of asserting it; md5-prefix scores so "
        "the assignment replays bit-for-bit in the oracle",
)
def corpus_shard_movement(spark, sf_dir):
    from .operators.splits import shard_movement_report

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return shard_movement_report(docs, "doc_id", n_from=8, n_to=9)


# --- E176: Cohen's kappa labeler agreement (r12) -------------------------------
# The chance-corrected agreement statistic detector/labeler QA wants
# next to raw accuracy: high observed agreement means nothing when one
# class dominates — kappa subtracts the marginal-product expectation.
# The oracle COMPOSES the already-value-checked confusion-matrix face,
# so a disagreement here is kappa arithmetic, never detector drift.
def _kappa_sql() -> str:
    return f"""
    WITH cm AS ({_R["corpus_language_confusion"].oracle}),
    t AS (SELECT sum(n_docs)::BIGINT AS n_obs,
                 sum(CASE WHEN lang = detected_lang THEN n_docs
                          ELSE 0 END)::BIGINT AS n_agree
          FROM cm),
    ca AS (SELECT lang AS l, sum(n_docs)::BIGINT AS ca
           FROM cm GROUP BY 1),
    cb AS (SELECT detected_lang AS l, sum(n_docs)::BIGINT AS cb
           FROM cm GROUP BY 1),
    sp AS (SELECT sum(ca.ca * cb.cb)::BIGINT AS sp
           FROM ca JOIN cb USING (l))
    SELECT t.n_obs, t.n_agree,
           round(t.n_agree * 1.0 / t.n_obs, 6) AS po,
           round(sp.sp / (CAST(t.n_obs AS DOUBLE) * t.n_obs), 6) AS pe,
           round((t.n_agree * 1.0 / t.n_obs
                  - sp.sp / (CAST(t.n_obs AS DOUBLE) * t.n_obs))
                 / (1.0 - sp.sp / (CAST(t.n_obs AS DOUBLE) * t.n_obs)),
                 6) AS kappa
    FROM t, sp
    """


@register(
    "corpus_labeler_agreement",
    _kappa_sql(),
    doc="Cohen's kappa between the stopword-profile language detector "
        "and the provenance labels: observed agreement po, "
        "marginal-product expectation pe, kappa = (po-pe)/(1-pe) — "
        "exact BIGINT counts and marginal products, divisions in the "
        "same operation order both engines; oracle composes the "
        "value-checked confusion-matrix face",
)
def corpus_labeler_agreement(spark, sf_dir):
    from .operators.grouped import cohens_kappa
    from .operators.textstats import language_confusion

    docs = load_table(spark, sf_dir, "documents")
    cells = language_confusion(docs).select("lang", "detected_lang",
                                            "n_docs")
    return cohens_kappa(cells, "lang", "detected_lang", "n_docs")


# --- E177: small-files compaction planner (r12) ---------------------------------
# The other half of the layout tier: pruning audits prove stats-based
# skipping, but millions of sub-row-group files are slow before any
# predicate runs (footer fetches, task scheduling). The planner
# assigns manifest files, in table order, to contiguous target-size
# output groups by the streaming rule floor(cum_before / target) on
# the range-partitioned cumsum spine. The oracle states the
# definitional single-window running total, so the parity row proves
# spine == definition on a VALUE prefix sum too (the rank spine's
# sibling). Manifest synthesized as 256 per-bucket byte totals.
@register(
    "corpus_compaction_plan",
    """
    WITH manifest AS (
      SELECT doc_id % 256 AS file_id, sum(n_chars)::BIGINT AS n_bytes
      FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT file_id, n_bytes,
             sum(n_bytes) OVER (ORDER BY file_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM manifest
    )
    SELECT CAST(floor((cum - n_bytes) / 10000.0) AS BIGINT) AS out_file,
           count(*)::BIGINT AS n_inputs,
           sum(n_bytes)::BIGINT AS total_bytes
    FROM cum GROUP BY 1
    """,
    doc="small-files compaction plan: 256-file synthesized manifest "
        "assigned to ~10 kB contiguous output groups by "
        "floor(cumulative-before / target) on the range-partitioned "
        "cumsum spine (never a single-reducer window); every output "
        "except the last lands within one max-input of the target — "
        "the stateless-rule guarantee, no iteration; oracle = the definitional "
        "running-total window",
)
def corpus_compaction_plan(spark, sf_dir):
    from .operators.layout import compaction_plan

    manifest = (load_table(spark, sf_dir, "documents")
                .groupBy((F.col("doc_id") % 256).alias("file_id"))
                .agg(F.sum("n_chars").cast("long").alias("n_bytes")))
    return compaction_plan(manifest, "n_bytes", [F.col("file_id")],
                           target_bytes=10_000)


# --- E180: rolling-window distinct via KMV merge (r12) ---------------------------
# "7-day active users" done the way it scales: exact rolling distinct
# re-touches every raw row once per window position; the sketch path
# aggregates each day ONCE into <= k hash rows and merges on the day
# grid — mergeability (k smallest of a union of per-day sketches IS
# the window's sketch, exactly) is why sketches are carried per time
# partition at all. The exact rolling distinct rides along (gate
# convention) so the estimator error is measured per window.
@register(
    "events_rolling_distinct_kmv",
    """
    WITH e AS (
      SELECT DISTINCT
             (epoch_ns(ts) // 1000) // 86400000000 AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d AS wd FROM e),
    sk AS (
      SELECT d, h FROM (
        SELECT d, h, row_number() OVER (PARTITION BY d ORDER BY h) AS rk
        FROM (SELECT DISTINCT d,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                     1, 15))::BIGINT AS h
              FROM e)
      ) WHERE rk <= 128
    ),
    m AS (
      SELECT DISTINCT wd, h FROM (
        SELECT sk.d + k.k AS wd, sk.h
        FROM sk, (SELECT unnest(range(7)) AS k) k)
      SEMI JOIN days USING (wd)
    ),
    top AS (
      SELECT wd, h FROM (
        SELECT wd, h, row_number() OVER (PARTITION BY wd ORDER BY h)
               AS rk
        FROM m
      ) WHERE rk <= 128
    ),
    est AS (
      SELECT wd, count(*)::BIGINT AS n_sketch,
             CASE WHEN count(*) < 128 THEN count(*) * 1.0
                  ELSE round(127.0 * 1152921504606846976.0 / max(h), 6)
             END AS est_distinct
      FROM top GROUP BY wd
    ),
    exact AS (
      SELECT wd, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM (SELECT DISTINCT wd, user_id FROM (
              SELECT e.d + k.k AS wd, e.user_id
              FROM e, (SELECT unnest(range(7)) AS k) k)
            SEMI JOIN days USING (wd))
      GROUP BY wd
    ),
    nd AS (
      SELECT wd, count(*)::BIGINT AS n_days
      FROM (SELECT b.wd + k.k AS wd
            FROM (SELECT wd FROM days) b,
                 (SELECT unnest(range(7)) AS k) k)
      SEMI JOIN days USING (wd)
      GROUP BY wd
    )
    SELECT nd.wd::BIGINT AS day_num, nd.n_days, est.n_sketch,
           est.est_distinct, exact.exact_distinct
    FROM nd JOIN est USING (wd) JOIN exact USING (wd)
    """,
    doc="trailing-7-day distinct users from per-day KMV sketches "
        "(k=128): each day aggregates once into <= k hash rows, the "
        "window merge is day-grid-sized, and the merged k-smallest "
        "set IS the window's sketch by mergeability; exact rolling "
        "distinct rides along so the estimator error is measured, "
        "never assumed; partial windows at the corpus start report "
        "their smaller n_days",
)
def events_rolling_distinct_kmv(spark, sf_dir):
    from .operators.frequent import rolling_distinct_kmv
    from .operators.timeseries import ticks_us

    # absolute-day bucketing (floor(ticks/day)) only matches the
    # oracle's epoch_ns under a UTC session tz — pin it, don't assume
    # the caller's session (see ticks_us docstring)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load_table(spark, sf_dir, "events")
    d = F.floor(ticks_us(ev) / F.lit(86_400_000_000)).cast("long")
    return rolling_distinct_kmv(ev.select(d.alias("d"), "user_id"),
                                "user_id", "d")


# --- E186: preference-pair mining (RLHF/DPO data prep, r12) ---------------------
# The alignment-data stage after response scoring: per prompt, pair
# the best response against the worst, gated on score margin (near-tie
# pairs teach a preference model noise). Both extremes come from ONE
# max_by/min_by hash aggregate; the margin-drop and single-response-
# drop branches are non-vacuous at the oracle-checked SFs (margin >= 4
# drops 6-7 of the 125 groups). Score = distinct-word count — an
# integral lexical-diversity proxy both engines state identically.
@register(
    "corpus_preference_pairs",
    """
    WITH c AS (
      SELECT doc_id % 125 AS prompt_id, doc_id,
             len(list_distinct(list_filter(string_split(lower(text), ' '),
                 x -> x <> '')))::INTEGER AS score
      FROM documents
    ),
    b AS (SELECT prompt_id, doc_id AS chosen_id, score AS chosen_score
          FROM (SELECT *, row_number() OVER (PARTITION BY prompt_id
                          ORDER BY score DESC, doc_id) AS r FROM c)
          WHERE r = 1),
    w AS (SELECT prompt_id, doc_id AS rejected_id, score AS rejected_score
          FROM (SELECT *, row_number() OVER (PARTITION BY prompt_id
                          ORDER BY score, doc_id DESC) AS r FROM c)
          WHERE r = 1)
    SELECT b.prompt_id, chosen_id, rejected_id, chosen_score,
           rejected_score,
           (chosen_score - rejected_score)::INTEGER AS margin
    FROM b JOIN w USING (prompt_id)
    WHERE chosen_id <> rejected_id
      AND chosen_score - rejected_score >= 4
    """,
    doc="preference-pair mining for RLHF/DPO: per synthetic prompt "
        "(doc_id % 125), the best-vs-worst response pair by distinct-"
        "word score with id tiebreakers (a total order), kept only "
        "when the margin clears 4 — both extremes from ONE map-side-"
        "combinable max_by/min_by aggregate over the same total-order "
        "struct, so the corpus is scanned, scored and shuffled "
        "exactly once",
)
def corpus_preference_pairs(spark, sf_dir):
    from .operators.ranking import preference_pairs

    docs = load_table(spark, sf_dir, "documents")
    score = F.size(F.array_distinct(F.filter(
        F.split(F.lower(F.col("text")), " "),
        lambda x: x != F.lit("")))).cast("int")
    cands = docs.select((F.col("doc_id") % 125).alias("prompt_id"),
                        "doc_id", score.alias("score"))
    return preference_pairs(cands, "prompt_id", "doc_id", "score",
                            min_margin=4)


# --- E202: pairwise source JSD matrix ----------------------------------------
@register(
    "corpus_jsd_matrix",
    """
    WITH wx AS (
      SELECT source AS s, unnest(string_split(lower(text), ' ')) AS w
      FROM documents
    ),
    cnt AS (SELECT s, w, count(*)::BIGINT AS c FROM wx
            WHERE w <> '' GROUP BY 1, 2),
    tot AS (SELECT s, sum(c)::BIGINT AS t FROM cnt GROUP BY 1),
    vocab AS (SELECT DISTINCT w FROM cnt),
    vs AS (SELECT count(*)::BIGINT AS v FROM vocab),
    grid AS (
      SELECT tot.s, vocab.w, tot.t, coalesce(cnt.c, 0) AS c
      FROM vocab CROSS JOIN tot
      LEFT JOIN cnt ON cnt.s = tot.s AND cnt.w = vocab.w
    ),
    pairs AS (
      SELECT a.s AS source_a, b.s AS source_b,
             a.c AS ca, a.t AS ta, b.c AS cb, b.t AS tb, vs.v
      FROM grid a JOIN grid b ON a.w = b.w AND a.s < b.s, vs
    )
    SELECT source_a, source_b,
           sum(CASE WHEN ca > 0 OR cb > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_union,
           round(sum(((ca + 1) / (ta + v)
                      * ln(((ca + 1) / (ta + v))
                           / (((ca + 1) / (ta + v)
                               + (cb + 1) / (tb + v)) / 2))
                      + (cb + 1) / (tb + v)
                      * ln(((cb + 1) / (tb + v))
                           / (((ca + 1) / (ta + v)
                               + (cb + 1) / (tb + v)) / 2))) / 2), 6)
             AS jsd
    FROM pairs GROUP BY 1, 2
    """,
    doc="pairwise Jensen-Shannon divergence between source unigram "
        "distributions, add-one smoothed over the GLOBAL vocabulary "
        "(absent-in-both words still contribute through the totals — "
        "the textbook definition): the distributional independence "
        "readout literal-overlap containment (E96) misses; word-keyed "
        "pair join bounded by vocab x sources^2, never corpus-scale",
)
def corpus_jsd_matrix(spark, sf_dir):
    from .operators.textstats import source_jsd_matrix

    return source_jsd_matrix(load_table(spark, sf_dir, "documents"))


# --- E208: cross-source quantile normalization --------------------------------
@register(
    "corpus_quantile_normalize",
    """
    WITH x AS (SELECT doc_id, source, n_chars AS v FROM documents),
    r AS (
      SELECT doc_id, source, v,
             row_number() OVER (PARTITION BY source
                                ORDER BY v, doc_id) AS rg,
             count(*) OVER (PARTITION BY source) AS ng
      FROM x
    ),
    p AS (
      SELECT v, row_number() OVER (ORDER BY v, source, doc_id) AS pr
      FROM x
    ),
    n AS (SELECT count(*) AS nn FROM x),
    t AS (
      SELECT r.doc_id, r.source, r.v,
             1 + (r.rg - 0.5) / r.ng * (n.nn - 1) AS pos
      FROM r, n
    ),
    j AS (
      SELECT doc_id, source, v,
             CAST(floor(pos) AS BIGINT) AS lo,
             pos - floor(pos) AS frac
      FROM t
    )
    SELECT j.doc_id, j.source, j.v AS n_chars,
           round(plo.v + j.frac
                 * (coalesce(phi.v, plo.v) - plo.v), 6) AS normalized
    FROM j
    JOIN p plo ON plo.pr = j.lo
    LEFT JOIN p phi ON phi.pr = j.lo + 1
    """,
    doc="cross-source quantile normalization of a per-doc score "
        "(n_chars as the stand-in; any score column plugs in): map "
        "each row to its mid-rank position within its source, read "
        "the POOLED distribution's interpolated quantile there — "
        "after which 'top decile' means the same thing in every "
        "source; both ranks on the range-partitioned global-rank "
        "spine (within-group = global minus broadcast offset, the "
        "Gini shape), interpolation = two integer-keyed equi-joins",
)
def corpus_quantile_normalize(spark, sf_dir):
    from .operators.selection import quantile_normalize

    return quantile_normalize(load_table(spark, sf_dir, "documents"),
                              "source", "n_chars", "doc_id")


# --- E210: Hilbert vs Z-order pruning comparison --------------------------------
# The E156 audit with the third layout: the Hilbert walk has no Morton
# seams, so its file boxes are tighter — MEASURED here on identical
# probes rather than asserted. The Hilbert key itself is the 4-state
# automaton as a 12-round broadcast-join chain (a naive unrolled CASE
# would grow the Catalyst tree 16^bits); the oracle runs the SAME join
# chain generated from the same 16-row table.
def _hilbert_pruning_oracle() -> str:
    from .operators.layout import hilbert_sql_parts, z_value_sql

    z = z_value_sql("cx0", "cy0", bits=12)
    cte, joins, hv = hilbert_sql_parts("b.cx", "b.cy")
    return f"""
    WITH {cte},
    raw AS (
      SELECT CAST((user_id % 64) * 64 AS BIGINT) AS cx0,
             CAST(event_id % 4096 AS BIGINT) AS cy0,
             event_id AS o
      FROM events
    ),
    base AS (
      SELECT cx0 AS cx, cy0 AS cy, o, {z} AS zv FROM raw
    ),
    hil AS (
      SELECT b.cx, b.cy, b.o, {hv} AS hvv
      FROM base b
      {joins}
    ),
    filed AS (
      SELECT 'zorder' AS layout, cx, cy,
             ntile(64) OVER (ORDER BY zv, o) AS f
      FROM base
      UNION ALL
      SELECT 'hilbert', cx, cy,
             ntile(64) OVER (ORDER BY hvv, o)
      FROM hil
    ),
    st AS (
      SELECT layout, f,
             min(cx) AS mcx, max(cx) AS xcx,
             min(cy) AS mcy, max(cy) AS xcy
      FROM filed GROUP BY 1, 2
    ),
    probes(probe_id, cx_lo, cx_hi, cy_lo, cy_hi) AS (
      VALUES (1, 0, 511, 0, 4095), (2, 0, 4095, 0, 255),
             (3, 0, 1023, 0, 1023), (4, 1024, 2047, 1024, 2047)
    ),
    fh AS (
      SELECT layout, probe_id,
             sum(CASE WHEN mcx <= cx_hi AND xcx >= cx_lo
                       AND mcy <= cy_hi AND xcy >= cy_lo
                      THEN 1 ELSE 0 END)::BIGINT AS n_files_hit,
             count(*)::BIGINT AS n_files
      FROM st CROSS JOIN probes GROUP BY 1, 2
    ),
    rm AS (
      SELECT probe_id, count(*)::BIGINT AS n
      FROM base CROSS JOIN probes
      WHERE cx BETWEEN cx_lo AND cx_hi AND cy BETWEEN cy_lo AND cy_hi
      GROUP BY 1
    )
    SELECT fh.layout, fh.probe_id, fh.n_files_hit, fh.n_files,
           coalesce(rm.n, 0)::BIGINT AS n_rows_match
    FROM fh LEFT JOIN rm ON rm.probe_id = fh.probe_id
    """


@register(
    "events_hilbert_pruning",
    _hilbert_pruning_oracle(),
    doc="data-skipping audit, Hilbert vs Z-order on four probes "
        "(linear-vs-Z is the E156 face, same probes): the Hilbert key "
        "from the 4-state automaton, six levels composed per "
        "broadcast join (two joins at bits=12; the composed table is "
        "built JVM-side from the 16-row spec; a nested CASE would "
        "inline 16^bits), exhaustively verified against the textbook "
        "rotate-and-flip algorithm; n_rows_match stays "
        "layout-independent, so the report is self-checking",
)
def events_hilbert_pruning(spark, sf_dir):
    from .operators.layout import layout_pruning_audit

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        ((F.col("user_id") % 64) * 64).cast("long").alias("cx"),
        (F.col("event_id") % 4096).cast("long").alias("cy"),
        "event_id")
    return layout_pruning_audit(
        base, "cx", "cy", "event_id",
        probes=[(1, 0, 511, 0, 4095), (2, 0, 4095, 0, 255),
                (3, 0, 1023, 0, 1023), (4, 1024, 2047, 1024, 2047)],
        include_hilbert=True)


# --- E211: watermark late-data audit ------------------------------------------
# The lateness face the ordered replays deliberately avoid: arrival
# order = md5(event_id), decorrelated from event time, so the
# watermark protocol (late-row drop, state eviction, the
# never-finalized tail) IS the behavior under test. The oracle
# simulates the full protocol — cumulative batch maxima, the
# one-batch-lagged filter, final-watermark emission — so the parity
# row pins Spark's append-mode semantics end to end.
@register(
    "streaming_late_data_audit",
    late_audit_oracle_sql(),
    doc="watermarked tumbling-count replay under md5-shuffled "
        "(event-time-decorrelated) arrival: APPEND-mode emissions "
        "vs the full protocol simulation — per-batch cumulative "
        "maxima, eviction at the reported watermark, the late-row "
        "filter lagging one batch behind it, never-finalized tail "
        "windows withheld; 6 h windows, 12 h delay, 10 "
        "micro-batches",
)
def streaming_late_data_audit(spark, sf_dir):
    from .streaming.late_audit import run_late_data_audit

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return run_late_data_audit(spark, load_table(spark, sf_dir, "events"))
