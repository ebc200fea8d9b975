"""LLM-pipeline queries, text-analysis tier: quality batteries,
LM scoring, tokenization/BPE encode faces, PII, decontamination,
retrieval, chunking, ingestion parsing. One of the four queries_llm_*
tier modules ``queries._ensure_loaded`` imports.
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
from .queries import _REGISTRY, register
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


# --- text analysis -----------------------------------------------------------
@register(
    "doc_token_stats",
    """
    SELECT doc_id, len(words) AS n_tokens, length(text) AS n_chars_text,
           round(length(list_aggregate(words, 'string_agg', ''))
                 * 1.0 / greatest(len(words), 1), 4) AS avg_token_len
    FROM (SELECT doc_id, text,
                 list_filter(string_split(lower(text), ' '),
                             w -> w <> '') AS words
          FROM documents)
    """,
    doc="token counting per document (narrow map)",
)
def doc_token_stats(spark, sf_dir):
    return token_stats(load_table(spark, sf_dir, "documents"))


@register(
    "doc_quality_scores",
    """
    SELECT doc_id,
           round(punct, 6) AS punct_ratio,
           round(digits, 6) AS digit_ratio,
           round(rep, 6) AS distinct_token_ratio,
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
    """,
    doc="quality scoring: punct/digit density, repetition, length band",
)
def doc_quality_scores(spark, sf_dir):
    return quality_scores(load_table(spark, sf_dir, "documents"))


@register(
    "doc_language_id",
    """
    SELECT doc_id,
           CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
                WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
                WHEN h_es >= h_fr THEN 'es'
                ELSE 'fr' END AS detected_lang,
           greatest(h_de, h_en, h_es, h_fr) AS hits
    FROM (
      SELECT doc_id,
             len(list_intersect(words, ['der','die','und','ist','das'])) AS h_de,
             len(list_intersect(words, ['the','and','of','to','is'])) AS h_en,
             len(list_intersect(words, ['el','la','y','es','los'])) AS h_es,
             len(list_intersect(words, ['le','la','et','est','les'])) AS h_fr
      FROM (SELECT doc_id,
                   list_distinct(list_filter(string_split(lower(text), ' '),
                                             w -> w <> '')) AS words
            FROM documents))
    """,
    doc="stopword-profile language ID (argmax, lexicographic ties)",
)
def doc_language_id(spark, sf_dir):
    return detect_language(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    """
    SELECT doc_id, md5(norm) AS fingerprint, length(norm) AS norm_len
    FROM (SELECT doc_id, regexp_replace(lower(trim(text)), ' +', ' ', 'g')
            AS norm FROM documents)
    """,
    doc="content fingerprinting (md5 of normalized text)",
)
def doc_fingerprints(spark, sf_dir):
    return content_fingerprints(load_table(spark, sf_dir, "documents")) \
        .drop("crc")  # crc32 has no DuckDB analogue; stays in the operator


# --- TF-IDF keyword extraction ----------------------------------------------
# Both engines rank on the UNROUNDED score (tf and df are exact
# integers, so tf·ln((N+1)/(df+1)) is bit-identical IEEE math) with
# term as tie-break, and round only the reported value.
@register(
    "doc_tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                w -> w <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, tf, df, round(score, 6) AS tfidf, rank FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)) AS score,
             row_number() OVER (
               PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)) DESC,
                        tf.term) AS rank
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rank <= 3
    """,
    doc="top-3 TF-IDF terms per document (tf agg → df agg → join → "
        "window top-k; smoothed idf)",
)
def doc_tfidf_top_terms(spark, sf_dir):
    from .operators.textstats import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=3)


# --- document chunking (context windows with overlap) ------------------------
# DuckDB list slicing is 1-based inclusive, so words[a+1 : a+size]
# mirrors Spark's slice(words, a+1, size) exactly.
@register(
    "doc_chunks",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS words
      FROM documents
    ),
    c AS (SELECT doc_id, words, len(words) AS n FROM w WHERE len(words) > 0)
    SELECT doc_id, chunk_id,
           len(words[chunk_id * 48 + 1 : chunk_id * 48 + 64])
             AS n_chunk_tokens,
           array_to_string(words[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
             AS chunk_text
    FROM (SELECT doc_id, words,
                 unnest(generate_series(
                   0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT)))
                   AS chunk_id
          FROM c)
    """,
    doc="overlapping token chunking (size 64, stride 48): "
        "split → sequence → explode → slice, shuffle-free",
)
def doc_chunks(spark, sf_dir):
    from .operators.textstats import token_chunks

    return token_chunks(load_table(spark, sf_dir, "documents"),
                        size=64, stride=48)


# --- Python UDTF extension point ---------------------------------------------
# One row per kept sentence via LATERAL split_sentences(text); the
# oracle states the same split/trim/drop-empties rule with unnest +
# a per-doc ordinal window. INTEGER casts mirror Spark's int columns.
@register(
    "doc_sentences_udtf",
    """
    SELECT doc_id,
           CAST(row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1
                AS INTEGER) AS sent_idx,
           s AS sentence,
           CAST(length(s) AS INTEGER) AS n_chars
    FROM (SELECT doc_id, trim(unnest(string_split(text, '.')), ' ') AS s,
                 generate_subscripts(string_split(text, '.'), 1) AS i
          FROM documents)
    WHERE s <> ''
    """,
    doc="Python UDTF (LATERAL table function): sentence explode — the "
        "UDTF half of SURVEY §2.9's extension point; Arrow-batched, "
        "kept off benched paths by design",
)
def doc_sentences_udtf(spark, sf_dir):
    from .functions.udtfs import register_udtfs

    register_udtfs(spark)
    load_table(spark, sf_dir, "documents") \
        .createOrReplaceTempView("_udtf_docs")
    return spark.sql("""
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_chars
        FROM _udtf_docs d, LATERAL split_sentences(d.text) s
    """)


# --- PII / contact-surface scan ----------------------------------------------
# Patterns restricted to the regex subset Java and RE2 evaluate
# identically (character classes + bounded repetition, no lookaround).
# The synthetic corpus contains no contacts, so — like
# dedup_exact_groups — the input is salted with a copy carrying one
# injected email + URL per doc, making every salted row a non-vacuous
# positive while originals pin the zero case.
@register(
    "doc_pii_scan",
    r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             text || ' contact' || doc_id ||
             '@example.com see http://ex.com/page/' || doc_id
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER)
             AS n_emails,
           CAST(len(regexp_extract_all(text, 'https?://[^ ]+')) AS INTEGER)
             AS n_urls,
           len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
           + len(regexp_extract_all(text, 'https?://[^ ]+')) > 0 AS has_pii
    FROM all_docs
    """,
    doc="PII/contact scan: regexp_count narrow map (emails + URLs), "
        "salted with injected contacts so the check is non-vacuous",
)
def doc_pii_scan(spark, sf_dir):
    from .operators.textstats import pii_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" contact"), F.col("doc_id"),
                 F.lit("@example.com see http://ex.com/page/"),
                 F.col("doc_id")).alias("text"))
    return pii_scan(docs.unionAll(salted))


@register(
    "doc_pii_redact",
    r"""
    WITH all_docs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             text || ' contact' || doc_id ||
             '@example.com see http://ex.com/page/' || doc_id
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
               'g'),
             'https?://[^ ]+', '[URL]', 'g') AS text
    FROM all_docs
    """,
    doc="PII redaction: emails/URLs replaced with placeholders over the "
        "same salted input as doc_pii_scan (global regexp_replace)",
)
def doc_pii_redact(spark, sf_dir):
    from .operators.textstats import redact_pii

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" contact"), F.col("doc_id"),
                 F.lit("@example.com see http://ex.com/page/"),
                 F.col("doc_id")).alias("text"))
    return redact_pii(docs.unionAll(salted))


# --- benchmark decontamination -----------------------------------------------
# Eval-set contamination check: docs sharing ≥1 word 8-gram with the
# benchmark set (here: documents 0-4 verbatim, so the sources
# themselves flag as fully contaminated — non-vacuous by construction).
@register(
    "doc_contamination_scan",
    """
    WITH toked AS (
      SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    sh8 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(words) - 7),
               i -> array_to_string(words[i : i + 7], ' ')))) AS shingle
      FROM toked WHERE len(words) >= 8
    ),
    bench AS (SELECT DISTINCT shingle FROM sh8 WHERE doc_id < 5),
    hits AS (
      SELECT doc_id, count(*) AS n_shared
      FROM sh8 WHERE shingle IN (SELECT shingle FROM bench)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
           coalesce(h.n_shared, 0) > 0 AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    """,
    doc="benchmark decontamination: word-8-gram overlap vs a broadcast "
        "benchmark shingle set (map-side semi-join, no corpus shuffle)",
)
def doc_contamination_scan(spark, sf_dir):
    from .operators.textstats import contamination_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return contamination_scan(docs, docs.where(F.col("doc_id") < 5), n=8)


# --- deterministic content-hash train/val/test split -------------------------
# The corpus-prep step random sampling can't give: a reproducible,
# engine-portable, re-ingestion-stable split. Both engines compute the
# identical md5-hex-prefix bucket and the identical lexicographic
# thresholds (0.8/0.1/0.1 → 'cccc'/'e666' over a 16^4 bucket space), so
# every document's assignment is value-checked, not just the counts.
@register(
    "doc_train_val_split",
    """
    SELECT doc_id, substr(md5(text), 1, 4) AS bucket,
           CASE WHEN substr(md5(text), 1, 4) < 'cccc' THEN 'train'
                WHEN substr(md5(text), 1, 4) < 'e666' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
    doc="deterministic content-hash train/val/test split (0.8/0.1/0.1); "
        "narrow map, zero shuffle, stable across engines and re-ingestion",
)
def doc_train_val_split(spark, sf_dir):
    from .operators.splits import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "text").select("doc_id", "bucket", "split")


# --- repetition quality signals ----------------------------------------------
@register(
    "doc_repetition_scores",
    """
    WITH w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word,
                   generate_subscripts(string_split(lower(text), ' '), 1)
                     AS i
            FROM documents)
      WHERE word <> ''
    ),
    bg AS (
      SELECT a.doc_id, a.word || ' ' || b.word AS bigram
      FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
    ),
    bgs AS (
      SELECT doc_id, count(*) AS n_bg, count(DISTINCT bigram) AS n_dist
      FROM bg GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, word, count(*) AS c FROM w GROUP BY doc_id, word
    ),
    tops AS (
      SELECT doc_id, max(c) AS top_c, sum(c)::BIGINT AS n_tokens
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(t.n_tokens, 0) AS n_tokens,
           round(coalesce(t.top_c, 0)
                 / greatest(coalesce(t.n_tokens, 1), 1), 6)
             AS top_token_frac,
           round(CASE WHEN coalesce(b.n_bg, 0) > 0
                      THEN (b.n_bg - b.n_dist) / b.n_bg
                      ELSE 0 END, 6) AS dup_bigram_frac
    FROM documents d
    LEFT JOIN tops t ON t.doc_id = d.doc_id
    LEFT JOIN bgs b ON b.doc_id = d.doc_id
    """,
    doc="C4/Gopher-style repetition signals: top-token fraction + "
        "duplicated-bigram fraction per document",
)
def doc_repetition_scores(spark, sf_dir):
    from .operators.textstats import repetition_scores

    return repetition_scores(load_table(spark, sf_dir, "documents"))


# --- sequence packing (context-window assembly) ------------------------------
@register(
    "doc_pack_sequences",
    """
    WITH toks AS (
      SELECT doc_id, source AS shard,
             len(list_filter(string_split(text, ' '), w -> w <> ''))
               AS n_tokens
      FROM documents
    ),
    pos AS (
      SELECT shard, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens AS off
      FROM toks WHERE n_tokens > 0
    ),
    spans AS (
      SELECT shard, doc_id, n_tokens, off,
             unnest(generate_series((off // 256)::BIGINT,
                                    ((off + n_tokens - 1) // 256)::BIGINT))
               AS bin_id
      FROM pos
    )
    SELECT shard, bin_id, doc_id,
           (least((bin_id + 1) * 256, off + n_tokens)
            - greatest(bin_id * 256, off))::BIGINT AS n_tokens_in_bin
    FROM spans
    """,
    doc="GPT-style sequence packing: per-shard concatenation order, "
        "fixed 256-token context windows, doc→window token assignment",
)
def doc_pack_sequences(spark, sf_dir):
    from .operators.packing import pack_sequences

    return pack_sequences(load_table(spark, sf_dir, "documents"), 256)


# --- unigram-LM quality scoring (perplexity proxy) ---------------------------
@register(
    "doc_unigram_logprob",
    """
    WITH vocab AS (
      SELECT word, count(*) AS n_occ
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    tot AS (SELECT sum(n_occ)::DOUBLE AS total,
                   count(*)::DOUBLE AS n_vocab FROM vocab),
    tok AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY doc_id, word
    ),
    scored AS (
      SELECT t.doc_id, t.c,
             -ln((v.n_occ + 1.0) / (tot.total + tot.n_vocab)) AS neg_lp
      FROM tok t JOIN vocab v USING (word), tot
    )
    SELECT d.doc_id,
           coalesce(s.n_tokens, 0) AS n_tokens,
           coalesce(s.score, 0.0) AS avg_neg_logprob
    FROM documents d
    LEFT JOIN (SELECT doc_id, sum(c)::BIGINT AS n_tokens,
                      round(sum(c * neg_lp) / sum(c), 6) AS score
               FROM scored GROUP BY doc_id) s USING (doc_id)
    """,
    doc="unigram-LM perplexity-proxy quality scoring: corpus-estimated "
        "add-one-smoothed -ln p(w), averaged per document",
)
def doc_unigram_logprob(spark, sf_dir):
    from .operators.tokenizer import unigram_logprob

    return unigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "doc_boilerplate_share",
    _BOILER_SQL_BASE + """,
    totals AS (SELECT doc_id, sum(c)::BIGINT AS n_ngrams
               FROM pairs GROUP BY doc_id),
    hits AS (
      SELECT p.doc_id, sum(p.c)::BIGINT AS n_boiler
      FROM pairs p WHERE p.ngram IN (SELECT ngram FROM boiler)
      GROUP BY p.doc_id
    )
    SELECT d.doc_id,
           coalesce(t.n_ngrams, 0) AS n_ngrams,
           coalesce(h.n_boiler, 0) AS n_boiler,
           round(coalesce(h.n_boiler / t.n_ngrams, 0.0), 6)
             AS boiler_share
    FROM documents d
    LEFT JOIN totals t USING (doc_id)
    LEFT JOIN hits h USING (doc_id)
    """,
    doc="per-document boilerplate exposure: fraction of the doc's "
        "8-gram stream that is corpus-level boilerplate — the "
        "template-page drop signal",
)
def doc_boilerplate_share(spark, sf_dir):
    from .operators.textstats import doc_boilerplate_share as share

    return share(load_table(spark, sf_dir, "documents"), n=8, min_docs=3)


@register(
    "doc_bpe_tokens",
    _bpe_oracle_sql(),
    doc="BPE-encode the corpus with the pinned 8-merge table → per-doc "
        "word and symbol counts (narrow JVM fold, no Python, no "
        "shuffle); oracle emulates the greedy fold with framed-symbol "
        "string replaces",
)
def doc_bpe_tokens(spark, sf_dir):
    from .operators.tokenizer import bpe_encode

    docs = load_table(spark, sf_dir, "documents")
    return (bpe_encode(docs, _PINNED_BPE_MERGES)
            .select("doc_id", "n_words", "n_symbols"))


# --- bigram-LM quality scoring (conditional perplexity proxy) ----------------
# The tier above doc_unigram_logprob on the LM-filter ladder; queued
# for window rotation like its sibling.
@register(
    "doc_bigram_logprob",
    """
    WITH w AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS word,
                   generate_subscripts(string_split(lower(text), ' '), 1)
                     AS i
            FROM documents)
      WHERE word <> ''
    ),
    uni AS (SELECT word, count(*) AS n_occ FROM w GROUP BY word),
    nv AS (SELECT count(*)::DOUBLE AS n_vocab FROM uni),
    bg AS (SELECT a.doc_id, a.word AS prev, b.word AS word
           FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
    big AS (SELECT prev, word, count(*) AS c_vw FROM bg
            GROUP BY prev, word),
    per AS (SELECT doc_id, prev, word, count(*) AS c FROM bg
            GROUP BY doc_id, prev, word),
    sc AS (
      SELECT p.doc_id, p.c,
             -ln((g.c_vw + 1.0) / (u.n_occ + nv.n_vocab)) AS neg_lp
      FROM per p
      JOIN big g USING (prev, word)
      JOIN uni u ON u.word = p.prev, nv
    )
    SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.score, 0.0) AS avg_neg_logprob
    FROM documents d
    LEFT JOIN (SELECT doc_id, sum(c)::BIGINT AS n_bigrams,
                      round(sum(c * neg_lp) / sum(c), 6) AS score
               FROM sc GROUP BY doc_id) s USING (doc_id)
    """,
    doc="conditional bigram-LM perplexity proxy: add-one-smoothed "
        "-ln p(w|prev) averaged per document",
)
def doc_bigram_logprob(spark, sf_dir):
    from .operators.tokenizer import bigram_logprob

    return bigram_logprob(load_table(spark, sf_dir, "documents"))


@register(
    "doc_c4_line_filter",
    f"""
    WITH {_SYNTH_LINES_CTE},
    f AS (
      SELECT doc_id,
             la || chr(10) || lb || chr(10) || lc || chr(10) || ld
                || chr(10) || le AS text,
             list_filter([la, lb, lc, ld, le],
                         l -> regexp_matches(trim(l), '[.!?"]\\s*$')
                              AND len(list_filter(string_split(trim(l), ' '),
                                                  w -> w <> '')) >= 4)
               AS kept
      FROM synth
    )
    SELECT doc_id, 5::INT AS n_lines,
           CAST(len(kept) AS INT) AS n_kept,
           md5(array_to_string(kept, chr(10))) AS clean_md5,
           contains(lower(text), 'lorem ipsum') AS has_lorem,
           contains(text, '{{') AS has_brace,
           len(kept) >= 2 AND NOT contains(lower(text), 'lorem ipsum')
             AND NOT contains(text, '{{') AS keep
    FROM f
    """,
    doc="C4 line filter (Raffel et al. 2020 §2.2): keep "
        "punctuation-terminated lines with ≥4 words, junk-flag and "
        "keep/drop the document — zero-shuffle HOF map over a derived "
        "multi-line corpus",
)
def doc_c4_line_filter(spark, sf_dir):
    from .operators.cleaning import c4_line_filter

    s = _synth_lines(spark, sf_dir)
    docs = s.select(
        "doc_id",
        F.concat_ws("\n", "la", "lb", "lc", "ld", "le").alias("text"))
    out = c4_line_filter(docs, min_words=4, min_lines=2)
    return out.select(
        "doc_id", F.col("n_lines").cast("int").alias("n_lines"),
        F.col("n_kept").cast("int").alias("n_kept"),
        F.md5("clean_text").alias("clean_md5"),
        "has_lorem", "has_brace", "keep")


# --- winnowing fingerprints --------------------------------------------------
@register(
    "doc_winnow_fingerprints",
    """
    WITH wds AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CASE WHEN len(ws) >= 4 THEN
               list_transform(range(1, len(ws) - 4 + 2),
                 i -> substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16))
             ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM wds
    ),
    s AS (
      SELECT doc_id, grams,
             CASE
               WHEN len(grams) >= 5 THEN
                 list_sort(list_distinct(
                   list_transform(range(1, len(grams) - 5 + 2),
                                  j -> list_min(grams[j:j+4]))))
               WHEN len(grams) >= 1 THEN [list_min(grams)]
               ELSE CAST([] AS VARCHAR[]) END AS sel
      FROM g
    )
    SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
           CAST(len(sel) AS INT) AS n_selected,
           md5(array_to_string(sel, ',')) AS fp_set_md5
    FROM s
    """,
    doc="winnowing fingerprints (Schleimer et al. 2003, MOSS): word "
        "4-gram md5 hashes, window-of-5 minima, distinct selected set "
        "— guarantees any shared ≥8-word run co-selects a hash; one "
        "zero-shuffle HOF projection",
)
def doc_winnow_fingerprints(spark, sf_dir):
    from .operators.textstats import winnow_fingerprints

    out = winnow_fingerprints(load_table(spark, sf_dir, "documents"),
                              k=4, w=5)
    return out.select("doc_id",
                      F.col("n_grams").cast("int").alias("n_grams"),
                      F.col("n_selected").cast("int").alias("n_selected"),
                      "fp_set_md5")


# --- winnowing overlap pairs (the MOSS comparison step) ----------------------
_WINNOW_SEL_CTE = """
wds AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
g AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 4 THEN
           list_transform(range(1, len(ws) - 4 + 2),
             i -> substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 16))
         ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM wds
),
s AS (
  SELECT doc_id,
         CASE
           WHEN len(grams) >= 5 THEN
             list_sort(list_distinct(
               list_transform(range(1, len(grams) - 5 + 2),
                              j -> list_min(grams[j:j+4]))))
           WHEN len(grams) >= 1 THEN [list_min(grams)]
           ELSE CAST([] AS VARCHAR[]) END AS sel
  FROM g
)"""


@register(
    "doc_overlap_pairs",
    f"""
    WITH {_WINNOW_SEL_CTE},
    ex AS (SELECT doc_id, len(sel) AS n_sel, unnest(sel) AS h FROM s)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS INT) AS n_shared,
           round(count(*) * 1.0
                 / (any_value(a.n_sel) + any_value(b.n_sel) - count(*)), 6)
             AS resemblance
    FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
    doc="MOSS overlap detection: inverted-index equi-join on winnowed "
        "fingerprints, scored by shared count and resemblance — cost "
        "is sum(df^2) over hashes, never a document cross product "
        "(max_df stop-fingerprint guard available for web-scale junk)",
)
def doc_overlap_pairs(spark, sf_dir):
    from .operators.textstats import winnow_overlap_pairs

    return winnow_overlap_pairs(load_table(spark, sf_dir, "documents"),
                                k=4, w=5)


# --- token entropy (diversity signal) ----------------------------------------
@register(
    "doc_token_entropy",
    """
    WITH tok AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY doc_id, word
    ),
    agg AS (
      SELECT doc_id, sum(c)::BIGINT AS n_tokens,
             sum(c * ln(c)) AS clc
      FROM tok GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(a.n_tokens, 0) AS n_tokens,
           coalesce(round(ln(a.n_tokens) - a.clc / a.n_tokens, 6), 0.0)
             AS token_entropy
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="per-document Shannon entropy of the word distribution "
        "(Gopher-style repetition/diversity signal), ln(n) - sum(c "
        "ln c)/n over per-word counts — one doc-keyed exchange",
)
def doc_token_entropy(spark, sf_dir):
    from .operators.textstats import token_entropy

    return token_entropy(load_table(spark, sf_dir, "documents"))


# --- BM25 retrieval (E64) ----------------------------------------------------
# The query-term list is a module literal so the Spark plan and the
# generated oracle SQL can never disagree on the unrolled expressions.
_BM25_TERMS = ["spark", "query", "stream", "merge"]


def _bm25_oracle() -> str:
    from .operators.retrieval import bm25_oracle_sql

    return bm25_oracle_sql(_BM25_TERMS, k=25)


@register(
    "doc_bm25_topk",
    None,  # replaced right below — oracle is generated from the terms
    doc="Okapi BM25 top-25 for a bag-of-words query: narrow per-doc "
        "tf/dl expressions (no corpus explode), ONE 1-row stats "
        "aggregate broadcast back, TakeOrderedAndProject top-k",
)
def doc_bm25_topk(spark, sf_dir):
    from .operators.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"),
                     _BM25_TERMS, k=25)


_R["doc_bm25_topk"].oracle = _bm25_oracle()


# --- DSIR importance weights (E65) -------------------------------------------
@register(
    "doc_dsir_weights",
    """
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS words
      FROM documents
    ),
    f AS (
      SELECT doc_id, lang = 'en' AS t,
             substr(md5(g), 1, 3) AS b, count(*) AS c
      FROM (SELECT doc_id, lang,
                   unnest(CASE WHEN len(words) >= 2
                          THEN list_transform(range(1, len(words)),
                                              i -> words[i] || ' ' || words[i+1])
                          ELSE [] END) AS g
            FROM w)
      GROUP BY doc_id, t, b
    ),
    bt AS (
      SELECT b, sum(c) AS raw,
             sum(CASE WHEN t THEN c ELSE 0 END) AS tgt
      FROM f GROUP BY b
    ),
    tot AS (SELECT sum(raw) AS traw, sum(tgt) AS ttgt FROM bt),
    lr AS (
      SELECT b, ln(tgt * 1.0 / greatest(ttgt, 1) + 1e-6)
               - ln(raw * 1.0 / greatest(traw, 1) + 1e-6) AS lr
      FROM bt CROSS JOIN tot
    ),
    pd AS (
      SELECT f.doc_id, sum(f.c)::BIGINT AS n_feats,
             sum(f.c * lr.lr) AS wsum
      FROM f JOIN lr USING (b) GROUP BY f.doc_id
    )
    SELECT d.doc_id, coalesce(pd.n_feats, 0) AS n_feats,
           coalesce(round(pd.wsum / pd.n_feats, 6), 0.0) AS weight
    FROM documents d LEFT JOIN pd USING (doc_id)
    """,
    doc="DSIR importance resampling weights (Xie et al. 2023): "
        "hashed-bigram target-vs-raw log-likelihood ratio per doc "
        "(probability-space +1e-6 smoothing), target = lang='en'; "
        "4096-bucket md5 feature hash, bucket table broadcast back — "
        "three keyed aggregates, no all-pairs",
)
def doc_dsir_weights(spark, sf_dir):
    from .operators.selection import dsir_importance

    docs = load_table(spark, sf_dir, "documents")
    return dsir_importance(docs, F.col("lang") == "en", bucket_chars=3)


# --- hashed linear quality classifier (E66) ----------------------------------
@register(
    "doc_quality_classifier",
    """
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS words
      FROM documents
    ),
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
           logit > 0 AS keep
    FROM sc
    """,
    doc="fastText-style hashed linear quality classifier: "
        "deterministic md5-derived token weights folded JVM-side "
        "(F.aggregate, zero shuffle, no explode)",
)
def doc_quality_classifier(spark, sf_dir):
    from .operators.cleaning import linear_quality_score

    return linear_quality_score(load_table(spark, sf_dir, "documents"))


# --- batch BM25 via inverted index (E64 scale face) --------------------------
@register(
    "doc_bm25_multi",
    """
    WITH q AS (
      SELECT * FROM (VALUES (1, 'spark'), (1, 'join'),
                            (2, 'stream'), (2, 'window'),
                            (3, 'merge'), (3, 'table'), (3, 'sort'))
        AS t(qid, term)
    ),
    base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    s AS (SELECT count(*) AS n, sum(len(words)) AS sumdl FROM base),
    post AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, len(words) AS dl, unnest(words) AS term
            FROM base)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT q.qid, p.doc_id,
             count(*)::BIGINT AS n_hits,
             round(sum(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * (p.tf * 2.2)
                       / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                                        / (s.sumdl * 1.0 / s.n)))), 6)
               AS score
      FROM post p
      JOIN q ON p.term = q.term
      JOIN dfq ON p.term = dfq.term
      CROSS JOIN s
      GROUP BY q.qid, p.doc_id
    )
    SELECT * FROM (
      SELECT qid, doc_id, n_hits, score,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY score DESC, doc_id)
                  AS INTEGER) AS rank
      FROM scored)
    WHERE rank <= 10
    """,
    doc="batch BM25 over an inverted index: corpus postings pruned to "
        "query terms BEFORE the (doc, term) aggregate, query table and "
        "per-term df broadcast back, per-query top-k via the two-stage "
        "grouped pattern (no per-query single-reducer funnel)",
)
def doc_bm25_multi(spark, sf_dir):
    from .operators.retrieval import bm25_search_many

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["stream", "window"]),
         (3, ["merge", "table", "sort"])],
        "qid int, terms array<string>")
    out = bm25_search_many(docs, qs, k=10)
    return out.select(F.col("qid").cast("int").alias("qid"),
                      "doc_id", "n_hits", "score",
                      F.col("rank").cast("int").alias("rank"))


# --- lexicon safety gate (r8) ------------------------------------------------
# Blocklist = one common + one rare corpus word so hit counts spread
# and the max_hits=1 gate drops and keeps non-vacuously. Token match,
# not substring (the 'ass'-in-'class' false positive).
@register(
    "doc_blocklist_gate",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         x -> x <> '') AS words
      FROM documents
    ),
    h AS (
      SELECT doc_id, len(words) AS n_words,
             list_filter(words, x -> x IN ('slow', 'dup')) AS hits
      FROM w
    )
    SELECT doc_id, len(hits)::BIGINT AS n_hits,
           len(list_distinct(hits))::BIGINT AS n_distinct_terms,
           round(len(hits) * 1.0 / greatest(n_words, 1), 6) AS hit_ratio,
           len(hits) <= 1 AS kept
    FROM h
    """,
    doc="lexicon safety gate: whitespace-token blocklist hit counts "
        "and keep flag (the transparent first rung under the learned "
        "classifier tier); literal term array in the plan, narrow "
        "map, zero shuffle",
)
def doc_blocklist_gate(spark, sf_dir):
    from .operators.textstats import blocklist_gate

    return blocklist_gate(load_table(spark, sf_dir, "documents"),
                          ["slow", "dup"], max_hits=1)


# --- RAKE keyphrase extraction (r8) ------------------------------------------
# Stopwords are five HIGH-FREQUENCY corpus words so the phrase
# splitting is dense and non-vacuous. Scores stay in integer millis
# end to end (floor(degree*1000/freq) per word, summed) so the
# ranking never touches a float sum.
@register(
    "doc_rake_keyphrases",
    """
    WITH w0 AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS i,
             word IN ('join', 'scan', 'row', 'batch', 'hash') AS is_stop
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM documents)
      WHERE word <> ''
    ),
    w1 AS (
      SELECT *, sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS pid
      FROM w0
    ),
    cand AS (
      SELECT doc_id, pid, string_agg(word, ' ' ORDER BY i) AS phrase,
             count(*)::BIGINT AS n_words
      FROM w1 WHERE NOT is_stop GROUP BY doc_id, pid
    ),
    members AS (
      SELECT w1.doc_id, w1.pid, w1.word, c.n_words
      FROM w1 JOIN cand c ON c.doc_id = w1.doc_id AND c.pid = w1.pid
      WHERE NOT w1.is_stop
    ),
    wstats AS (
      SELECT word, count(*) AS freq, sum(n_words) AS deg
      FROM members GROUP BY word
    ),
    wm AS (SELECT word, floor(deg * 1000 / freq)::BIGINT AS milli
           FROM wstats),
    scored AS (
      SELECT m.doc_id, m.pid, sum(wm.milli)::BIGINT AS score_milli
      FROM members m JOIN wm USING (word) GROUP BY 1, 2
    ),
    ph AS (
      SELECT DISTINCT c.doc_id, c.phrase, c.n_words, s.score_milli
      FROM cand c JOIN scored s
        ON s.doc_id = c.doc_id AND s.pid = c.pid
    )
    SELECT doc_id, phrase, n_words, score_milli,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score_milli DESC, phrase)
             AS rank
    FROM ph QUALIFY rank <= 3
    """,
    doc="RAKE keyphrase extraction: stopword-delimited candidate "
        "phrases (gaps-and-islands, doc-keyed windows), corpus-wide "
        "degree/frequency word scores in integer millis, phrase = sum "
        "of word scores, two-stage grouped top-3",
)
def doc_rake_keyphrases(spark, sf_dir):
    from .operators.textstats import rake_keyphrases

    return rake_keyphrases(load_table(spark, sf_dir, "documents"),
                           ["join", "scan", "row", "batch", "hash"], k=3)


# --- SFT chat-template rendering (r8) ----------------------------------------
# Both engines synthesize the identical 3-turn conversation per doc
# (fixed system prompt, user = first 60 chars, assistant = next 120),
# then compute the ChatML rendering arithmetic. The value-checked part
# is the span math: content_start/content_end are exact 0-based char
# offsets into the conversation's full rendered text — the loss mask.
@register(
    "doc_chat_render",
    """
    WITH turns AS (
      SELECT doc_id AS conv_id, 0 AS turn, 'system' AS role,
             'You are a helpful assistant.' AS content FROM documents
      UNION ALL
      SELECT doc_id, 1, 'user', substr(text, 1, 60) FROM documents
      UNION ALL
      SELECT doc_id, 2, 'assistant', substr(text, 61, 120) FROM documents
    ),
    r AS (
      SELECT conv_id, turn, role, content,
             (12 + length(role) + 1
              + coalesce(length(content), 0) + 11)::BIGINT AS rlen
      FROM turns
    ),
    o AS (
      SELECT conv_id, turn, role, content,
             coalesce(sum(rlen) OVER (
               PARTITION BY conv_id ORDER BY turn
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS strt
      FROM r
    )
    SELECT conv_id, turn, role,
           (strt + 12 + length(role) + 1)::BIGINT AS content_start,
           (strt + 12 + length(role) + 1
            + coalesce(length(content), 0))::BIGINT AS content_end,
           '<|im_start|>' || role || chr(10) || coalesce(content, '')
             || '<|im_end|>' || chr(10) AS rendered
    FROM o
    """,
    doc="SFT chat-template rendering: ChatML per-turn rendering with "
        "exact 0-based content spans (the loss mask) -- posexplode + "
        "one keyed per-conversation window, no global ordering",
)
def doc_chat_render(spark, sf_dir):
    from .operators.chat import chat_render_spans

    docs = load_table(spark, sf_dir, "documents")
    msgs = F.array(
        F.struct(F.lit("system").alias("role"),
                 F.lit("You are a helpful assistant.").alias("content")),
        F.struct(F.lit("user").alias("role"),
                 F.substring("text", 1, 60).alias("content")),
        F.struct(F.lit("assistant").alias("role"),
                 F.substring("text", 61, 120).alias("content")))
    return chat_render_spans(
        docs.select(F.col("doc_id").alias("conv_id"),
                    msgs.alias("messages")))


# --- HTML extraction (r8) ----------------------------------------------------
# The corpus is plain text, so (the _SYNTH_LINES_CTE precedent) both
# engines wrap each document in an IDENTICAL synthetic page first:
# head with a style block, h1 + p content, an &amp; entity, one anchor,
# and a script block on doc_id%3=0 — every extraction branch (block
# strip with contents, tag strip, entity decode incl. the amp-last
# double-decode guard, link count, whitespace collapse) provably
# exercised. Patterns avoid backreferences so Java regex and RE2 agree.
@register(
    "doc_html_extract",
    """
    WITH h AS (
      SELECT doc_id,
        '<html><head><STYLE>p{color:red}</STYLE></head><body><h1>'
        || substr(text, 1, 20) || '</h1><p>' || text
        || ' &amp; more</p><A HREF="http://x/' || doc_id
        || '">link</A>'
        || CASE WHEN doc_id % 3 = 0
                THEN '<SCRIPT>var x=1;</SCRIPT>' ELSE '' END
        || '</body></html>' AS html
      FROM documents
    ),
    s1 AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t
      FROM h
    ),
    s2 AS (
      SELECT doc_id,
             len(regexp_extract_all(t, '(?i)<a[\\s>]'))::BIGINT
               AS n_links,
             regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
      FROM s1
    ),
    s3 AS (
      SELECT doc_id, n_links,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(t,
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&amp;', '&'),
               ' +', ' ', 'g')) AS text
      FROM s2
    )
    SELECT doc_id, n_links, text, length(text)::BIGINT AS n_chars
    FROM s3
    """,
    doc="HTML -> training text extraction: script/style block strip, "
        "anchor count, tag strip, basic entity decode (amp last), "
        "whitespace collapse -- one narrow map, zero shuffle, the "
        "step between the crawl and every cleaning operator",
)
def doc_html_extract(spark, sf_dir):
    from .operators.cleaning import html_extract

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Mixed-case tags on purpose: the planted page exercises the
    # case-insensitive strip/count paths so parity is non-vacuous on
    # real-world HTML (uppercase <SCRIPT>/<A HREF> pages).
    html = F.concat(
        F.lit('<html><head><STYLE>p{color:red}</STYLE></head><body><h1>'),
        F.substring("text", 1, 20), F.lit("</h1><p>"), F.col("text"),
        F.lit(' &amp; more</p><A HREF="http://x/'),
        F.col("doc_id").cast("string"), F.lit('">link</A>'),
        F.when(F.col("doc_id") % 3 == 0,
               F.lit("<SCRIPT>var x=1;</SCRIPT>")).otherwise(F.lit("")),
        F.lit("</body></html>"))
    return html_extract(docs.select("doc_id", html.alias("html")))


# --- char-granularity repeated-substring flags (E132, r9) ----------------------
# Sub-word repetition (minified JS, base64 blobs) is invisible to the
# word-8-gram faces; char 20-gram winnowing (window-8 minima, NOT
# stride sampling — strided windows only match offset-congruent
# copies) flags it with an alignment-independent >= 27-shared-chars
# guarantee, riding the same inverted-index shape as every dedup face.
def _char_poly_sql(b: int, m: int) -> str:
    """Nested Rabin-Karp polynomial over the char-code list ``cs`` at
    1-based position ``i`` — the DuckDB mirror of the operator's
    fold (mod applied every step, so every intermediate fits BIGINT;
    the seed is cast so DuckDB types the whole nest BIGINT, not
    INT32 — an INT32 accumulator overflows at the first multiply)."""
    from .operators.textstats import SPAN_K

    expr = "0::BIGINT"
    for j in range(SPAN_K):
        expr = f"(({expr}) * {b} + cs[i+{j}]) % {m}"
    return expr


@register(
    "doc_char_span_flags",
    f"""
    WITH g AS (
      SELECT doc_id,
             CASE WHEN len(cs) >= 20 THEN
               list_transform(range(1, len(cs) - 20 + 2),
                 i -> ({_char_poly_sql(257, 2147483647)})::BIGINT
                      * 2147483648 + ({_char_poly_sql(263, 2147483629)}))
             ELSE CAST([] AS BIGINT[]) END AS grams
      FROM (SELECT doc_id,
                   list_transform(string_split(text, ''),
                                  c -> ascii(c)) AS cs
            FROM documents)
    ),
    s AS (
      SELECT doc_id, len(grams)::BIGINT AS n_grams,
             CASE
               WHEN len(grams) >= 8 THEN
                 list_distinct(
                   list_transform(range(1, len(grams) - 8 + 2),
                                  j -> list_min(grams[j:j+7])))
               WHEN len(grams) >= 1 THEN [list_min(grams)]
               ELSE CAST([] AS BIGINT[]) END AS sel
      FROM g
    ),
    pos AS (SELECT doc_id, unnest(sel) AS h FROM s),
    mined AS (
      SELECT h FROM (SELECT h, count(*) AS nd FROM pos GROUP BY h)
      WHERE nd >= 2
    ),
    fl AS (
      SELECT doc_id, count(*)::BIGINT AS n_flagged
      FROM pos JOIN mined USING (h) GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_grams, len(sel)::BIGINT AS n_selected,
           coalesce(fl.n_flagged, 0)::BIGINT AS n_flagged,
           CASE WHEN len(sel) > 0
                THEN round(coalesce(fl.n_flagged, 0) * 1.0 / len(sel), 6)
                ELSE 0.0 END AS flag_frac
    FROM s LEFT JOIN fl ON s.doc_id = fl.doc_id
    """,
    doc="char-granularity repeated-substring flags: winnowed char "
        "20-gram double-polynomial fingerprints (window-8 minima, "
        "alignment-independent "
        ">= 27-char guarantee) mined for >= 2-doc sharing; catches "
        "sub-word repetition (minified JS, base64) word-gram faces "
        "miss; one HOF projection + inverted-index join",
)
def doc_char_span_flags(spark, sf_dir):
    from .operators.textstats import char_span_flags

    return char_span_flags(load_table(spark, sf_dir, "documents"))


# --- reranker feature assembly on the BM25 shortlist (E133, r9) ----------------
# Retrieval ships BM25 -> shortlist; the production next hop is
# feature assembly for a learned scorer. (query, doc) pair features —
# first-stage rank/score, query coverage, raw-tf/length, earliest
# match position — as ONE broadcast-shortlist corpus join + expression
# block. The model call is not a data-engine concern; the features are.
@register(
    "doc_rerank_features",
    """
    WITH q AS (
      SELECT * FROM (VALUES (1, 'spark'), (1, 'join'),
                            (2, 'stream'), (2, 'window'),
                            (3, 'merge'), (3, 'table'), (3, 'sort'))
        AS t(qid, term)
    ),
    base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    s AS (SELECT count(*) AS n, sum(len(words)) AS sumdl FROM base),
    post AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, len(words) AS dl, unnest(words) AS term
            FROM base)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT q.qid, p.doc_id,
             count(*)::BIGINT AS n_hits,
             round(sum(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * (p.tf * 2.2)
                       / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                                        / (s.sumdl * 1.0 / s.n)))), 6)
               AS score
      FROM post p
      JOIN q ON p.term = q.term
      JOIN dfq ON p.term = dfq.term
      CROSS JOIN s
      GROUP BY q.qid, p.doc_id
    ),
    short AS (
      SELECT * FROM (
        SELECT qid, doc_id, n_hits, score,
               CAST(row_number() OVER (PARTITION BY qid
                                       ORDER BY score DESC, doc_id)
                    AS INTEGER) AS rank
        FROM scored)
      WHERE rank <= 10
    ),
    ql AS (SELECT qid, count(DISTINCT term)::BIGINT AS n_terms,
                  list(DISTINCT term) AS terms
           FROM q GROUP BY qid)
    SELECT sh.qid, sh.doc_id, sh.rank, sh.score, ql.n_terms, sh.n_hits,
           round(sh.n_hits * 1.0 / ql.n_terms, 6) AS overlap_frac,
           len(b.words)::BIGINT AS dl,
           len(list_filter(b.words,
                           w -> list_contains(ql.terms, w)))::BIGINT
             AS tf_total,
           round(len(list_filter(b.words,
                                 w -> list_contains(ql.terms, w))) * 1.0
                 / len(b.words), 6) AS density,
           list_min(list_filter(range(1, len(b.words) + 1),
                    i -> list_contains(ql.terms, b.words[i])))::BIGINT
             AS first_pos
    FROM short sh
    JOIN ql USING (qid)
    JOIN base b USING (doc_id)
    """,
    doc="reranker feature assembly over the BM25 top-10 shortlist: "
        "first-stage rank/score carried, query coverage "
        "(n_hits/n_terms), raw tf and length density, earliest match "
        "position; shortlist broadcast into one narrow corpus join",
)
def doc_rerank_features(spark, sf_dir):
    from .operators.retrieval import rerank_features

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["stream", "window"]),
         (3, ["merge", "table", "sort"])],
        "qid int, terms array<string>")
    out = rerank_features(docs, qs, k=10)
    return out.select(F.col("qid").cast("int").alias("qid"),
                      "doc_id", F.col("rank").cast("int").alias("rank"),
                      "score", "n_terms", "n_hits", "overlap_frac",
                      "dl", "tf_total", "density", "first_pos")


# --- span-level benchmark decontamination (E77) ------------------------------
@register(
    "doc_decontaminate_spans",
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
    bg AS (SELECT DISTINCT gram FROM pos WHERE doc_id % 37 = 0),
    fl AS (
      SELECT doc_id, list_sort(list(DISTINCT start)) AS starts
      FROM pos JOIN bg USING (gram) GROUP BY doc_id
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
           coalesce(array_to_string(kept, ' '), '') AS clean_text
    FROM cleaned
    """,
    doc="span-level benchmark decontamination (GPT-3 appendix-C n-gram "
        "collision removal): strip every token covered by a word "
        "8-gram appearing in the benchmark corpus (here: every 37th "
        "doc), keeping the rest of the document; benchmark gram set "
        "broadcast, corpus never shuffles",
)
def doc_decontaminate_spans(spark, sf_dir):
    from .operators.textstats import decontaminate_spans

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0).select("text")
    return decontaminate_spans(docs, bench)


# --- CCNet per-language LM-quality buckets (E79) -----------------------------
@register(
    "doc_lm_quality_buckets",
    """
    WITH vocab AS (
      SELECT word, count(*) AS n_occ
      FROM (SELECT unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY word
    ),
    tot AS (SELECT sum(n_occ)::DOUBLE AS total,
                   count(*)::DOUBLE AS n_vocab FROM vocab),
    tok AS (
      SELECT doc_id, word, count(*) AS c
      FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
            FROM documents)
      WHERE word <> '' GROUP BY doc_id, word
    ),
    scored AS (
      SELECT t.doc_id, t.c,
             -ln((v.n_occ + 1.0) / (tot.total + tot.n_vocab)) AS neg_lp
      FROM tok t JOIN vocab v USING (word), tot
    ),
    per_doc AS (
      SELECT d.doc_id, d.lang,
             coalesce(s.score, 0.0) AS avg_neg_logprob
      FROM documents d
      LEFT JOIN (SELECT doc_id,
                        round(sum(c * neg_lp) / sum(c), 6) AS score
                 FROM scored GROUP BY doc_id) s USING (doc_id)
    ),
    r AS (
      SELECT doc_id, lang, avg_neg_logprob,
             row_number() OVER (PARTITION BY lang
                                ORDER BY avg_neg_logprob, doc_id)
               AS lang_rank,
             count(*) OVER (PARTITION BY lang) AS ln
      FROM per_doc
    )
    SELECT doc_id, lang, avg_neg_logprob,
           CAST(lang_rank AS BIGINT) AS lang_rank,
           CASE WHEN lang_rank * 100 <= 30 * ln THEN 'head'
                WHEN lang_rank * 100 <= 70 * ln THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM r
    """,
    doc="CCNet-style per-language LM-quality buckets: rank within each "
        "language by the unigram-LM perplexity proxy, cut head/middle/"
        "tail at 30/70 percent by INTEGER rank arithmetic; scalable "
        "via the range-partitioned global rank, never one reducer per "
        "language",
)
def doc_lm_quality_buckets(spark, sf_dir):
    from .operators.selection import lm_quality_buckets

    return lm_quality_buckets(load_table(spark, sf_dir, "documents"))


# --- deterministic contrastive negatives (E85) -------------------------------
@register(
    "doc_contrastive_negatives",
    """
    WITH r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS idx
               FROM documents),
    cnt AS (SELECT count(*) AS n FROM documents),
    e AS (SELECT r.doc_id, r.idx, cnt.n, j.neg_rank
          FROM r, cnt, (SELECT unnest(range(1, 5)) AS neg_rank) j),
    t AS (SELECT doc_id, neg_rank, n, idx,
                 ('0x' || substr(md5(doc_id || ':' || neg_rank), 1, 8))
                   ::BIGINT % n AS h
          FROM e),
    tt AS (SELECT doc_id, neg_rank,
                  CASE WHEN h + 1 = idx THEN ((h + 1) % n) + 1
                       ELSE h + 1 END AS tidx
           FROM t)
    SELECT tt.doc_id, CAST(tt.neg_rank AS INT) AS neg_rank,
           r2.doc_id AS neg_id
    FROM tt JOIN r r2 ON r2.idx = tt.tidx
    """,
    doc="deterministic contrastive negative sampling: 4 seed-free "
        "pseudo-random negatives per anchor via md5(anchor:j) mod n "
        "over a dense range-partitioned global index, skip-self bump; "
        "uniform with replacement, engine/partitioning-stable",
)
def doc_contrastive_negatives(spark, sf_dir):
    from .operators.selection import contrastive_negatives

    docs = load_table(spark, sf_dir, "documents")
    return contrastive_negatives(docs, k=4)


# --- payment-card PII scan with Luhn validation (E86) ------------------------
def _payment_pii_oracle_sql() -> str:
    from .operators.textstats import luhn_valid_sql

    luhn = luhn_valid_sql("x", "duckdb")
    return f"""
    WITH salted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0
                          THEN ' card 4532015112830366 end'
                          WHEN doc_id % 3 = 1
                          THEN ' card 4532015112830367 end'
                          ELSE '' END AS text
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             regexp_extract_all(text, '[0-9]{{13,19}}') AS cands
      FROM salted
    )
    SELECT doc_id,
           CAST(len(cands) AS BIGINT) AS n_card_candidates,
           CAST(len(list_filter(cands, x -> {luhn})) AS BIGINT)
             AS n_luhn_valid,
           len(list_filter(cands, x -> {luhn})) > 0 AS has_payment_pii
    FROM c
    """


@register(
    "doc_payment_pii_scan",
    _payment_pii_oracle_sql(),
    doc="payment-card PII scan with Luhn validation: 13-19-digit runs "
        "as candidates, arithmetic checksum fold separating probable "
        "card numbers from order ids/EANs; input salted with one "
        "valid and one invalid card per doc_id residue so both "
        "branches of the checksum are provably exercised",
)
def doc_payment_pii_scan(spark, sf_dir):
    from .operators.textstats import payment_pii_scan

    docs = load_table(spark, sf_dir, "documents")
    salt = (F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" card 4532015112830366 end"))
            .when(F.col("doc_id") % 3 == 1,
                  F.lit(" card 4532015112830367 end"))
            .otherwise(F.lit("")))
    salted = docs.select("doc_id",
                         F.concat("text", salt).alias("text"))
    return payment_pii_scan(salted)


# --- sentence-boundary greedy chunking (E87) ---------------------------------
@register(
    "doc_sentence_chunks",
    """
    WITH RECURSIVE sr AS (
      SELECT doc_id,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS si,
             s,
             len(list_filter(string_split(s, ' '), w -> w <> '')) AS nt
      FROM (SELECT doc_id, trim(unnest(string_split(text, '.')), ' ') AS s,
                   generate_subscripts(string_split(text, '.'), 1) AS i
            FROM documents)
      WHERE s <> ''
    ),
    rec(doc_id, si, len, cid) AS (
      SELECT doc_id, si, nt, 0 FROM sr WHERE si = 1
      UNION ALL
      SELECT s.doc_id, s.si,
             CASE WHEN r.len > 0 AND r.len + s.nt > 40
                  THEN s.nt ELSE r.len + s.nt END,
             CASE WHEN r.len > 0 AND r.len + s.nt > 40
                  THEN r.cid + 1 ELSE r.cid END
      FROM rec r JOIN sr s ON s.doc_id = r.doc_id AND s.si = r.si + 1
    )
    SELECT sr.doc_id, CAST(rec.cid AS INT) AS chunk_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(sr.nt) AS BIGINT) AS n_chunk_tokens,
           string_agg(sr.s, ' ' ORDER BY sr.si) AS chunk_text
    FROM sr JOIN rec ON rec.doc_id = sr.doc_id AND rec.si = sr.si
    GROUP BY sr.doc_id, rec.cid
    """,
    doc="sentence-boundary greedy chunking (the RAG discipline: never "
        "split mid-sentence): pack consecutive sentences into <= 40 "
        "token chunks via a per-doc JVM aggregate fold, vs the same "
        "fold as a linear recursive CTE",
)
def doc_sentence_chunks(spark, sf_dir):
    from .operators.textstats import sentence_pack_chunks

    return sentence_pack_chunks(load_table(spark, sf_dir, "documents"),
                                max_tokens=40)


# --- JSONL ingestion with corrupt-record tolerance (E91) ---------------------
# The JSON line is CONSTRUCTED by identical string concatenation in
# both engines (codes-only fields, no escaping surface) rather than
# each engine's to_json serializer, whose spacing/ordering differ;
# every 13th line is truncated to a malformed prefix so the PERMISSIVE
# path is provably exercised.
@register(
    "doc_jsonl_ingest",
    """
    WITH lines AS (
      SELECT doc_id AS orig_id,
             CASE WHEN doc_id % 13 = 0
                  THEN substr(j, 1, 15)
                  ELSE j END AS line
      FROM (SELECT doc_id,
                   '{"doc_id": ' || doc_id || ', "lang": "' || lang
                     || '", "n": ' || n_chars || '}' AS j
            FROM documents)
    )
    SELECT orig_id,
           CASE WHEN json_valid(line)
                     AND json_extract(line, '$.doc_id') IS NOT NULL
                THEN true ELSE false END AS parse_ok,
           CASE WHEN json_valid(line)
                THEN CAST(line ->> 'doc_id' AS BIGINT) END AS parsed_doc_id,
           CASE WHEN json_valid(line)
                THEN line ->> 'lang' END AS parsed_lang,
           CASE WHEN json_valid(line)
                THEN CAST(line ->> 'n' AS BIGINT) END AS parsed_n
    FROM lines
    """,
    doc="schema-on-read JSONL ingestion with PERMISSIVE corrupt-record "
        "tolerance: malformed lines (every 13th, truncated) parse to "
        "nulls with an explicit ok flag instead of failing the batch; "
        "from_json narrow map, no shuffle",
)
def doc_jsonl_ingest(spark, sf_dir):
    from .sources.jsonl import parse_json_lines

    docs = load_table(spark, sf_dir, "documents")
    j = F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"),
                 F.lit(', "lang": "'), F.col("lang"),
                 F.lit('", "n": '), F.col("n_chars").cast("string"),
                 F.lit("}"))
    lines = docs.select(
        F.col("doc_id").alias("orig_id"),
        F.when(F.col("doc_id") % 13 == 0, F.substring(j, 1, 15))
        .otherwise(j).alias("line"))
    parsed = parse_json_lines(lines, "line",
                              "doc_id BIGINT, lang STRING, n BIGINT",
                              ok_probe="doc_id")
    return parsed.select(
        "orig_id", F.col("parse_ok"),
        F.col("rec.doc_id").alias("parsed_doc_id"),
        F.col("rec.lang").alias("parsed_lang"),
        F.col("rec.n").alias("parsed_n"))


# --- PERMISSIVE CSV-line ingestion (r8) --------------------------------------
# The CSV sibling of doc_jsonl_ingest: payload built by identical
# string concat in both engines, every 13th line truncated; the ok
# probe is the LAST field (truncation kills it first). The oracle
# emulates from_csv's PERMISSIVE semantics with string_split +
# try_cast — missing trailing fields and uncastable values read as
# nulls, never errors.
@register(
    "doc_csv_ingest",
    """
    WITH lines AS (
      SELECT doc_id AS orig_id,
             CASE WHEN doc_id % 13 = 0 THEN substr(c, 1, 7)
                  ELSE c END AS line
      FROM (SELECT doc_id,
                   doc_id || ',' || lang || ',' || n_chars AS c
            FROM documents)
    ),
    p AS (SELECT orig_id, line, string_split(line, ',') AS parts
          FROM lines)
    SELECT orig_id,
           CASE WHEN len(parts) >= 3
                     AND try_cast(parts[3] AS BIGINT) IS NOT NULL
                THEN true ELSE false END AS parse_ok,
           try_cast(parts[1] AS BIGINT) AS parsed_doc_id,
           CASE WHEN len(parts) >= 2 THEN parts[2] END AS parsed_lang,
           CASE WHEN len(parts) >= 3
                THEN try_cast(parts[3] AS BIGINT) END AS parsed_n
    FROM p
    """,
    doc="schema-on-read CSV-line ingestion with PERMISSIVE "
        "corrupt-record tolerance (from_csv narrow map): truncated "
        "lines parse to null trailing fields with an explicit ok "
        "flag; the envelope-payload case the file-level CSV reader "
        "doesn't cover",
)
def doc_csv_ingest(spark, sf_dir):
    from .sources.jsonl import parse_csv_lines

    docs = load_table(spark, sf_dir, "documents")
    c = F.concat(F.col("doc_id").cast("string"), F.lit(","),
                 F.col("lang"), F.lit(","),
                 F.col("n_chars").cast("string"))
    lines = docs.select(
        F.col("doc_id").alias("orig_id"),
        F.when(F.col("doc_id") % 13 == 0, F.substring(c, 1, 7))
        .otherwise(c).alias("line"))
    parsed = parse_csv_lines(lines, "line",
                             "doc_id BIGINT, lang STRING, n BIGINT",
                             ok_probe="n")
    return parsed.select(
        "orig_id", "parse_ok",
        F.col("rec.doc_id").alias("parsed_doc_id"),
        F.col("rec.lang").alias("parsed_lang"),
        F.col("rec.n").alias("parsed_n"))


# --- Gopher quality rules (E92) ----------------------------------------------
# The corpus text is single-line prose with no bullets/ellipses/
# symbols, so the face synthesizes a deterministic page per doc_id
# residue (bullet blocks, read-more ellipsis lines, hash runs, digit
# words) -- every rule provably fires in BOTH directions; same
# synthesize-the-adversary pattern as the URL and JSONL faces.
@register(
    "doc_gopher_rules",
    """
    WITH page AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- item one'
                  || chr(10) || '- click here' || chr(10) || '- menu'
                  ELSE '' END
             || CASE WHEN doc_id % 8 = 0 THEN chr(10) || '- a'
                  || chr(10) || '- b' || chr(10) || '- c'
                  || chr(10) || '- d' || chr(10) || '- e'
                  || chr(10) || '- f' || chr(10) || '- g'
                  || chr(10) || '- h' || chr(10) || '- i'
                  || chr(10) || '- j' ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'read more...'
                  || chr(10) || 'see more...' ELSE '' END
             || CASE WHEN doc_id % 7 = 0
                  THEN ' # # # # # # # #' ELSE '' END
             || CASE WHEN doc_id % 11 = 0
                  THEN ' 1234 5678 9012 3456 7890 2468' ELSE '' END
               AS text
      FROM documents
    ),
    arr AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '\\s+'),
                         w -> w <> '') AS ws,
             string_split(text, chr(10)) AS ls,
             length(text) - length(replace(text, '#', '')) AS hash_n,
             CAST((length(text) - length(replace(text, '...', ''))) / 3
                  AS BIGINT) AS ellipsis_n
      FROM page
    ),
    m AS (
      SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CASE WHEN len(ws) > 0 THEN round(
               list_sum(list_transform(ws, w -> length(w)))::DOUBLE
                 / len(ws), 6) END AS mean_word_len,
             CASE WHEN len(ws) > 0 THEN round(
               (hash_n + ellipsis_n)::DOUBLE / len(ws), 6) END
               AS symbol_ratio,
             round(len(list_filter(ls,
               l -> substr(ltrim(l), 1, 1) IN ('-', '*', '•')))::DOUBLE
               / len(ls), 6) AS bullet_line_ratio,
             round(len(list_filter(ls,
               l -> rtrim(l) LIKE '%...'))::DOUBLE / len(ls), 6)
               AS ellipsis_line_ratio,
             CASE WHEN len(ws) > 0 THEN round(
               len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))
                 ::DOUBLE / len(ws), 6) END AS alpha_word_ratio,
             CAST(len(list_intersect(list_transform(ws, w -> lower(w)),
               ['the','a','and','of','to','be','have','with']))
               AS BIGINT) AS stop_hits
      FROM arr
    )
    SELECT *,
           coalesce(n_words BETWEEN 10 AND 80
                    AND mean_word_len BETWEEN 3 AND 10
                    AND symbol_ratio <= 0.1
                    AND bullet_line_ratio <= 0.9
                    AND ellipsis_line_ratio <= 0.3
                    AND alpha_word_ratio >= 0.8
                    AND stop_hits >= 2, false) AS keep
    FROM m
    """,
    doc="Gopher quality-rule battery (Rae et al. 2021 App. A): word "
        "count / mean word length / symbol ratio / bullet and "
        "ellipsis line ratios / alpha-word ratio / stop-word probe, "
        "plus the combined keep gate; pure JVM fold battery, zero "
        "shuffles, scan-speed first-pass corpus gate",
)
def doc_gopher_rules(spark, sf_dir):
    from .operators.cleaning import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("\n- item one\n- click here\n- menu"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 8 == 0,
               F.lit("\n- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i"
                     "\n- j")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0,
               F.lit("\nread more...\nsee more...")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit(" # # # # # # # #")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0,
               F.lit(" 1234 5678 9012 3456 7890 2468"))
        .otherwise(F.lit("")),
    )
    # the synthetic corpus vocabulary carries only 'the'/'a' from the
    # canonical probe list, so the face swaps in a list the corpus can
    # actually hit twice -- the keep gate must fire both ways
    return gopher_rules(
        docs.select("doc_id", page.alias("text")),
        min_words=10, max_words=80,
        stopwords=("the", "a", "and", "of", "to", "be", "have", "with"))


# --- unicode NFC normalization (E97) -----------------------------------------
# The corpus is pure ASCII, so the face decomposes it deterministically
# (every 'e' -> 'e' + U+0301 for doc_id % 3 = 0, a composed-accent
# suffix for % 5 = 0) -- NFC must recompose the former (changed=true)
# and fix neither the latter nor plain ASCII (changed=false).
@register(
    "doc_unicode_nfc",
    """
    WITH page AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN replace(text, 'e', 'e' || chr(769))
                  ELSE text END
             || CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233)
                  ELSE '' END AS t
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t) AS norm_text,
           nfc_normalize(t) <> t AS changed,
           CAST(length(t) AS BIGINT) AS len_before,
           CAST(length(nfc_normalize(t)) AS BIGINT) AS len_after
    FROM page
    """,
    doc="unicode NFC normalization before fingerprint dedup: "
        "decomposed combining sequences recompose so visually-equal "
        "strings hash equal; Arrow pandas_udf over unicodedata "
        "(no JVM SQL normalizer exists) value-checked against "
        "DuckDB's nfc_normalize",
)
def doc_unicode_nfc(spark, sf_dir):
    from .operators.cleaning import normalize_unicode

    docs = load_table(spark, sf_dir, "documents")
    page = F.concat(
        F.when(F.col("doc_id") % 3 == 0,
               F.replace(F.col("text"), F.lit("e"),
                         F.lit("e\u0301")))
        .otherwise(F.col("text")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" café"))
        .otherwise(F.lit("")))
    return normalize_unicode(docs.select("doc_id", page.alias("text")))


# --- BPE-ish regex pre-tokenizer stats (E138, r9) --------------------------------
# The north-star token-counting item ("whitespace + a BPE-ish regex"):
# GPT-2-style pre-token boundaries predict sequence length for any
# BPE-family tokenizer (merges never cross pre-token boundaries),
# without needing a trained merge table. Pattern is the lookahead-free
# ASCII subset, alternation-order verified identical in Java regex and
# RE2 on contraction/punct-run/decimal edges.
@register(
    "doc_pretoken_stats",
    """
    WITH t AS (
      SELECT doc_id,
             coalesce(regexp_extract_all(text,
               '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+'),
               CAST([] AS VARCHAR[])) AS pt,
             len(list_filter(string_split(text, ' '),
                             w -> w <> ''))::BIGINT AS n_ws
      FROM documents
    )
    SELECT doc_id,
           len(pt)::BIGINT AS n_pretokens,
           len(list_filter(pt,
               x -> regexp_matches(x, '^ ?[A-Za-z]+$')))::BIGINT
             AS n_words,
           len(list_filter(pt,
               x -> regexp_matches(x, '^ ?[0-9]+$')))::BIGINT
             AS n_numbers,
           len(list_filter(pt,
               x -> regexp_matches(x, '^''(s|t|re|ve|m|ll|d)$')))::BIGINT
             AS n_contractions,
           len(list_filter(pt,
               x -> regexp_matches(x, '^ ?[^A-Za-z0-9 ]+$')))::BIGINT
             AS n_punct,
           n_ws AS n_ws_tokens,
           CASE WHEN n_ws > 0 THEN round(len(pt) * 1.0 / n_ws, 6)
                ELSE 0.0 END AS fertility
    FROM t
    """,
    doc="BPE-ish regex pre-tokenizer stats: GPT-2-style boundary "
        "counts (words/numbers/contractions/punct runs) + fertility "
        "(pre-tokens per whitespace word, the tokenizer-cost signal); "
        "one zero-shuffle projection",
)
def doc_pretoken_stats(spark, sf_dir):
    from .operators.tokenizer import pretokenize_stats

    return pretokenize_stats(load_table(spark, sf_dir, "documents"))


# --- hybrid retrieval fusion (E150, r10) --------------------------------------
# THE standard production retrieval pattern: two retrievers with
# incomparable score scales (BM25 + Dirichlet query-likelihood LM,
# Zhai & Lafferty 2001) fused by reciprocal-rank fusion (Cormack et
# al. 2009) — rrf = sum over lists of 1/(60 + rank), no score
# calibration needed. Both retrievers ride the SAME pruned inverted
# index shape; the fusion is a full-outer join of bounded k-row
# shortlists. QL decomposes as per-query constant + matched-hit sum -
# |q|*ln(dl+mu), so only matched postings are touched (the trick that
# makes LM retrieval an inverted-index workload).
@register(
    "doc_hybrid_rrf",
    """
    WITH q AS (
      SELECT * FROM (VALUES (1, 'spark'), (1, 'join'),
                            (2, 'stream'), (2, 'window'),
                            (3, 'merge'), (3, 'table'), (3, 'sort'))
        AS t(qid, term)
    ),
    base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    s AS (SELECT count(*) AS n, sum(len(words)) AS sumdl,
                 sum(len(words)) * 1.0 AS T
          FROM base),
    post AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, len(words) AS dl, unnest(words) AS term
            FROM base)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    cf AS (SELECT term, sum(tf) * 1.0 AS cf FROM post GROUP BY term),
    bm_scored AS (
      SELECT q.qid, p.doc_id,
             round(sum(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * (p.tf * 2.2)
                       / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                                        / (s.sumdl * 1.0 / s.n)))), 6)
               AS score
      FROM post p
      JOIN q ON p.term = q.term
      JOIN dfq ON p.term = dfq.term
      CROSS JOIN s
      GROUP BY q.qid, p.doc_id
    ),
    bm AS (
      SELECT qid, doc_id, r FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS r
        FROM bm_scored) WHERE r <= 10
    ),
    qc AS (
      SELECT q.qid, count(*) AS nq,
             sum(ln(300.0 * cf.cf / s.T)) AS qconst
      FROM q JOIN cf ON cf.term = q.term CROSS JOIN s
      GROUP BY q.qid
    ),
    ql_scored AS (
      SELECT q.qid, p.doc_id,
             any_value(p.dl) AS dl,
             sum(ln(1.0 + p.tf * s.T / (300.0 * cf.cf))) AS hits
      FROM post p
      JOIN q ON p.term = q.term
      JOIN cf ON p.term = cf.term
      CROSS JOIN s
      GROUP BY q.qid, p.doc_id
    ),
    ql AS (
      SELECT qid, doc_id, r FROM (
        SELECT g.qid, g.doc_id,
               row_number() OVER (
                 PARTITION BY g.qid
                 ORDER BY round(qc.qconst + g.hits
                                - qc.nq * ln(g.dl + 300.0), 6) DESC,
                          g.doc_id) AS r
        FROM ql_scored g JOIN qc ON qc.qid = g.qid) WHERE r <= 10
    ),
    fused AS (
      SELECT coalesce(bm.qid, ql.qid) AS qid,
             coalesce(bm.doc_id, ql.doc_id) AS doc_id,
             round(coalesce(1.0 / (60 + bm.r), 0)
                   + coalesce(1.0 / (60 + ql.r), 0), 6) AS rrf,
             CAST(coalesce(bm.r, -1) AS INTEGER) AS rank_0,
             CAST(coalesce(ql.r, -1) AS INTEGER) AS rank_1
      FROM bm FULL OUTER JOIN ql
        ON bm.qid = ql.qid AND bm.doc_id = ql.doc_id
    )
    SELECT qid, doc_id, rrf, rank_0, rank_1, rank FROM (
      SELECT qid, doc_id, rrf, rank_0, rank_1,
             CAST(row_number() OVER (PARTITION BY qid
                                     ORDER BY rrf DESC, doc_id)
                  AS INTEGER) AS rank
      FROM fused) WHERE rank <= 10
    """,
    doc="hybrid retrieval: BM25 top-10 and Dirichlet query-likelihood "
        "top-10 (mu=300) over the same pruned inverted index, fused by "
        "reciprocal-rank fusion 1/(60+rank) and re-ranked top-10 per "
        "query; fusion joins only bounded shortlists",
)
def doc_hybrid_rrf(spark, sf_dir):
    # Kept as the two-retriever composition: computing both scores in ONE
    # (qid, doc) aggregate requires pinning the scored frame (Catalyst
    # otherwise re-splits the aggregate per top-k consumer and prunes
    # each copy back to the un-fused plan — and the pruned copies are
    # no longer identical subtrees, so AQE ReusedExchange cannot
    # collapse them), and the pin's blocking job measured SLOWER than
    # the overlapped duplicated aggregates it removed (interleaved
    # min-of-6 A/B: orig 2.49/3.12 vs fused+pin 2.68/3.42 — the
    # rec_hitrate lesson again). The index build itself was optimized
    # instead (zero-shuffle postings map in build_query_index).
    from .operators.retrieval import (bm25_search_many, ql_search_many,
                                      rrf_fuse)

    docs = load_table(spark, sf_dir, "documents")
    qs = spark.createDataFrame(
        [(1, ["spark", "join"]), (2, ["stream", "window"]),
         (3, ["merge", "table", "sort"])],
        "qid int, terms array<string>")
    from .operators.retrieval import build_query_index

    idx = build_query_index(docs, qs)
    bm = bm25_search_many(docs, qs, k=10, index=idx)
    ql = ql_search_many(docs, qs, k=10, index=idx)
    out = rrf_fuse(bm, ql, k=10)
    return out.select(F.col("qid").cast("int").alias("qid"), "doc_id",
                      "rrf", "rank_0", "rank_1",
                      F.col("rank").cast("int").alias("rank"))


# --- E163: homoglyph evasion scan ---------------------------------------------
# The data-poisoning screen: Cyrillic look-alikes slip a document past
# exact fingerprints and lexicon gates. Salt = every 21st doc re-ingested
# with its Latin a/e/o swapped for the Cyrillic confusables; the scan
# must flag exactly those AND collapse them onto their source via the
# skeleton-fingerprint owner election.
@register(
    "doc_homoglyph_scan",
    """
    WITH fam AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 7000000, translate(text, 'aeo', 'аео')
      FROM documents WHERE doc_id % 21 = 0
    ),
    base AS (
      SELECT doc_id,
             CAST(length(text)
                  - length(translate(text, 'аеорсхуο', ''))
                  AS INTEGER) AS n_confusables,
             md5(translate(text, 'аеорсхуο', 'aeopcxyo')) AS sk
      FROM fam
    ),
    own AS (SELECT sk, min(doc_id) AS skeleton_owner FROM base GROUP BY sk)
    SELECT b.doc_id, b.n_confusables,
           b.n_confusables > 0 AS evasion_flag,
           o.skeleton_owner
    FROM base b JOIN own o USING (sk)
    """,
    doc="homoglyph (unicode-confusable) evasion scan: skeletonize via "
        "translate over the Cyrillic/Greek confusable alphabet, count "
        "confusable code points, elect the min-id skeleton owner so an "
        "evasion copy collapses onto its source; salt = every 21st doc "
        "re-ingested with a/e/o swapped to Cyrillic (flagged, owner = "
        "the original)",
)
def doc_homoglyph_scan(spark, sf_dir):
    from .operators.cleaning import homoglyph_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    evaded = (docs.where(F.col("doc_id") % 21 == 0)
              .select((F.col("doc_id") + 7000000).alias("doc_id"),
                      F.translate("text", "aeo", "аео").alias("text")))
    return homoglyph_scan(docs.unionByName(evaded))


# --- E170: autocomplete / prefix-completion index -----------------------------
@register(
    "doc_prefix_completions",
    """
    WITH c AS (
      SELECT array_to_string(
               (list_filter(string_split(lower(text), ' '),
                            x -> x <> ''))[1:2], ' ') AS completion
      FROM documents
    ),
    f AS (
      SELECT substr(completion, 1, 3) AS prefix, completion,
             count(*)::BIGINT AS n
      FROM c WHERE length(completion) >= 3
      GROUP BY 1, 2
    )
    SELECT prefix,
           CAST(row_number() OVER (PARTITION BY prefix
                                   ORDER BY n DESC, completion)
                AS INTEGER) AS rank,
           completion, n
    FROM f QUALIFY rank <= 3
    """,
    doc="autocomplete index build: top-3 two-word completions per "
        "3-char prefix ranked by (count desc, completion); one narrow "
        "map + one count aggregate + the two-stage grouped top-k (a "
        "hot prefix never funnels one reducer); output is bounded at "
        "(distinct prefixes x 3) rows at any corpus size",
)
def doc_prefix_completions(spark, sf_dir):
    from .operators.textstats import prefix_completions

    docs = load_table(spark, sf_dir, "documents").select("text")
    return prefix_completions(docs, n_words=2, prefix_len=3, k=3)


# --- E174: Flesch readability scores (r12) ------------------------------------
# The classic curation quality signal the rule batteries don't carry:
# reading-ease from sentence/word lengths and a vowel-group syllable
# heuristic — all definitions deterministic and stated identically in
# both engines (see the operator docstring). One narrow map, zero
# shuffles: a free rider on any corpus scan at 100 TB.
@register(
    "doc_readability",
    """
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws,
             greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_s
      FROM documents
    ),
    c AS (
      SELECT doc_id, len(ws) AS n_w, n_s,
             list_sum(list_transform(ws, x -> greatest(1,
               len(regexp_extract_all(lower(x), '[aeiouy]+'))))) AS syl
      FROM w WHERE len(ws) > 0
    )
    SELECT doc_id, CAST(n_w AS BIGINT) AS n_words,
           CAST(n_s AS BIGINT) AS n_sentences,
           CAST(syl AS BIGINT) AS n_syllables,
           round(206.835 - 1.015 * (CAST(n_w AS DOUBLE) / n_s)
                 - 84.6 * (CAST(syl AS DOUBLE) / n_w), 6) AS flesch,
           round(0.39 * (CAST(n_w AS DOUBLE) / n_s)
                 + 11.8 * (CAST(syl AS DOUBLE) / n_w) - 15.59, 6)
             AS fk_grade
    FROM c
    """,
    doc="Flesch reading ease + Flesch-Kincaid grade per document: "
        "words = non-empty space splits, sentences = [.!?]+ runs "
        "floored at 1, syllables = per-word lowercase vowel groups "
        "floored at 1 (the standard heuristic); formulas evaluated in "
        "the same operation order in both engines, rounded 6 — one "
        "narrow map, no shuffle",
)
def doc_readability(spark, sf_dir):
    from .operators.textstats import readability_scores

    return readability_scores(load_table(spark, sf_dir, "documents"))


# --- E175: per-domain diversity cap (r12) --------------------------------------
# The crawl-diversity step every web corpus runs (C4/RefinedWeb):
# unbounded per-site counts let one boilerplate-heavy host dominate
# the training mix, so each registrable domain keeps only its k best
# documents. URLs are synthesized from shared literals (many
# registrable domains, several docs each, so both the keep and drop
# branches are non-vacuous at every SF); the oracle ranks with the
# definitional partitioned row_number, so the parity row proves the
# two-stage grouped top-k == the definition on this keying too.
_DOMAIN_URL_SPARK = (
    "concat('https://sub', CAST(doc_id % 13 AS STRING), '.dom', "
    "CAST(doc_id % 29 AS STRING), '.com/p', CAST(doc_id AS STRING))")
_DOMAIN_URL_DUCK = (
    "'https://sub' || CAST(doc_id % 13 AS VARCHAR) || '.dom' || "
    "CAST(doc_id % 29 AS VARCHAR) || '.com/p' || "
    "CAST(doc_id AS VARCHAR)")


@register(
    "doc_domain_cap",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars, {_DOMAIN_URL_DUCK} AS url FROM documents
    ),
    d AS (
      SELECT doc_id, n_chars,
             CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) <> ''
                  THEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1)
                  ELSE host END AS domain
      FROM (SELECT doc_id, n_chars,
                   regexp_extract(lower(url),
                     '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)',
                     1) AS host
            FROM u)
    )
    SELECT domain, doc_id, CAST(rank AS INTEGER) AS rank FROM (
      SELECT domain, doc_id,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rank
      FROM d
    ) WHERE rank <= 5
    """,
    doc="per-registrable-domain diversity cap: keep the 5 longest "
        "documents per domain (last-two-label host heuristic; the "
        "public-suffix list is a lexicon swap, not a plan change), "
        "ranked on the two-stage grouped top-k so a mega-domain never "
        "funnels one reducer; oracle = the definitional partitioned "
        "row_number",
)
def doc_domain_cap(spark, sf_dir):
    from .operators.cleaning import domain_cap

    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "n_chars",
                    F.expr(_DOMAIN_URL_SPARK).alias("url")))
    return domain_cap(docs, k=5, order_by=[F.col("n_chars").desc()])


# --- E178: positional-index phrase search (r12) ---------------------------------
# Exact word-level phrase lookup as an INDEXED operation: contains()
# is a full corpus scan per query — fine once, unusable as a serving
# pattern at 100 TB. The corpus explodes ONCE into (word, doc, pos)
# postings pruned to the query vocabulary (broadcast), checkpointed
# (K phrases must not re-explode the corpus K times — the
# subtree-reuse lesson), and each phrase is a chain of
# position-adjacency equi-joins. Occurrences count ALL word-aligned
# positions (overlaps included); the oracle states the definitional
# per-document window scan over the word array. One phrase lands 0
# rows at sf0.01 (the empty branch is real, not planted).
_PHRASES = ["hash join", "table scan", "batch batch batch"]


def _phrase_search_sql() -> str:
    parts = []
    for p in _PHRASES:
        ws = p.split()
        n = len(ws)
        conds = " AND ".join(f"ws[i + {j}] = '{w}'"
                             for j, w in enumerate(ws))
        parts.append(f"""
      SELECT '{p}' AS phrase, doc_id,
             len(list_filter(range(1, len(ws) + 2 - {n}),
                             i -> {conds}))::BIGINT AS n_occurrences
      FROM w""")
    union = "\n      UNION ALL".join(parts)
    return f"""
    WITH w AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    hits AS ({union})
    SELECT phrase, doc_id, n_occurrences
    FROM hits WHERE n_occurrences > 0
    """


@register(
    "doc_phrase_search",
    _phrase_search_sql(),
    doc="positional-index exact phrase search: one pruned (word, doc, "
        "pos) posting explode shared by all phrases (checkpointed), "
        "each phrase a chain of position-adjacency equi-joins; "
        "occurrence counts include overlapping matches; oracle = the "
        "definitional per-document window scan over the word array",
)
def doc_phrase_search(spark, sf_dir):
    from .operators.retrieval import phrase_search

    return phrase_search(load_table(spark, sf_dir, "documents"),
                         _PHRASES)


# --- E181: head+tail context-window truncation (r12) -----------------------------
# The long-document policy applied before chunking/padding: middle-out
# truncation keeps the head (titles, ledes) and tail (conclusions)
# with an explicit elision marker at the seam; under-budget docs pass
# through byte-identical. Pure array slicing, zero shuffles.
@register(
    "doc_context_fit",
    """
    WITH w AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_tokens,
           CAST(CASE WHEN len(ws) > 64 THEN 64 ELSE len(ws) END
                AS BIGINT) AS n_kept,
           len(ws) > 64 AS truncated,
           CASE WHEN len(ws) > 64
                THEN array_to_string(
                       list_concat(list_concat(ws[1:48], ['...']),
                                   ws[-15:]), ' ')
                ELSE text END AS fitted_text
    FROM w
    """,
    doc="head+tail truncation to a 64-token budget (48 head + elision "
        "marker + 15 tail): the middle-out long-document policy, "
        "seam visible to audits; under-budget docs byte-identical; "
        "one narrow map, zero shuffles",
)
def doc_context_fit(spark, sf_dir):
    from .operators.packing import head_tail_truncate

    return head_tail_truncate(load_table(spark, sf_dir, "documents"),
                              budget=64, head=48, tail=15)


# --- E184: mojibake (encoding-corruption) scan (r12) ----------------------------
# UTF-8 decoded as cp1252 leaves tell-tale 2-3 char sequences that
# poison tokenizers and dedup fingerprints while passing ASCII-tolerant
# validators. Salt = every 23rd doc re-ingested with an appended
# mojibake'd suffix (" â€” thÃ© â€¦" = " — thé …" corrupted), so the
# flagged branch is non-vacuous at every SF and the repair measurably
# recovers characters. The oracle scan/repair SQL is GENERATED from the
# same MOJIBAKE module constant the Spark plan compiles.
from .operators.cleaning import MOJIBAKE as _MOJI

_MOJI_SUFFIX = " â€” thÃ© â€¦"
_MOJI_N_SQL = " + ".join(
    f"(length(text) - length(replace(text, '{m}', ''))) / {len(m)}"
    for m in _MOJI)
_MOJI_REPAIR_SQL = "text"
for _m, _o in _MOJI.items():
    _MOJI_REPAIR_SQL = f"replace({_MOJI_REPAIR_SQL}, '{_m}', '{_o}')"

_MOJI_ORACLE = f"""
    WITH fam AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 8000000, text || ' {_MOJI_SUFFIX.strip()}'
      FROM documents WHERE doc_id % 23 = 0
    )
    SELECT doc_id,
           CAST({_MOJI_N_SQL} AS INTEGER) AS n_markers,
           ({_MOJI_N_SQL}) > 0 AS mojibake_flag,
           CAST(length(text) - length({_MOJI_REPAIR_SQL}) AS INTEGER)
             AS n_chars_recovered
    FROM fam
"""


@register(
    "doc_mojibake_scan",
    _MOJI_ORACLE,
    doc="mojibake (UTF-8-as-cp1252 double-encoding) scan: count "
        "tell-tale marker sequences from the shared 14-entry lexicon, "
        "flag corrupted docs, and measure the chained marker->original "
        "repair; salt = every 23rd doc re-ingested with an appended "
        "corrupted suffix (3 markers, 5 recoverable chars); pure "
        "narrow string expressions, zero shuffles",
)
def doc_mojibake_scan(spark, sf_dir):
    from .operators.cleaning import mojibake_scan

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    salted = (docs.where(F.col("doc_id") % 23 == 0)
              .select((F.col("doc_id") + 8000000).alias("doc_id"),
                      F.concat(F.col("text"), F.lit(_MOJI_SUFFIX))
                      .alias("text")))
    return mojibake_scan(docs.unionByName(salted))


# --- E207: passage-origin retrieval eval --------------------------------------
@register(
    "doc_retrieval_mrr",
    """
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), w -> w <> '')
               AS words
      FROM documents
    ),
    q AS (
      SELECT doc_id AS qid,
             unnest(list_distinct(words[6:13])) AS term
      FROM base
      WHERE doc_id % 17 = 3 AND len(words) >= 13
    ),
    s AS (SELECT count(*) AS n, sum(len(words)) AS sumdl FROM base),
    post AS (
      SELECT doc_id, term, count(*) AS tf, any_value(dl) AS dl
      FROM (SELECT doc_id, len(words) AS dl, unnest(words) AS term
            FROM base)
      WHERE term IN (SELECT DISTINCT term FROM q)
      GROUP BY doc_id, term
    ),
    dfq AS (SELECT term, count(*) AS df FROM post GROUP BY term),
    scored AS (
      SELECT q.qid, p.doc_id,
             round(sum(ln(1.0 + (s.n - dfq.df + 0.5) / (dfq.df + 0.5))
                       * (p.tf * 2.2)
                       / (p.tf + 1.2 * (0.25 + 0.75 * p.dl
                                        / (s.sumdl * 1.0 / s.n)))), 6)
               AS score
      FROM post p
      JOIN q ON p.term = q.term
      JOIN dfq ON p.term = dfq.term
      CROSS JOIN s
      GROUP BY q.qid, p.doc_id
    ),
    topk AS (
      SELECT qid, doc_id, rank FROM (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, doc_id) AS rank
        FROM scored)
      WHERE rank <= 10
    ),
    origin AS (
      SELECT qid, rank FROM topk WHERE qid = doc_id
    ),
    per_q AS (
      SELECT CASE WHEN o.rank IS NOT NULL
                  THEN 1000000 // o.rank ELSE 0 END AS rr,
             CASE WHEN o.rank IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM (SELECT DISTINCT qid FROM q) qq
      LEFT JOIN origin o ON o.qid = qq.qid
    )
    SELECT count(*)::BIGINT AS n_queries,
           sum(hit)::BIGINT AS n_found,
           round(sum(hit) * 1.0 / count(*), 6) AS recall_at_k,
           floor(sum(rr) * 1.0 / count(*))::BIGINT AS mrr_ppm
    FROM per_q
    """,
    doc="passage-origin retrieval eval, no human qrels needed: every "
        "17th doc contributes words 6-13 as a query whose relevant "
        "answer IS its source doc; BM25 batch top-10 via the shared "
        "inverted index (one postings aggregate regardless of query "
        "count), recall@10 + MRR in exact integer ppm (1e6 // rank — "
        "summation order cannot move it); misses count 0 in the "
        "honest denominator",
)
def doc_retrieval_mrr(spark, sf_dir):
    from .operators.retrieval import origin_retrieval_eval

    return origin_retrieval_eval(load_table(spark, sf_dir, "documents"),
                                 k=10, every=17, offset=3)
