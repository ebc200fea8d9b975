"""Text analysis operators: tokens, quality, language-ID, fingerprints.

North-star extension: per-document scoring a training-data pipeline
runs over every document. Everything is a narrow map of JVM Column
expressions — no shuffle, no Python — so these pipelines stream at
parquet-scan speed regardless of corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SPAN_K = 20  # chars per gram of char_span_flags
SPAN_W = 8  # winnowing window of char_span_flags
DECONTAM_N = 8  # words per decontamination n-gram
NOVELTY_N = 3  # words per novelty n-gram
REPEAT_SPAN_N = 8  # words per repeated-span n-gram
REPEAT_MIN_DOCS = 2  # distinct documents that make a span repeated
NGRAM_MIN_COUNT = 2  # occurrences ngram_count_table keeps
BOILERPLATE_MIN_DOCS = 3  # distinct documents that make an n-gram boilerplate
WINNOW_K = 4  # words per gram of winnow_fingerprints
WINNOW_W = 5  # winnowing window of winnow_fingerprints
TFIDF_K = 3  # terms tfidf_top_terms keeps per document
PMI_MIN_COUNT = 5  # support floor of a PMI collocation
PMI_K = 20  # collocations pmi_collocations returns
RAKE_K = 3  # keyphrases rake_keyphrases keeps per document
K_ANONYMITY = 5  # smallest equivalence class that is not at risk
COMPLETION_WORDS = 2  # words per prefix_completions completion
COMPLETION_PREFIX_LEN = 3  # chars per prefix_completions prefix
COMPLETION_K = 3  # completions kept per prefix

# Tiny per-language stopword profiles for the heuristic detector.
# Deliberately small + hard-coded: language ID at scale wants a real
# model; this is the expression-only heuristic tier (SQL-expressible,
# so the oracle can state it too).
STOPWORD_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "y", "es", "los"),
}


def _words(col: Column) -> Column:
    from .util import lowered_words

    return lowered_words(col)


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars_text, avg_token_len)."""
    words = _words(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        F.size(words).alias("n_tokens"),
        F.length("text").alias("n_chars_text"),
        F.round(F.length(F.concat_ws("", words))
                / F.greatest(F.size(words), F.lit(1)), 4)
        .alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality signals + composite score per document.

    Signals: length band, punctuation density, digit density, token
    repetition (distinct/total). The composite is a transparent
    weighted sum in [0,1] — a placeholder for a learned scorer, but
    the *plumbing* (full-corpus narrow map) is the real thing.
    """
    t = F.col("text")
    n = F.greatest(F.length(t), F.lit(1))
    words = _words(t)
    punct = (F.length(t)
             - F.length(F.regexp_replace(t, "[.,!?;:]", ""))) / n
    digits = (F.length(t)
              - F.length(F.regexp_replace(t, "[0-9]", ""))) / n
    rep = F.size(F.array_distinct(words)) \
        / F.greatest(F.size(words), F.lit(1))
    length_ok = F.when((F.length(t) >= 100) & (F.length(t) <= 20000), 1.0) \
        .otherwise(0.5)
    score = (0.4 * length_ok + 0.3 * rep
             + 0.2 * (1 - F.least(punct * 10, F.lit(1.0)))
             + 0.1 * (1 - F.least(digits * 10, F.lit(1.0))))
    return docs.select(
        F.col("doc_id"),
        F.round(punct, 6).alias("punct_ratio"),
        F.round(digits, 6).alias("digit_ratio"),
        F.round(rep, 6).alias("distinct_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def detect_language(docs: DataFrame) -> DataFrame:
    """Stopword-profile language ID → (doc_id, detected_lang, hits).

    Counts distinct profile stopwords present per language; argmax
    with lexicographic tie-break, 'und' (undetermined) when no
    profile matches at all. Pure expressions → runs at scan speed and
    has an exact SQL oracle.
    """
    words = F.array_distinct(_words(F.col("text")))
    hit_cols = {
        lang: F.size(F.array_intersect(
            words, F.array(*[F.lit(w) for w in profile])))
        for lang, profile in STOPWORD_PROFILES.items()
    }
    # argmax via array_max over (hits, reversed-lang) structs: struct
    # comparison is lexicographic, so max hits wins and ties pick the
    # alphabetically-first language deterministically.
    langs = sorted(hit_cols)  # stable order
    best = F.array_max(F.array(*[
        F.struct(hit_cols[lang].alias("hits"),
                 F.lit(-i).alias("prio"),
                 F.lit(lang).alias("lang"))
        for i, lang in enumerate(langs)
    ]))
    return docs.select(
        F.col("doc_id"),
        F.when(best.hits > 0, best.lang).otherwise("und")
        .alias("detected_lang"),
        best.hits.alias("hits"),
    )


def tfidf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-k TF-IDF terms per document → (doc_id, term, tf, df, tfidf, rank).

    Classic corpus weighting a training-data pipeline uses for keyword
    extraction and topic balance. Two aggregates + one join, all on
    shuffle-friendly keys:

    * ``tf``: one hash aggregate on (doc_id, term) — the exploded token
      stream never materializes per-document vectors;
    * ``df``: derived from the *already aggregated* tf table (one row
      per (doc, term)), so document frequency costs a second small
      aggregate on term, not a rescan of the corpus;
    * join tf↔df on ``term`` — at corpus scale the vocabulary side is
      Zipf-skewed but small relative to the token stream; AQE picks
      broadcast when it fits, plain hash join otherwise.

    The corpus size N is a single bounded driver scalar (``count()``),
    the same bounded-action pattern as ``frequent_users_exact``.
    idf = ln((N+1)/(df+1)) (smoothed); ranking is on the *unrounded*
    score with term as tie-break, so the reported rank is stable under
    output rounding.
    """
    # NOTE: no ensure_fanout here — measured at sf0.1, the single-word
    # explode is cheap enough that the extra repartition stage costs
    # more than the parallelism buys (0.93 s → 1.44 s); the n-gram
    # concat explode in _ngram_pairs is the shape that needs it
    words = _words(F.col("text"))
    n_docs = docs.count()
    tf = (docs.select(F.col("doc_id"), F.explode(words).alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.col("tf") * F.log((F.lit(n_docs) + 1.0) / (F.col("df") + 1.0))
    w = Window.partitionBy("doc_id").orderBy(score.desc(), F.col("term"))
    return (tf.join(df, "term")
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= TFIDF_K)
            .select("doc_id", "term", "tf", "df",
                    F.round(score, 6).alias("tfidf"), "rank"))


def token_chunks(docs: DataFrame, size: int = 64,
                 stride: int = 48) -> DataFrame:
    """Overlapping fixed-size token windows → (doc_id, chunk_id,
    n_chunk_tokens, chunk_text).

    The chunking step of a training pipeline (context windows with
    overlap). Chunk i covers tokens [i·stride, i·stride + size);
    the number of chunks is 1 + ⌈max(n−size, 0)/stride⌉, so every
    token lands in ≥1 chunk and the final partial chunk is kept.
    Zero-token documents produce no chunks.

    Pure JVM expressions (split → sequence → explode → slice): a
    narrow map plus one explode, no shuffle — chunking streams at
    parquet-scan speed and parallelizes over input splits. Token =
    non-empty segment of a single-space split; original case kept.
    """
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    toked = docs.select(F.col("doc_id"), words.alias("_w"),
                        F.size(words).alias("_n")).where(F.col("_n") > 0)
    n_last = F.ceil(F.greatest(F.col("_n") - size, F.lit(0)) / stride) \
        .cast("int")
    chunk = toked.select(
        "doc_id", "_w",
        F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_id"))
    piece = F.slice(F.col("_w"), F.col("chunk_id") * stride + 1, size)
    return chunk.select(
        "doc_id", "chunk_id",
        F.size(piece).alias("n_chunk_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    )


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Repetition quality signals → (doc_id, n_tokens, top_token_frac,
    dup_bigram_frac).

    The boilerplate/degenerate-text detectors a corpus-cleaning
    pipeline runs alongside ``quality_scores`` (the C4/Gopher-style
    repetition rules): the fraction of tokens that are the single most
    frequent token, and the fraction of adjacent word bigrams that are
    repeats of an earlier bigram in the same document. High values
    flag keyword-stuffed, template, or looping text.

    Shape: ONE shuffle of the compact documents (repartition on
    doc_id) and nothing else — HashPartitioning(doc_id) satisfies both
    downstream aggregates' clustering ((doc_id, word) then doc_id), so
    the exploded token stream is never shuffled, and the narrow
    signals ride through the aggregates as grouping-constant first()
    values instead of a join (asserted in tests/test_plans.py). Skew
    is bounded by document length. Documents with <1 token score 0 on
    both; with <2 tokens, 0 on bigrams.
    """
    base = docs.select(F.col("doc_id"), F.col("text")) \
        .repartition(F.col("doc_id"))
    words = _words(F.col("text"))
    from .dedup import _shifted_gram_zip

    # CASE WHEN guards the <2-token branch (ANSI mode); the zip form
    # evaluates the words expression per ROW, never per element (the
    # r12 shingling root-cause)
    bigrams = F.when(F.size(words) >= 2, F.transform(
        _shifted_gram_zip(words, 2),
        lambda x: F.concat_ws(" ", x["0"], x["1"]))
    ).otherwise(F.array().cast("array<string>"))
    n_bg = F.greatest(F.size(words) - 1, F.lit(0))
    dup_bg = F.when(
        F.size(words) >= 2,
        (n_bg - F.size(F.array_distinct(bigrams))) / n_bg
    ).otherwise(0.0)
    # explode_outer + count(w): empty documents keep their row (c=0 →
    # top_token_frac 0) without the size>0 filter a plain explode
    # implies, so no second scan or join is ever needed
    ex = base.select(F.col("doc_id"), F.size(words).alias("n_tokens"),
                     F.round(dup_bg, 6).alias("dup_bigram_frac"),
                     F.explode_outer(words).alias("w"))
    return (ex.groupBy("doc_id", "w")
            .agg(F.count("w").alias("c"),
                 F.first("n_tokens").alias("n_tokens"),
                 F.first("dup_bigram_frac").alias("dup_bigram_frac"))
            .groupBy("doc_id")
            .agg(F.max("c").alias("top_c"),
                 F.first("n_tokens").alias("n_tokens"),
                 F.first("dup_bigram_frac").alias("dup_bigram_frac"))
            .select("doc_id", "n_tokens",
                    F.round(F.col("top_c")
                            / F.greatest("n_tokens", F.lit(1)), 6)
                    .alias("top_token_frac"),
                    "dup_bigram_frac"))


def content_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, md5 fingerprint of normalized text, crc32, length).

    The exact-dedup key, exposed as a standalone fingerprinting op.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), " +", " ")
    return docs.select(
        F.col("doc_id"),
        F.md5(norm).alias("fingerprint"),
        F.crc32(norm).alias("crc"),
        F.length(norm).alias("norm_len"),
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-document Shannon entropy of the word distribution →
    (doc_id, n_tokens, token_entropy) in nats.

    The diversity counterpart of ``repetition_scores``: keyword
    stuffing, template loops and single-token spam collapse entropy
    toward 0 while natural prose sits near ln(distinct words) — the
    Gopher-family repetition rules use exactly this signal. Computed
    as ``ln(n) − Σ c·ln(c) / n`` over the per-word counts, so no
    per-term division and one fewer rounding site.

    Shape: same single doc-keyed exchange as ``repetition_scores`` —
    repartition the compact documents, explode, (doc, word) count,
    doc-level fold; the token stream itself is never shuffled. Empty
    documents score 0.
    """
    base = docs.select(F.col("doc_id"), F.col("text")) \
        .repartition(F.col("doc_id"))
    words = _words(F.lower(F.col("text")))
    ex = base.select(F.col("doc_id"), F.size(words).alias("n_tokens"),
                     F.explode_outer(words).alias("w"))
    return (ex.groupBy("doc_id", "w")
            .agg(F.count("w").alias("c"),
                 F.first("n_tokens").alias("n_tokens"))
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.log(F.col("c"))).alias("_clc"),
                 F.first("n_tokens").alias("n_tokens"))
            .select("doc_id", "n_tokens",
                    F.round(F.when(F.col("n_tokens") > 0,
                                   F.log("n_tokens")
                                   - F.col("_clc") / F.col("n_tokens"))
                            .otherwise(0.0), 6).alias("token_entropy")))


def winnow_fingerprints(docs: DataFrame,
                        keep_selection: bool = False) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003, SIGMOD — the MOSS algorithm): hash every word
    ``WINNOW_K``-gram, slide a window of ``WINNOW_W`` consecutive
    hashes, keep each window's MINIMUM — the selected set is a
    position-independent fingerprint with the guarantee that any shared
    run of ≥ WINNOW_W+WINNOW_K-1 words between two documents shares at
    least one selected hash.

    Output: (doc_id, n_grams, n_selected, fp_set_md5) where
    ``fp_set_md5`` hashes the sorted distinct selected-hash set —
    overlap detection joins on exploded selected hashes; the set
    digest is the compact equality face.

    Engine-portable determinism: gram hash = first 16 hex chars of
    md5 of the space-joined gram, compared lexicographically (string
    min), so any md5-bearing engine selects identical sets. Value-only
    selection (no tie positions) sidesteps the rightmost-min tie rule.

    Scale shape: one narrow higher-order-function map — grams,
    hashes, window minima and the distinct set all stay inside ONE
    projection on the line array; no explode, no shuffle, no Python.
    """
    k, w = WINNOW_K, WINNOW_W
    empty = F.array().cast("array<string>")
    words = F.filter(F.split(F.col("text"), " "),
                     lambda x: x != F.lit(""))
    n = F.size(words)
    # sequence(1, 0) DESCENDS in Spark — guard the too-short cases to
    # an explicit empty array instead
    from .dedup import _shifted_gram_zip

    # zip forms throughout: slicing a COMPUTED array inside a
    # transform lambda re-evaluates it per element (SCALING
    # root-cause 6) — the window minimum over grams was re-running
    # the whole md5 gram build once per WINDOW
    grams = F.when(n >= k, F.transform(
        _shifted_gram_zip(words, k),
        lambda x: F.substring(
            F.md5(F.concat_ws(" ", *[x[str(j)] for j in range(k)])),
            1, 16))) \
        .otherwise(empty)
    n_grams = F.size(grams)
    # docs with fewer than w grams still fingerprint: one window over
    # everything (so any ≥ k-word document has ≥ 1 selected hash);
    # sliding min = element-wise least over w shifted gram slices
    sel = F.when(n_grams >= w, F.array_distinct(F.transform(
        _shifted_gram_zip(grams, w),
        lambda x: F.least(*[x[str(j)] for j in range(w)])))) \
        .when(n_grams >= 1, F.array(F.array_min(grams))) \
        .otherwise(empty)
    base = (docs
            .withColumn("_g", grams)
            .withColumn("_s", F.array_sort(sel))
            .select(F.col("doc_id"),
                    F.size("_g").alias("n_grams"),
                    F.size("_s").alias("n_selected"),
                    F.md5(F.array_join("_s", ",")).alias("fp_set_md5"),
                    F.col("_s").alias("selected")))
    return base if keep_selection else base.drop("selected")


def winnow_overlap_pairs(docs: DataFrame) -> DataFrame:
    """Document-overlap candidates from winnowed fingerprints — the
    MOSS comparison step: explode each document's selected hashes into
    an inverted index, equi-join on the hash, and score each pair by
    shared-fingerprint count and resemblance
    ``n_shared / (|A| + |B| - n_shared)``.

    The join is keyed by fingerprint hash, never a document pair —
    cost is Σ df(h)² over the selected hashes, the inverted-index
    shape that survives corpus scale.
    """
    s = winnow_fingerprints(docs, keep_selection=True)
    ex = s.select(F.col("doc_id"), F.col("n_selected"),
                  F.explode("selected").alias("_h"))
    a = ex.select(F.col("doc_id").alias("id_a"),
                  F.col("n_selected").alias("_na"), "_h")
    b = ex.select(F.col("doc_id").alias("id_b"),
                  F.col("n_selected").alias("_nb"), "_h")
    return (a.join(b, ["_h"])
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "_na", "_nb")
            .agg(F.count("*").alias("n_shared"))
            .where(F.col("n_shared") >= 1)
            .select("id_a", "id_b", F.col("n_shared").cast("int")
                    .alias("n_shared"),
                    F.round(F.col("n_shared")
                            / (F.col("_na") + F.col("_nb")
                               - F.col("n_shared")), 6)
                    .alias("resemblance")))


def char_span_flags(docs: DataFrame) -> DataFrame:
    """Repeated-substring flags at CHARACTER granularity → (doc_id,
    n_grams, n_selected, n_flagged, flag_frac): winnow-select char
    ``SPAN_K``-gram hashes per document, mine the selected hashes
    shared by ≥ 2 distinct documents, and report per doc how much of
    its selected fingerprint is corpus-repeated.

    Closes the gap the word-8-gram faces can't see: sub-word
    repetition with no usable token boundaries — minified JS, base64
    blobs, URL-encoded payloads — where "words" are hundreds of chars
    long so word-gram mining is blind. A suffix array (the Lee et al.
    2022 ExactSubstr machinery) finds such repeats exactly but doesn't
    distribute; char-gram fingerprinting rides the same
    inverted-index shape as every dedup face here.

    Deliberate design point: selection is WINNOWING (window-``SPAN_W``
    minima over the stride-1 hash sequence, Schleimer et al. 2003),
    NOT stride-``SPAN_W`` sampling. Strided windows only match when two
    copies of a blob land at offsets congruent mod the stride —
    misaligned copies (the common case) go undetected. Winnowing's
    minima are content-defined, so the guarantee is
    alignment-independent: any shared run of ≥ SPAN_W+SPAN_K-1 (27)
    chars co-selects at least one hash in both documents. Cost is the
    same ~2/(SPAN_W+1) row-reduction a stride would buy.

    The per-position fingerprint is a DOUBLE POLYNOMIAL hash over the
    char code points — two independent Rabin-Karp hashes mod the
    Mersenne-ish primes 2³¹−1 / 2147483629 combined into one 62-bit
    long — integer arithmetic both engines (and numpy) reproduce
    EXACTLY, with 2⁻⁶² collision odds. Code points are byte-identical
    across engines for ASCII and the whole BMP (astral-plane
    surrogate handling differs; web-corpus fingerprinting doesn't
    care).

    The hash+winnow step runs as a VECTORIZED ARROW KERNEL
    (``pandas_udf`` over numpy slides) — one of the engine's
    documented Python extension points (NFC, Gram, FFT), never
    row-at-a-time. This is a measured decision, not a convenience:
    per-character work is the one place Spark's relational layer has
    no fast form — higher-order functions evaluate INTERPRETED (no
    whole-stage codegen inside ``transform``/``aggregate``), and at
    sf0.1 the HOF forms cost 34 s (md5-per-substring) and 132 s
    (HOF-fold polynomial) vs ~1 s for the numpy kernel doing the
    identical integer arithmetic. The DuckDB oracle computes the same
    polynomial relationally, so the kernel's every output value stays
    value-checked.

    Scale shape: one narrow ArrowEvalPython projection per doc (no
    explode of positions, no shuffle); only the selected hash set
    (≈ 22 % of positions, 8-byte longs) explodes into the inverted
    index; the mined set rides an AQE-decided join back.
    ``flag_frac`` is n_flagged/n_selected rounded to 6, the
    blob-share signal a filter gates on.
    """
    from .util import ensure_fanout

    B1, M1 = 257, 2147483647
    B2, M2 = 263, 2147483629

    @F.pandas_udf("n_grams long, sel array<long>")
    def _winnow(texts: pd.Series) -> pd.DataFrame:
        import numpy as np
        from numpy.lib.stride_tricks import sliding_window_view

        out_n, out_sel = [], []
        for text in texts:
            if text is None or len(text) < SPAN_K:
                out_n.append(0)
                out_sel.append([])
                continue
            c = np.frombuffer(text.encode("utf-32-le"),
                              dtype=np.uint32).astype(np.int64)
            npos = len(c) - SPAN_K + 1
            h1 = np.zeros(npos, dtype=np.int64)
            h2 = np.zeros(npos, dtype=np.int64)
            for j in range(SPAN_K):
                cj = c[j:j + npos]
                h1 = (h1 * B1 + cj) % M1
                h2 = (h2 * B2 + cj) % M2
            g = h1 * 2_147_483_648 + h2
            if npos >= SPAN_W:
                sel = np.unique(
                    sliding_window_view(g, SPAN_W).min(axis=1))
            else:
                sel = g.min(keepdims=True)
            out_n.append(npos)
            out_sel.append(sel.tolist())
        return pd.DataFrame({"n_grams": out_n, "sel": out_sel})

    base = (ensure_fanout(docs)
            .withColumn("_wn", _winnow(F.col("text")))
            .select(F.col("doc_id"),
                    F.col("_wn.n_grams").alias("n_grams"),
                    F.col("_wn.sel").alias("_sel"))
            .localCheckpoint(eager=True))
    pos = base.select(F.col("doc_id"), F.explode("_sel").alias("_h"))
    # _sel is distinct within a doc, so count(*) IS the distinct-doc
    # count — no count_distinct shuffle needed
    mined = (pos.groupBy("_h").agg(F.count("*").alias("_nd"))
             .where(F.col("_nd") >= 2).select("_h"))
    flags = (pos.join(mined, "_h")
             .groupBy("doc_id")
             .agg(F.count("*").cast("long").alias("n_flagged")))
    n_sel = F.size("_sel").cast("long")
    return (base.join(flags, "doc_id", "left")
            .select(F.col("doc_id"), F.col("n_grams"),
                    n_sel.alias("n_selected"),
                    F.coalesce("n_flagged", F.lit(0)).cast("long")
                    .alias("n_flagged"),
                    F.when(n_sel > 0,
                           F.round(F.coalesce("n_flagged", F.lit(0))
                                   / n_sel, 6))
                    .otherwise(F.lit(0.0)).alias("flag_frac")))


PII_PATTERNS: dict[str, str] = {
    # identical semantics in Java regex (Spark) and RE2 (DuckDB):
    # character classes + bounded repetition only, no lookaround
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "urls": r"https?://[^ ]+",
}


def pii_scan(docs: DataFrame) -> DataFrame:
    """Per-document PII/contact surface scan → (doc_id, n_emails,
    n_urls, has_pii).

    The redaction-triage step of a training pipeline: count pattern
    hits per document so downstream stages can drop, redact, or route.
    Pure ``regexp_count`` expressions — a narrow map at scan speed —
    with patterns restricted to the regex subset Java and RE2 evaluate
    identically, so the scan is exactly SQL-oracle-checkable.
    """
    n_emails = F.regexp_count(F.col("text"),
                              F.lit(PII_PATTERNS["emails"]))
    n_urls = F.regexp_count(F.col("text"), F.lit(PII_PATTERNS["urls"]))
    return docs.select(
        F.col("doc_id"),
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        ((n_emails + n_urls) > 0).alias("has_pii"),
    )


def contamination_scan(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Benchmark decontamination: per-document count of word n-grams
    shared with ANY benchmark document → (doc_id, n_shared, contaminated).

    The eval-set contamination check a training pipeline runs before
    training: documents overlapping the benchmark in ≥1 long n-gram
    (``DECONTAM_N`` = 8, the common convention) are flagged for exclusion.

    Scale shape: the benchmark side reduces to its DISTINCT shingle set
    — eval suites are tiny next to a corpus — and is broadcast, so the
    check is a map-side semi-join over the exploded corpus shingles:
    no shuffle of corpus data at all. Corpus docs shorter than n words
    have no shingles and report 0.
    """
    from .dedup import word_shingles

    doc_sh = (word_shingles(docs.select("doc_id", "text"), n=DECONTAM_N)
              .select("doc_id", F.explode("shingles").alias("shingle")))
    bench_sh = (word_shingles(benchmark.select("text"), n=DECONTAM_N)
                .select(F.explode("shingles").alias("shingle"))
                .distinct())
    hits = (doc_sh.join(F.broadcast(bench_sh), "shingle", "left_semi")
            .groupBy("doc_id").agg(F.count("*").alias("n_shared")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                    (F.coalesce("n_shared", F.lit(0)) > 0)
                    .alias("contaminated")))


def _ngram_pairs(docs: DataFrame, n: int, text_col: str,
                 id_col: str) -> DataFrame:
    """(doc_id, ngram, c): occurrence counts of every word n-gram per
    document — the shared base table of the boilerplate ops. Narrow
    explode + ONE hash aggregate on (doc, ngram); at corpus scale this
    is the table to checkpoint once and feed both consumers."""
    from .dedup import _shifted_gram_zip

    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    grams = F.when(
        F.size(words) >= n,
        F.transform(_shifted_gram_zip(words, n),
                    lambda x: F.concat_ws(
                        " ", *[x[str(j)] for j in range(n)])),
    ).otherwise(F.array().cast("array<string>"))
    from .util import ensure_fanout

    # the ~n× gram explode is the expensive part; a sub-row-group
    # input (one split) would serialize it onto one core
    docs = ensure_fanout(docs)
    return (docs.select(F.col(id_col), F.explode(grams).alias("ngram"))
            .groupBy(id_col, "ngram").agg(F.count("*").alias("c")))


def boilerplate_ngrams(docs: DataFrame) -> DataFrame:
    """Corpus-wide repeated-n-gram mining → (ngram, n_docs, n_occ):
    every word ``REPEAT_SPAN_N``-gram appearing in at least
    ``BOILERPLATE_MIN_DOCS`` distinct
    documents — headers, footers, license blocks, navigation chrome —
    the map stage of repeated-paragraph removal (CCNet/RefinedWeb-style
    boilerplate cleaning; the cross-document sibling of the in-document
    ``repetition_scores``).

    Scale shape: the (doc, ngram) aggregate bounds the second shuffle
    to one row per distinct pair, and the output is threshold-pruned;
    raise ``BOILERPLATE_MIN_DOCS`` with corpus size so the mined set stays
    broadcastable for ``doc_boilerplate_share``.
    """
    return (_ngram_pairs(docs, REPEAT_SPAN_N, "text", "doc_id")
            .groupBy("ngram")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("c").cast("long").alias("n_occ"))
            .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS))


def doc_boilerplate_share(docs: DataFrame) -> DataFrame:
    """Per-document boilerplate exposure → (doc_id, n_ngrams,
    n_boiler, boiler_share): how much of a document's
    ``REPEAT_SPAN_N``-gram stream is corpus-level boilerplate (the
    ``boilerplate_ngrams`` set: n-grams in at least
    ``BOILERPLATE_MIN_DOCS`` distinct documents). The filter signal for
    dropping template-heavy pages before training; documents shorter
    than ``REPEAT_SPAN_N`` words report 0/0/0.

    Both consumers of the (doc, ngram) table — the mined boilerplate
    set and the per-doc exposure — read ONE materialization of it
    (``localCheckpoint``; Catalyst does not reuse the explode+aggregate
    subtree across branches, so without this the corpus is scanned and
    shuffled three times). The mined set left-joins back as a flag
    (AQE-broadcast, threshold-pruned) and one flagged aggregate
    produces totals and hits together.
    """
    pairs = _ngram_pairs(docs, REPEAT_SPAN_N, "text", "doc_id") \
        .localCheckpoint(eager=True)
    boiler = (pairs.groupBy("ngram").agg(F.count("*").alias("n_docs"))
              .where(F.col("n_docs") >= BOILERPLATE_MIN_DOCS)
              .select("ngram", F.lit(True).alias("_boiler")))
    per_doc = (pairs.join(boiler, "ngram", "left")
               .groupBy("doc_id")
               .agg(F.sum("c").alias("n_ngrams"),
                    F.sum(F.when(F.col("_boiler"), F.col("c"))
                          .otherwise(F.lit(0))).alias("n_boiler")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("n_ngrams", F.lit(0)).cast("long")
                    .alias("n_ngrams"),
                    F.coalesce("n_boiler", F.lit(0)).cast("long")
                    .alias("n_boiler"),
                    F.round(F.coalesce(F.col("n_boiler")
                                       / F.col("n_ngrams"), F.lit(0.0)), 6)
                    .alias("boiler_share")))


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII redaction → (doc_id, text) with emails/URLs replaced by
    [EMAIL]/[URL] placeholders — the acting sibling of ``pii_scan``,
    the same Java∩RE2 patterns, still a pure narrow map."""
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"),
                         PII_PATTERNS["emails"], "[EMAIL]"),
        PII_PATTERNS["urls"], "[URL]")
    return docs.select(F.col("doc_id"), redacted.alias("text"))


def remove_repeated_spans(docs: DataFrame,
                          n: int = REPEAT_SPAN_N) -> DataFrame:
    """Exact repeated-span REMOVAL → (doc_id, n_tokens, n_removed,
    clean_text): strip every token covered by a word n-gram that
    appears in ≥ ``REPEAT_MIN_DOCS`` distinct documents.

    The acting sibling of ``boilerplate_ngrams`` — the
    exact-substring-deduplication step of corpus cleaning (Lee et al.
    2022, "Deduplicating Training Data Makes Language Models Better",
    at word rather than BPE granularity). One deliberate semantic
    difference, stated plainly: Lee et al. keep ONE occurrence of each
    duplicated span; this operator removes ALL occurrences — the
    CCNet/RefinedWeb boilerplate-strip behavior, which is the right
    default when the repeated text is chrome (headers, license blocks)
    rather than quotation. Overlapping flagged spans merge naturally
    (a token is dropped if ANY flagged n-gram window covers it).

    Plan shape: the positioned (doc, start, gram) explode is
    materialized ONCE (fanout-guarded, the E52 localCheckpoint move)
    and feeds both consumers — the mined ≥ REPEAT_MIN_DOCS gram set (grouped
    on the gram, threshold-pruned, broadcast back) and the per-doc
    flagged-start list. Reconstruction is a narrow nested-HOF filter:
    keep word i unless some flagged start s has s ≤ i ≤ s+n-1; the
    inner probe is O(|flags per doc|), bounded by document length,
    never a corpus term. Short docs (< n words) pass through intact
    via the left join.
    """
    return _repeated_span_removal(docs, n, REPEAT_MIN_DOCS, "text",
                                  "doc_id", keep_first_owner=False)


def remove_repeated_spans_keepone(docs: DataFrame) -> DataFrame:
    """Exact repeated-span dedup, KEEP-ONE variant → (doc_id,
    n_tokens, n_removed, clean_text): for every word
    ``REPEAT_SPAN_N``-gram shared by ≥ ``REPEAT_MIN_DOCS`` distinct
    documents, the FIRST OWNER (minimum doc
    id — the same deterministic engine-wide election every survivor
    rule here uses) keeps its occurrences; every later document loses
    the covered tokens.

    This is the published ExactSubstr semantics of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): one
    copy of each duplicated span survives in the corpus, so quoted or
    licensed text still appears exactly once in training data —
    whereas :func:`remove_repeated_spans` strips ALL occurrences (the
    boilerplate-chrome default). Two stated edges: (a) occurrences
    repeated WITHIN the owner document are all kept (REPEAT_MIN_DOCS
    counts distinct documents — single-doc internal repetition is
    ``doc_repetition_scores``' business, not dedup's); (b) a token in
    a non-owner doc survives only if NO foreign-owned flagged gram
    covers it — a doc that owns gram A but not overlapping gram B
    still loses the tokens B covers.

    Plan shape is identical to the strip-all face (one materialized
    positioned-gram table feeding the mined set and the flag join);
    the only delta is that the mined aggregate also carries
    ``min(doc_id)`` as the owner and the flag join drops the owner's
    own rows before collecting starts — zero extra shuffles.
    """
    return _repeated_span_removal(docs, REPEAT_SPAN_N, REPEAT_MIN_DOCS,
                                  "text", "doc_id", keep_first_owner=True)


def _repeated_span_removal(docs: DataFrame, n: int, min_docs: int,
                           text_col: str, id_col: str,
                           keep_first_owner: bool) -> DataFrame:
    words = F.filter(F.split(F.col(text_col), " "), lambda w: w != "")
    from .util import ensure_fanout

    grams = F.when(
        F.size(words) >= n,
        F.transform(F.sequence(F.lit(1), F.size(words) - n + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(" ", F.slice(words, i, n))
                        .alias("gram"))),
    ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
    pos = (ensure_fanout(docs)
           .select(F.col(id_col), F.explode(grams).alias("_p"))
           .select(id_col, F.col("_p.start").alias("start"),
                   F.col("_p.gram").alias("gram"))
           .localCheckpoint(eager=True))

    # NO broadcast hint on the mined set: at min_docs=2 over a large
    # corpus it is unbounded (raise min_docs with corpus size, as in
    # boilerplate_ngrams) — AQE broadcasts when it actually fits and
    # falls back to a hash join when it doesn't, the same contract as
    # doc_boilerplate_share's flag join
    mined = (pos.groupBy("gram")
             .agg(F.count_distinct(F.col(id_col)).alias("_nd"),
                  F.min(F.col(id_col)).alias("_owner"))
             .where(F.col("_nd") >= min_docs)
             .select("gram", "_owner"))
    hits = pos.join(mined, "gram")
    if keep_first_owner:
        hits = hits.where(F.col(id_col) != F.col("_owner"))
    flagged = (hits.groupBy(id_col)
               .agg(F.array_sort(F.collect_set("start")).alias("_starts")))

    joined = docs.join(flagged, id_col, "left").withColumn("_w", words)
    starts = F.coalesce(F.col("_starts"),
                        F.array().cast("array<int>"))
    clean = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(starts,
                               lambda s: (s <= i + 1) & (i + 1 <= s + n - 1)))
    return (joined.select(
        F.col(id_col),
        F.size("_w").cast("long").alias("n_tokens"),
        (F.size("_w") - F.size(clean)).cast("long").alias("n_removed"),
        F.array_join(clean, " ").alias("clean_text")))


def decontaminate_spans(docs: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Span-level benchmark decontamination → (doc_id, n_tokens,
    n_removed, clean_text): strip every token covered by a word
    ``DECONTAM_N``-gram that appears ANYWHERE in the benchmark corpus.

    The surgical sibling of ``contamination_scan`` (doc-level FLAG,
    E27): instead of dropping a 50k-word document because one eval
    question leaked into it, remove exactly the overlapping spans and
    keep the rest — the standard trade when the corpus is too valuable
    to drop wholesale (GPT-3 appendix-C-style n-gram collision
    removal, window 0; compose with ``remove_repeated_spans`` first if
    cross-doc chrome should go too).

    Plan shape: benchmark n-grams are mined once (explode + distinct
    on the benchmark side only) and BROADCAST — eval suites are MBs,
    not TBs, so the hint is safe and pins the plan (unlike the
    unbounded mined set of ``remove_repeated_spans``, which is left to
    AQE). The corpus side is one positioned-gram explode feeding one
    broadcast-hash flag join and a narrow reconstruction — the corpus
    itself never shuffles. No materialization either: ``pos`` has a
    single consumer here, unlike the two-branch repeated-span plan.
    """
    from .util import ensure_fanout

    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    grams = F.when(
        F.size(words) >= DECONTAM_N,
        F.transform(F.sequence(F.lit(1),
                               F.size(words) - DECONTAM_N + 1),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.concat_ws(" ", F.slice(words, i, DECONTAM_N))
                        .alias("gram"))),
    ).otherwise(F.array().cast("array<struct<start:int,gram:string>>"))
    pos = (ensure_fanout(docs)
           .select(F.col("doc_id"), F.explode(grams).alias("_p"))
           .select("doc_id", F.col("_p.start").alias("start"),
                   F.col("_p.gram").alias("gram")))

    from .dedup import _shifted_gram_zip as _sgz

    bwords = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    bgrams = F.when(
        F.size(bwords) >= DECONTAM_N,
        F.transform(_sgz(bwords, DECONTAM_N),
                    lambda x: F.concat_ws(
                        " ", *[x[str(j)] for j in range(DECONTAM_N)])),
    ).otherwise(F.array().cast("array<string>"))
    bench_grams = (benchmark.select(F.explode(bgrams).alias("gram"))
                   .distinct())

    flagged = (pos.join(F.broadcast(bench_grams), "gram")
               .groupBy("doc_id")
               .agg(F.array_sort(F.collect_set("start")).alias("_starts")))
    joined = docs.join(flagged, "doc_id", "left").withColumn("_w", words)
    starts = F.coalesce(F.col("_starts"),
                        F.array().cast("array<int>"))
    clean = F.filter(
        F.col("_w"),
        lambda w, i: ~F.exists(
            starts, lambda s: (s <= i + 1) & (i + 1 <= s + DECONTAM_N - 1)))
    return (joined.select(
        F.col("doc_id"),
        F.size("_w").cast("long").alias("n_tokens"),
        (F.size("_w") - F.size(clean)).cast("long").alias("n_removed"),
        F.array_join(clean, " ").alias("clean_text")))


# Luhn checksum of a digit string, as a SQL-expression template shared
# verbatim (modulo the sum primitive) by the Spark face and the DuckDB
# oracle: position i counts 1-based from the RIGHT, even positions are
# doubled with a digit-sum fold. Restricted to arithmetic + substring
# so both engines evaluate it identically.
_LUHN_TERM = (
    "(CASE WHEN {i} % 2 = 0 THEN "
    "(CASE WHEN 2 * CAST(substring({x}, length({x}) - {i} + 1, 1) AS INT)"
    " > 9 THEN 2 * CAST(substring({x}, length({x}) - {i} + 1, 1) AS INT)"
    " - 9 ELSE 2 * CAST(substring({x}, length({x}) - {i} + 1, 1) AS INT)"
    " END) ELSE CAST(substring({x}, length({x}) - {i} + 1, 1) AS INT)"
    " END)")


def luhn_valid_sql(x: str, engine: str = "spark") -> str:
    """Boolean SQL text: does digit-string expression ``x`` pass the
    Luhn checksum? ``engine`` picks the array-sum primitive
    (``aggregate`` fold in Spark, ``list_sum(list_transform(...))`` in
    DuckDB); the per-digit term is the SAME template, so the two faces
    cannot drift."""
    term = _LUHN_TERM.format(x=x, i="i")
    if engine == "spark":
        return (f"(aggregate(sequence(1, length({x})), 0, "
                f"(acc, i) -> acc + {term}) % 10 = 0)")
    if engine == "duckdb":
        return (f"(list_sum(list_transform(range(1, length({x}) + 1), "
                f"i -> {term})) % 10 = 0)")
    raise ValueError(f"engine must be 'spark' or 'duckdb', got {engine!r}")


def payment_pii_scan(docs: DataFrame) -> DataFrame:
    """Payment-card PII scan → (doc_id, n_card_candidates,
    n_luhn_valid, has_payment_pii): contiguous 13-19-digit runs are
    candidates; a candidate passing the Luhn checksum counts as a
    probable card number (the validation step that separates card
    redaction from scrubbing every long number — order ids, EANs and
    timestamps fail Luhn 90% of the time).

    Next to ``pii_scan`` (emails/urls): same narrow-map shape, pure
    ``regexp_extract_all`` + an arithmetic fold per candidate, no
    shuffle, exactly oracle-checkable (the regex stays inside the
    Java≡RE2 subset — no lookaround, so a >19-digit run contributes
    its greedy 19-digit prefix identically in both engines; runs are
    CONTIGUOUS digits, separator-formatted numbers are a
    normalization-pass concern upstream).
    """
    # group index 0 (whole match) explicitly: Spark's default is group
    # 1, which errors on a group-less pattern (DuckDB defaults to 0)
    cands = F.expr("regexp_extract_all(text, '[0-9]{13,19}', 0)")
    valid = F.expr(
        "size(filter(regexp_extract_all(text, '[0-9]{13,19}', 0), "
        f"x -> {luhn_valid_sql('x', 'spark')}))")
    return docs.select(
        F.col("doc_id"),
        F.size(cands).cast("long").alias("n_card_candidates"),
        valid.cast("long").alias("n_luhn_valid"),
        (valid > 0).alias("has_payment_pii"),
    )


def sentence_pack_chunks(docs: DataFrame, max_tokens: int = 64) -> DataFrame:
    """Sentence-boundary greedy chunking -> (doc_id, chunk_id,
    n_sentences, n_chunk_tokens, chunk_text): pack CONSECUTIVE
    sentences into chunks of at most ``max_tokens`` words, starting a
    new chunk when the next sentence would overflow — the
    retrieval/RAG chunking discipline, where splitting mid-sentence
    costs answer quality, next to ``token_chunks``' fixed-stride
    windows.

    Sentences follow the engine's convention (``doc_sentences_udtf``):
    non-empty trimmed segments of a '.'-split. A single sentence
    longer than ``max_tokens`` gets its own (oversized) chunk — greedy
    packing never splits a sentence. Chunk text rejoins sentences with
    a single space (terminal periods are split artifacts, as in the
    UDTF face).

    Shape: the greedy reset is a per-document ``aggregate`` fold over
    the sentence array — sequential BY NATURE (each break depends on
    the running length), but sequential per DOCUMENT, evaluated as a
    narrow JVM expression with no shuffle; the only exchange is the
    final (doc, chunk) group. The oracle states the same fold as a
    linear recursive CTE, so the operator stays fully value-checked.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    nt = "size(filter(split({s}, ' '), w -> w <> ''))"
    fold = (
        "aggregate(_sents, "
        "struct(cast(0 as int) as len, cast(0 as int) as cid, "
        "cast(array() as array<int>) as asg), "
        "(acc, s) -> CASE WHEN acc.len > 0 AND acc.len + {nt} > {mx} "
        "THEN struct(cast({nt} as int) as len, "
        "cast(acc.cid + 1 as int) as cid, "
        "concat(acc.asg, array(cast(acc.cid + 1 as int))) as asg) "
        "ELSE struct(cast(acc.len + {nt} as int) as len, "
        "acc.cid as cid, "
        "concat(acc.asg, array(acc.cid)) as asg) END).asg"
    ).format(nt=nt.format(s="s"), mx=max_tokens)
    sents = F.expr("filter(transform(split(text, '[.]'), "
                   f"s -> trim(s)), s -> s <> '')")
    base = (docs.select(F.col("doc_id"), sents.alias("_sents"))
            .where(F.size("_sents") > 0)
            .withColumn("_asg", F.expr(fold)))
    z = F.arrays_zip(F.col("_sents"), F.col("_asg"))
    ex = (base.select(F.col("doc_id"), F.posexplode(z).alias("pos", "z"))
          .select(F.col("doc_id"), "pos",
                  F.col("z._sents").alias("_sent"),
                  F.col("z._asg").alias("chunk_id")))
    sent_nt = F.expr(nt.format(s="_sent"))
    return (ex.groupBy("doc_id", "chunk_id")
            .agg(F.count("*").cast("long").alias("n_sentences"),
                 F.sum(sent_nt).cast("long").alias("n_chunk_tokens"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("pos", "_sent"))),
                         lambda s: s["_sent"]), " ")
                 .alias("chunk_text"))
            .select("doc_id", F.col("chunk_id").cast("int").alias("chunk_id"),
                    "n_sentences", "n_chunk_tokens", "chunk_text"))


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Top-k PMI collocations -> (w1, w2, pair_count, pmi, rank): the
    adjacent-bigram pairs whose pointwise mutual information
    ``ln(p(x,y) / (p(x)·p(y)))`` is highest, with a ``PMI_MIN_COUNT``
    support floor — the collocation-mining step behind multi-word
    vocabulary entries ("new york"-style merges), tokenizer merge
    candidates beyond character BPE, and phrase-aware indexing.

    p(x,y) = c_xy / P over adjacent LOWERED word pairs, p(x) = c_x / T
    over tokens. The support floor matters: without it, two hapax
    words adjacent once score the maximal PMI — the classic
    rare-event pathology.

    Scale shape: one bigram-concat explode (fanout-guarded, the
    E52/E65 pattern) into ONE pair aggregate; unigram counts and the
    two 1-row totals come from vocab-scale aggregates broadcast back;
    ranking on the 6-dp-ROUNDED score with (w1, w2) tiebreak, so a
    last-ulp ln() difference can never flip the k boundary; top-k is
    a LIMIT (TakeOrderedAndProject), never a single-reducer window.
    """
    from .util import ensure_fanout, lowered_words

    from .dedup import _shifted_gram_zip

    words = lowered_words("text")
    grams = F.when(
        F.size(words) >= 2,
        F.transform(_shifted_gram_zip(words, 2),
                    lambda x: F.concat_ws(" ", x["0"], x["1"])),
    ).otherwise(F.array().cast("array<string>"))
    base = ensure_fanout(docs)
    pairs = (base.select(F.explode(grams).alias("pair"))
             .groupBy("pair").agg(F.count("*").alias("pair_count"))
             .where(F.col("pair_count") >= PMI_MIN_COUNT))
    uni = (base.select(F.explode(words).alias("w"))
           .groupBy("w").agg(F.count("*").alias("c")))
    tot = uni.agg(F.sum("c").alias("_t"))
    # P = total adjacent pairs BEFORE the support floor: sum over docs
    # of max(n_tokens - 1, 0) — a 1-row aggregate off the corpus
    p_tot = base.select(
        F.greatest(F.size(words) - 1, F.lit(0)).alias("_np")) \
        .agg(F.sum("_np").alias("_p"))
    split = F.split(F.col("pair"), " ")
    scored = (pairs
              .withColumn("w1", split.getItem(0))
              .withColumn("w2", split.getItem(1))
              .join(F.broadcast(uni.select(F.col("w").alias("w1"),
                                           F.col("c").alias("_c1"))), "w1")
              .join(F.broadcast(uni.select(F.col("w").alias("w2"),
                                           F.col("c").alias("_c2"))), "w2")
              .crossJoin(F.broadcast(tot))
              .crossJoin(F.broadcast(p_tot))
              .withColumn(
                  "pmi",
                  F.round(F.log((F.col("pair_count") / F.col("_p"))
                                / ((F.col("_c1") / F.col("_t"))
                                   * (F.col("_c2") / F.col("_t")))), 6)))
    return (scored.orderBy(F.col("pmi").desc(), "w1", "w2")
            .limit(PMI_K)
            .select("w1", "w2",
                    F.col("pair_count").cast("long").alias("pair_count"),
                    "pmi")
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.col("pmi").desc(), "w1", "w2"))))


def zipf_fit(docs: DataFrame) -> DataFrame:
    """Per-group Zipf-law fit: OLS of ln(frequency) on ln(rank) over
    the group's word-frequency table → ``zipf_slope`` (Zipf predicts
    ≈ −1 for natural language), ``zipf_intercept``, ``zipf_r2``, plus
    ``n_vocab`` / ``n_tokens``.

    The classic corpus-health diagnostic: machine-generated or
    keyword-stuffed slices bend the rank–frequency line (|slope| far
    from 1, low R²), and a curation pipeline wants that per SOURCE
    before mixing. Built on the engine-wide tokenizer
    (``util.lowered_words``) and the built-in ``regr_*`` aggregates —
    all JVM-side.

    Scale: one shuffle keyed (group, word) for the frequency table
    (vocabulary-scale output, not corpus-scale), a rank window
    PARTITIONED BY group over vocab-scale rows, and a tiny regr
    aggregate per group. No corpus-scale window, no single reducer.
    Ties rank deterministically (freq desc, word asc) — rank order
    affects the fit, so it is pinned.
    """
    from pyspark.sql import Window

    from .util import lowered_words

    freq = (docs
            .select(F.col("source").alias("grp"),
                    F.explode(lowered_words("text")).alias("w"))
            .groupBy("grp", "w").agg(F.count("*").alias("c")))
    ranked = freq.withColumn(
        "r", F.row_number().over(
            Window.partitionBy("grp")
            .orderBy(F.col("c").desc(), F.col("w"))))
    return (ranked
            .groupBy(F.col("grp").alias("source"))
            .agg(F.count("*").alias("n_vocab"),
                 F.sum("c").alias("n_tokens"),
                 F.round(F.regr_slope(F.log("c"), F.log("r")), 6)
                 .alias("zipf_slope"),
                 F.round(F.regr_intercept(F.log("c"), F.log("r")), 6)
                 .alias("zipf_intercept"),
                 F.round(F.regr_r2(F.log("c"), F.log("r")), 6)
                 .alias("zipf_r2")))


def source_overlap_matrix(docs: DataFrame, n: int = 8) -> DataFrame:
    """Directed cross-source n-gram containment matrix: for every
    ordered source pair (a, b), how many of a's DISTINCT word
    n-grams also occur in b, and the containment share
    ``n_common / |grams(a)|``.

    The slice-level contamination diagnostic: before mixing sources
    (or trusting a "held-out" slice), a pipeline wants to know how
    much of slice A is literally present in slice B — high
    containment means the slices are not independent (mirror sites,
    syndicated feeds, shared boilerplate). Doc-level overlap ops
    (``doc_overlap_pairs``, ``shingle_containment_pairs``) answer
    "which documents"; this answers "which SLICES", aggregated.

    Scale shape: the per-source distinct gram table bounds everything
    — one (source, gram) aggregate, then a gram-KEYED equi-join whose
    per-gram fanout is at most (#sources)², never doc-pairs, then a
    (src_a, src_b) aggregate of at most |sources|² rows. Reuses
    ``_ngram_pairs``'s fanout-guarded explode.
    """
    sg = (_ngram_pairs(docs.select("source", "text"), n, "text",
                       "source")
          .select(F.col("source"), "ngram"))
    sizes = sg.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams_a"))
    inter = (sg.select(F.col("source").alias("src_a"), "ngram")
             .join(sg.select(F.col("source").alias("src_b"), "ngram"),
                   "ngram")
             .where(F.col("src_a") != F.col("src_b"))
             .groupBy("src_a", "src_b")
             .agg(F.count("*").cast("long").alias("n_common")))
    return (inter.join(sizes.withColumnRenamed("source", "src_a"),
                       "src_a")
            .select("src_a", "src_b", "n_grams_a", "n_common",
                    F.round(F.col("n_common") / F.col("n_grams_a"), 6)
                    .alias("containment")))


def vocab_growth_curve(docs: DataFrame) -> DataFrame:
    """Heaps'-law vocabulary-growth curve: per group, walk documents
    in ``doc_id`` order and report after each one the cumulative
    token count and cumulative DISTINCT vocabulary → ``(group, id,
    n_words, cum_tokens, new_words, cum_vocab)``.

    Natural language grows vocabulary ≈ K·nᵝ (β ≈ 0.5); a slice
    whose curve flattens early is template/boilerplate spam, one that
    stays near-linear is ID-like noise — the companion diagnostic to
    :func:`zipf_fit` and the standard "is more data still adding new
    words" curation question.

    Scale shape: the vocabulary walk needs each word only at its
    FIRST occurrence — one (group, word) → min(id) aggregate
    (vocabulary-scale), re-aggregated to per-doc ``new_words``; both
    cumulative sums are windows PARTITIONED BY group ordered by id.
    No corpus-scale window, no explode survives past the two hash
    aggregates. Documents absent from a group's vocab table (empty
    text) still appear with ``new_words = 0``.
    """
    from pyspark.sql import Window

    from .util import lowered_words

    tok = docs.select(F.col("source").alias("grp"), F.col("doc_id"),
                      F.explode(lowered_words("text")).alias("w"))
    per_doc = (docs.select(F.col("source").alias("grp"), F.col("doc_id"),
                           F.size(lowered_words("text"))
                           .alias("n_words")))
    first_occ = (tok.groupBy("grp", "w")
                 .agg(F.min("doc_id").alias("first_id")))
    news = (first_occ.groupBy("grp", F.col("first_id").alias("doc_id"))
            .agg(F.count("*").alias("new_words")))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (per_doc.join(news, ["grp", "doc_id"], "left")
            .select(F.col("grp").alias("source"), "doc_id",
                    F.col("n_words").cast("long").alias("n_words"),
                    F.coalesce("new_words", F.lit(0)).cast("long")
                    .alias("new_words"))
            .withColumn("cum_tokens",
                        F.sum("n_words").over(w).cast("long"))
            .withColumn("cum_vocab",
                        F.sum("new_words").over(w).cast("long")))


def gram_novelty(docs: DataFrame) -> DataFrame:
    """Per-document n-gram novelty → ``(doc_id, n_grams, n_novel,
    novelty)``: the fraction of a document's distinct word n-grams
    whose corpus-wide FIRST owner (min id) is this document.

    The per-document strength signal behind dedup decisions: low
    novelty means the document is mostly re-statements of earlier
    content (template spam, syndication, near-dup tail that slipped
    the pairwise threshold); it is also the document-level
    "memorization exposure" proxy — how much of this doc the model
    has already seen elsewhere. Complements the pairwise faces (E74,
    E80) with a per-doc aggregate that needs no pair join.

    Scale shape: the inverted-index shape — explode to (doc, gram),
    one gram-keyed min aggregate (the owner election, deterministic
    under any partitioning), one gram-keyed equi-join back, one
    doc-keyed aggregate. Documents shorter than ``NOVELTY_N`` words have no
    grams and produce no row (same convention as the shingle CTE).
    The explode fans out POSITIONS and builds each gram after the
    Generate (with ``ensure_fanout`` on the scan): exploding a
    fully-built shingle array re-evaluates the heavy transform chain
    inside a one-task Generate on a small scan (measured 6 s → 0.6 s
    at sf0.1), and the shuffled rows are deduped per (doc, gram) to
    keep the distinct-shingle convention.
    """
    from .util import ensure_fanout

    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    t = (ensure_fanout(docs.select(F.col("doc_id"), words.alias("_w")))
         .where(F.size("_w") >= NOVELTY_N))
    sh = (t.select(
        F.col("doc_id"), F.col("_w"),
        F.explode(F.sequence(F.lit(0), F.size("_w") - NOVELTY_N))
        .alias("_i"))
        .select(F.col("doc_id"),
                F.concat_ws(" ",
                            F.slice("_w", F.col("_i") + 1, NOVELTY_N))
                .alias("gram"))
        .distinct())
    own = sh.groupBy("gram").agg(F.min("doc_id").alias("_owner"))
    novel = (F.col("_owner") == F.col("doc_id")).cast("int")
    return (sh.join(own, "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_grams"),
                 F.sum(novel).cast("long").alias("n_novel"),
                 F.round(F.sum(novel) / F.count("*"), 6)
                 .alias("novelty")))


def ngram_count_table(docs: DataFrame) -> DataFrame:
    """Pruned n-gram count table → ``(n, gram, cnt)`` for every word
    n-gram of order 1..3 occurring at least ``NGRAM_MIN_COUNT``
    times corpus-wide — the table a count-based LM (KenLM-style)
    or collocation miner trains from.

    Unlike the shingle faces this counts EVERY occurrence (an LM
    needs frequencies, not set membership). All orders ride ONE scan:
    per row, the order-k gram arrays are built as struct arrays and
    concatenated, so the corpus explodes once into (n, gram) and one
    hash aggregate (map-side combinable) produces the counts; the
    ``NGRAM_MIN_COUNT`` prune is what keeps the long tail (mostly
    hapax legomena, ~half the mass under Zipf) out of the output.
    """
    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))

    def gram_maker(k):
        # closure factory, NOT a default-arg lambda: pyspark treats a
        # 2-parameter lambda as (element, array_index) and would bind
        # k to the position (the documented minhash_signature trap)
        return lambda i: F.struct(
            F.lit(k).alias("n"),
            F.concat_ws(" ", F.slice(words, i + 1, k)).alias("gram"))

    arrs = []
    for k in range(1, 4):
        g = F.when(
            F.size(words) >= k,
            F.transform(F.sequence(F.lit(0), F.size(words) - k),
                        gram_maker(k))
        ).otherwise(F.array().cast(
            "array<struct<n:int,gram:string>>"))
        arrs.append(g)
    combined = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
    # fan the scan out first: the order-k transform chains evaluate
    # inside the Generate, and a sub-row-group parquet scan would run
    # that on one task (measured 5.8 s -> ~1 s at sf0.1)
    from .util import ensure_fanout

    return (ensure_fanout(docs.select(F.col("text")))
            .select(F.explode(combined).alias("g"))
            .select(F.col("g.n").cast("long").alias("n"),
                    F.col("g.gram").alias("gram"))
            .groupBy("n", "gram")
            .agg(F.count("*").cast("long").alias("cnt"))
            .where(F.col("cnt") >= NGRAM_MIN_COUNT))


def rake_keyphrases(docs: DataFrame, stopwords: list[str]) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) → top-``RAKE_K``
    ``(doc_id, phrase, n_words, score_milli, rank)`` per document.

    Candidate phrases are maximal runs of non-stopwords (the classic
    gaps-and-islands: phrase id = running count of stopwords before
    the position, one keyed window per doc). Each word is scored
    corpus-wide by degree/frequency — degree = Σ length of candidate
    phrases containing it, frequency = its occurrences in candidates —
    and a phrase scores the sum of its words' scores. Scores are kept
    in INTEGER MILLIS (``floor(degree·1000 / freq)`` per word, summed)
    so the ranking is exact integer arithmetic — a float sum's last
    ulp could flip a near-tie differently in different engines. Ties
    break on the phrase text.

    Scale shape (r15 array-grouped form): positional explode, ONE
    doc-keyed window (island id), then ONE ``(doc, pid)`` aggregate
    collecting each candidate's ordered word array — pinned, because
    everything else derives from it by exploding in place: members
    are ``explode(_ws)`` (the former members equi-join back to the
    token stream — a corpus-scale Exchange — is gone, guide §2.4),
    the vocabulary aggregate and the per-phrase score both ride that
    map, and phrase text/length are ``array_join``/``size`` column
    maps. Un-pinned, Catalyst re-planned the explode+window subtree
    once per consumer (10 parquet scans in the r15 before-plan;
    ReusedExchange shares only the exchange bytes, the window re-ran
    per copy). Interleaved min-of-6 A/B at sf0.1: 2.90 -> 2.47 s
    median, identical 14587-row output. The two-stage grouped top-k
    stays (never a per-doc reducer funnel); repeated phrase instances
    in one doc score and rank independently only once (distinct
    phrase per doc before the final rank).
    """
    from .grouped import grouped_topk

    sw = F.array(*[F.lit(s) for s in stopwords])
    w = (docs.select(
        F.col("doc_id"),
        F.posexplode(F.filter(F.split(F.col("text"), " "),
                              lambda x: x != F.lit("")))
        .alias("i", "word"))
        .withColumn("is_stop", F.array_contains(sw, F.col("word"))))
    run = (Window.partitionBy("doc_id").orderBy("i")
           .rowsBetween(Window.unboundedPreceding, 0))
    w = w.withColumn("pid", F.sum(F.col("is_stop").cast("int")).over(run))
    cand = (w.where(~F.col("is_stop"))
            .groupBy("doc_id", "pid")
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct("i", "word"))),
                lambda s: s.word).alias("_ws"))
            .localCheckpoint(eager=True))
    # corpus-wide word stats over candidate members — an in-place
    # explode of the pinned arrays, not a join back to the token
    # stream
    mem = cand.select(F.col("doc_id"), "pid",
                      F.size("_ws").cast("long").alias("n_words"),
                      F.explode("_ws").alias("word"))
    wstats = (mem.groupBy("word")
              .agg(F.count("*").alias("_freq"),
                   F.sum("n_words").alias("_deg")))
    wm = wstats.withColumn(
        "_milli", F.floor(F.col("_deg") * 1000 / F.col("_freq"))
        .cast("long"))
    scored = (mem.join(wm.select("word", "_milli"), "word")
              .groupBy("doc_id", "pid")
              .agg(F.sum("_milli").cast("long").alias("score_milli")))
    phrases = (cand.select(F.col("doc_id"), "pid",
                           F.array_join("_ws", " ").alias("phrase"),
                           F.size("_ws").cast("long").alias("n_words"))
               .join(scored, ["doc_id", "pid"])
               .select("doc_id", "phrase", "n_words", "score_milli")
               .distinct())
    return grouped_topk(phrases, ["doc_id"],
                        [F.col("score_milli").desc(), F.col("phrase")],
                        RAKE_K, rank_col="rank")


def k_anonymity_report(df: DataFrame, quasi_cols: list) -> DataFrame:
    """k-anonymity audit over quasi-identifier columns → one row per
    equivalence class: ``(*quasi_cols, class_size, at_risk)``.

    The re-identification audit a dataset release (or a training
    corpus with user-derived metadata) runs BEFORE publication: rows
    whose quasi-identifier combination is shared by fewer than
    ``K_ANONYMITY``
    records are linkable — their class is flagged ``at_risk``. This is
    the structural complement of the PII regex scans (E26/E86): those
    find direct identifiers IN text, this finds combinations of
    harmless-looking attributes that single people out.

    One map-side-combinable aggregate on the quasi columns; output is
    bounded by the number of equivalence classes. Null attribute
    values group as their own class (standard k-anonymity treatment —
    a null pattern is itself identifying).
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in quasi_cols]
    return (df.groupBy(*cols)
            .agg(F.count("*").cast("long").alias("class_size"))
            .withColumn("at_risk", F.col("class_size") < K_ANONYMITY))


def blocklist_gate(docs: DataFrame, terms: list[str],
                   max_hits: int = 0) -> DataFrame:
    """Lexicon-based safety gate → ``(doc_id, n_hits, n_distinct_terms,
    hit_ratio, kept)``: count occurrences of blocklisted WORDS
    (whitespace-token match, case-insensitive) and keep documents with
    at most ``max_hits`` occurrences.

    The first rung of the safety-filtering ladder (the learned
    classifier is E63's machinery; this is the transparent lexicon
    tier every production pipeline runs first — cheap, auditable,
    engine-portable). Token match, not substring: 'ass' must not flag
    'class' — the classic blocklist false-positive.

    One narrow map (split → filter-against-literal-array → size), no
    shuffle, scan-speed at any corpus size; the term array is a
    literal in the plan (lexicons are KBs, not data).
    """
    lowered = [t.lower() for t in terms]
    arr = F.array(*[F.lit(t) for t in lowered])
    words = F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda w: w != F.lit(""))
    hits = F.filter(words, lambda w: F.array_contains(arr, w))
    n_hits = F.size(hits).cast("long")
    n_words = F.greatest(F.size(words), F.lit(1))
    return docs.select(
        F.col("doc_id"), n_hits.alias("n_hits"),
        F.size(F.array_distinct(hits)).cast("long")
        .alias("n_distinct_terms"),
        F.round(n_hits / n_words, 6).alias("hit_ratio"),
        (n_hits <= max_hits).alias("kept"))


def language_confusion(docs: DataFrame) -> DataFrame:
    """Detector-vs-label confusion matrix → ``(lang, detected_lang,
    n_docs, label_total, recall)`` — the QA report for the heuristic
    language detector against provenance labels.

    Every detector that gates a multilingual corpus needs this before
    its thresholds ship: which labeled languages it recovers (the
    diagonal), where probe-less languages land (a label with no
    stopword profile — e.g. zh here — shows exactly how it
    mis-buckets), and how much spills into 'und'. ``recall`` is the
    per-cell share of the LABEL's documents (exact integer counts,
    one division). Two aggregates on the bounded label × detected
    grid; the detection itself is the zero-shuffle narrow map.
    """
    det = detect_language(docs) \
        .select("doc_id", "detected_lang")
    j = det.join(docs.select(F.col("doc_id"), F.col("lang")), "doc_id")
    cells = (j.groupBy("lang", "detected_lang")
             .agg(F.count("*").cast("long").alias("n_docs")))
    totals = (cells.groupBy("lang")
              .agg(F.sum("n_docs").cast("long").alias("label_total")))
    return (cells.join(totals, "lang")
            .select("lang", "detected_lang", "n_docs", "label_total",
                    F.round(F.col("n_docs") / F.col("label_total"), 6)
                    .alias("recall")))


def prefix_completions(docs: DataFrame) -> DataFrame:
    """Autocomplete / prefix index (E170) → ``(prefix, rank,
    completion, n)``: the ``COMPLETION_K`` most frequent
    ``COMPLETION_WORDS``-word completions per
    ``COMPLETION_PREFIX_LEN``-char prefix, ranked by (count desc,
    completion asc).

    The search-suggestion index build: one narrow map to (prefix,
    completion), one count aggregate, then the two-stage grouped top-k
    (per-partition heaps — a hot prefix never funnels through one
    reducer). Completions shorter than the prefix are skipped (no
    partial-prefix buckets); the index is (distinct prefixes × k)
    rows — bounded output at any corpus size.
    """
    from .util import lowered_words

    words = lowered_words("text")
    comp = F.array_join(F.slice(words, 1, COMPLETION_WORDS), " ")
    base = (docs.select(comp.alias("completion"))
            .where(F.length("completion") >= COMPLETION_PREFIX_LEN)
            .select(F.substring("completion", 1, COMPLETION_PREFIX_LEN)
                    .alias("prefix"), "completion")
            .groupBy("prefix", "completion")
            .agg(F.count("*").cast("long").alias("n")))
    from .grouped import grouped_topk

    top = grouped_topk(base, ["prefix"],
                       [F.col("n").desc(), F.col("completion")], COMPLETION_K)
    return top.select("prefix",
                      F.col("rank").cast("int").alias("rank"),
                      "completion", "n")


def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch readability (E174) → ``(doc_id, n_words, n_sentences,
    n_syllables, flesch, fk_grade)``.

    The classic curation quality signal the rule batteries (C4/Gopher)
    don't carry: reading-ease from sentence and word lengths — too-low
    scores flag legalese/boilerplate, absurdly high ones flag
    word-salad. Heuristic, engine-portable definitions (documented,
    deterministic, identical in the oracle SQL):

    * words = non-empty space splits;
    * sentences = ``[.!?]+`` terminator runs, floored at 1;
    * syllables = per word, lowercase vowel-group (``[aeiouy]+``)
      count floored at 1 (the standard approximation; a real
      hyphenator is lexicon-bound and adds nothing to the plan shape).

    Formulas evaluated in the SAME operation order both engines:
    flesch = 206.835 − 1.015·(W/S) − 84.6·(Syl/W),
    fk_grade = 0.39·(W/S) + 11.8·(Syl/W) − 15.59, both rounded 6.
    One narrow map, no shuffle at all — at 100 TB this is a free
    rider on any existing corpus scan.
    """
    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != "")
    n_w = F.size(words)
    n_s = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all(F.col("text"),
                                    F.lit("[.!?]+"), F.lit(0))))
    syl = F.aggregate(
        words, F.lit(0),
        lambda acc, w: acc + F.greatest(
            F.lit(1),
            F.size(F.regexp_extract_all(F.lower(w),
                                        F.lit("[aeiouy]+"), F.lit(0)))))
    wps = n_w.cast("double") / n_s.cast("double")
    spw = syl.cast("double") / n_w.cast("double")
    return (docs.where(n_w > 0)
            .select(F.col("doc_id"),
                    n_w.cast("long").alias("n_words"),
                    n_s.cast("long").alias("n_sentences"),
                    syl.cast("long").alias("n_syllables"),
                    F.round(F.lit(206.835) - F.lit(1.015) * wps
                            - F.lit(84.6) * spw, 6).alias("flesch"),
                    F.round(F.lit(0.39) * wps + F.lit(11.8) * spw
                            - F.lit(15.59), 6).alias("fk_grade")))


def source_jsd_matrix(docs: DataFrame) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (E202) → one row per unordered source pair:
    ``(source_a, source_b, n_union, jsd)``.

    The mixing-weight diagnostic that containment (E96: literal
    n-gram overlap) misses: two sources can share zero 8-grams yet
    have near-identical WORD DISTRIBUTIONS (same template language,
    machine-generated from one model) — JSD reads that. Symmetric,
    bounded [0, ln 2], defined via add-one smoothing over the GLOBAL
    vocabulary so every p is positive: p_w = (c_w + 1)/(T_s + V).
    Words absent from both sources of a pair still contribute (their
    smoothed masses differ through the totals) — the textbook
    definition, which is why the grid below is the full vocab, not
    the co-occurring subset.

    Shape: one corpus-scale tokenize + (source, word) aggregate; the
    word grid is distinct-vocab × the #sources-row broadcast; the
    pair join is word-KEYED with per-word fanout ≤ sources², so the
    heavy table is V·s² rows — bounded by vocabulary, never by corpus
    size, the E96 containment-matrix bound with the s² paid once per
    word. For hundreds of sources, shard the pair grid into batches;
    the per-pair math is unchanged.
    """
    w = (docs.select(F.col("source").alias("_s"),
                     F.explode(F.split(F.lower(F.col("text")), " "))
                     .alias("_w"))
         .where(F.col("_w") != ""))
    cnt = w.groupBy("_s", "_w").agg(F.count("*").cast("long").alias("_c"))
    tot = cnt.groupBy("_s").agg(F.sum("_c").alias("_t"))
    vocab = cnt.select("_w").distinct()
    vsize = vocab.agg(F.count("*").alias("_v"))
    grid = (vocab.crossJoin(F.broadcast(tot))
            .join(cnt, ["_s", "_w"], "left")
            .select("_s", "_w", "_t",
                    F.coalesce(F.col("_c"), F.lit(0)).alias("_c")))
    a = grid.select(F.col("_s").alias("source_a"), "_w",
                    F.col("_c").alias("_ca"), F.col("_t").alias("_ta"))
    b = grid.select(F.col("_s").alias("source_b"), "_w",
                    F.col("_c").alias("_cb"), F.col("_t").alias("_tb"))
    pairs = (a.join(b, "_w")
             .where(F.col("source_a") < F.col("source_b"))
             .crossJoin(F.broadcast(vsize)))
    p = (F.col("_ca") + 1) / (F.col("_ta") + F.col("_v"))
    q = (F.col("_cb") + 1) / (F.col("_tb") + F.col("_v"))
    m = (p + q) / 2
    term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    return (pairs.groupBy("source_a", "source_b")
            .agg(F.sum(((F.col("_ca") > 0) | (F.col("_cb") > 0))
                       .cast("long")).cast("long").alias("n_union"),
                 F.round(F.sum(term), 6).alias("jsd")))


