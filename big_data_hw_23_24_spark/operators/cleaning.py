"""Line-level corpus cleaning: C4-style heuristic filters and
within-document repeated-line removal.

The C4 pipeline (Raffel et al. 2020, "Exploring the Limits of Transfer
Learning", §2.2) cleans web text LINE by line before any document-level
filtering: keep only lines that end in terminal punctuation and have a
minimum number of words, then drop documents that end up too short or
contain tell-tale junk ("lorem ipsum", curly braces from leaked code).
Boilerplate menus, cookie banners and navigation fragments die here —
before tokenization ever sees them.

Both operators are pure higher-order-function maps over the split line
array (``F.filter`` / ``F.aggregate``): ZERO shuffles, no explode, no
per-line rows ever materialized, nothing leaves the JVM. At 100 TB this
is the only acceptable shape for per-line work — an explode-based
rewrite would multiply the shuffle-free scan into billions of
intermediate rows for no reason. Per-document line counts are bounded
(documents are bounded), so the O(lines²) ``array_contains`` inside the
keep-first dedup fold is a constant-bounded local loop, not a scale
term.

Reference scope: the reference engine has no text-cleaning surface
(its P2/P6 projections are the nearest primitives, G016HW1.java:61-70);
these operators extend the engine toward the training-data pipeline the
north-star calls for.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

QUALITY_SALT = "q"  # salt of the hashed token weights
QUALITY_HASH_CHARS = 8  # md5 hex digits per token weight
C4_MIN_WORDS = 4  # words a kept line needs
C4_MIN_LINES = 2  # kept lines a kept document needs
DOMAIN_CAP_K = 5  # documents kept per registrable domain

#: a line "ends in terminal punctuation" if, after trimming trailing
#: whitespace, the last character is . ! ? or a closing double quote —
#: the C4 heuristic for "looks like a real sentence".
_TERMINAL_RE = '[.!?"]\\s*$'


def _word_count(line: Column) -> Column:
    """Non-empty space-split token count (the corpus-wide convention —
    mirrors operators.textstats and the shingle CTE)."""
    return F.size(F.filter(F.split(line, " "), lambda w: w != F.lit("")))


def c4_line_filter(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """C4 line filter: keep lines ending in terminal punctuation with
    ≥ ``C4_MIN_WORDS`` words; flag documents that survive.

    Adds:
      * ``n_lines`` / ``n_kept`` — before/after line counts;
      * ``clean_text`` — the kept lines re-joined with newlines;
      * ``has_lorem`` / ``has_brace`` — C4 junk flags (page-level
        "lorem ipsum" placeholder text, curly braces ⇒ leaked code);
      * ``keep`` — ``n_kept ≥ C4_MIN_LINES`` and neither junk flag.

    One narrow projection; the plan is a scan → project with no
    exchange (plan-asserted in tests/test_plans.py).
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda l: F.trim(l).rlike(_TERMINAL_RE)
        & (_word_count(F.trim(l)) >= C4_MIN_WORDS))
    lowered = F.lower(F.col(text_col))
    return (docs
            .withColumn("n_lines", F.size(lines))
            .withColumn("n_kept", F.size(kept))
            .withColumn("clean_text", F.array_join(kept, "\n"))
            .withColumn("has_lorem", lowered.contains("lorem ipsum"))
            .withColumn("has_brace", F.col(text_col).contains("{"))
            .withColumn(
                "keep",
                (F.col("n_kept") >= C4_MIN_LINES)
                & ~F.col("has_lorem") & ~F.col("has_brace")))


def dedup_lines(docs: DataFrame) -> DataFrame:
    """Drop repeated lines WITHIN each document, keeping the first
    occurrence in original order (navigation chrome and repeated
    headers collapse to one instance).

    Implemented as a left fold over the line array that appends a line
    only if it has not been seen yet — order-preserving dedup with no
    explode, no window and no shuffle. Adds ``n_lines``,
    ``n_unique_lines`` and ``text_deduped``.
    """
    lines = F.split(F.col("text"), "\n")
    deduped = F.aggregate(
        lines,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(F.array_contains(acc, x), acc)
        .otherwise(F.concat(acc, F.array(x))))
    return (docs
            .withColumn("n_lines", F.size(lines))
            .withColumn("_dedup", deduped)
            .withColumn("n_unique_lines", F.size("_dedup"))
            .withColumn("text_deduped", F.array_join("_dedup", "\n"))
            .drop("_dedup"))


def _hashed_weight(token: Column, salt: str, hash_chars: int) -> Column:
    """Deterministic per-token weight in [-1, 1): the first
    ``hash_chars`` hex digits of ``md5(salt || ':' || token)`` scaled
    from [0, 16^n) — ``conv(hex, 16, 10)`` JVM-side, the same value
    any engine derives from the same md5 prefix."""
    h = F.substring(F.md5(F.concat(F.lit(salt + ":"), token)),
                    1, hash_chars)
    return (F.conv(h, 16, 10).cast("double")
            / F.lit(float(16 ** hash_chars))) * 2.0 - 1.0


def linear_quality_prob() -> Column:
    """The classifier's probability as a bare COLUMN (rounded to 6 dp):
    sigmoid of the mean hashed token weight. For gating a frame
    in-place with zero shuffle (``docs.where(linear_quality_prob() >
    threshold)``) — joining :func:`linear_quality_score`'s output back
    by doc_id would cost two corpus-scale exchanges for the same
    predicate."""
    from .util import lowered_words

    words = lowered_words("text")
    wsum = F.aggregate(
        words, F.lit(0.0),
        lambda acc, w: acc + _hashed_weight(w, QUALITY_SALT,
                                            QUALITY_HASH_CHARS))
    logit = F.round(
        F.when(F.size(words) > 0, wsum / F.size(words))
        .otherwise(F.lit(0.0)), 6)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def linear_quality_score(docs: DataFrame) -> DataFrame:
    """fastText-style hashed linear classifier → ``(doc_id, n_tokens,
    logit, prob, keep)``.

    The architecture of every production quality classifier
    (fastText/CCNet, the GPT-3 and LLaMA quality filters): embed each
    token by hashing it into a weight table, average, squash. Here the
    weight table is the DETERMINISTIC hash-derived stand-in
    ``w(t) = 2·md5_prefix(q:t)/16^n − 1`` — the same "weights are a
    lookup keyed by token hash" dataflow as a trained model, but
    reproducible in any engine so the whole scoring path is
    oracle-checkable end to end.

    ``logit`` is the mean token weight (0 for empty docs), ``prob``
    the sigmoid, ``keep`` the strict ``logit > 0`` decision (i.e.
    prob > 0.5; a 0-logit doc — empty, or weights cancelling — is
    NOT kept). The fold is a pure
    JVM ``F.aggregate`` over the split array: ZERO shuffles, no
    explode, nothing leaves the scan — the 100 TB shape.
    """
    from .util import lowered_words

    words = lowered_words("text")
    wsum = F.aggregate(
        words, F.lit(0.0),
        lambda acc, w: acc + _hashed_weight(w, QUALITY_SALT,
                                            QUALITY_HASH_CHARS))
    n = F.size(words)
    logit = F.when(n > 0, wsum / n).otherwise(F.lit(0.0))
    return (docs
            .withColumn("_n", n)
            .withColumn("_logit", F.round(logit, 6))
            .select(F.col("doc_id"),
                    F.col("_n").cast("long").alias("n_tokens"),
                    F.col("_logit").alias("logit"),
                    F.round(F.lit(1.0)
                            / (F.lit(1.0) + F.exp(-F.col("_logit"))), 6)
                    .alias("prob"),
                    (F.col("_logit") > 0).alias("keep")))


def dedup_paragraphs_global(docs: DataFrame) -> DataFrame:
    """CROSS-document paragraph dedup → (doc_id, n_lines, n_kept,
    clean_text): each distinct non-empty line survives only in its
    FIRST owner — min (doc_id, position) corpus-wide — and is removed
    from every other document.

    The CCNet paragraph-level dedup (Wenzek et al. 2020): repeated
    paragraphs across pages (headers, footers, quoted chunks) are
    removed corpus-wide while one canonical occurrence survives —
    the keep-one counterpart of ``textstats.remove_repeated_spans``'
    strip-all semantics, at line rather than n-gram granularity.
    Empty lines are structural separators and always kept;
    ``dedup_lines`` (within-doc) composes BEFORE this when both are
    wanted.

    Shape: one (line)-keyed aggregate to elect owners (min struct —
    deterministic under any partitioning), one equi-join back (AQE
    broadcasts if the dup set is small), one doc-keyed aggregate to
    reassemble in original order. Never all-pairs; the only corpus
    shuffles are line-keyed and doc-keyed.
    """
    lines = (docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.col("text"), "\n"))
        .alias("_idx", "_line")))
    owners = (lines.where(F.col("_line") != "")
              .groupBy("_line")
              .agg(F.min(F.struct(F.col("doc_id").alias("d"),
                                  F.col("_idx").alias("i")))
                   .alias("_own")))
    kept = (lines.join(owners, "_line", "left")
            .where((F.col("_line") == "")
                   | ((F.col("_own.d") == F.col("doc_id"))
                      & (F.col("_own.i") == F.col("_idx")))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.count("*").alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("_idx", "_line"))),
                            lambda s: s["_line"]), "\n")
                    .alias("clean_text")))
    base = docs.select(F.col("doc_id"),
                       F.size(F.split(F.col("text"), "\n"))
                       .alias("n_lines"))
    return (base.join(rebuilt, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.col("n_lines").cast("long").alias("n_lines"),
                    F.coalesce("n_kept", F.lit(0)).cast("long")
                    .alias("n_kept"),
                    F.coalesce("clean_text", F.lit(""))
                    .alias("clean_text")))


def normalize_url(col: Column) -> Column:
    """Canonical URL form: lowercased, scheme and leading ``www.``
    stripped, query string / fragment dropped, trailing slashes
    trimmed. ``https://WWW.Ex.com/a/?utm=x`` and ``http://ex.com/a``
    normalize identically. Pure regexp chain — whole-stage codegen,
    no UDF."""
    u = F.lower(col)
    u = F.regexp_replace(u, r"^https?://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    return F.regexp_replace(u, r"/+$", "")


def url_duplicate_groups(docs: DataFrame) -> DataFrame:
    """URL-level dedup groups → (norm_url, n_docs, keep_id): group on
    the normalized URL, keep-first (min id) survivor, only groups with
    duplicates returned.

    The cheap FIRST stage of the RefinedWeb dedup ladder — provenance
    dedup runs before any content hashing because a re-crawled or
    tracking-parameter-variant URL is a duplicate regardless of how
    the fetched bytes differ. Same one-shuffle hash-groupBy shape as
    ``exact_duplicate_groups``, keyed on provenance instead of
    content; at 100 TB the shuffle key is a short normalized string,
    and skew (a single hot host is NOT a hot normalized-URL key — the
    path disambiguates) stays bounded.
    """
    return (docs.select(normalize_url(F.col("url")).alias("norm_url"),
                        F.col("doc_id"))
            .groupBy("norm_url")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("keep_id"))
            .where(F.col("n_docs") > 1))


#: Gopher's minimal stop-word probe (Rae et al. 2021, App. A): a real
#: English page almost surely contains ≥2 of these; keyword-stuffed
#: SEO spam and tag soup usually contain none.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")


def gopher_rules(docs: DataFrame, min_words: int = 50,
                 max_words: int = 100_000,
                 stopwords: tuple[str, ...] = GOPHER_STOPWORDS) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, "Scaling
    Language Models", Appendix A): the standard repetition-free web
    filter battery, one boolean per rule plus the combined ``keep``.

    Per document:
      * ``n_words`` ∈ [min_words, max_words] (whitespace-delimited);
      * ``mean_word_len`` ∈ [3, 10];
      * ``symbol_ratio`` — (# count + ``...`` count) / words ≤ 0.1;
      * ``bullet_line_ratio`` — lines starting ``-``/``*``/``•``
        ≤ 0.9;
      * ``ellipsis_line_ratio`` — lines ending ``...`` ≤ 0.3;
      * ``alpha_word_ratio`` — words containing a letter ≥ 0.8;
      * ``stop_hits`` — distinct stop-words present ≥ 2.

    Shape: every rule is a higher-order-function fold over the split
    word/line arrays — a single narrow projection, ZERO shuffles,
    nothing leaves the JVM (same contract as ``c4_line_filter``;
    plan-asserted). At 100 TB this runs at scan speed and is the
    cheapest possible first-pass corpus gate.

    Extends the engine past the reference's projection primitives
    (G016HW1.java:61-70) toward the pretraining-cleanup tier.
    """
    text = F.col("text")
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    lines = F.split(text, "\n")
    d = docs.select(
        F.col("doc_id"),
        words.alias("_ws"),
        lines.alias("_ls"),
        F.length(text).alias("_len"),
        (F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
         ).alias("_hash_n"),
        ((F.length(text)
          - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
         ).cast("long").alias("_ellipsis_n"),
    )
    n_words = F.size("_ws")
    n_lines = F.size("_ls")
    sum_len = F.aggregate("_ws", F.lit(0).cast("long"),
                          lambda acc, w: acc + F.length(w))
    bullet_n = F.size(F.filter(
        "_ls", lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•")))
    ellipsis_line_n = F.size(F.filter(
        "_ls", lambda l: F.rtrim(l).endswith("...")))
    alpha_n = F.size(F.filter("_ws", lambda w: w.rlike("[A-Za-z]")))
    stop_hits = F.size(F.array_intersect(
        F.transform("_ws", F.lower),
        F.array(*[F.lit(s) for s in stopwords])))
    m = d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.when(n_words > 0, F.round(sum_len / n_words, 6))
        .alias("mean_word_len"),
        F.when(n_words > 0,
               F.round((F.col("_hash_n") + F.col("_ellipsis_n")) / n_words,
                       6)).alias("symbol_ratio"),
        F.round(bullet_n / n_lines, 6).alias("bullet_line_ratio"),
        F.round(ellipsis_line_n / n_lines, 6).alias("ellipsis_line_ratio"),
        F.when(n_words > 0, F.round(alpha_n / n_words, 6))
        .alias("alpha_word_ratio"),
        stop_hits.cast("long").alias("stop_hits"),
    )
    keep = (F.col("n_words").between(min_words, max_words)
            & F.col("mean_word_len").between(3.0, 10.0)
            & (F.col("symbol_ratio") <= 0.1)
            & (F.col("bullet_line_ratio") <= 0.9)
            & (F.col("ellipsis_line_ratio") <= 0.3)
            & (F.col("alpha_word_ratio") >= 0.8)
            & (F.col("stop_hits") >= 2))
    return m.withColumn("keep", F.coalesce(keep, F.lit(False)))


def normalize_unicode(docs: DataFrame) -> DataFrame:
    """Unicode normalization (NFC by default): compose decomposed
    sequences (``e`` + U+0301 → ``é``) so visually-identical strings
    hash identically — a REQUIRED step before any fingerprint/MinHash
    dedup on multilingual web text, where crawlers deliver a mix of
    NFC and NFD encodings of the same page.

    Returns ``(id, norm_text, changed, len_before, len_after)``;
    ``changed`` compares CONTENT, not length (normalization can
    reorder combining marks without changing length). Lengths are in
    UTF-16 code units (Spark's ``length`` convention; identical to
    code points off the astral planes).

    The JVM exposes no SQL-level normalizer, so this is a vectorized
    Arrow ``pandas_udf`` over ``unicodedata.normalize`` — one of the
    engine's documented Python extension points (batch transfer,
    never row-at-a-time ``BatchEvalPython``); the plan is a single
    narrow projection, zero shuffles. A DuckDB oracle reproduces it
    exactly via ``nfc_normalize`` (Unicode normalization is an
    engine-neutral spec, so the UDF is cross-engine value-checkable
    the same way the md5-hashed classifier is).
    """
    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    text = F.col("text")
    return (docs.select(F.col("doc_id"),
                        text.alias("_orig"),
                        _norm(text).alias("norm_text"))
            .select("doc_id", "norm_text",
                    (F.col("norm_text") != F.col("_orig"))
                    .alias("changed"),
                    F.length("_orig").cast("long").alias("len_before"),
                    F.length("norm_text").cast("long")
                    .alias("len_after")))


def html_extract(docs: DataFrame) -> DataFrame:
    """HTML → training text: strip script/style blocks with their
    contents, count anchors, drop the remaining tags, decode the five
    basic entities, collapse whitespace → ``(doc_id, text, n_links,
    n_chars)``.

    The extraction step between the crawl and every cleaning operator
    in this package: raw WARC payloads are markup, the corpus wants
    prose. This is the deterministic, engine-portable core of an
    extractor (the trafilatura/jusText class of tools layers
    readability heuristics on top — their DOM scoring is not a data
    -engine concern). All patterns avoid backreferences so Java regex
    (Spark) and RE2 (DuckDB) agree; one narrow map, zero shuffle,
    streams at scan speed at any corpus size.

    ``n_links`` is counted AFTER script/style removal (a link inside
    dead code is not content) and feeds the C4-style link-density
    gates downstream.
    """
    h = F.col("html")
    for blk in ("script", "style"):
        h = F.regexp_replace(h, f"(?is)<{blk}[^>]*>.*?</{blk}>", " ")
    n_links = F.size(F.regexp_extract_all(h, F.lit(r"(?i)<a[\s>]"), 0)) \
        .cast("long")
    no_tags = F.regexp_replace(h, "<[^>]*>", " ")
    dec = no_tags
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        dec = F.replace(dec, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(dec, " +", " "))
    return docs.select(
        F.col("doc_id"), n_links.alias("n_links"),
        clean.alias("text"),
        F.length(clean).cast("long").alias("n_chars"))


# Unicode confusables most used for filter evasion: Cyrillic and Greek
# letters whose glyphs are indistinguishable from Latin. The map is a
# module constant so the Spark plan and every oracle SQL string
# translate the SAME alphabet.
CONFUSABLES = {
    "а": "a", "е": "e", "о": "o", "р": "p",
    "с": "c", "х": "x", "у": "y", "ο": "o",
}
_CONF_FROM = "".join(CONFUSABLES)
_CONF_TO = "".join(CONFUSABLES.values())


def homoglyph_scan(docs: DataFrame) -> DataFrame:
    """Homoglyph (unicode-confusable) evasion scan (E163) →
    ``(doc_id, n_confusables, evasion_flag, skeleton_owner)``.

    The data-poisoning screen every blocklist/dedup pipeline needs:
    swapping Latin letters for their Cyrillic/Greek look-alikes slips
    a document past exact fingerprints and lexicon gates while reading
    identically to a human (and to a model). The scan SKELETONIZES the
    text (``translate`` over the confusable alphabet — one narrow
    JVM map), counts confusable code points, and elects a
    ``skeleton_owner`` — the min doc id sharing the skeleton
    fingerprint — so an evasion copy collapses onto its source
    (owner ≠ own id + flag set = caught). One translate + one md5
    group aggregate + one join back; the corpus never shuffles twice.

    The slim (id, count, 32-hex fingerprint) base is checkpointed
    before fan-out: the election and the join-back both consume it,
    and Catalyst plans each consumer its own scan — un-materialized,
    the full-text translate + md5 ran TWICE (the LSH/simhash
    subtree-reuse lesson; text never rides past this point).
    """
    skel = F.translate(F.col("text"), _CONF_FROM, _CONF_TO)
    n_conf = (F.length("text")
              - F.length(F.translate(F.col("text"), _CONF_FROM, "")))
    base = docs.select(
        F.col("doc_id"),
        n_conf.cast("int").alias("n_confusables"),
        F.md5(skel).alias("_sk")).localCheckpoint(eager=True)
    owners = base.groupBy("_sk").agg(F.min("doc_id").alias("skeleton_owner"))
    return (base.join(owners, "_sk")
            .select("doc_id", "n_confusables",
                    (F.col("n_confusables") > 0).alias("evasion_flag"),
                    "skeleton_owner"))


def domain_cap(docs: DataFrame, order_by: list | None = None) -> DataFrame:
    """Per-domain diversity cap (E175) → the kept rows as
    ``(domain, doc_id, rank)``: at most ``DOMAIN_CAP_K`` documents per
    registrable domain, best-first.

    The crawl-diversity step every web corpus runs (C4 / RefinedWeb
    style): unbounded per-site document counts let one boilerplate-
    heavy host dominate training mixes, so each registrable domain is
    capped at its k best documents. Registrable domain = the last two
    dot-labels of the lowercased host (scheme, userinfo, port and
    path stripped — a port-varied URL must not mint a fresh k-budget;
    dotless hosts like ``localhost`` fall back to the whole host
    rather than pooling into one '' pseudo-domain) — a documented
    heuristic; the real public-suffix list is a broadcast lexicon
    swap, not a plan change. Ranking runs on the two-stage
    grouped top-k (per-partition heaps), so a mega-domain never
    funnels one reducer; ``order_by`` defaults to ``doc_id`` asc —
    callers pass their quality ordering (the face keeps the longest).
    """
    from .grouped import grouped_topk

    host = F.lower(F.regexp_extract(
        F.col("url"),
        "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/?#@]*@)?([^/?#:]+)", 1))
    dom = F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    base = docs.withColumn(
        "domain", F.when(dom != "", dom).otherwise(host))
    order = list(order_by) if order_by else []
    top = grouped_topk(base, ["domain"], order + [F.col("doc_id")],
                       DOMAIN_CAP_K)
    return top.select("domain", F.col("doc_id"),
                      F.col("rank").cast("int").alias("rank"))


# UTF-8 text mis-decoded as cp1252 and re-saved ("mojibake"): each
# non-ASCII code point's UTF-8 bytes surface as this 2-3 character
# marker sequence. Marker → original is a module constant so the Spark
# plan and every oracle SQL string scan (and repair) the SAME lexicon;
# each entry is verified equal to original.encode('utf-8')
# .decode('cp1252') by the unit test.
#
# ORDER IS LOAD-BEARING for the chained repair: one repair output is a
# character of another marker ('â€œ' repairs to '“', which is the
# third character of 'â€“'), so a repair can COMPLETE a marker out of
# adjacent corrupt bytes ("â€" + "â€œ" → "â€" + "“" = "â€“"). Sequences
# created that way were not markers in the source and must stay
# unrepaired, so 'â€“' is chained BEFORE 'â€œ'; the unit test pins the
# general invariant (no repair output is a substring of any LATER
# marker) and the cascade case itself.
MOJIBAKE = {
    "Ã©": "é", "Ã¨": "è", "Ã¼": "ü", "Ã¶": "ö", "Ã¤": "ä",
    "Ã±": "ñ", "Ã§": "ç", "Ã³": "ó", "Ãº": "ú",
    "â€™": "’", "â€“": "–", "â€œ": "“", "â€”": "—", "â€¦": "…",
}


def mojibake_scan(docs: DataFrame) -> DataFrame:
    """Mojibake (encoding-corruption) scan (E184) → ``(doc_id,
    n_markers, mojibake_flag, n_chars_recovered)``.

    The encoding-failure screen web-crawl curation needs next to NFC
    normalization (E's unicode face) and homoglyph evasion (E163):
    text that was UTF-8 on the wire but decoded as cp1252 somewhere in
    the pipeline carries tell-tale multi-character sequences ("é" →
    "Ã©", "’" → "â€™") that poison tokenizers and dedup fingerprints
    while evading ASCII-only validators. The scan counts marker
    occurrences from the shared ``MOJIBAKE`` lexicon and measures the
    repair: chained marker → original replaces (the inverse of the
    corruption, exact for every lexicon hit), reporting how many
    characters the repair recovers. No marker is a substring of
    another, and the chain runs in ``MOJIBAKE`` declaration order,
    which is arranged so no repair output can complete a marker that
    a LATER chain step would consume (see the lexicon comment) —
    counting always happens on the source text, so ``n_markers`` is
    order-independent by construction.

    Pure narrow string expressions over one scan — zero shuffles, a
    free rider on any corpus pass at 100 TB; the lexicon is a
    14-entry compile-time constant, not a join.
    """
    t = F.col("text")
    n = F.lit(0)
    for m in MOJIBAKE:
        n = n + (F.length(t) - F.length(F.replace(t, F.lit(m)))) / len(m)
    repaired = t
    for m, orig in MOJIBAKE.items():
        repaired = F.replace(repaired, F.lit(m), F.lit(orig))
    return docs.select(
        F.col("doc_id"),
        n.cast("int").alias("n_markers"),
        (n > 0).alias("mojibake_flag"),
        (F.length(t) - F.length(repaired)).cast("int")
        .alias("n_chars_recovered"))
