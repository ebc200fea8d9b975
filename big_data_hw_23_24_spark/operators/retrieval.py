"""Okapi BM25 full-text retrieval over the document corpus.

The corpus-ops counterpart of ``textstats.tfidf_top_terms``: given a
bag-of-words query, rank documents by BM25 (Robertson/Spärck Jones;
the default scorer of Lucene/Elasticsearch and the retrieval baseline
in every data-curation / RAG pipeline). Useful in a training-data
engine both as a retrieval primitive and as a targeted-subset selector
("find the documents about X" before sampling them up).

Design — zero-shuffle scoring:

* Per-document term frequencies for a LITERAL query are computed as
  narrow array expressions (``size(filter(words, w -> w = term))``),
  NOT by exploding the corpus token stream: tf, doclen and the score
  are all one map over the scan.
* The only exchanges are (a) ONE global 1-row aggregate for
  ``(N, avgdl, df_t)`` — broadcast back via cross-join — and (b) the
  final top-k, which Catalyst executes as TakeOrderedAndProject
  (per-partition heaps, no global sort).
* idf uses the +1 form ``ln(1 + (N - df + .5)/(df + .5))`` so scores
  stay positive regardless of df.

Determinism: ranking orders by the 6-decimal-rounded score with the
document id as tiebreaker, so an oracle engine summing the per-term
contributions in a different order cannot flip the top-k.

Scale shape: one corpus scan, a 1-row broadcast, a top-k — this is the
plan you would want at 100 TB. The reference has no retrieval surface;
BM25 extends the TF-IDF family (SURVEY.md §2 E13) to query scoring.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2  # BM25 term-frequency saturation
BM25_B = 0.75  # BM25 length normalization
QL_MU = 300.0  # Dirichlet prior of the query likelihood
SPAN_START = 6  # first word of each origin-eval query span
SPAN_LEN = 8  # words per origin-eval query span
ORIGIN_K = 10  # top-k depth of the origin-retrieval eval
ORIGIN_EVERY = 17  # the origin eval queries every ORIGIN_EVERY-th doc id
ORIGIN_OFFSET = 3  # ... those with doc_id % ORIGIN_EVERY == ORIGIN_OFFSET
RRF_K = 10  # fused documents kept per query

__all__ = ["bm25_topk", "bm25_oracle_sql", "bm25_search_many",
           "rerank_features", "build_query_index", "ql_search_many",
           "rrf_fuse"]


def build_query_index(docs: DataFrame, queries: DataFrame):
    """The pruned inverted index every lexical retriever here consumes:
    ``(postings, stats, qterms)`` with postings = (id, term, tf, dl)
    restricted to query terms, stats = a 1-row LITERAL (n, sumdl)
    relation (collected once here — a lazy aggregate would make every
    consumer re-scan and re-tokenize the corpus for one row), qterms =
    lowercased distinct (qid, term).

    Building it ONCE and passing it to both :func:`bm25_search_many`
    and :func:`ql_search_many` bounds hybrid retrieval at ONE corpus
    tokenize pass total. The query vocabulary is bounded — it IS the
    query workload — so it is collected once and compiled into the
    scan projection as an array literal; the scan emits the narrow
    (id, dl, matched-terms) frame, LAZILY pinned, which the stats
    aggregate materializes as a side effect (dl covers ALL docs,
    matched or not, so stats cannot derive from the pruned postings).

    Postings are a ZERO-SHUFFLE map over the pinned narrow blocks
    (r15): per doc, tf for each distinct matched term is computed
    in-place from the matched-token array (``transform(array_distinct
    (_m), t -> (t, size(filter(_m, = t))))`` + explode) — the former
    ``explode → groupBy(id, term)`` aggregate paid a corpus-scale
    Exchange plus an EAGER pin (a blocking job) for values that are
    per-row derivable (guide §2.4 "remove shuffles outright": the
    group key (id, term) never leaves its row's partition). Consumers
    re-derive the map from the pinned narrow blocks for the price of
    an array scan — no shuffle, no blocking job, one less pin.
    """
    from .util import lowered_words

    words = lowered_words("text")
    qterms = (queries.select("qid", F.explode("terms").alias("term"))
              .select("qid", F.lower("term").alias("term"))
              .distinct())
    term_list = sorted(r.term for r in
                       qterms.select("term").distinct().collect())
    members = (F.array(*[F.lit(t) for t in term_list]) if term_list
               else F.array().cast("array<string>"))
    narrow = (docs.select(
        F.col("doc_id"), F.size(words).alias("dl"),
        F.filter(words,
                 lambda w: F.array_contains(members, w)).alias("_m"))
        .localCheckpoint(eager=False))
    srow = narrow.agg(F.count("*").alias("_n"),
                      F.sum("dl").alias("_sumdl")).first()
    stats = docs.sparkSession.range(1).select(
        F.lit(srow["_n"]).cast("long").alias("_n"),
        F.lit(srow["_sumdl"] if srow["_sumdl"] is not None else 0)
        .cast("long").alias("_sumdl"))
    postings = (narrow.select(
        F.col("doc_id"), "dl",
        F.explode(F.transform(
            F.array_distinct("_m"),
            lambda t: F.struct(
                t.alias("term"),
                F.size(F.filter("_m", lambda w: w == t))
                .cast("long").alias("tf")))).alias("_p"))
        .select(F.col("doc_id"), F.col("_p.term").alias("term"),
                F.col("_p.tf").alias("tf"), "dl"))
    return postings, stats, qterms


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query by BM25.

    Returns ``(doc_id, dl, tf_<i> per term, score, rank)`` ordered by
    ``(score desc, doc_id)``; only documents matching at least one
    query term (score > 0) are ranked.
    """
    if not terms:
        raise ValueError("at least one query term required")
    if len(set(terms)) != len(terms):
        raise ValueError(f"duplicate query terms in {terms}")
    lowered = [t.lower() for t in terms]

    from .util import lowered_words

    words = lowered_words("text")

    def tf(term: str):  # single-param lambda: F.filter passes the
        return F.size(  # element only (2 params would mean (x, i))
            F.filter(words, lambda w: w == F.lit(term)))

    per_doc = docs.select(
        F.col("doc_id"),
        F.size(words).alias("dl"),
        *[tf(t).alias(f"tf_{i}") for i, t in enumerate(lowered)],
    )

    stats = per_doc.agg(
        F.count("*").alias("_n"),
        F.sum("dl").alias("_sumdl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"_df_{i}")
          for i in range(len(lowered))],
    )

    scored = per_doc.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl") / F.col("_n")
    denom_norm = F.lit(BM25_K1) * (F.lit(1 - BM25_B)
                                   + F.lit(BM25_B) * F.col("dl") / avgdl)
    contrib = [
        F.log(F.lit(1.0)
              + (F.col("_n") - F.col(f"_df_{i}") + F.lit(0.5))
              / (F.col(f"_df_{i}") + F.lit(0.5)))
        * (F.col(f"tf_{i}") * F.lit(BM25_K1 + 1))
        / (F.col(f"tf_{i}") + denom_norm)
        for i in range(len(lowered))
    ]
    score = sum(contrib[1:], contrib[0])
    scored = scored.select(
        F.col("doc_id"), F.col("dl"),
        *[F.col(f"tf_{i}") for i in range(len(lowered))],
        F.round(score, 6).alias("score"),
    ).where(sum((F.col(f"tf_{i}") for i in range(1, len(lowered))),
                F.col("tf_0")) > 0)

    top = (scored.orderBy(F.col("score").desc(), F.col("doc_id"))
           .limit(k))
    # rank is positional in the deterministic (score desc, id) order;
    # the partitionless window is bounded by the LIMIT k rows above it
    # (same class as the vocab-scale allowlist, never corpus-scale)
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


def bm25_oracle_sql(terms: list[str], k: int = 20) -> str:
    """The DuckDB mirror of :func:`bm25_topk` over the ``documents``
    view — generated from the same term list so Spark and oracle can
    never drift on the unrolled per-term expressions."""
    # SQL-escape the interpolated terms (the Spark face handles a
    # quote fine via F.lit — the generated oracle must not diverge)
    lowered = [t.lower().replace("'", "''") for t in terms]
    tf_exprs = ",\n           ".join(
        f"len(list_filter(words, w -> w = '{t}')) AS tf_{i}"
        for i, t in enumerate(lowered))
    df_exprs = ",\n           ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(lowered)))
    contribs = " + ".join(
        f"(ln(1.0 + (s._n - s.df_{i} + 0.5) / (s.df_{i} + 0.5))"
        f" * (p.tf_{i} * {BM25_K1 + 1!r})"
        f" / (p.tf_{i} + {BM25_K1!r} * ({1 - BM25_B!r} + {BM25_B!r} * p.dl"
        f" / (s._sumdl * 1.0 / s._n))))"
        for i in range(len(lowered)))
    any_tf = " + ".join(f"p.tf_{i}" for i in range(len(lowered)))
    tf_cols = ", ".join(f"p.tf_{i}" for i in range(len(lowered)))
    assert math.isfinite(BM25_K1) and math.isfinite(BM25_B)
    return f"""
    WITH p AS (
      SELECT doc_id, len(words) AS dl,
           {tf_exprs}
      FROM (SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               w -> w <> '') AS words
            FROM documents)
    ),
    s AS (
      SELECT count(*) AS _n, sum(dl) AS _sumdl,
           {df_exprs}
      FROM p
    ),
    scored AS (
      SELECT p.doc_id, p.dl, {tf_cols},
             round({contribs}, 6) AS score
      FROM p CROSS JOIN s
      WHERE {any_tf} > 0
    )
    SELECT *, CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                   AS INTEGER) AS rank
    FROM scored
    ORDER BY score DESC, doc_id
    LIMIT {k}
    """


def bm25_search_many(docs: DataFrame, queries: DataFrame, k: int = 20,
                     index=None) -> DataFrame:
    """Batch BM25: top-``k`` documents PER QUERY for a whole query
    table → ``(qid, doc_id, n_hits, score, rank)``.

    The inverted-index shape that scales past :func:`bm25_topk`'s
    literal unrolling (which is O(|terms|) expressions per doc — right
    for ONE ad-hoc query, wrong for a 10k-query batch): ``queries`` is
    ``(qid, terms array<string>)``; the corpus token stream explodes
    ONCE into (doc, term, tf) postings, the query table explodes into
    (qid, term) pairs and broadcast-joins the postings — each posting
    fans out only to the queries that contain its term, exactly an
    inverted-index lookup. Corpus-side cost is ONE (doc, term)
    aggregate regardless of how many queries ride it.

    Per-query top-k runs through the two-stage grouped pattern (rank
    within (partition, qid) → keep k → rank survivors), so a popular
    query never funnels the whole corpus through one reducer. Ranking
    is deterministic: rounded score desc, doc_id asc.

    df/idf statistics are corpus-global (shared by all queries; df for
    a query term is computed AFTER the postings are pruned to query
    terms — the count is identical, the aggregate is tiny); only
    documents matching ≥ 1 term of a query are scored (standard
    OR-semantics retrieval).

    ``index`` (a :func:`build_query_index` triple) supplies a
    prebuilt pruned-postings table so several retrievers share ONE
    corpus scan (the hybrid-RRF path). Terms are lowercased either way
    so the batch face matches bm25_topk's contract.
    """
    if index is None:
        # the one-tokenize index build (r14): the standalone path ran
        # TWO corpus tokenize passes — the pruned-postings pin and a
        # separate (n, sumdl) aggregate; build_query_index does one
        index = build_query_index(
            docs, queries)
    postings, stats, qterms = index
    df_q = postings.groupBy("term").agg(F.count("*").alias("_df"))

    hits = (postings
            .join(F.broadcast(qterms), "term")
            .join(F.broadcast(df_q), "term")
            .crossJoin(F.broadcast(stats)))
    avgdl = F.col("_sumdl") / F.col("_n")
    idf = F.log(F.lit(1.0) + (F.col("_n") - F.col("_df") + F.lit(0.5))
                / (F.col("_df") + F.lit(0.5)))
    contrib = (idf * F.col("tf") * F.lit(BM25_K1 + 1)
               / (F.col("tf") + F.lit(BM25_K1)
                  * (F.lit(1 - BM25_B)
                     + F.lit(BM25_B) * F.col("dl") / avgdl)))
    scored = (hits.groupBy("qid", "doc_id")
              .agg(F.count("*").cast("long").alias("n_hits"),
                   F.round(F.sum(contrib), 6).alias("score")))

    from .grouped import grouped_topk

    return grouped_topk(scored, ["qid"],
                        [F.col("score").desc(), F.col("doc_id")], k)


def rerank_features(docs: DataFrame, queries: DataFrame,
                    k: int = 20) -> DataFrame:
    """Feature assembly for a learned reranker over the BM25 shortlist
    → ``(qid, doc_id, rank, score, n_terms, n_hits, overlap_frac, dl,
    tf_total, density, first_pos)``.

    The production hop AFTER first-stage retrieval: a cross-encoder or
    GBDT reranker consumes (query, doc) PAIR features, and assembling
    them is a data-engine job — the model call is not. Features per
    shortlisted pair, all deterministic integers/rounded ratios:

    * ``rank``/``score`` — first-stage BM25 (carried, not recomputed);
    * ``n_terms``/``n_hits``/``overlap_frac`` — how much of the query
      the doc matches (AND-ness);
    * ``dl``/``tf_total``/``density`` — doc length, total query-term
      occurrences, their ratio (the raw-tf signal BM25 saturates);
    * ``first_pos`` — earliest 1-based token position of any query
      term (title/lead matches beat footer matches).

    Scale shape: the shortlist is Q·k rows — BROADCAST it into one
    narrow corpus-scan join (only shortlisted docs' token arrays are
    ever built), broadcast the query term lists on qid, then a single
    expression block; no extra shuffle beyond the one corpus scan.
    Every shortlisted doc matches ≥ 1 term, so ``first_pos`` is never
    null.
    """
    from .util import lowered_words

    short = bm25_search_many(docs, queries, k)
    qn = queries.select(
        "qid",
        F.array_distinct(F.transform("terms", F.lower)).alias("_terms"))
    # tokenize AFTER the shortlist join, not before: the broadcast
    # hash probe drops non-shortlisted rows first, so only Q·k docs
    # ever build their token array (the pre-join projection tokenized
    # the whole corpus and then threw ~all of it away — guide §2.3
    # "project before the exchange" read in reverse: defer expensive
    # projections until after the cheap filter; r14 opt round)
    hit = lambda w: F.exists("_terms", lambda t: t == w)  # noqa: E731
    tf_total = F.size(F.filter("_w", hit))
    first_pos = F.array_min(F.filter(
        F.sequence(F.lit(1), F.size("_w")),
        lambda i: hit(F.element_at("_w", i))))
    dl = F.size("_w")
    # project docs to (id, text) BEFORE the join (r15, ADVICE r14):
    # the function is a generic operator API, and a caller whose docs
    # carry a column named qid/rank/score/n_hits/_terms/_w would hit
    # ambiguity or silent shadowing; the projection restores namespace
    # isolation while keeping the deferred-tokenization win (the
    # expensive lowered_words still evaluates only on the shortlist,
    # after the broadcast hash probe drops non-shortlisted rows)
    return (docs.select(F.col("doc_id"), F.col("text"))
            .join(F.broadcast(short), "doc_id")
            .join(F.broadcast(qn), "qid")
            .select("qid", F.col("doc_id"), "rank", "score", "n_hits",
                    "_terms", lowered_words("text").alias("_w"))
            .select("qid", "doc_id", "rank", "score",
                    F.size("_terms").cast("long").alias("n_terms"),
                    "n_hits",
                    F.round(F.col("n_hits") / F.size("_terms"), 6)
                    .alias("overlap_frac"),
                    dl.cast("long").alias("dl"),
                    tf_total.cast("long").alias("tf_total"),
                    F.round(tf_total / dl, 6).alias("density"),
                    first_pos.cast("long").alias("first_pos")))


def ql_search_many(docs: DataFrame, queries: DataFrame, k: int = 20,
                   index=None) -> DataFrame:
    """Batch Dirichlet-smoothed query-likelihood retrieval (E150) →
    top-``k`` docs per query, ``(qid, doc_id, n_hits, score, rank)``.

    The classic second lexical retriever beside BM25 (Zhai & Lafferty
    2001): score(q, d) = Σ_t∈q log((tf + μ·P(t|C)) / (dl + μ)),
    decomposed so only MATCHED postings are touched —
    Σ log(μ·cf_t/T) [per-query constant] + Σ_t∈q∩d log(1 + tf·T/(μ·cf_t))
    [matched hits] − |q|·log(dl + μ) [per-doc length normalizer] —
    the standard trick that makes LM retrieval an inverted-index
    workload identical in shape to :func:`bm25_search_many` (same
    pruned postings, same broadcast stats, same two-stage grouped
    top-k). Query terms absent from the corpus are dropped from the
    model (P(t|C)=0 would zero every document; |q| counts matched
    terms only). Only docs matching ≥ 1 term are ranked (standard
    OR-semantics retrieval; a no-hit doc's pure-smoothing score ranks
    strictly below any single-hit doc of equal length).

    ``index`` shares a :func:`build_query_index` triple with BM25 —
    corpus frequency cf_t is Σ tf over the pruned postings, so the
    whole scorer derives from the same pinned table and literal stats
    row — the hybrid path adds ZERO corpus scans per retriever.
    """
    from .grouped import grouped_topk

    if index is not None:
        postings, stats, qterms = index
    else:
        postings, stats, qterms = build_query_index(docs, queries)
    tot = stats.select(F.col("_sumdl").cast("double").alias("_T"))
    cf = (postings.groupBy("term")
          .agg(F.sum("tf").cast("double").alias("_cf")))
    # per-query constant + matched-term count (OOV terms drop here)
    qconst = (qterms.join(F.broadcast(cf), "term")
              .crossJoin(F.broadcast(tot))
              .groupBy("qid")
              .agg(F.count("*").alias("_nq"),
                   F.sum(F.log(F.lit(QL_MU) * F.col("_cf") / F.col("_T")))
                   .alias("_qc")))
    hit = F.log(F.lit(1.0) + F.col("tf") * F.col("_T")
                / (F.lit(QL_MU) * F.col("_cf")))
    scored = (postings
              .join(F.broadcast(qterms), "term")
              .join(F.broadcast(cf), "term")
              .crossJoin(F.broadcast(tot))
              .groupBy("qid", "doc_id")
              .agg(F.count("*").cast("long").alias("n_hits"),
                   F.sum(hit).alias("_hits"),
                   F.first("dl").alias("_dl"))
              .join(F.broadcast(qconst), "qid")
              .select("qid", "doc_id", "n_hits",
                      F.round(F.col("_qc") + F.col("_hits")
                              - F.col("_nq")
                              * F.log(F.col("_dl") + F.lit(QL_MU)), 6)
                      .alias("score")))
    return grouped_topk(scored, ["qid"],
                        [F.col("score").desc(), F.col("doc_id")], k)


def rrf_fuse(*ranked: DataFrame) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of per-query ranked
    lists → ``(qid, doc_id, rrf, rank)`` plus one ``rank_i`` column per
    input list (−1 where the doc missed that list).

    THE standard hybrid-retrieval combiner (lexical + semantic, or any
    mix): rrf = Σ_lists 1/(60 + rank_list), needing only ranks — no
    score calibration across retrievers. Shuffle-light by
    construction: the inputs are already k-row-per-query shortlists,
    so the fusion is a full-outer join of bounded lists keyed on
    (qid, id); determinism via (rrf desc, id) ordering of the exact
    two-term double sum.
    """
    from functools import reduce

    from .grouped import grouped_topk

    slim = [r.select("qid", "doc_id",
                     F.col("rank").alias(f"_r{i}"))
            for i, r in enumerate(ranked)]
    joined = reduce(
        lambda a, b: a.join(b, ["qid", "doc_id"], "full_outer"), slim)
    rrf = sum((F.when(F.col(f"_r{i}").isNotNull(),
                      F.lit(1.0) / (F.lit(60) + F.col(f"_r{i}")))
               .otherwise(F.lit(0.0)) for i in range(len(slim))),
              start=F.lit(0.0))
    out = joined.select(
        "qid", "doc_id", F.round(rrf, 6).alias("rrf"),
        *[F.coalesce(F.col(f"_r{i}"), F.lit(-1)).cast("int")
          .alias(f"rank_{i}") for i in range(len(slim))])
    return grouped_topk(out, ["qid"],
                        [F.col("rrf").desc(), F.col("doc_id")], RRF_K)


def phrase_search(docs: DataFrame, phrases: list[str]) -> DataFrame:
    """Exact word-level phrase search via a POSITIONAL index (E178) →
    ``(phrase, doc_id, n_occurrences)`` for documents containing the
    phrase as consecutive words.

    The indexed path for exact phrase lookup: a ``contains()`` scan
    reads the whole corpus per query — fine once, unusable as a
    serving pattern at 100 TB. Here the corpus explodes ONCE into a
    positional posting table ``(word, doc, pos)``, pruned to words any
    phrase uses (broadcast vocabulary — the postings for everything
    else are never materialized), and each phrase becomes a chain of
    position-adjacency equi-joins: word₁ postings ⋈ word₂ postings on
    ``(doc, pos+1)`` ⋈ … — shuffle keys are (word) then (doc, pos),
    never a scan per phrase. Occurrences count ALL word-aligned match
    positions (overlapping included — the definitional count).

    Multi-phrase: the vocabulary filter is the union of all phrase
    words; per-phrase chains reuse the same pruned postings
    (checkpointed — the subtree-reuse lesson: K phrases would
    otherwise re-explode the corpus K times).
    """
    from functools import reduce

    words = [p.split() for p in phrases]
    if not words or any(len(w) < 1 for w in words):
        raise ValueError("phrases must be non-empty strings")
    vocab = sorted({w for ws in words for w in ws})
    tok = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    post = (docs.select(F.col("doc_id").alias("_d"),
                        F.posexplode(tok).alias("_p", "_w"))
            .where(F.col("_w").isin(vocab))
            .localCheckpoint(eager=True))
    outs = []
    for phrase, ws in zip(phrases, words):
        cur = (post.where(F.col("_w") == ws[0])
               .select("_d", F.col("_p").alias("_p0")))
        for i, w in enumerate(ws[1:], start=1):
            nxt = (post.where(F.col("_w") == w)
                   .select("_d", (F.col("_p") - i).alias("_p0")))
            cur = cur.join(nxt, ["_d", "_p0"])
        outs.append(cur.groupBy("_d").agg(
            F.count("*").cast("long").alias("n_occurrences"))
            .select(F.lit(phrase).alias("phrase"),
                    F.col("_d").alias("doc_id"), "n_occurrences"))
    return reduce(lambda a, b: a.unionByName(b), outs)


def origin_retrieval_eval(docs: DataFrame) -> DataFrame:
    """Passage-origin retrieval eval (E207) → ONE row ``(n_queries,
    n_found, recall_at_k, mrr_ppm)``.

    The self-supervised eval protocol that needs no human qrels:
    sample a word span from a document, use it as the query, and the
    document it came from IS the relevant answer — if BM25 cannot
    retrieve a passage's own source, it will not retrieve anything
    harder. Queries are deterministic (every ``ORIGIN_EVERY``-th doc by id,
    words ``SPAN_START..SPAN_START+SPAN_LEN-1`` of its token stream,
    de-duplicated — repeated terms would double-count in the OR-
    semantics scorer), so the eval is reproducible and the oracle can
    generate the identical query set.

    Readouts: recall@k (source doc anywhere in its query's top-k) and
    MRR in integer PARTS-PER-MILLION — each reciprocal rank is
    ``1_000_000 // rank`` (exact integers, the trending-items micro
    convention), so the mean is a ratio of exact sums and cannot move
    with summation order. Queries whose source doc is missed
    contribute 0 to both (the honest denominator).

    Scale: rides :func:`bm25_search_many` — corpus-side cost is ONE
    (doc, term) postings aggregate regardless of query count; the
    query table here is a 1/``ORIGIN_EVERY`` sample of doc ids, generated
    in-plan (no driver materialization).
    """
    words = F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda w: w != "")
    base = docs.select(F.col("doc_id"), words.alias("_w"))
    queries = (base
               .where((F.col("doc_id") % ORIGIN_EVERY == ORIGIN_OFFSET)
                      & (F.size("_w") >= SPAN_START + SPAN_LEN - 1))
               .select(F.col("doc_id").alias("qid"),
                       F.array_distinct(
                           F.slice("_w", SPAN_START, SPAN_LEN))
                       .alias("terms")))
    hits = bm25_search_many(docs, queries, k=ORIGIN_K)
    origin = (hits.where(F.col("qid") == F.col("doc_id"))
              .select("qid", "rank"))
    per_q = (queries.select("qid")
             .join(origin, "qid", "left")
             .select(F.when(F.col("rank").isNotNull(),
                            F.floor(F.lit(1_000_000) / F.col("rank"))
                            .cast("long"))
                     .otherwise(F.lit(0)).alias("_rr"),
                     F.col("rank").isNotNull().cast("long").alias("_hit")))
    # floor() EXPLICIT on both reductions: Spark's double->long cast
    # truncates but DuckDB's rounds — floor is the one both agree on
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.sum("_hit").cast("long").alias("n_found"),
        F.round(F.sum("_hit") / F.count("*"), 6).alias("recall_at_k"),
        F.floor(F.sum("_rr") / F.count("*")).cast("long")
        .alias("mrr_ppm"))
