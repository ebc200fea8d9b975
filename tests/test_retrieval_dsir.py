"""operators/retrieval.py (BM25), selection.dsir_importance and
cleaning.linear_quality_score: ranking semantics, importance-weight
signs, the hashed classifier, and the zero/low-shuffle plan
contracts."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from big_data_hw_23_24_spark.operators.cleaning import linear_quality_score
from big_data_hw_23_24_spark.operators.retrieval import bm25_topk
from big_data_hw_23_24_spark.operators.selection import dsir_importance


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- BM25 --------------------------------------------------------------------

def test_bm25_more_hits_rank_higher_same_length(spark):
    docs = _docs(spark, [
        (1, "spark spark spark pad pad pad"),
        (2, "spark pad pad pad pad pad"),
        (3, "pad pad pad pad pad pad"),
    ])
    out = bm25_topk(docs, ["spark"], k=10).collect()
    assert [r.doc_id for r in out] == [1, 2]  # doc 3 never matches
    assert [r.rank for r in out] == [1, 2]
    assert out[0].score > out[1].score > 0


def test_bm25_rare_term_outweighs_common_term(spark):
    # same tf and dl everywhere; 'rare' appears in 1 doc, 'common' in 3
    docs = _docs(spark, [
        (1, "rare pad pad pad"),
        (2, "common pad pad pad"),
        (3, "common pad pad pad"),
        (4, "common pad pad pad"),
    ])
    out = {r.doc_id: r.score for r in bm25_topk(docs, ["rare", "common"],
                                                k=10).collect()}
    assert out[1] > out[2] == out[3] == out[4]


def test_bm25_length_normalization_prefers_shorter_doc(spark):
    docs = _docs(spark, [
        (1, "spark pad"),
        (2, "spark pad pad pad pad pad pad pad pad pad pad pad"),
    ])
    out = {r.doc_id: r.score for r in bm25_topk(docs, ["spark"],
                                                k=10).collect()}
    assert out[1] > out[2]


def test_bm25_k_bound_and_validation(spark):
    docs = _docs(spark, [(i, "spark pad") for i in range(10)])
    assert bm25_topk(docs, ["spark"], k=3).count() == 3
    with pytest.raises(ValueError, match="at least one"):
        bm25_topk(docs, [])
    with pytest.raises(ValueError, match="duplicate"):
        bm25_topk(docs, ["a", "a"])


def test_bm25_matches_textbook_formula(spark):
    # one matching doc: score must equal the hand-computed Okapi value
    docs = _docs(spark, [
        (1, "spark spark pad pad"),   # dl=4, tf=2
        (2, "pad pad pad pad pad pad"),  # dl=6
    ])
    out = bm25_topk(docs, ["spark"], k=5).collect()
    assert len(out) == 1
    n, df, dl, avgdl, tf, k1, b = 2, 1, 4, 5.0, 2, 1.2, 0.75
    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
    want = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert out[0].score == pytest.approx(round(want, 6), abs=1e-6)


def test_bm25_scoring_is_shuffle_free(spark):
    # the ONLY exchanges are the 1-row stats broadcast and top-k;
    # no hash-partitioned corpus shuffle anywhere
    df = bm25_topk(_docs(spark, [(1, "spark pad")]), ["spark"], k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "Exchange hashpartitioning" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


# --- DSIR importance weights -------------------------------------------------

def _dsir_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, t boolean")


def test_dsir_target_lookalike_positive_offtarget_negative(spark):
    # target distribution is pure 'good stuff'; raw adds 'bad junk'
    rows = ([(i, "good stuff good stuff", True) for i in range(5)]
            + [(100 + i, "bad junk bad junk", False) for i in range(5)]
            + [(200, "good stuff good stuff", False),   # looks like target
               (201, "bad junk bad junk", False)])
    out = {r.doc_id: r for r in dsir_importance(
        _dsir_docs(spark, rows), F.col("t"), bucket_chars=3).collect()}
    assert out[200].weight > 0 > out[201].weight
    # the lookalike scores exactly like the in-target docs (same feats)
    assert out[200].weight == out[0].weight


def test_dsir_short_docs_carry_no_features(spark):
    out = {r.doc_id: r for r in dsir_importance(
        _dsir_docs(spark, [(1, "solo", False), (2, "", False),
                           (3, "a b", True)]),
        F.col("t")).collect()}
    assert (out[1].n_feats, out[1].weight) == (0, 0.0)
    assert (out[2].n_feats, out[2].weight) == (0, 0.0)
    assert out[3].n_feats == 1
    assert len(out) == 3  # left join keeps every doc


def test_dsir_matches_pure_python(spark):
    import hashlib
    from collections import Counter

    rows = [(1, "a b c a b", True), (2, "b c d", False),
            (3, "a b x y", False), (4, "q r s t q r", True)]
    eps, chars = 1e-6, 3

    def bigrams(text):
        w = [x for x in text.lower().split(" ") if x]
        return [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]

    def bucket(g):
        return hashlib.md5(g.encode()).hexdigest()[:chars]

    raw, tgt = Counter(), Counter()
    for _, text, t in rows:
        for g in bigrams(text):
            raw[bucket(g)] += 1
            if t:
                tgt[bucket(g)] += 1
    traw, ttgt = sum(raw.values()), sum(tgt.values())

    def lr(b):
        return (math.log(tgt[b] / ttgt + eps)
                - math.log(raw[b] / traw + eps))

    want = {}
    for doc_id, text, _ in rows:
        bs = [bucket(g) for g in bigrams(text)]
        want[doc_id] = round(sum(lr(b) for b in bs) / len(bs), 6)

    got = {r.doc_id: r.weight for r in dsir_importance(
        _dsir_docs(spark, rows), F.col("t"), bucket_chars=chars).collect()}
    for doc_id in want:
        assert got[doc_id] == pytest.approx(want[doc_id], abs=2e-6), doc_id


def test_dsir_bucket_join_is_broadcast(spark):
    df = dsir_importance(_dsir_docs(spark, [(1, "a b c", True)]),
                         F.col("t"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    # the bucket-lr table joins back by broadcast, never by shuffling
    # the corpus side on bucket; the only sort-merge candidate is the
    # final doc-keyed left join (corpus-vs-corpus, correctly keyed)
    assert "BroadcastHashJoin" in plan
    smj = [ln for ln in plan.splitlines() if "SortMergeJoin" in ln]
    assert all("doc_id" in ln for ln in smj), smj


def test_dsir_validation(spark):
    d = _dsir_docs(spark, [(1, "a b", True)])
    with pytest.raises(ValueError, match="bucket_chars"):
        dsir_importance(d, F.col("t"), bucket_chars=0)


# --- hashed linear quality classifier ----------------------------------------

def test_classifier_empty_doc_is_neutral(spark):
    out = {r.doc_id: r for r in linear_quality_score(
        _docs(spark, [(1, ""), (2, "word")])).collect()}
    assert (out[1].n_tokens, out[1].logit, out[1].prob, out[1].keep) \
        == (0, 0.0, 0.5, False)
    assert out[2].n_tokens == 1


def test_classifier_prob_is_sigmoid_of_logit(spark):
    for r in linear_quality_score(
            _docs(spark, [(1, "alpha beta gamma"),
                          (2, "delta epsilon")])).collect():
        assert r.prob == pytest.approx(
            round(1 / (1 + math.exp(-r.logit)), 6), abs=1e-6)
        assert r.keep == (r.logit > 0)


def test_classifier_hashed_face_plan_has_no_exchange(spark):
    df = linear_quality_score(_docs(spark, [(1, "a b c")]))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan


# --- temperature resampling --------------------------------------------------

def _src_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_temperature_alpha_one_is_identity(spark):
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    rows = [(i, f"t{i}", "a" if i < 6 else "b") for i in range(9)]
    out = temperature_resample(_src_docs(spark, rows), alpha=1.0).collect()
    assert len(out) == 9
    assert all(r.n_copies == 1 and r.copy == 1 and r.multiplicity == 1.0
               for r in out)


def test_temperature_sqrt_multiplicity_and_copy_counts(spark):
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    # 16 'big' docs, 4 'small' docs → m_small = sqrt(16/4) = 2 exactly
    rows = ([(i, f"b{i}", "big") for i in range(16)]
            + [(100 + i, f"s{i}", "small") for i in range(4)])
    out = temperature_resample(_src_docs(spark, rows), alpha=0.5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["big"]) == 16          # m=1, no upsampling
    assert len(by_src["small"]) == 8         # every doc exactly 2 copies
    assert all(r.multiplicity == 2.0 and r.n_copies == 2
               for r in by_src["small"])
    assert sorted(r.copy for r in by_src["small"]) == [1] * 4 + [2] * 4


def test_temperature_fractional_copies_bounded_and_deterministic(spark):
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    # 9 vs 4 → m = 1.5: every small doc gets 1 or 2 copies, expected
    # total ≈ 6, and a re-run replicates exactly
    rows = ([(i, f"b{i}", "big") for i in range(9)]
            + [(100 + i, f"s{i}", "small") for i in range(4)])
    docs = _src_docs(spark, rows)
    a = sorted((r.doc_id, r.copy) for r in
               temperature_resample(docs, alpha=0.5).collect())
    b = sorted((r.doc_id, r.copy) for r in
               temperature_resample(docs, alpha=0.5).collect())
    assert a == b
    small = [x for x in a if x[0] >= 100]
    assert 4 <= len(small) <= 8


def test_temperature_mix_oracle_parity_with_null_sources(spark, tmp_path):
    """The driver's testdata has no NULL sources, so sf-parity alone
    can't catch an operator/oracle divergence there: the operator
    preserves NULL-source rows via a coalesced shadow join key, and
    the oracle must mirror that (a plain USING(source) join silently
    drops them in DuckDB). Pin full-value parity on a corpus where a
    NULL-source group actually gets upsampled."""
    import duckdb

    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY
    _ensure_loaded()

    rows = ([(i, f"big doc {i}", "big") for i in range(16)]
            + [(100 + i, f"null doc {i}", None) for i in range(4)])
    docs = _src_docs(spark, rows)
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    q = _REGISTRY["corpus_temperature_mix"]
    got = sorted((r.doc_id, r.source, r.multiplicity, r.n_copies, r.copy)
                 for r in q.spark_fn(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'")
    want = sorted(tuple(t) for t in con.sql(q.oracle).fetchall())
    con.close()
    assert got == want
    # the NULL-source group (4 vs 16 docs) is upsampled m=2: every
    # NULL-source doc appears exactly twice — none dropped
    null_rows = [t for t in got if t[1] is None]
    assert len(null_rows) == 8
    assert all(t[3] == 2 for t in null_rows)


def test_temperature_validation(spark):
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    d = _src_docs(spark, [(1, "x", "a")])
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(d, alpha=0.0)
    with pytest.raises(ValueError, match="alpha"):
        temperature_resample(d, alpha=1.5)


# --- batch BM25 --------------------------------------------------------------

def test_bm25_batch_agrees_with_single_query_face(spark):
    from big_data_hw_23_24_spark.operators.retrieval import bm25_search_many

    docs = _docs(spark, [
        (1, "spark spark join pad"),
        (2, "spark pad pad pad"),
        (3, "join join pad pad pad"),
        (4, "pad pad pad"),
    ])
    qs = spark.createDataFrame([(7, ["spark", "join"])],
                               "qid int, terms array<string>")
    batch = {r.doc_id: (r.score, r.rank)
             for r in bm25_search_many(docs, qs, k=10).collect()}
    single = {r.doc_id: (r.score, r.rank)
              for r in bm25_topk(docs, ["spark", "join"], k=10).collect()}
    assert batch == single


def test_bm25_batch_queries_are_independent(spark):
    from big_data_hw_23_24_spark.operators.retrieval import bm25_search_many

    docs = _docs(spark, [(1, "alpha pad"), (2, "beta pad"), (3, "pad")])
    qs = spark.createDataFrame([(1, ["alpha"]), (2, ["beta"])],
                               "qid int, terms array<string>")
    out = {(r.qid, r.doc_id): r.rank
           for r in bm25_search_many(docs, qs, k=5).collect()}
    assert out == {(1, 1): 1, (2, 2): 1}


def test_bm25_batch_no_per_query_global_funnel(spark):
    from big_data_hw_23_24_spark.operators.retrieval import bm25_search_many

    docs = _docs(spark, [(1, "spark pad")])
    qs = spark.createDataFrame([(1, ["spark"])],
                               "qid int, terms array<string>")
    df = bm25_search_many(docs, qs, k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    # per-query ranking must run the two-stage grouped top-k: every
    # Window node partitions (by (partition-id, qid) then qid) — none
    # may sit on an Exchange SinglePartition funnel. The only
    # SinglePartition exchange allowed is the 1-row (N, sumdl) stats
    # aggregate, which never touches a Window.
    lines = plan.splitlines()
    win_idx = [i for i, ln in enumerate(lines) if "Window [" in ln]
    assert len(win_idx) == 2
    for i in win_idx:
        assert "qid" in lines[i]  # partitioned window spec
        assert not any("Exchange SinglePartition" in nxt
                       for nxt in lines[i + 1:i + 4])


# --- reranker feature assembly on the shortlist (E133) -------------------------

def test_rerank_features_hand_computed(spark):
    """Every feature verified against hand arithmetic on a 3-doc
    corpus, including query-term lowercasing and the earliest-match
    position; rank/score must carry over from the first stage."""
    from big_data_hw_23_24_spark.operators.retrieval import (
        bm25_search_many, rerank_features)

    docs = _docs(spark, [
        (1, "apple banana apple cherry"),
        (2, "date banana"),
        (3, "no match here at all"),
    ])
    qs = spark.createDataFrame([(1, ["Apple", "banana"])],
                               "qid int, terms array<string>")
    out = {r.doc_id: r for r in rerank_features(docs, qs, k=10).collect()}
    assert set(out) == {1, 2}                      # doc 3 never matches
    r1, r2 = out[1], out[2]
    assert (r1.n_terms, r1.n_hits, r1.overlap_frac) == (2, 2, 1.0)
    assert (r1.dl, r1.tf_total, r1.density) == (4, 3, 0.75)
    assert r1.first_pos == 1
    assert (r2.n_terms, r2.n_hits, r2.overlap_frac) == (2, 1, 0.5)
    assert (r2.dl, r2.tf_total, r2.density) == (2, 1, 0.5)
    assert r2.first_pos == 2                       # banana is token 2
    stage1 = {r.doc_id: (r.score, r.rank)
              for r in bm25_search_many(docs, qs, k=10).collect()}
    assert {d: (r.score, r.rank) for d, r in out.items()} == stage1


def test_rerank_features_shortlist_is_broadcast(spark):
    """The Q*k shortlist must broadcast into the corpus join — a
    shuffle join here would re-shuffle the whole corpus for a
    handful of shortlisted rows."""
    from big_data_hw_23_24_spark.operators.retrieval import rerank_features

    docs = _docs(spark, [(1, "spark pad"), (2, "pad only")])
    qs = spark.createDataFrame([(1, ["spark"])],
                               "qid int, terms array<string>")
    df = rerank_features(docs, qs, k=5)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "BroadcastHashJoin" in plan


# --- exact repeated-span removal ---------------------------------------------

def test_span_dedup_planted_template_removed_everywhere(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans)

    tpl = "one two three four five six seven eight"  # the shared 8-gram
    docs = _docs(spark, [
        (1, f"{tpl} unique tail alpha"),
        (2, f"leading beta {tpl}"),
        (3, "no overlap here at all just original words only"),
        (4, "short doc"),
    ])
    out = {r.doc_id: r for r in
           remove_repeated_spans(docs).collect()}
    assert out[1].clean_text == "unique tail alpha"
    assert out[1].n_removed == 8
    assert out[2].clean_text == "leading beta"
    assert out[3].n_removed == 0
    assert out[3].clean_text.startswith("no overlap")
    assert (out[4].n_tokens, out[4].n_removed) == (2, 0)
    assert out[4].clean_text == "short doc"


def test_span_dedup_overlapping_spans_merge(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans)

    # doc 1 and doc 2 share a 9-word run -> two overlapping flagged
    # 8-gram starts in each; the union covers all 9 words, not 16
    run = "w1 w2 w3 w4 w5 w6 w7 w8 w9"
    docs = _docs(spark, [
        (1, f"{run} tail1"),
        (2, f"{run} tail2"),
    ])
    out = {r.doc_id: r for r in
           remove_repeated_spans(docs).collect()}
    assert out[1].n_removed == 9
    assert out[1].clean_text == "tail1"
    assert out[2].clean_text == "tail2"


def test_span_dedup_within_doc_repeat_not_removed(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans)

    # the 8-gram repeats INSIDE one doc only — cross-doc criterion
    # (min_docs=2 distinct docs) must leave it alone
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = _docs(spark, [(1, f"{run} mid {run}"),
                         (2, "completely different words in this one")])
    out = {r.doc_id: r for r in
           remove_repeated_spans(docs).collect()}
    assert out[1].n_removed == 0


# --- exact-substring dedup, keep-one variant (E131) ---------------------------

def test_span_dedup_keepone_first_owner_keeps_span(spark):
    """The published ExactSubstr rule: the min-id owner keeps the
    shared span, every later doc loses it — exactly one copy of the
    duplicated text survives the corpus."""
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans_keepone)

    tpl = "one two three four five six seven eight"
    docs = _docs(spark, [
        (3, f"{tpl} in the middle doc"),
        (1, f"{tpl} unique tail alpha"),   # min id -> owner
        (2, f"leading beta {tpl}"),
        (4, "short doc"),
    ])
    out = {r.doc_id: r for r in
           remove_repeated_spans_keepone(docs).collect()}
    assert out[1].n_removed == 0                       # owner keeps it
    assert out[1].clean_text == f"{tpl} unique tail alpha"
    assert out[2].clean_text == "leading beta"         # later docs lose it
    assert out[3].clean_text == "in the middle doc"
    assert (out[4].n_tokens, out[4].n_removed) == (2, 0)


def test_span_dedup_keepone_ownership_is_per_gram(spark):
    """Ownership is elected per gram, not per doc: a doc that owns
    gram A still loses the tokens of foreign-owned gram B, and the
    two grams' owners differ."""
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans_keepone)

    a = "a1 a2 a3 a4 a5 a6 a7 a8"
    b = "b1 b2 b3 b4 b5 b6 b7 b8"
    docs = _docs(spark, [
        (1, f"{a} mid1"),          # owns A
        (2, f"{b} mid2"),          # owns B
        (3, f"{a} x {b}"),         # owns neither -> loses both
        (4, f"{b} y {a}"),         # loses both
    ])
    out = {r.doc_id: r for r in
           remove_repeated_spans_keepone(docs).collect()}
    assert out[1].n_removed == 0 and out[1].clean_text == f"{a} mid1"
    assert out[2].n_removed == 0 and out[2].clean_text == f"{b} mid2"
    assert out[3].clean_text == "x"
    assert out[4].clean_text == "y"


def test_span_dedup_keepone_owner_internal_repeat_kept(spark):
    """All occurrences WITHIN the owner doc survive (min_docs counts
    distinct docs; internal repetition is a repetition-score signal,
    not a dedup target) — only the non-owner's copy is stripped."""
    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans_keepone)

    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = _docs(spark, [(1, f"{run} mid {run}"),
                         (2, f"{run} tail")])
    out = {r.doc_id: r for r in
           remove_repeated_spans_keepone(docs).collect()}
    assert out[1].n_removed == 0
    assert out[2].clean_text == "tail"


# --- char-granularity repeated-substring flags (E132) --------------------------

def test_char_span_flags_misaligned_minified_blob(spark):
    """The case word-gram faces are blind to: a shared minified-JS
    blob (one giant 'word') planted at DIFFERENT offsets in two docs.
    Winnowed selection must flag it in both despite the misalignment
    (a stride-8 sampler would miss it: offsets differ by 13 !== 0 mod
    8); the clean doc stays unflagged."""
    from big_data_hw_23_24_spark.operators.textstats import char_span_flags

    blob = "var a=function(){return window.x&&document.y;};a();"
    docs = spark.createDataFrame(
        [
            (1, blob + " end of doc one"),
            (2, "prefix of 13." + blob + " other tail"),   # offset 13
            (3, "plain prose with ordinary words and nothing shared"),
            (4, "tiny"),                                    # < k chars
        ],
        "doc_id long, text string")
    out = {r.doc_id: r for r in char_span_flags(docs).collect()}
    assert out[1].n_flagged >= 1 and out[2].n_flagged >= 1
    assert out[3].n_flagged == 0
    assert (out[4].n_grams, out[4].n_selected, out[4].n_flagged) == (0, 0, 0)
    assert out[4].flag_frac == 0.0
    for r in out.values():
        assert 0 <= r.n_flagged <= r.n_selected <= r.n_grams or r.n_grams == 0


def test_char_span_flags_guarantee_threshold(spark):
    """The winnowing guarantee boundary: a shared run of w+k-1 = 27
    chars MUST co-select a hash in both docs (flagged); well below it
    nothing need be shared."""
    from big_data_hw_23_24_spark.operators.textstats import char_span_flags

    run27 = "0123456789abcdefghijklmnopq"          # exactly 27 chars
    assert len(run27) == 27
    docs = spark.createDataFrame(
        [
            (1, run27 + " then doc one continues differently here"),
            (2, "zz." + run27 + " and two diverges after that run"),
        ],
        "doc_id long, text string")
    out = {r.doc_id: r for r in char_span_flags(docs).collect()}
    assert out[1].n_flagged >= 1
    assert out[2].n_flagged >= 1


# --- quality-aware dedup survivors -------------------------------------------

def test_best_survivors_keeps_argmax_not_min_id(spark):
    from big_data_hw_23_24_spark.operators.components import best_survivors

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, component long")
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.4)],
        "doc_id long, quality_score double")
    out = {r.component: r for r in best_survivors(comp, scores).collect()}
    # component 1: 2 and 3 tie at 0.9 -> smaller id wins, min-id 1 loses
    assert (out[1].keep_id, out[1].keep_score, out[1].n_docs,
            out[1].n_dropped) == (2, 0.9, 3, 2)
    assert (out[10].keep_id, out[10].n_dropped) == (10, 1)


def test_best_survivors_tolerates_missing_scores(spark):
    """The scores table need not cover every member (left-join
    contract): unscored members still count in n_docs, rank below any
    real score, and a fully-unscored component still elects its min-id
    member (NULL keep_score) instead of vanishing."""
    from big_data_hw_23_24_spark.operators.components import best_survivors

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, component long")
    scores = spark.createDataFrame(
        [(1, 0.1), (3, 0.05)],  # 2 unscored; component 10 fully unscored
        "doc_id long, quality_score double")
    out = {r.component: r for r in best_survivors(comp, scores).collect()}
    assert (out[1].keep_id, out[1].keep_score, out[1].n_docs,
            out[1].n_dropped) == (1, 0.1, 3, 2)
    assert (out[10].keep_id, out[10].keep_score, out[10].n_docs,
            out[10].n_dropped) == (10, None, 2, 1)


# --- fanout guard ------------------------------------------------------------

def test_ensure_fanout_noop_when_enough_partitions(spark):
    from big_data_hw_23_24_spark.operators.util import ensure_fanout

    sc = spark.sparkContext
    width = sc.defaultParallelism
    df = spark.range(0, 1000, 1, 2 * width)
    assert ensure_fanout(df) is df  # guard: no extra shuffle added
    few = spark.range(0, 1000, 1, 1)
    out = ensure_fanout(few)
    assert out is not few
    assert out.rdd.getNumPartitions() == width
    assert out.count() == 1000

    # a post-shuffle frame comes back as is, and is not probed: under
    # AQE the probe would run the aggregate as a job and report its
    # coalesced width
    agg = spark.range(0, 700, 1, 1).groupBy(F.col("id") % 7).count()
    sc.setJobGroup("fanout_post_shuffle", "ensure_fanout on an aggregate")
    try:
        assert ensure_fanout(agg) is agg
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not sc.statusTracker().getJobIdsForGroup("fanout_post_shuffle")

    # a cached frame is a leaf of the plan: probed, and fanned out
    # when it has too few partitions
    cached = spark.range(0, 500, 1, 1).cache()
    try:
        cached.count()
        out = ensure_fanout(cached)
        assert out is not cached
        assert out.rdd.getNumPartitions() == width
        assert out.count() == 500
    finally:
        cached.unpersist()


# --- sequential funnel --------------------------------------------------------

def test_funnel_strict_order_and_depths(spark):
    from datetime import datetime

    from big_data_hw_23_24_spark.operators.funnel import funnel_depths

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    ev = spark.createDataFrame(
        [  # u1: full ordered funnel
         (1, ts(1), "view"), (1, ts(2), "click"), (1, ts(3), "purchase"),
         # u2: purchase BEFORE the view -> depth stops at click
         (2, ts(0), "purchase"), (2, ts(1), "view"), (2, ts(2), "click"),
         # u3: click precedes the first view -> depth 1
         (3, ts(0), "click"), (3, ts(1), "view"),
         # u4: never views -> absent from output
         (4, ts(1), "click"), (4, ts(2), "purchase"),
         # u5: same-timestamp click is NOT strictly after the view
         (5, ts(1), "view"), (5, ts(1), "click"),
         # u6: no time bound — stages long after the view still count
         (6, ts(0), "view"), (6, ts(20), "click"), (6, ts(59), "purchase")],
        "user_id long, ts timestamp, event_type string")
    out = {r.user_id: r.depth
           for r in funnel_depths(ev, ["view", "click", "purchase"])
           .collect()}
    assert out == {1: 3, 2: 2, 3: 1, 5: 1, 6: 3}


def test_funnel_first_touch_anchoring(spark):
    from datetime import datetime

    from big_data_hw_23_24_spark.operators.funnel import funnel_depths

    def ts(m):
        return datetime(2024, 1, 1, 0, m)

    # the user views at t1 and t5; the click at t3 counts because the
    # anchor is the FIRST view
    ev = spark.createDataFrame(
        [(1, ts(1), "view"), (1, ts(5), "view"), (1, ts(3), "click")],
        "user_id long, ts timestamp, event_type string")
    out = funnel_depths(ev, ["view", "click"]).collect()
    assert out[0].depth == 2


def test_funnel_validation(spark):
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators.funnel import funnel_depths

    ev = spark.createDataFrame([(1, None, "view")],
                               "user_id long, ts timestamp, event_type string")
    with _pytest.raises(ValueError, match="at least 2"):
        funnel_depths(ev, ["view"])
    with _pytest.raises(ValueError, match="duplicate"):
        funnel_depths(ev, ["view", "view"])


def test_retention_cohort_hand_case(spark):
    from datetime import datetime

    from big_data_hw_23_24_spark.operators.funnel import retention_cohorts

    ev = spark.createDataFrame(
        [  # u1 first in week of Jan 1 (Mon), returns wk+1 and wk+3
         (1, datetime(2024, 1, 2), "a"), (1, datetime(2024, 1, 9), "b"),
         (1, datetime(2024, 1, 24), "c"),
         # u2 same cohort, never returns
         (2, datetime(2024, 1, 3), "a"),
         # u3 cohort of Jan 8, returns wk+1
         (3, datetime(2024, 1, 10), "a"), (3, datetime(2024, 1, 15), "b")],
        "user_id long, ts timestamp, event_type string")
    out = {(r.cohort_week, r.week_offset): r.n_users
           for r in retention_cohorts(ev).collect()}
    assert out == {("2024-01-01", 0): 2, ("2024-01-01", 1): 1,
                   ("2024-01-01", 3): 1,
                   ("2024-01-08", 0): 1, ("2024-01-08", 1): 1}


def test_temperature_null_source_rows_survive(spark):
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    rows = ([(i, f"b{i}", "big") for i in range(4)]
            + [(100, "orphan one", None), (101, "orphan two", None)])
    out = temperature_resample(_src_docs(spark, rows), alpha=0.5).collect()
    # NULL sources form their own cohort (upsampled as a small source),
    # never silently dropped by the stats join
    null_rows = [r for r in out if r.source is None]
    assert {r.doc_id for r in null_rows} == {100, 101}
    assert all(r.multiplicity == pytest.approx(2 ** 0.5, abs=1e-6)
               for r in null_rows)
    assert len(out) >= 6


def test_bm25_oracle_sql_escapes_quotes():
    from big_data_hw_23_24_spark.operators.retrieval import bm25_oracle_sql

    sql = bm25_oracle_sql(["o'brien"], k=5)
    assert "o''brien" in sql and "= 'o'b" not in sql


# --- hypothesis properties for the late-r6 tier ------------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_word = st.sampled_from(["alpha", "beta", "gamma", "delta", "pad"])
_text = st.lists(_word, min_size=0, max_size=10).map(" ".join)
_corpus = st.lists(_text, min_size=1, max_size=6)
_H = dict(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(texts=_corpus,
       terms=st.lists(st.sampled_from(["alpha", "beta", "gamma"]),
                      min_size=1, max_size=3, unique=True))
@settings(**_H)
def test_bm25_single_equals_batch_on_random_corpora(spark, texts, terms):
    """The literal-unrolled single-query face and the inverted-index
    batch face must agree EXACTLY (scores, ranks, membership) on
    random corpora — the invariant that pins both tokenizations and
    both df/idf computations together."""
    from big_data_hw_23_24_spark.operators.retrieval import (
        bm25_search_many, bm25_topk)

    docs = _docs(spark, list(enumerate(texts)))
    qs = spark.createDataFrame([(1, terms)], "qid int, terms array<string>")
    single = {r.doc_id: (r.score, r.rank)
              for r in bm25_topk(docs, terms, k=20).collect()}
    batch = {r.doc_id: (r.score, r.rank)
             for r in bm25_search_many(docs, qs, k=20).collect()}
    assert single == batch


@given(counts=st.lists(st.integers(min_value=1, max_value=12),
                       min_size=1, max_size=4))
@settings(**_H)
def test_temperature_copy_totals_match_expectation(spark, counts):
    """Per-source output size is n_s·floor(m) + |{docs below the
    fractional threshold}| — within 1 bucket-granularity doc of
    n_s·m_s — and every doc appears with copies 1..n_copies densely."""
    from big_data_hw_23_24_spark.operators.splits import temperature_resample

    rows, did = [], 0
    for s_i, n in enumerate(counts):
        for _ in range(n):
            rows.append((did, f"t{did}", f"s{s_i}"))
            did += 1
    out = temperature_resample(_src_docs(spark, rows), alpha=0.5).collect()
    nmax = max(counts)
    by_src: dict = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    for s_i, n in enumerate(counts):
        got = by_src[f"s{s_i}"]
        m = (nmax / n) ** 0.5
        lo, hi = n * int(m), n * (int(m) + 1)
        assert lo <= len(got) <= hi
        # dense copy indices per doc
        per_doc: dict = {}
        for r in got:
            per_doc.setdefault(r.doc_id, []).append(r.copy)
        for doc, copies in per_doc.items():
            assert sorted(copies) == list(range(1, len(copies) + 1))


@given(texts=st.lists(
    st.lists(st.sampled_from("abcd"), min_size=0, max_size=12)
    .map(" ".join), min_size=2, max_size=5))
@settings(**_H)
def test_span_dedup_matches_python_reference(spark, texts):
    """remove_repeated_spans at n=3 equals a pure-Python reference
    (mine 3-gram spans in ≥2 docs, mask covered tokens) on random
    short-alphabet corpora where collisions are common."""
    from collections import defaultdict

    from big_data_hw_23_24_spark.operators.textstats import (
        remove_repeated_spans)

    n = 3
    toks = {i: [w for w in t.split(" ") if w] for i, t in enumerate(texts)}
    gram_docs = defaultdict(set)
    for i, ws in toks.items():
        for s in range(len(ws) - n + 1):
            gram_docs[" ".join(ws[s:s + n])].add(i)
    mined = {g for g, ds in gram_docs.items() if len(ds) >= 2}
    want = {}
    for i, ws in toks.items():
        covered = set()
        for s in range(len(ws) - n + 1):
            if " ".join(ws[s:s + n]) in mined:
                covered.update(range(s, s + n))
        kept = [w for j, w in enumerate(ws) if j not in covered]
        want[i] = (len(ws), len(ws) - len(kept), " ".join(kept))
    got = {r.doc_id: (r.n_tokens, r.n_removed, r.clean_text)
           for r in remove_repeated_spans(
               _docs(spark, list(enumerate(texts))), n=n).collect()}
    assert got == want


def test_funnel_and_retention_plans_are_all_equi_joins(spark):
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    for name in ["user_funnel_3stage", "user_retention_cohorts"]:
        df = _REGISTRY[name].spark_fn(spark, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Window" not in plan, name  # aggregates only, no
        #                                    single-reducer ranking pass
        assert "BatchEvalPython" not in plan, name


# --- incremental minhash matching --------------------------------------------

def _mk_text(words):
    return " ".join(words)


def test_minhash_match_against_planted(spark):
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_match_against, minhash_signature, word_shingles)

    base = [f"w{i}" for i in range(40)]
    corpus = _docs(spark, [
        (1, _mk_text(base)),
        (2, _mk_text([f"x{i}" for i in range(40)])),
    ])
    store = (minhash_signature(word_shingles(corpus))
             .select("doc_id", "signature"))

    mutated = list(base)
    mutated[7] = "CHANGED"  # one word off a 40-word doc: J ≈ 0.85
    batch = _docs(spark, [
        (100, _mk_text(mutated)),          # near-dup of corpus 1
        (101, _mk_text(base)),             # exact copy of corpus 1
        (102, "totally novel content here entirely unrelated words"),
        (103, "shorty"),                   # < 3 words: no shingles
    ])
    got = {(r.batch_id, r.corpus_id): r.est_jaccard
           for r in minhash_match_against(batch, store,
                                          threshold=0.5).collect()}
    assert got[(101, 1)] == 1.0            # exact copy: every component
    assert (100, 1) in got and got[(100, 1)] >= 0.5
    assert not any(b in (102, 103) for b, _ in got)
    assert not any(c == 2 for _, c in got)


def test_md5_minhash_family_matches_pure_python_spec(spark):
    """The md5 hash family is the engine-portable oracle face: pin the
    Spark signatures against an independent pure-Python rederivation
    of the spec (28-bit md5 prefix base hash, pinned linear mixes mod
    2³¹−1) so a drift in either the constants or the expression text
    breaks loudly, not as a silent oracle-parity 'both moved' miss."""
    import hashlib

    from big_data_hw_23_24_spark.operators.dedup import (
        md5_minhash_constants, minhash_signature, word_shingles)

    texts = {1: "alpha beta gamma delta epsilon", 2: "one two three"}
    docs = _docs(spark, list(texts.items()))
    got = {r.doc_id: list(r.signature)
           for r in minhash_signature(word_shingles(docs),
                                      hash_family="md5").collect()}
    consts = md5_minhash_constants(32)
    for doc_id, text in texts.items():
        words = [w for w in text.split(" ") if w]
        shingles = {" ".join(words[i:i + 3])
                    for i in range(len(words) - 2)}
        bases = [int(hashlib.md5(s.encode()).hexdigest()[:7], 16)
                 for s in shingles]
        want = [min((a * b + c) % 2147483647 for b in bases)
                for a, c in consts]
        assert got[doc_id] == want, doc_id


def test_minhash_signature_rejects_unknown_family(spark):
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_signature, word_shingles)

    shingled = word_shingles(_docs(spark, [(1, "a b c d")]))
    with pytest.raises(ValueError, match="hash_family"):
        minhash_signature(shingled, hash_family="sha1")


def test_minhash_match_threshold_filters_estimate(spark):
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_match_against, minhash_signature, word_shingles)

    base = [f"t{i}" for i in range(30)]
    corpus = _docs(spark, [(1, _mk_text(base))])
    store = (minhash_signature(word_shingles(corpus))
             .select("doc_id", "signature"))
    batch = _docs(spark, [(200, _mk_text(base))])
    # an impossible threshold returns nothing even though bands collide
    assert minhash_match_against(batch, store,
                                 threshold=1.000001).count() == 0


# --- cross-document paragraph dedup -------------------------------------------

def test_paragraph_dedup_keeps_first_owner_only(spark):
    from big_data_hw_23_24_spark.operators.cleaning import (
        dedup_paragraphs_global)

    docs = _docs(spark, [
        (1, "shared header\nunique one\n\ntail"),
        (2, "shared header\nunique two"),
        (3, "unique three\nshared header"),
        (4, "shared header"),           # loses its only line
    ])
    out = {r.doc_id: r for r in dedup_paragraphs_global(docs).collect()}
    assert out[1].clean_text == "shared header\nunique one\n\ntail"
    assert out[2].clean_text == "unique two"
    assert out[3].clean_text == "unique three"
    assert (out[4].n_kept, out[4].clean_text) == (0, "")
    assert out[1].n_lines == 4 and out[1].n_kept == 4
    # empty line in doc 1 kept as a structural separator
    assert "\n\n" in out[1].clean_text


def test_paragraph_dedup_first_owner_is_min_doc_then_position(spark):
    from big_data_hw_23_24_spark.operators.cleaning import (
        dedup_paragraphs_global)

    docs = _docs(spark, [
        (5, "x\ndup\ndup"),   # within-doc repeat: position 1 wins
        (9, "dup"),
    ])
    out = {r.doc_id: r for r in dedup_paragraphs_global(docs).collect()}
    assert out[5].clean_text == "x\ndup"   # second in-doc copy gone too
    assert out[9].clean_text == ""


# --- E150: query-likelihood retrieval + RRF fusion -------------------------------

def test_ql_prefers_rare_term_and_normalizes_length(spark):
    """Dirichlet QL semantics, hand-checked: a doc matching the rare
    query term outranks one matching only the common term; between two
    docs with identical matches, the shorter one scores higher (the
    -|q|*ln(dl+mu) length normalizer); OOV query terms drop from the
    model instead of zeroing every document."""
    from big_data_hw_23_24_spark.operators.retrieval import ql_search_many

    rows = [
        (1, "rareword common filler filler"),
        (2, "common filler filler filler"),
        (3, "rareword common"),                      # short, both terms
        (4, "common common common common common"),   # common-heavy
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    qs = spark.createDataFrame(
        [(1, ["rareword", "common", "neverseen"])],
        "qid int, terms array<string>")
    out = {r.doc_id: r for r in ql_search_many(docs, qs, k=10).collect()}
    assert set(out) == {1, 2, 3, 4}                  # OOV didn't zero docs
    ranks = {d: out[d].rank for d in out}
    # both-term docs beat single-term docs; short both-term doc wins
    assert ranks[3] == 1
    assert ranks[1] == 2
    assert out[3].n_hits == 2 and out[2].n_hits == 1
    assert ranks[3] < ranks[1] < min(ranks[2], ranks[4])


def test_rrf_fuse_combines_and_flags_singles(spark):
    """RRF hand case: a doc ranked 1st+2nd beats a doc ranked 2nd+1st
    tie? no — symmetric; check exact values: 1/(61)+1/(62) for both;
    tiebreak by doc_id. A doc present in only one list carries -1 for
    the other and exactly one reciprocal term."""
    from big_data_hw_23_24_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 10, 1), (1, 20, 2), (1, 30, 3)],
                              "qid int, doc_id long, rank int")
    b = spark.createDataFrame([(1, 20, 1), (1, 10, 2), (1, 99, 3)],
                              "qid int, doc_id long, rank int")
    out = {r.doc_id: r for r in rrf_fuse(a, b, k=10).collect()}
    assert round(out[10].rrf, 6) == round(1 / 61 + 1 / 62, 6)
    assert round(out[20].rrf, 6) == round(1 / 61 + 1 / 62, 6)
    assert out[10].rank == 1 and out[20].rank == 2   # tie -> doc_id
    assert out[30].rank_1 == -1 and round(out[30].rrf, 6) == round(1 / 63, 6)
    assert out[99].rank_0 == -1 and round(out[99].rrf, 6) == round(1 / 63, 6)
