"""operators/cleaning.py + operators/selection.py + semantic_dedup:
line-level cleaning semantics, exact stratified sampling, token-budget
curation and SemDeDup invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_hw_23_24_spark.operators.cleaning import (
    c4_line_filter,
    dedup_lines,
)
from big_data_hw_23_24_spark.operators.ranking import global_cumsum
from big_data_hw_23_24_spark.operators.selection import (
    quality_budget,
    stratified_sample,
)
from big_data_hw_23_24_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


# --- line cleaning -----------------------------------------------------------

def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_lines_keeps_first_occurrence_in_order(spark):
    out = dedup_lines(_docs(spark, [
        (1, "a\nb\na\nc\nb\na"),
        (2, "x"),
        (3, ""),
    ])).collect()
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].text_deduped == "a\nb\nc"
    assert (by_id[1].n_lines, by_id[1].n_unique_lines) == (6, 3)
    assert by_id[2].text_deduped == "x"
    assert by_id[3].text_deduped == ""  # split('') → [''] → one line
    assert by_id[3].n_unique_lines == 1


def test_c4_filter_line_rules(spark):
    # punct+enough words kept; no punct dropped; punct but short
    # dropped; '?' and '"' count as terminal
    out = c4_line_filter(_docs(spark, [
        (1, 'one two three four.\nno punct at all\nOk.\n'
            'is this kept too?\nhe said "stop right there."'),
    ]), min_words=4, min_lines=2).collect()[0]
    assert out.clean_text.split("\n") == [
        "one two three four.", "is this kept too?",
        'he said "stop right there."']
    assert (out.n_lines, out.n_kept, out.keep) == (5, 3, True)


def test_c4_filter_doc_level_junk_flags(spark):
    rows = [
        (1, "good line number one.\ngood line number two."),
        (2, "Lorem Ipsum dolor sit amet.\nanother fine line here."),
        (3, "a code line with brace {.\nanother fine line here."),
        (4, "only one surviving line here.\nnope"),
    ]
    out = {r.doc_id: r for r in
           c4_line_filter(_docs(spark, rows)).collect()}
    assert out[1].keep
    assert out[2].has_lorem and not out[2].keep
    assert out[3].has_brace and not out[3].keep
    assert out[4].n_kept == 1 and not out[4].keep


def test_cleaning_plans_have_no_exchange(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    for df in (c4_line_filter(docs), dedup_lines(docs)):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        assert "Exchange" not in plan, plan


# --- stratified sampling -----------------------------------------------------

def test_stratified_sample_exact_counts_and_determinism(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    out = stratified_sample(docs, ["source"], 10, "doc_id")
    counts = {r.source: r.n for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    strata = {r.source: r.n for r in
              docs.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {s: min(10, n) for s, n in strata.items()}
    # same rows regardless of input partitioning
    a = {(r.doc_id, r.sample_rank) for r in out.collect()}
    b = {(r.doc_id, r.sample_rank) for r in
         stratified_sample(docs.repartition(17), ["source"], 10,
                           "doc_id").collect()}
    assert a == b


def test_stratified_sample_nested_prefix_consistency(spark):
    """rank ≤ 3 of the k=10 sample IS the k=3 sample (callers can
    carve nested subsets without resampling)."""
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    k10 = {(r.doc_id, r.sample_rank) for r in
           stratified_sample(docs, ["source"], 10, "doc_id").collect()
           if r.sample_rank <= 3}
    k3 = {(r.doc_id, r.sample_rank) for r in
          stratified_sample(docs, ["source"], 3, "doc_id").collect()}
    assert k10 == k3


def test_stratified_sample_no_global_stratum_funnel(spark):
    """The stage-1 window must be keyed by (partition, stratum) —
    a plan whose ONLY window partitions by the stratum alone would
    funnel whole strata through single reducers."""
    docs = load_table(spark, SF, "documents").select("doc_id", "source")
    df = stratified_sample(docs.repartition(8), ["source"], 5, "doc_id")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "SPARK_PARTITION_ID" in plan.upper(), plan


def test_stratified_sample_rejects_bad_k(spark):
    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError):
        stratified_sample(docs, ["source"], 0, "doc_id")


# --- global cumsum + budget --------------------------------------------------

def test_global_cumsum_matches_single_reducer_window(spark,
                                                     shuffle_partitions):
    c = load_table(spark, SF, "customer").select(
        "c_custkey", F.col("c_acctbal").alias("bal"),
        (F.col("c_custkey") % 7 + 1).alias("sz"))
    shuffle_partitions(7)
    assert c.repartitionByRange("bal", "c_custkey") \
        .rdd.getNumPartitions() == 7
    got = {r.c_custkey: r.cs for r in
           global_cumsum(c, ["bal", "c_custkey"], "sz",
                         out_col="cs").collect()}
    w = (Window.orderBy("bal", "c_custkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    want = {r.c_custkey: r.cs for r in
            c.select("c_custkey",
                     F.sum("sz").over(w).alias("cs")).collect()}
    assert got == want


def test_quality_budget_never_overshoots_and_is_maximal(spark):
    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.col("n_chars").alias("sz"))
    out = quality_budget(docs, [F.col("sz").desc(), F.col("doc_id")],
                         "sz", 5000, cum_col="cum").collect()
    total = sum(r.sz for r in out)
    assert total <= 5000
    assert max(r.cum for r in out) == total
    # maximal: the next doc in rank order would not have fit
    taken = {r.doc_id for r in out}
    nxt = (docs.orderBy(F.col("sz").desc(), "doc_id")
           .where(~F.col("doc_id").isin(taken)).first())
    assert nxt is None or total + nxt.sz > 5000


# --- SemDeDup ---------------------------------------------------------------

def _semantic(spark):
    from big_data_hw_23_24_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    cents = (emb.where(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").cast("array<double>").alias("cv")))
    return emb, semantic_dedup(emb, cents, threshold=0.35)


def test_semantic_dedup_covers_corpus_and_drops_some(spark):
    emb, out = _semantic(spark)
    rows = out.collect()
    assert len(rows) == emb.count()  # every vector gets a verdict
    assert {r.cluster for r in rows} <= {0, 1, 2, 3}
    n_dropped = sum(r.dropped for r in rows)
    assert 0 < n_dropped < len(rows)  # non-vacuous at τ=0.35


def test_semantic_dedup_min_id_of_cluster_never_dropped(spark):
    """Greedy smallest-id exemplars: the minimum id in each cluster
    has no smaller-id neighbor, so it must always survive."""
    _, out = _semantic(spark)
    firsts = (out.groupBy("cluster")
              .agg(F.min("vec_id").alias("vec_id"))
              .join(out, ["cluster", "vec_id"]).collect())
    assert firsts and all(not r.dropped for r in firsts)


def test_semantic_dedup_survivors_independent_dropped_exact(spark):
    """Two invariants against exact in-cluster cosines: no similar
    pair survives whole (survivors form an independent set), and the
    dropped set is EXACTLY the larger ids of the similar pairs (the
    greedy smallest-id rule, nothing more, nothing less)."""
    from big_data_hw_23_24_spark.operators.similarity import (
        _dot,
        with_l2_norm,
    )

    emb, out = _semantic(spark)
    v = with_l2_norm(
        out.join(emb, "vec_id").select(
            "vec_id", "cluster", "dropped",
            F.col("embedding").cast("array<double>").alias("v")), "v")
    a = v.select(F.col("vec_id").alias("ia"), F.col("cluster").alias("ca"),
                 F.col("dropped").alias("da"), F.col("v").alias("va"),
                 F.col("norm").alias("na"))
    b = v.select(F.col("vec_id").alias("ib"), F.col("cluster").alias("cb"),
                 F.col("dropped").alias("db"), F.col("v").alias("vb"),
                 F.col("norm").alias("nb"))
    pairs = (a.join(b, (F.col("ca") == F.col("cb"))
                    & (F.col("ia") < F.col("ib")))
             .where(F.round(_dot(F.col("va"), F.col("vb"))
                            / (F.col("na") * F.col("nb")), 6) >= 0.35)
             .select("ia", "ib", "da", "db").collect())
    assert pairs
    # independent: no similar pair with both surviving
    assert not [p for p in pairs if not p.da and not p.db]
    # exact: dropped ⟺ appears as the larger id of some similar pair
    dropped = {r.vec_id for r in out.where("dropped").collect()}
    assert dropped == {p.ib for p in pairs}


# --- winnowing fingerprints --------------------------------------------------

def test_winnow_guarantee_shared_run_coselects(spark):
    """The winnowing guarantee (Schleimer et al. 2003 §3): any run of
    ≥ w+k-1 shared words forces at least one COMMON selected hash —
    here a 9-word plagiarized span (k=4, w=5) across otherwise
    different documents."""
    from big_data_hw_23_24_spark.operators.textstats import (
        winnow_fingerprints)

    span = "one two three four five six seven eight nine"
    docs = spark.createDataFrame(
        [(1, f"alpha beta gamma {span} delta epsilon"),
         (2, f"totally different words here {span} closing words now"),
         (3, "no overlap with anything else at all in this one")],
        "doc_id long, text string")
    # explode selected sets via a second run with the same params
    # (fp_set_md5 equality face) — recompute selection in python-free
    # SQL by joining on the digest is impossible, so compare via the
    # operator's own exploded variant: rerun on the span alone; its
    # selected hashes must intersect both carriers' sets
    out = {r.doc_id: r for r in
           winnow_fingerprints(docs, k=4, w=5).collect()}
    assert all(out[i].n_selected > 0 for i in (1, 2, 3))
    # doc1 and doc2 share the span; doc3 shares nothing — use digest
    # inequality for 3 and a direct set check for the guarantee
    from pyspark.sql import functions as F

    def selected(df):
        words = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        n = F.size(words)
        grams = F.transform(
            F.sequence(F.lit(1), n - 4 + 1),
            lambda i: F.substring(
                F.md5(F.array_join(F.slice(words, i, 4), " ")), 1, 16))
        sel = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size(grams) - 5 + 1),
            lambda j: F.array_min(F.slice(grams, j, 5))))
        return {r.doc_id: set(r.sel) for r in
                df.select("doc_id", sel.alias("sel")).collect()}
    sets = selected(docs)
    assert sets[1] & sets[2]          # shared run ⇒ common fingerprint
    assert not (sets[1] & sets[3])    # disjoint text ⇒ disjoint sets


def test_winnow_edge_cases_and_position_independence(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        winnow_fingerprints)

    docs = spark.createDataFrame(
        [(1, ""),                       # no words
         (2, "just three words"),       # < k words → 0 grams
         (3, "exactly four small words"),  # 1 gram < w → global min
         (4, "a b c d e f"),            # 3 grams < w → one fingerprint
         (5, "PRE " * 3 + "a b c d e f g h i"),
         (6, "a b c d e f g h i")],     # 5 shifted: selection overlaps
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           winnow_fingerprints(docs, k=4, w=5).collect()}
    assert out[1].n_grams == 0 and out[1].n_selected == 0
    assert out[2].n_grams == 0 and out[2].n_selected == 0
    assert out[3].n_grams == 1 and out[3].n_selected == 1
    assert out[4].n_grams == 3 and out[4].n_selected == 1
    # identical 9-word tail under a shifted prefix still fingerprints
    assert out[5].n_selected > 0 and out[6].n_selected > 0


def test_winnow_plan_is_exchange_free(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        winnow_fingerprints)
    from big_data_hw_23_24_spark.sources.tables import load_table

    df = winnow_fingerprints(load_table(spark, SF, "documents"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan


def test_winnow_overlap_pairs_max_df_guard_and_planted_pair(spark):
    """A planted 12-word shared span must pair its two carriers, and a
    corpus-wide boilerplate span pairs every doc that carries it (there
    is no stop-fingerprint guard)."""
    from big_data_hw_23_24_spark.operators.textstats import (
        winnow_overlap_pairs)

    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    boiler = "copyright footer boilerplate text appears everywhere always"
    rows = [(i, f"unique{i}a unique{i}b unique{i}c {boiler} "
                f"unique{i}d unique{i}e") for i in range(10)]
    rows += [(100, f"alpha beta {span} gamma delta"),
             (101, f"epsilon zeta {span} eta theta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    free = winnow_overlap_pairs(docs, k=4, w=5)
    got = {(r.id_a, r.id_b) for r in free.collect()}
    assert (100, 101) in got
    assert any(a < 10 and b < 10 for a, b in got)  # boiler pairs exist
    # resemblance is a valid (0, 1] score
    assert all(0 < r.resemblance <= 1 for r in free.collect())


def test_token_shards_balance_and_completeness(spark):
    """Every doc lands in exactly one shard; shard token sums sit
    within target + max_doc of the target; shard ids are contiguous
    from 0; the md5 order makes assignment partitioning-invariant."""
    from big_data_hw_23_24_spark.operators.selection import token_shards

    docs = load_table(spark, SF, "documents").select(
        "doc_id", F.col("n_chars").alias("sz"),
        F.md5(F.col("doc_id").cast("string")).alias("h"))
    out = token_shards(docs, ["h", "doc_id"], "sz", 3000)
    rows = out.collect()
    assert len(rows) == docs.count()
    max_doc = max(r.sz for r in rows)
    sums: dict = {}
    for r in rows:
        sums[r.shard] = sums.get(r.shard, 0) + r.sz
    shards = sorted(sums)
    assert shards == list(range(len(shards)))  # contiguous from 0
    # every shard except possibly the last holds ≥ target - max_doc
    # and ≤ target + max_doc tokens (a doc never splits)
    for s in shards[:-1]:
        assert 3000 - max_doc <= sums[s] <= 3000 + max_doc
    # partitioning invariance
    again = {(r.doc_id, r.shard) for r in
             token_shards(docs.repartition(13), ["h", "doc_id"], "sz",
                          3000).collect()}
    assert again == {(r.doc_id, r.shard) for r in rows}


def test_token_shards_rejects_bad_target(spark):
    from big_data_hw_23_24_spark.operators.selection import token_shards

    docs = load_table(spark, SF, "documents")
    with pytest.raises(ValueError):
        token_shards(docs, ["doc_id"], "n_chars", 0)


def test_token_entropy_orders_spam_below_prose(spark):
    """Entropy separates degenerate text from diverse text: a
    single-token loop scores 0, an all-distinct document scores
    ln(n), a half-repeated one sits strictly between."""
    import math

    from big_data_hw_23_24_spark.operators.textstats import token_entropy

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam spam spam spam"),
         (2, "a b c d e f g h"),
         (3, "a a a a w x y z"),
         (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in token_entropy(docs).collect()}
    assert out[1].token_entropy == 0.0
    assert abs(out[2].token_entropy - math.log(8)) < 1e-6
    assert 0 < out[3].token_entropy < out[2].token_entropy
    assert out[4].n_tokens == 0 and out[4].token_entropy == 0.0


# --- hypothesis properties for the cleaning folds ---------------------------

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_line = st.text(alphabet="ab .", min_size=0, max_size=6)
_texts = st.lists(st.lists(_line, min_size=0, max_size=8)
                  .map(lambda ls: "\n".join(ls)),
                  min_size=1, max_size=5)
_H = dict(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(texts=_texts)
@settings(**_H)
def test_dedup_lines_idempotent_and_order_preserving(spark, texts):
    """Pure-Python reference semantics on random line soup: keep-first
    order-preserving dedup, and a second application is the identity
    (idempotence)."""
    docs = _docs(spark, list(enumerate(texts)))
    once = {r.doc_id: r.text_deduped
            for r in dedup_lines(docs).collect()}
    for i, t in enumerate(texts):
        seen, want = set(), []
        for ln in t.split("\n"):
            if ln not in seen:
                seen.add(ln)
                want.append(ln)
        assert once[i] == "\n".join(want)
    again = dedup_lines(_docs(spark, [(i, t) for i, t in once.items()]))
    assert {r.doc_id: r.text_deduped for r in again.collect()} == once


@given(texts=_texts)
@settings(**_H)
def test_c4_filter_matches_python_reference(spark, texts):
    """The HOF filter equals the line-by-line Python reference on
    random inputs, and kept lines are always a subsequence of the
    original line order."""
    import re

    docs = _docs(spark, list(enumerate(texts)))
    got = {r.doc_id: r for r in
           c4_line_filter(docs, min_words=2, min_lines=1).collect()}
    for i, t in enumerate(texts):
        lines = t.split("\n")
        want = [ln for ln in lines
                if re.search(r'[.!?"]\s*$', ln.strip())
                and len([w for w in ln.strip().split(" ") if w]) >= 2]
        assert got[i].clean_text == "\n".join(want)
        assert got[i].n_kept == len(want)
        assert got[i].n_lines == len(lines)


def test_semantic_dedup_single_cluster_equals_exact_greedy(spark):
    """With ONE centroid every vector co-clusters, so SemDeDup must
    reduce exactly to greedy smallest-id dedup over the EXACT cosine
    pair set — the k=1 bridge that pins the clustered path to the
    exact operator (cosine_pairs, itself oracle-checked)."""
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_pairs,
        semantic_dedup,
    )

    emb = load_table(spark, SF, "embeddings")
    one = (emb.where(F.col("vec_id") == 0)
           .select(F.lit(0).alias("centroid_id"),
                   F.col("embedding").cast("array<double>").alias("cv")))
    got = {r.vec_id: r.dropped for r in
           semantic_dedup(emb, one, threshold=0.35).collect()}
    want_dropped = {r.id_b for r in
                    cosine_pairs(emb, threshold=0.35).collect()}
    assert set(got) == {r.vec_id for r in emb.select("vec_id").collect()}
    assert {v for v, d in got.items() if d} == want_dropped


# --- span-level benchmark decontamination (E77) -------------------------------

def test_decontaminate_spans_strips_benchmark_overlap_only(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        decontaminate_spans)

    bench_words = " ".join(f"q{i}" for i in range(8))
    docs = _docs(spark, [
        (1, f"intro words here {bench_words} trailing tail text"),
        (2, "completely unrelated content with many different words here"),
        (3, "shorty doc"),                       # < n words: untouched
        (4, bench_words),                        # pure benchmark text
    ])
    bench = _docs(spark, [(100, bench_words)]).select("text")
    out = {r.doc_id: r for r in decontaminate_spans(docs, bench).collect()}
    assert out[1].clean_text == "intro words here trailing tail text"
    assert out[1].n_removed == 8
    assert out[2].n_removed == 0
    assert out[3].n_removed == 0 and out[3].clean_text == "shorty doc"
    assert out[4].clean_text == "" and out[4].n_removed == 8


def test_decontaminate_spans_overlapping_grams_merge(spark):
    """A 9-word benchmark doc yields two overlapping 8-grams; a corpus
    doc containing the full 9-word run loses all 9 tokens once, not
    twice."""
    from big_data_hw_23_24_spark.operators.textstats import (
        decontaminate_spans)

    run = " ".join(f"b{i}" for i in range(9))
    docs = _docs(spark, [(1, f"head {run} tail")])
    bench = _docs(spark, [(100, run)]).select("text")
    row = decontaminate_spans(docs, bench).collect()[0]
    assert row.clean_text == "head tail"
    assert (row.n_tokens, row.n_removed) == (11, 9)


# --- URL normalization dedup (E78) -------------------------------------------

def test_normalize_url_collapses_variants(spark):
    from big_data_hw_23_24_spark.operators.cleaning import normalize_url

    urls = ["HTTPS://WWW.Ex.com/a/b/?utm=1",
            "http://ex.com/a/b",
            "ex.com/a/b/",
            "https://ex.com/a/b#frag"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r.n for r in df.select(normalize_url(F.col("url")).alias("n"))
           .collect()]
    assert set(got) == {"ex.com/a/b"}
    # www only stripped as a leading label, not inside the host
    other = spark.createDataFrame([("https://notwww.example.com/x",)],
                                  "url string")
    assert other.select(normalize_url(F.col("url")).alias("n")) \
        .collect()[0].n == "notwww.example.com/x"


def test_url_duplicate_groups_keep_first(spark):
    from big_data_hw_23_24_spark.operators.cleaning import (
        url_duplicate_groups)

    df = spark.createDataFrame([
        (1, "https://www.a.com/x"),
        (2, "A.COM/x/"),
        (3, "http://a.com/x?track=2"),
        (4, "https://a.com/y"),            # unique: not reported
    ], "doc_id long, url string")
    out = {r.norm_url: r for r in url_duplicate_groups(df).collect()}
    assert list(out) == ["a.com/x"]
    assert (out["a.com/x"].n_docs, out["a.com/x"].keep_id) == (3, 1)


# --- CCNet per-language LM buckets (E79) -------------------------------------

def test_lm_quality_buckets_cuts_and_null_lang(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        lm_quality_buckets)

    # lang 'a': 10 docs of increasingly rare words; lang None: 2 docs.
    # Common words -> low avg -log p -> head.
    rows = []
    for i in range(10):
        # doc i repeats word w{i//2} (shared by pairs) plus a unique word
        rows.append((i, ("common " * (10 - i) + f"rare{i}").strip(), "a"))
    rows += [(100, "common common common", None),
             (101, "rare100 rare101 rare102", None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r.doc_id: r for r in lm_quality_buckets(docs).collect()}
    assert len(out) == 12                      # no row dropped (null lang kept)
    a_ranks = [out[i].lang_rank for i in range(10)]
    assert sorted(a_ranks) == list(range(1, 11))
    # 10 docs at 30/70: ranks 1-3 head, 4-7 middle, 8-10 tail
    by_rank = {out[i].lang_rank: out[i].bucket for i in range(10)}
    assert [by_rank[r] for r in range(1, 11)] == (
        ["head"] * 3 + ["middle"] * 4 + ["tail"] * 3)
    # null-lang group: 2 docs at 30/70 -> rank1*100 <= 30*2 is false,
    # rank1*100 <= 70*2 true -> middle; rank 2 -> tail
    null_buckets = {out[i].lang_rank: out[i].bucket for i in (100, 101)}
    assert null_buckets == {1: "middle", 2: "tail"}
    assert out[100].lang is None
    # the common-word doc is the more probable one -> rank 1
    assert out[100].lang_rank == 1


# --- leakage-safe split (E83) -------------------------------------------------

def test_leakage_safe_split_keeps_components_together(spark):
    from big_data_hw_23_24_spark.operators.splits import (
        hash_split, leakage_safe_split)

    docs = spark.createDataFrame([(i,) for i in range(300)],
                                 "doc_id long")
    # 100 duplicate pairs: (i, i+1000) share a component labeled i
    comp = spark.createDataFrame(
        [(i, i) for i in range(100)] + [(i + 1000, i) for i in range(100)],
        "doc_id long, component long")
    dup_docs = spark.createDataFrame([(i + 1000,) for i in range(100)],
                                     "doc_id long")
    out = {r.doc_id: r.split for r in
           leakage_safe_split(docs.unionAll(dup_docs), comp).collect()}
    # every pair lands together -> zero straddles
    assert all(out[i] == out[i + 1000] for i in range(100))
    # contrast: the naive id-keyed hash split DOES straddle pairs
    naive = {r.doc_id: r.split for r in
             hash_split(docs.unionAll(dup_docs),
                        F.col("doc_id").cast("string")).collect()}
    assert any(naive[i] != naive[i + 1000] for i in range(100))
    # singletons still follow the configured fractions roughly
    singles = [out[i] for i in range(100, 300)]
    assert 0.6 < singles.count("train") / len(singles) < 0.95
    assert {"train", "val", "test"} >= set(out.values())


# --- contrastive negatives (E85) ----------------------------------------------

def test_contrastive_negatives_shape_and_determinism(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        contrastive_negatives)

    df = spark.createDataFrame([(i * 10,) for i in range(20)],
                               "doc_id long")
    out = contrastive_negatives(df, k=3).collect()
    assert len(out) == 60                       # exactly k per anchor
    ids = {r[0] for r in df.collect()}
    for r in out:
        assert r.neg_id in ids
        assert r.neg_id != r.doc_id             # never self
        assert 1 <= r.neg_rank <= 3
    # deterministic across runs and partitionings
    again = contrastive_negatives(df.repartition(7), k=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # negatives are spread, not collapsed onto one doc
    assert len({r.neg_id for r in out}) > 5


def test_contrastive_negatives_validates_k(spark):
    from big_data_hw_23_24_spark.operators.selection import (
        contrastive_negatives)

    df = spark.createDataFrame([(1,), (2,)], "doc_id long")
    with pytest.raises(ValueError, match="k must be"):
        contrastive_negatives(df, k=0)


# --- Gopher rules (E92) ------------------------------------------------------

def test_gopher_rules_each_rule_fires(spark):
    from big_data_hw_23_24_spark.operators.cleaning import gopher_rules

    good = ("the cat and the dog went to the park of wonders "
            "and that was all they have seen with joy today yes")
    rows = [
        (1, good),                                   # passes everything
        (2, "short of the and"),                     # too few words
        (3, good + " " + " ".join(["#"] * 20)),      # symbol ratio
        (4, "\n".join(["- " + good] * 10)),          # bullets > 0.9
        (5, "\n".join([good + "..."] * 2 + [good])), # ellipsis lines
        (6, good + " " + " ".join(["123"] * 40)),    # alpha ratio < 0.8
        (7, "value key sort " * 8),                  # no stop words
        (8, " ".join(["extraordinarily"] * 15)),     # mean word len > 10
    ]
    out = {r["doc_id"]: r for r in gopher_rules(
        spark.createDataFrame(rows, "doc_id long, text string"),
        min_words=10, max_words=200).collect()}
    assert out[1]["keep"] is True
    for i in range(2, 9):
        assert out[i]["keep"] is False, i
    # each rule is the one that fired
    assert out[2]["n_words"] < 10
    assert out[3]["symbol_ratio"] > 0.1
    assert out[4]["bullet_line_ratio"] > 0.9
    assert out[5]["ellipsis_line_ratio"] > 0.3
    assert out[6]["alpha_word_ratio"] < 0.8
    assert out[7]["stop_hits"] < 2
    assert out[8]["mean_word_len"] > 10


def test_gopher_rules_empty_text_and_plan_shape(spark):
    from big_data_hw_23_24_spark.operators.cleaning import gopher_rules

    df = gopher_rules(spark.createDataFrame(
        [(1, ""), (2, "   ")], "doc_id long, text string"))
    rows = {r["doc_id"]: r for r in df.collect()}
    for i in (1, 2):
        assert rows[i]["keep"] is False
        assert rows[i]["n_words"] == 0
        assert rows[i]["mean_word_len"] is None
    # zero-shuffle contract: a single narrow projection
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- priority sampling (E93) -------------------------------------------------

def test_priority_sample_small_group_and_determinism(spark):
    from big_data_hw_23_24_spark.operators.selection import priority_sample

    rows = [(i, "s" if i < 4 else "t", float(i + 1)) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    out = priority_sample(df, "w", k=5)
    got = {(r.source, r.doc_id): r for r in out.collect()}
    # stratum 's' has 4 rows < k: everything kept, tau = 0, est = w
    s_rows = [v for (src, _), v in got.items() if src == "s"]
    assert len(s_rows) == 4
    assert all(r.tau == 0.0 and r.est_weight == r.weight for r in s_rows)
    # stratum 't' cut to k with a positive threshold
    t_rows = [v for (src, _), v in got.items() if src == "t"]
    assert len(t_rows) == 5
    assert all(r.tau > 0 and r.est_weight >= r.weight for r in t_rows)
    # deterministic and partitioning-invariant
    again = priority_sample(df.repartition(7), "w", k=5)
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, again.collect()))


def test_priority_sample_ht_estimator_unbiased(spark, monkeypatch):
    """Across salts, sum(est_weight) over a stratum's sample is an
    unbiased estimate of the stratum's TOTAL weight (the
    Duffield-Lund-Thorup guarantee) — mean over 40 salts must land
    within 15% of truth, and heavy rows must be sampled more often
    than light ones."""
    from big_data_hw_23_24_spark.operators import selection
    from big_data_hw_23_24_spark.operators.selection import priority_sample

    rows = [(i, "s", 100.0 if i < 3 else 1.0) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w double")
    total = 3 * 100.0 + 27 * 1.0
    ests, heavy_hits, light_hits = [], 0, 0
    for t in range(40):
        monkeypatch.setattr(selection, "PRIORITY_SALT", f"s{t}")
        sample = priority_sample(df, "w", k=8).collect()
        ests.append(sum(r.est_weight for r in sample))
        heavy_hits += sum(1 for r in sample if r.weight == 100.0)
        light_hits += sum(1 for r in sample if r.weight == 1.0)
    mean_est = sum(ests) / len(ests)
    assert abs(mean_est - total) / total < 0.15, mean_est
    # 3 heavy rows should be nearly always in; 27 light rows share the rest
    assert heavy_hits / (40 * 3) > 0.9
    assert heavy_hits / (40 * 3) > light_hits / (40 * 27)


def test_priority_sample_rejects_bad_k(spark):
    from big_data_hw_23_24_spark.operators.selection import priority_sample

    df = spark.createDataFrame([(1, "s", 1.0)],
                               "doc_id long, source string, w double")
    with pytest.raises(ValueError):
        priority_sample(df, "w", k=0)


# --- unicode NFC normalization (E97) -----------------------------------------

def test_normalize_unicode_composes_and_flags(spark):
    from big_data_hw_23_24_spark.operators.cleaning import normalize_unicode

    rows = [
        (1, "café"),            # already NFC → unchanged
        (2, "café"),           # decomposed → composes, shrinks
        (3, "plain ascii"),
        (4, None),
    ]
    out = {r.doc_id: r for r in normalize_unicode(
        spark.createDataFrame(rows, "doc_id long, text string")).collect()}
    assert out[1].changed is False and out[1].norm_text == "café"
    assert out[2].changed is True
    assert out[2].norm_text == "café"
    assert (out[2].len_before, out[2].len_after) == (5, 4)
    assert out[3].changed is False
    assert out[4].norm_text is None and out[4].changed is None
    # fingerprint-dedup motivation: the two spellings now hash equal
    assert out[1].norm_text == out[2].norm_text


def test_normalize_unicode_is_arrow_vectorized_no_shuffle(spark):
    from big_data_hw_23_24_spark.operators.cleaning import normalize_unicode

    df = normalize_unicode(spark.createDataFrame(
        [(1, "x")], "doc_id long, text string"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan       # vectorized extension point
    assert "BatchEvalPython" not in plan   # never row-at-a-time
    assert "Exchange" not in plan


# --- HTML extraction (r8) ------------------------------------------------------

def test_html_extract_branches(spark):
    """Script/style contents vanish, tags strip, entities decode
    exactly once (&amp;lt; must yield the literal '&lt;', not '<'),
    links count only outside dead blocks."""
    from big_data_hw_23_24_spark.operators.cleaning import html_extract

    rows = [
        (1, '<p>Hello <b>world</b></p><a href="x">go</a>'
            '<script>var a="<a >fake</a>";</script>'),
        (2, '<style>a{}</style>5 &lt; 7 &amp;&amp; 8 &gt; 2'),
        (3, 'He said &quot;hi&quot; &#39;there&#39;'),
        (4, 'literal &amp;lt; stays'),
        (5, '<div><div><p>nested   spaces</p></div></div>'),
        (6, '<SCRIPT>var b="<A >dead</A>";</ScRiPt><STYLE>a{}</STYLE>'
            '<A HREF="y">Go</A> <a\thref="z">tab</a>'),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, html string")
    out = {r.doc_id: r for r in html_extract(docs).collect()}
    assert out[1].text == "Hello world go"
    assert out[1].n_links == 1  # the in-script anchor is dead code
    assert out[2].text == "5 < 7 && 8 > 2"
    assert out[3].text == 'He said "hi" \'there\''
    assert out[4].text == "literal &lt; stays"  # no double decode
    assert out[5].text == "nested spaces"
    # real-world HTML mixes tag case; strip + count are case-blind and
    # the anchor pattern accepts any whitespace after the tag name
    assert out[6].text == "Go tab"
    assert out[6].n_links == 2
    for r in out.values():
        assert r.n_chars == len(r.text)


# --- data-constrained epoch schedule (r8) --------------------------------------

def test_epoch_schedule_cap_and_deficit_arithmetic(spark):
    """Hand-computed schedule: a source whose target exceeds
    max_epochs x availability is capped and reports the deficit; an
    under-subscribed source runs fractional epochs with zero deficit;
    weights normalize to 1."""
    from big_data_hw_23_24_spark.operators.selection import epoch_schedule

    docs = spark.createDataFrame(
        # srcA: 10 tokens available, srcB: 100
        [(1, "srcA", "a b c d e f g h i j"),
         (2, "srcB", " ".join(["w"] * 100))],
        "doc_id long, source string, text string")
    weights = spark.createDataFrame(
        [("srcA", 3.0), ("srcB", 1.0)], "source string, weight double")
    # budget 120: srcA target = 0.75*120 = 90 -> 9 epochs, capped at 2
    #             srcB target = 0.25*120 = 30 -> 0.3 epochs, uncapped
    out = {r.source: r for r in
           epoch_schedule(docs, weights, 120, max_epochs=2.0).collect()}
    a, b = out["srcA"], out["srcB"]
    assert (a.n_tokens_avail, a.weight_norm, a.target_tokens) == (10, 0.75, 90)
    assert (a.epochs, a.capped, a.realized_tokens, a.deficit_tokens) \
        == (2.0, True, 20, 70)
    assert (b.n_tokens_avail, b.weight_norm, b.target_tokens) == (100, 0.25, 30)
    assert (b.epochs, b.capped, b.realized_tokens, b.deficit_tokens) \
        == (0.3, False, 30, 0)
    assert abs(a.weight_norm + b.weight_norm - 1.0) < 1e-9


# --- quality calibration audit (r8) --------------------------------------------

def test_quality_calibration_deciles_partition_and_rates(spark):
    """Deciles partition the corpus with exact-ntile sizes; per-decile
    flag counts and rates are exact integer arithmetic; flagged docs
    land in the deciles their prob puts them in."""
    from big_data_hw_23_24_spark.operators.selection import (
        quality_calibration)

    docs = spark.createDataFrame(
        [(i, ("bad bad words here" if i % 4 == 0
              else f"clean text number {i}")) for i in range(40)],
        "doc_id long, text string")
    out = quality_calibration(docs, ["bad"], n_tiles=4,
                              max_hits=1).collect()
    assert [r.decile for r in out] == [1, 2, 3, 4]
    assert all(r.n_docs == 10 for r in out)  # 40/4 exact ntile
    assert sum(r.n_flagged for r in out) == 10  # i%4==0 docs (2 hits)
    for r in out:
        assert r.flag_rate == round(r.n_flagged / r.n_docs, 6)


# --- shard manifest (r8) ---------------------------------------------------------

def test_shard_manifest_checksum_detects_content_change(spark, monkeypatch):
    """Same content, different ids/partitioning -> same per-shard
    stats; one flipped document -> that shard's checksum (and only
    the checksums) changes; token totals conserve."""
    from big_data_hw_23_24_spark.operators import selection
    from big_data_hw_23_24_spark.operators.selection import shard_manifest

    monkeypatch.setattr(selection, "SHARD_TARGET_TOKENS", 50)
    docs = spark.createDataFrame(
        [(i, f"doc number {i} with some words") for i in range(60)],
        "doc_id long, text string")
    base = {r.shard: r for r in
            shard_manifest(docs).collect()}
    assert sum(r.n_tokens for r in base.values()) == 60 * 6
    # repartitioned input -> identical manifest
    again = {r.shard: r for r in
             shard_manifest(docs.repartition(7)).collect()}
    assert {(s, r.n_docs, r.n_tokens, r.checksum)
            for s, r in base.items()} \
        == {(s, r.n_docs, r.n_tokens, r.checksum)
            for s, r in again.items()}
    # flip one doc's text: same shapes, different checksum somewhere
    from pyspark.sql import functions as F
    flipped = docs.withColumn(
        "text", F.when(F.col("doc_id") == 30,
                       F.lit("doc number 30 with FLIP words"))
        .otherwise(F.col("text")))
    fl = {r.shard: r for r in
          shard_manifest(flipped).collect()}
    assert {(s, r.n_docs, r.n_tokens) for s, r in fl.items()} \
        == {(s, r.n_docs, r.n_tokens) for s, r in base.items()}
    assert any(fl[s].checksum != base[s].checksum for s in base)
