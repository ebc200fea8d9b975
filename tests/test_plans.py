"""Physical-plan contracts: the scale properties are asserted, not hoped
for. If a refactor reintroduces a cartesian join, loses a parquet
filter pushdown, or breaks the one-scan shape of MRApproxOutliers,
these fail."""

from __future__ import annotations

import pytest

from big_data_hw_23_24_spark.plans.inspect import explain_str, pushed_filters
from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

_ensure_loaded()
SF = "/root/testdata/sf0.001"


def _plan(spark, name, mode="simple"):
    return explain_str(_REGISTRY[name].spark_fn(spark, SF), mode)


def test_pricing_summary_pushes_date_filter(spark):
    df = _REGISTRY["pricing_summary"].spark_fn(spark, SF)
    filters = " ".join(pushed_filters(df))
    assert "LessThanOrEqual(l_shipdate" in filters


def test_pricing_summary_prunes_columns(spark):
    # 11-column lineitem, 6-column read: ReadSchema must not be SELECT *
    df = _REGISTRY["pricing_summary"].spark_fn(spark, SF)
    text = explain_str(df, "formatted")
    read = next(ln for ln in text.splitlines() if "ReadSchema" in ln)
    assert "l_comment" not in read
    assert "l_orderkey" not in read  # unused by the aggregation


def test_star_join_broadcasts_dims(spark):
    plan = _plan(spark, "revenue_by_nation", "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_mr_approx_is_single_scan_no_join(spark):
    # one parquet scan, zero joins: histogram → offset explode → agg,
    # with the size>M short-circuit as a post-aggregation filter (a
    # join formulation that also skips the cell-scale explode needs a
    # second point scan or a checkpoint barrier — measured worse; see
    # cell_grid_stats docstring)
    plan = _plan(spark, "mr_approx_outliers", "simple")
    assert plan.count("FileScan parquet") == 1
    assert "Join" not in plan
    assert plan.count("Generate") == 1
    assert "CartesianProduct" not in plan


def test_exact_outliers_equi_join_not_bnl(spark):
    plan = _plan(spark, "exact_outliers", "simple")
    # the 3×3 probe is an equi hash join, never a nested-loop scan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_wordcount_partial_aggregation(spark):
    # map-side combine: partial + final HashAggregate pair
    plan = _plan(spark, "wordcount", "formatted")
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "top_brands_by_revenue", "simple")
    assert "TakeOrderedAndProject" in plan


def test_knn_scores_jvm_side(spark):
    # brute-force cosine stays in JVM expressions: no Python eval nodes
    plan = _plan(spark, "knn_cosine_bruteforce", "simple")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _minhash_plans(spark):
    # minhash_near_duplicates persists and checkpoints its frames (its
    # plan collapses to an RDD scan), so assert on the public pieces it
    # is built from: the banded candidates and the exact verify
    from big_data_hw_23_24_spark.operators.dedup import (
        jaccard_verify, lsh_candidate_pairs, minhash_signature,
        word_shingles)
    from big_data_hw_23_24_spark.sources.tables import load_table
    shingled = word_shingles(load_table(spark, SF, "documents"))
    pairs = lsh_candidate_pairs(minhash_signature(shingled))
    return (explain_str(pairs, "simple"),
            explain_str(jaccard_verify(pairs, shingled, 0.7), "simple"))


def test_minhash_pipeline_jvm_side(spark):
    for plan in _minhash_plans(spark):
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_lsh_banding_has_no_signature_joinback(spark):
    # exactly 1 join, the band self-join — the signature is carried
    # through the explode, never joined back
    plan, _ = _minhash_plans(spark)
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan


def test_udaf_is_single_grouped_pandas_kernel(spark):
    # UDAF extension point: ONE FlatMapGroupsInPandas after the key
    # shuffle — no driver collect, no per-row Python
    plan = _plan(spark, "acctbal_median_by_nation", "simple")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("name", ["doc_quality_scores", "doc_language_id",
                                  "doc_token_stats", "doc_pii_scan",
                                  "doc_pii_redact"])
def test_textstats_are_narrow_maps(spark, name):
    # no shuffle at all: scan → project, exchange-free
    plan = _plan(spark, name, "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan

def test_asof_join_is_window_not_inequality_join(spark):
    # union+window rewrite: NO join operator at all (the naive form is
    # a nested-loop inequality join) — one key shuffle feeding a Window
    plan = _plan(spark, "events_asof_orders", "simple")
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert plan.count("Exchange") <= 2, plan  # key shuffle (+AQE read)


@pytest.mark.parametrize("qname", ["dedup_embedding_lsh",
                                   "dedup_embedding_lsh_pinned"])
def test_embedding_lsh_candidates_are_equi_join(spark, qname):
    # banded signatures: candidate generation is a hash equi-join on
    # (chunk, val) — never a pairwise nested-loop scan; holds for the
    # production Gaussian face AND the md5-pinned oracle face (same
    # _lsh_band_verify tail)
    plan = _plan(spark, qname, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-batched signature UDF
    assert any(j in plan for j in
               ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_salted_distinct_is_two_hash_aggregates(spark):
    # salted exact distinct: dedup-by-(k,salt,v) → per-(k,salt) count →
    # per-k sum, all partial-combined; the final k-stage receives only
    # n_salts rows per key. 3 exchanges (Spark expands COUNT(DISTINCT)
    # into its own dedup aggregate), never more.
    plan = _plan(spark, "distinct_users_salted", "simple")
    assert plan.count("Exchange") == 3, plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_streaming_sessions_kernel_is_arrow_stateful(spark):
    # batch-mode shape check of the stateful kernel's input: the
    # sessionize plan itself only materializes under a streaming query
    # (covered in test_streaming); here pin that the replayed source
    # keeps seq/user_id/ts pruned to exactly three columns
    from big_data_hw_23_24_spark.streaming.sessions import (
        SESSION_SCHEMA, STATE_SCHEMA, make_sessionizer)
    import pandas as pd

    # kernel is pure-pandas testable: one batch, gap break inside
    class _State:
        exists = False

        def update(self, v):
            self.value = v

    ts = pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:10",
                         "2024-01-01 05:00"])
    out = list(make_sessionizer(pd.Timedelta(hours=1))(
        (7,), iter([pd.DataFrame({"ts": ts})]), _State()))
    assert len(out) == 1 and len(out[0]) == 1
    row = out[0].iloc[0]
    assert (row.user_id, row.n_events) == (7, 2)
    assert "session_start" in SESSION_SCHEMA and "n_events" in STATE_SCHEMA


def test_interval_join_is_equi_join(spark):
    # bucket-explode rewrite: the time-range pairing is a hash equi-join
    # on (key, bucket); the inequality survives only as a post-filter
    plan = _plan(spark, "order_events_3d", "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert any(j in plan for j in
               ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))


def test_token_chunks_is_exchange_free(spark):
    # chunking = narrow map + explode: no shuffle, no Python on the path
    plan = _plan(spark, "doc_chunks", "simple")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_tfidf_two_aggregates_one_join_no_cartesian(spark):
    # tf hash-agg → df agg from the tf table → equi-join on term →
    # per-doc window; never a cartesian or nested-loop pairing
    plan = _plan(spark, "doc_tfidf_top_terms", "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final pairs
    assert "Window" in plan


def test_salted_join_query_joins_on_salt_key(spark):
    # the equi-join must include the synthetic _salt key (hot key
    # spread over n_salts reducers) and stay JVM-side
    plan = _plan(spark, "events_customer_salted_join", "simple")
    assert "_salt" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_cms_estimate_broadcasts_bounded_sketch(spark):
    # the sketch side is depth*width rows by construction → its probe
    # join must be a broadcast hash join, and everything stays JVM-side
    plan = _plan(spark, "frequent_users_cms", "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_sessions_builtin_single_aggregate_no_window_function(spark):
    # native session_window: sessions merge inside the aggregate —
    # no lag/row_number window pass, exactly one key shuffle
    plan = _plan(spark, "sessions_builtin_window", "simple")
    assert "Window" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_rolling_30d_single_window_pass(spark):
    # ONE shuffle on o_custkey serves both frames; the RANGE (epoch-day
    # order) and ROWS (date+key order) frames need different sorts, so
    # two Window nodes are expected — but never a second Exchange
    plan = _plan(spark, "customer_rolling_30d", "simple")
    assert plan.count("Exchange") == 1, plan
    assert plan.count("Window") == 2, plan
    assert "CartesianProduct" not in plan


def test_bloom_prune_probe_is_mapside_then_hash_join(spark):
    # the bloom probe is a ONE-row IdentityBroadcast evaluated at the
    # fact scan (the single BroadcastNestedLoopJoin below is that 1-row
    # cross — bounded by construction); the real join stays hash, and
    # nothing runs in Python
    plan = _plan(spark, "parts_size50_revenue_bloom", "simple")
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the consolidated window face adds a scalar subquery on the dim
    # side; the bloom + hash-join shape must be preserved
    plan2 = _plan(spark, "parts_above_avg_revenue_bloom", "simple")
    assert "BroadcastHashJoin" in plan2
    assert plan2.count("BroadcastNestedLoopJoin") == 1
    assert "Subquery" in plan2 or "scalar-subquery" in plan2, plan2
    assert "BatchEvalPython" not in plan2


def test_repetition_scores_single_exchange_no_join(spark):
    # one repartition of the compact docs; the exploded token stream is
    # never shuffled and the narrow signals ride through the aggregates
    # instead of a join
    plan = _plan(spark, "doc_repetition_scores")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_bpe_pair_counts_two_aggregate_shuffles(spark):
    # token-stream → vocab agg, vocab pairs → pair agg; nothing else
    plan = _plan(spark, "bpe_pair_counts")
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_pack_sequences_single_shuffle_no_join(spark):
    # the per-shard window is the only exchange; bin fan-out is narrow
    plan = _plan(spark, "doc_pack_sequences")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_corpus_source_mix_zero_shuffle(spark):
    # pure narrow map: content-hash bucket + per-source threshold
    plan = _plan(spark, "corpus_source_mix")
    assert "Exchange" not in plan
    assert "Join" not in plan


def _branch_ops(tree: str, start: str, stop: str) -> list[str]:
    """Node names (insertion-tolerant) of the formatted-plan region
    between the first ``start`` node and the first ``stop`` node."""
    branch = tree.split(start)[1].split(stop)[0]
    ops = [l.strip(" :+-") for l in branch.splitlines() if l.strip(" :+-")]
    return [o.split(" (")[0].strip() for o in ops[1:]]


def test_pq_encode_is_broadcast_join_no_python(spark):
    # the m·k codebook side broadcasts; the corpus explode is narrow
    # and everything stays JVM-side
    plan = _plan(spark, "embedding_pq_codes", "simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_pq_adc_no_cartesian_no_python(spark):
    # the LUT (|queries|·m·k rows) broadcasts into the codes join; the
    # raw-vector table is never scanned on the corpus side of the join
    plan = _plan(spark, "knn_pq_adc", "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_boilerplate_share_no_cartesian_no_python(spark):
    # the mined boilerplate set is threshold-pruned and joins broadcast
    # as a flag; everything stays JVM-side with no pairwise scan
    plan = _plan(spark, "doc_boilerplate_share", "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    # the corpus TEXT is exploded+aggregated exactly once, into the
    # materialized (doc, ngram) table both consumers read: the only
    # parquet scan left in the final plan is the id-only doc spine
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert len(scans) == 1 and "text" not in scans[0], plan


# Queries whose spark_fn EXECUTES on construction (streaming harnesses,
# iterative trainers, driver-sequential samplers): the DataFrame they
# return is materialized (localCheckpoint / createDataFrame), so there
# is no lazy plan to inspect — and running them here would re-run whole
# harnesses. Each is individually plan- or property-covered elsewhere.
_EAGER_HARNESS_QUERIES = {
    "streaming_ingest_dedup", "streaming_distinct_count",
    "streaming_sessions", "streaming_order_events_3d",
    "streaming_frequent_items", "streaming_frequent_exact",
    "streaming_dropdup_items", "streaming_quality_gate",
    "streaming_ingest_health", "streaming_backfill_catchup",
    "mrfft_radius", "mrfft_centers", "bpe_learned_merges",
    "embedding_kmeans_sizes", "reservoir_sample_users",
    "sticky_sample_users",
    # unrolled greedy MMR localCheckpoints each of its k bounded
    # selection steps (the iterative contract), so construction runs
    # jobs and the tail plan sits on checkpointed RDDs
    "knn_mmr_rerank",
    # the watermark audit runs its availableNow replay at construction
    # and returns the pinned memory-sink copy
    "streaming_late_data_audit",
}

# The ONLY operators allowed a partitionless (single-partition) Window:
# tokenizer ranking/total windows that run on the aggregated,
# Zipf-bounded VOCABULARY table — never on a corpus-sized side.
_VOCAB_SCALE_WINDOW_ALLOWLIST = {
    "vocab_coverage", "doc_unigram_logprob", "doc_bigram_logprob",
    # SpaceSaving's final rank runs on the merged sketch — at most
    # partitions × k counter rows, a bound independent of data size
    "streaming_spacesaving_topk",
    # the KM estimator's at-risk reverse cumsum and cumulative product
    # run on the DURATION GRID (<= 73 rows at the face's 72 h cutoff —
    # bounded by the observation window, not by unit count); the
    # corpus-scale work is the per-user aggregate below the window
    "users_survival_km",
    # HITS' final rank window runs AFTER TakeOrderedAndProject — at
    # most k = 20 rows, independent of data size
    "events_hits_authority",
    # the per-language offset prefix sum (r15) runs on the #langs-row
    # aggregate — bounded by the language inventory, not the corpus;
    # the corpus-scale rank rides the range-partitioned spine below it
    "doc_lm_quality_buckets",
}


def _has_partitionless_window(plan: str) -> bool:
    """True if any Window node sits on an Exchange SinglePartition
    (directly or through the sort AQE inserts) — the signature of a
    global, single-reducer window."""
    import re

    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow \[", ln):
            for nxt in lines[i + 1:i + 4]:
                if "Exchange SinglePartition" in nxt:
                    return True
    return False


# The ONLY operators allowed a CartesianProduct / BroadcastNestedLoopJoin
# in their plan, each with the bound that keeps the pairing from being
# O(|L|·|R|) at corpus scale. Two sanctioned shapes:
# (a) IdentityBroadcast probes — a 1-row (or k-row, k fixed) aggregate
#     broadcast against the big side: corpus totals, bloom bitmaps,
#     PageRank dangling mass, centroid tables. Cost is |big| × 1.
# (b) bounded query-set scoring — the documented brute-force ANN faces
#     cross a FIXED, LIMITed query set (≤ tens of rows, BuildLeft
#     broadcast) against the corpus to rank neighbors; the exact
#     all-pairs faces are explicitly small-scale oracle ground truth
#     (operators/similarity.py:182-205).
_CARTESIAN_ALLOWLIST = {
    # (a) 1-row / k-row IdentityBroadcast probes
    "doc_contrastive_negatives",     # corpus-size 1-row agg for offsets
    "events_skew_report",            # global total + partition-count rows
    "corpus_pmi_collocations",       # total unigram/bigram mass (1 row)
    "events_item_pagerank",          # dangling-mass 1-row agg, per iter
    "corpus_length_ks_matrix",       # per-slice n totals (1 row each)
    "corpus_split_drift",            # same KS machinery: bounded
                                     #   distinct-value grid broadcast
    "doc_bm25_multi",                # corpus N + avgdl (1 row)
    "doc_bm25_topk",                 # same 1-row corpus stats
    "doc_hybrid_rrf",                # same 1-row corpus stats, via the
                                     #   BM25 + QL retriever stages
    "corpus_drift_psi",              # 9-edge array + 1-row totals
                                     #   broadcasts (PSI grid)
    "events_kmv_setops",             # bounded group-pair grid from the
                                     #   distinct-group table (the
                                     #   dimension-keyed sketch contract)
    "events_zorder_pruning",         # 4-row literal probe table against
                                     #   2x64 file-stat rows + the
                                     #   rows-match probe fanout
    "doc_dsir_weights",              # target/proposal mass totals
    "corpus_temperature_mix",        # source-mass totals (1 row)
    "parts_size50_revenue_bloom",    # bloom bitmap scalar probe
    "parts_above_avg_revenue_bloom",  # bloom bitmap scalar probe
    "dedup_incremental_bloom",       # bloom bitmap scalar probe
    "corpus_epoch_schedule",         # 1-row weight-total broadcast
    "events_trending_items",         # 1-row corpus-max-day broadcast
    "orders_market_basket",          # 1-row basket-count broadcast
                                     #   (was an eager driver count —
                                     #   folded into the plan in r9)
    "orders_itemset_triples",        # 1-row basket-count broadcast per
                                     #   A-priori level (relative minsup)
    "doc_rerank_features",           # corpus N + avgdl (1 row, via
                                     #   the bm25_search_many stage)
    "streaming_spacesaving_topk",    # merged-sketch threshold (1 row)
    "embedding_nearest_centroid",    # k-row centroid table broadcast
    "embedding_lloyd_round",         # k-row centroid table broadcast
    "knn_ivf_pinned",                # 16-row pinned centroid broadcast
                                     #   (assignment + probe argmins)
    # (b) bounded query-set brute-force ANN faces
    "knn_cosine_bruteforce",         # exact baseline, LIMITed queries
    "knn_cosine_quantized",          # int8 face of the same baseline
    "knn_cosine_filtered",           # pre-filter + same bounded scoring
    "dedup_embedding_cosine",        # documented small-scale exact face
    "knn_eval_ivf",                  # rollout gate composing the exact
                                     #   baseline above with pinned IVF
                                     #   (the brute-force side is the
                                     #   declared run-once gate face)
    "knn_reciprocal_best",           # mutual-NN: both directions are
                                     #   query-bounded broadcast scans
                                     #   (back side <= |A| forward
                                     #   winners), never all-pairs on
                                     #   the big side
    "orders_benford_audit",          # 1-row total-count broadcast onto
                                     #   the 9-digit aggregate
    # r12 additions, all bounded-side by construction
    "knn_reciprocal_ivf",            # pinned centroid broadcasts (14-
                                     #   and 16-row) for both IVF
                                     #   directions' assignment/probe
                                     #   argmins — the knn_ivf_pinned
                                     #   shape, twice
    "knn_eval_reciprocal",           # rollout gate composing the
                                     #   exact mutual face (declared
                                     #   run-once) with the IVF form
    "corpus_labeler_agreement",      # two 1-row aggregates crossed
                                     #   into the single kappa row
    "events_interval_join",          # 5-type × 6-week literal promo
                                     #   grid (bounded dims both sides)
    # r13 additions, all bounded-side by construction
    "knn_hubness",                   # exact k-NN graph over the pinned
                                     #   eval table — declared RUN-ONCE
                                     #   rollout gate (the
                                     #   knn_reciprocal_best class);
                                     #   production path is IVF
    "knn_prefix_dim_eval",           # two bounded-query brute-force
                                     #   scans (full + prefix dims) of
                                     #   the sanctioned ANN-baseline
                                     #   shape
    "embedding_triplet_mining",      # 30-anchor set broadcast against
                                     #   one corpus scan
    "events_graph_assortativity",    # 1-row node-count broadcast onto
                                     #   the single moment-sum row
    "corpus_jsd_matrix",             # #sources-row totals broadcast
                                     #   onto the vocab grid + 1-row
                                     #   vocab-size broadcast
    "events_rec_hitrate",            # two 1-row count aggregates
                                     #   crossed into the single
                                     #   hitrate row
    "doc_retrieval_mrr",             # corpus N + avgdl (1 row, via
                                     #   the bm25_search_many stage)
    "corpus_quantile_normalize",     # 1-row pooled-total broadcast
                                     #   onto the position expression
    "events_hilbert_pruning",        # 4-row literal probe table vs
                                     #   2x64 file-stat rows + the
                                     #   rows-match probe fanout (the
                                     #   events_zorder_pruning shape,
                                     #   hilbert beside zorder)
    "events_chisq_independence",     # 1-row totals broadcast onto the
                                     #   r x c cell grid
    # late-r13 additions, all bounded-side by construction
    "parts_value_share",             # 1-row (total, n_parts) broadcast
                                     #   (TPC-H Q11 global scalar)
    "supplier_top_revenue",          # 1-row max-revenue broadcast
                                     #   (TPC-H Q15 view + max)
    "customers_dormant_rich",        # 1-row (n, sum) positive-balance
                                     #   scalar broadcast (TPC-H Q22)
    "users_bh_fdr",                  # 1-row m and 1-row k* broadcasts
                                     #   onto the ranked p-value table
    "dedup_eval_lsh_recall",         # three 1-row count aggregates
                                     #   crossed into the single gate
                                     #   row (truth/candidates/hits)
    "corpus_quota_allocation",       # 1-row weight-total and leftover
                                     #   broadcasts (Hamilton quotas)
    "events_isotonic_purchase",      # PAV minimax interval joins on
                                     #   the ~50-bucket calibration
                                     #   grid — O(B^3) BY DESIGN, the
                                     #   corpus never enters the joins
    "events_hits_authority",         # 1-row max-authority broadcast
                                     #   for the final normalization
    "events_ccf_view_purchase",      # 1-row global-moments broadcast
                                     #   onto the #lags-row pair table
}


def test_registry_wide_plan_lint(spark):
    # ONE sweep over every lazy registry plan, applying all three
    # plans/lint.py rules (the product linter IS the tested surface):
    # - partitionless_window: single-reducer window — only the declared
    #   vocab-scale operators may carry one;
    # - cartesian: O(|L|·|R|) pairing — only the annotated bounded
    #   probes/faces in _CARTESIAN_ALLOWLIST;
    # - python_row_udf: BatchEvalPython — NEVER (Arrow forms only).
    from big_data_hw_23_24_spark.plans.lint import lint

    offenders: dict[str, list[str]] = {}
    for name, q in _REGISTRY.items():
        if name in _EAGER_HARNESS_QUERIES:
            continue
        rules = []
        for f in lint(q.spark_fn(spark, SF)):
            if f.rule == "partitionless_window" and \
                    name in _VOCAB_SCALE_WINDOW_ALLOWLIST:
                continue
            if f.rule == "cartesian" and name in _CARTESIAN_ALLOWLIST:
                continue
            rules.append(f.rule)
        if rules:
            offenders[name] = sorted(set(rules))
    assert not offenders, offenders
    # guard the detectors themselves: the allowlisted plans DO trip them
    assert _has_partitionless_window(
        explain_str(_REGISTRY["vocab_coverage"].spark_fn(spark, SF),
                    "simple"))
    assert any(f.rule == "cartesian" for f in lint(
        _REGISTRY["doc_bm25_multi"].spark_fn(spark, SF)))


def test_bigram_logprob_doc_side_joins_per_distinct_no_cartesian(spark):
    # the doc side aggregates to one row per DISTINCT (doc, prev, word)
    # BEFORE joining the LM tables — so the join keys are hash
    # equi-joins, nothing is cartesian, and no window function touches
    # the doc/token side (the lone Window is the vocab-scale |V| fold,
    # sitting on the Zipf-small unigram table)
    plan = _plan(spark, "doc_bigram_logprob", "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # ≥3 aggregate pairs: per-(doc,prev,word), bigram LM, unigram LM
    assert plan.count("HashAggregate") >= 6, plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 2, plan  # per→bigram, →unigram; nothing else
    assert plan.count("Window [") == 1, plan  # the |V| fold only


def test_lm_scoring_plan_construction_launches_no_jobs(spark):
    # |V| is folded into the plan as a vocab-scale window count —
    # building either LM-scoring DataFrame must launch ZERO Spark jobs
    # (the old shape ran an eager vocab.count() per call)
    from big_data_hw_23_24_spark.operators.tokenizer import (
        bigram_logprob, unigram_logprob)
    from big_data_hw_23_24_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")  # may run a schema job
    sc = spark.sparkContext
    before = set(sc.statusTracker().getJobIdsForGroup(None) or [])
    unigram_logprob(docs)
    bigram_logprob(docs)
    after = set(sc.statusTracker().getJobIdsForGroup(None) or [])
    assert after == before, "plan construction ran eager Spark jobs"


def test_unigram_logprob_token_stream_never_shuffled(spark):
    # doc-side exchanges repartition the COMPACT documents; the
    # exploded token stream reaches both aggregates unshuffled, and
    # the vocab side broadcasts into the join. Invariants are asserted
    # directly (not as an exact node list) so codegen/AQE node
    # insertions across Spark versions can't fail this without a real
    # shuffle regression.
    plan = _plan(spark, "doc_unigram_logprob", mode="formatted")
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree
    names = _branch_ops(tree, "BroadcastHashJoin", "BroadcastExchange")
    exchanges = [i for i, n in enumerate(names) if n == "Exchange"]
    aggs = [i for i, n in enumerate(names) if n == "HashAggregate"]
    gens = [i for i, n in enumerate(names) if n == "Generate"]
    # exactly one shuffle in the probe branch: the compact-doc
    # repartition below the token explode
    assert len(exchanges) == 1, names
    assert len(gens) == 1 and len(aggs) >= 2, names
    # parent-first ordering: every aggregate sits ABOVE the Generate,
    # and the lone Exchange sits BELOW it — i.e. no shuffle ever
    # touches the exploded token stream
    assert all(a < gens[0] for a in aggs), names
    assert exchanges[0] > gens[0], names


def test_semantic_dedup_single_scan_no_nested_loop(spark):
    # the assignment table materializes once (localCheckpoint): the
    # final plan reads the checkpoint for all three consumers — zero
    # parquet scans, and the only broadcast-cross (4-row centroid
    # side) happened during construction, never in the pair join
    plan = _plan(spark, "dedup_semantic_clusters", "simple")
    assert "FileScan" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "EvalPython" not in plan


@pytest.mark.parametrize("qname", ["dedup_embedding_lsh",
                                   "dedup_embedding_lsh_pinned"])
def test_embedding_lsh_band_join_is_slim(spark, qname):
    """r10 contract: the band explode and the candidate-pair shuffle
    carry NO vector column — vectors join back once per deduped pair.
    Before this, the bands-wide explode shipped every embedding through
    the self-join shuffle (part of the 32x-at-10x-data regression the
    sf1 probe caught)."""
    plan = _plan(spark, qname, "simple")
    for ln in plan.splitlines():
        if "Generate explode" in ln:
            assert " v#" not in ln and "embedding#" not in ln, ln
        if "Exchange hashpartitioning(id_a#" in ln:
            assert "va#" not in ln and "vb#" not in ln, ln
