"""Mirror of the driver's correctness gate: every registered query runs
on Spark AND its DuckDB oracle, compared order-insensitively on sorted
column names and exact values. Queries without an oracle get a
rows-runnable check (deterministic schema, ≥0 rows).

Default budget (the serial tier-1 run must fit its timeout): each
query runs at ONE scale factor per suite run — sf0.01 for the names
declared partition-boundary-sensitive (``_SF01_SCALE_SENSITIVE``,
whose machinery only stretches across partitions past the smallest
SF), sf0.001 for the rest. Every query keeps its full-value oracle
comparison every run; only the redundant second SF moves behind
``SPARK_GRAFT_FULL_PARITY=1`` (a slower sweep, run together with the
sf0.1 opt-in).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY
from big_data_hw_23_24_spark.sources.tables import TABLE_NAMES

_ensure_loaded()
SF_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _dtype_kind(s: pd.Series) -> str:
    if pd.api.types.is_bool_dtype(s):
        return "bool"
    if pd.api.types.is_integer_dtype(s):
        return "int"
    if pd.api.types.is_float_dtype(s):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(s):
        return "datetime"
    return "object"


def _assert_dtype_kinds(name: str, got: pd.DataFrame, want: pd.DataFrame):
    """The driver hashes rendered pandas values, so int64 123 vs float64
    123.0 is a driver red even when values are equal (DuckDB sum(BIGINT)
    returns HUGEINT, which pandas renders float64 — both r9 reds).
    _normalize coerces dtypes before comparing, which masks exactly that
    class, so assert dtype *kind* equality first.
    """
    for c in got.columns:
        gk, wk = _dtype_kind(got[c]), _dtype_kind(want[c])
        assert gk == wk, (
            f"{name}.{c}: spark renders {gk} ({got[c].dtype}) but oracle "
            f"renders {wk} ({want[c].dtype}) — the driver hashes these "
            f"differently even if values are equal; cast in the OUTER "
            f"select of the oracle SQL (e.g. ::BIGINT after a sum)"
        )


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # float32 → float64 etc. so dtype differences don't mask value equality
    for c in df.columns:
        if pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# Scale-up parity: the driver checks sf0.01, but partition-boundary
# logic (range repartition, session merge across partitions, window
# frames, bucket-explode joins) only gets exercised when the data
# outgrows single partitions. Opt-in (SPARK_GRAFT_SF01_PARITY=1, ~4 min)
# because sf0.1 DuckDB recomputation is too slow for every suite run;
# the r6 sweeps (24 queries, then +5 mid-r6) were fully green.
_SF01_SCALE_SENSITIVE = [
    "pricing_summary", "customer_balance_deciles", "events_asof_orders",
    "customer_rolling_30d", "sessions_builtin_window",
    "acctbal_median_by_nation", "mr_approx_outliers", "exact_outliers",
    "smallest_cells_topk", "doc_pack_sequences", "doc_unigram_logprob",
    "doc_bigram_logprob", "doc_bpe_tokens", "embedding_lloyd_round",
    "dedup_components", "dedup_exact_groups", "events_by_window",
    "events_by_hopping_window", "segment_set_ops", "knn_pq_rerank",
    "corpus_boilerplate_ngrams", "doc_boilerplate_share",
    "frequent_users_cms", "events_customer_salted_join",
    # mid-r6 additions whose partition-boundary machinery (range
    # repartition prefix sums, two-stage grouped top-k, cluster-keyed
    # pair joins, inverted-index overlap) only stretches past sf0.01
    "corpus_quality_budget", "corpus_token_shards",
    "corpus_stratified_sample", "dedup_semantic_clusters",
    "doc_overlap_pairs",
    # late-r6: batch BM25's grouped top-k and postings pruning, DSIR's
    # bucket-table broadcast and shared-feats materialization, and the
    # temperature copy realization only stretch across partitions past
    # sf0.01
    "doc_bm25_multi", "doc_dsir_weights", "corpus_temperature_mix",
    # last-r6 additions: cross-partition gram mining, component-keyed
    # argmax, user-keyed multi-stage joins, encode+rollup
    "doc_span_dedup", "dedup_survivors_best", "user_funnel_3stage",
    "user_retention_cohorts", "corpus_bpe_fertility",
    # r7 MinHash oracle conversions: the banded equi-joins and the
    # signature-store match only cross partition boundaries past sf0.01
    "dedup_incremental_minhash", "dedup_minhash_banded",
    # r7 additions: cross-partition benchmark-gram joins; the
    # range-partitioned per-language rank spine
    "doc_decontaminate_spans", "doc_lm_quality_buckets",
    # late-r7: inverted-index containment, the dense-global-index
    # negative sampler, Arrow-batch-boundary Gram partials, the
    # per-doc fold chunker and the bigram-aggregate PMI miner only
    # stretch across partitions past sf0.01
    "dedup_containment_pairs", "doc_contrastive_negatives",
    "embedding_gram_matrix", "doc_sentence_chunks",
    "corpus_pmi_collocations",
    # r7-continuation additions: vertex-keyed iterative joins, the
    # gram/grid pair joins, the grouped-topk sampling funnel, the
    # full-outer fingerprint join, the per-source first-occurrence +
    # cumulative windows, and MMR's pool-stage broadcast all stretch
    # across partitions only past sf0.01
    "events_item_pagerank", "corpus_source_overlap",
    "corpus_length_ks_matrix", "corpus_priority_sample",
    "corpus_snapshot_diff", "corpus_vocab_growth", "knn_mmr_rerank",
    # r8 additions whose partition-boundary machinery (bloom routing +
    # verification join, range-partitioned length rank and ntile
    # spines, inverted-index owner election, banded sign-plane join,
    # full-outer MERGE, per-user cap windows, two-stage grouped top-k,
    # cross-partition argmax rounds) only stretches past sf0.01
    "dedup_incremental_bloom", "corpus_length_batches",
    "events_rfm_segments", "corpus_gram_novelty", "corpus_ngram_table",
    "dedup_embedding_lsh_pinned", "doc_rake_keyphrases",
    "events_item_cooccurrence", "corpus_dup_rate_daily",
    "events_transition_matrix", "corpus_apply_snapshot",
    "bpe_learned_merges", "corpus_dedup_impact",
    # r9 additions: per-gram owner election across partitions, the
    # winnowed-hash inverted index, and the broadcast-shortlist corpus
    # join only stretch past sf0.01
    "doc_span_dedup_keepone", "doc_char_span_flags",
    "doc_rerank_features",
    # late-r9: the KMV grouped top-k, the SCD2 full-outer join and the
    # SimHash pigeonhole band join all cross partition boundaries only
    # past sf0.01
    "events_kmv_distinct", "corpus_scd2_history", "dedup_simhash_pinned",
    # r10: the block inverted index, the widened-band LSH join and the
    # broadcast rank-count pass only stretch across partitions past
    # sf0.01
    "media_block_dedup", "dedup_embedding_lsh_pinned",
    "events_percentile_drift", "knn_eval_ivf",
    # late-r10: the prefix-max/ntile spines, the A-priori semi-join
    # ladder, the user-keyed attribution join, the shared-index
    # retrievers and the sketch-pair grid all cross partition
    # boundaries only past sf0.01
    "parts_skyline", "orders_itemset_triples", "corpus_drift_psi",
    "events_attribution", "doc_hybrid_rrf", "events_kmv_setops",
    "corpus_incremental_stats", "parts_hierarchy_rollup",
    "events_zorder_pruning",
    # r11: the blocked/rank-adjacency linkage joins, the per-group
    # calendar spine and the cluster-size aggregates only stretch
    # across partition boundaries past sf0.01
    "doc_linkage_blocked", "doc_linkage_snm", "events_calendar_gaps",
    "dedup_eval_bcubed",
    # late-r11: the skeleton-owner election, the FK anti-join and the
    # forward/back top-1 joins cross partition boundaries past sf0.01
    "doc_homoglyph_scan", "lineitem_contracts", "knn_reciprocal_best",
    # the per-(group, value) cumulative window only crosses partition
    # boundaries past sf0.01
    "corpus_weighted_median_length",
    # the prefix grouped top-k and the per-(label, dim) centroid
    # averages (whose exact-zero branch rests on both snapshots
    # aggregating in the same partition order) stretch past sf0.01
    "doc_prefix_completions", "embedding_centroid_drift",
    # r12: the IVF routing joins, the bucket-explode range join, the
    # postings adjacency chain, the grouped top-k cap, the prefix
    # inverted index, the per-day sketch-merge join and the cumsum
    # spine all cross partition boundaries only past sf0.01
    "knn_reciprocal_ivf", "events_interval_join", "doc_phrase_search",
    "doc_domain_cap", "dedup_setsim_prefix",
    "events_rolling_distinct_kmv", "corpus_compaction_plan",
    # late-r12: the positioned variant joins, the per-order window +
    # broadcast dim, and max_by partial-state merges stretch past
    # sf0.01
    "customers_typo_pairs", "suppliers_sole_delay",
    "corpus_preference_pairs",
    # r13: the rank/cumsum spine consumers (MWU distinct-value cumsum,
    # Gini within-group ranks, peak-concurrency boundary spine, the
    # double quantile-normalize spines), the vocab x sources^2 JSD
    # grid, the degree joins, the capped-graph recommender chain, the
    # per-bucket HLL register merge and the postings-ride MRR eval all
    # cross partition boundaries only past sf0.01
    "events_mannwhitney", "customers_revenue_gini",
    "corpus_quantile_normalize", "events_peak_concurrency",
    "corpus_jsd_matrix", "events_graph_assortativity",
    "events_rec_hitrate", "events_hll_pinned", "doc_retrieval_mrr",
    "schema_fk_orphans", "customers_large_volume",
    # late-r13: the full-outer churn diff + delta join, the ntile
    # spines under three layouts + the automaton join chain, and the
    # watermark replay's bucket boundaries all cross partitions only
    # past sf0.01
    "orders_ivm_join_view", "events_hilbert_pruning",
    "streaming_late_data_audit",
]


# ONE SF per query per default run (see module docstring): the
# partition-boundary-sensitive names get the larger checked SF, the
# rest the smallest; SPARK_GRAFT_FULL_PARITY=1 restores the full
# two-SF matrix.
if os.environ.get("SPARK_GRAFT_FULL_PARITY") == "1":
    _PARITY_PARAMS = [(n, sf) for sf in SF_DIRS for n in sorted(_REGISTRY)]
else:
    _PARITY_PARAMS = [
        (n, SF_DIRS[1] if n in set(_SF01_SCALE_SENSITIVE) else SF_DIRS[0])
        for n in sorted(_REGISTRY)]


@pytest.mark.parametrize("name,sf_dir", _PARITY_PARAMS)
def test_query_matches_oracle(spark, name, sf_dir):
    q = _REGISTRY[name]
    got = q.spark_fn(spark, sf_dir).toPandas()
    if q.oracle is None:
        assert got.shape[0] >= 0  # runnable + stable schema
        assert list(got.columns)
        return
    con = _duck(sf_dir)
    want = con.sql(q.oracle).df()
    con.close()
    assert sorted(got.columns) == sorted(want.columns), \
        f"{name}: column mismatch {got.columns} vs {want.columns}"
    _assert_dtype_kinds(name, got, want[got.columns])
    g, w = _normalize(got), _normalize(want)
    assert len(g) == len(w), f"{name}: row count {len(g)} vs {len(w)}"
    pd.testing.assert_frame_equal(g, w, check_exact=True,
                                  check_dtype=False, obj=name)


@pytest.mark.skipif("not __import__('os').environ.get('SPARK_GRAFT_SF01_PARITY')")
@pytest.mark.parametrize("name", _SF01_SCALE_SENSITIVE)
def test_query_matches_oracle_at_sf01(spark, name):
    q = _REGISTRY[name]
    got = q.spark_fn(spark, "/root/testdata/sf0.1").toPandas()
    con = _duck("/root/testdata/sf0.1")
    want = con.sql(q.oracle).df()
    con.close()
    _assert_dtype_kinds(name, got, want[got.columns])
    g, w = _normalize(got), _normalize(want)
    assert len(g) == len(w), f"{name}: row count {len(g)} vs {len(w)}"
    pd.testing.assert_frame_equal(g, w, check_exact=True,
                                  check_dtype=False, obj=name)
