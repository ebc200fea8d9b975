"""Opt-in sf1 scale probe (SPARK_GRAFT_SF1_BENCH=1).

The five slowest benched queries are all candidate-generation dedup /
rerank paths whose 100 TB safety rests on an argument (bucketed joins,
bounded pools, df-capped inverted indexes). This probe checks the
argument EMPIRICALLY one decade up: synthesize a 10× corpus from
sf0.1 (replica-suffixed words so replicas don't near-dup each other —
replicating text verbatim would grow true-pair counts quadratically in
the replica count and break the linearity comparison for structural,
not scale, reasons; embeddings get a per-replica cyclic dimension
shift for the same decorrelation), time each probe at both scales, and
assert ≤ linear-ish growth. A hidden superlinear term (band-bucket
blowup, pool fan-out, Σdf² past its cap) shows up as a ratio near
10²; genuine linear scaling lands near 10¹. Results are written under
``sf1_probe`` to BENCH_DETAIL.json in the test's temporary directory.

Not part of the default suite: synthesizing + timing ~50k docs three
times per query is minutes of wall-clock, and the number it produces
is a scaling RATIO, not a correctness bit.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY
from big_data_hw_23_24_spark.sources.tables import load_table

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SF1_BENCH") != "1",
    reason="opt-in: SPARK_GRAFT_SF1_BENCH=1 runs the 10x scale probe")

SF01 = "/root/testdata/sf0.1"
REPLICAS = 10
# data grows 10x; a quadratic term would land near 100x. The gate sat
# at 25x through r10; with the r11 filter-placement fix every probed
# face lands 0.95-4.4x, so the gate tightens to 10x — sublinear-or-fail.
# A band-crowding-class bug (the r10 embedding-LSH 32x) now FAILS the
# probe instead of drifting inside a loose allowance.
MAX_GROWTH = 10.0

PROBES = [
    "dedup_minhash_banded",      # banded equi-join on (band, hash)
    "dedup_containment_pairs",   # inverted-index shingle join, df-capped
    "knn_mmr_rerank",            # bounded pool + k unrolled greedy steps
    "dedup_minhash_lsh",         # xxhash64 production LSH face
    "dedup_incremental_minhash",  # batch-vs-signature-store join
    # r9 heavy faces
    "dedup_simhash_pinned",      # pigeonhole band self-join (md5 family)
    "doc_char_span_flags",       # Arrow winnow kernel + inverted index
    # r10 additions: the remaining top-10-by-cost headline faces
    "bpe_learned_merges",        # vocab-scale agg per merge round
    "dedup_embedding_lsh_pinned",  # banded sign-plane join + verify
    "events_item_triangles",     # degree-ordered wedge join
    "doc_rerank_features",       # broadcast-shortlist pair features
    "corpus_quality_calibration",  # decile x lexicon calibration
    "doc_bm25_multi",            # batch BM25 grouped top-k
    # late-r10 faces in the new top-10 by cost
    "doc_hybrid_rrf",            # shared-index BM25 + QL + fusion
    "orders_itemset_triples",    # A-priori pair/triple joins
    "events_kmv_setops",         # sketch build + pair grid
    "corpus_drift_psi",          # ntile spine + binned assignment
    # r11 faces whose joins/elections could hide a quadratic term
    "knn_reciprocal_best",       # capped-query mutual-NN double scan
    "doc_linkage_blocked",       # sum(block^2) under the max_block cap
    "doc_linkage_snm",           # rank-spine bucket-adjacency O(n*w)
    "dedup_eval_bcubed",         # cluster-size aggregates, no pairs
    "doc_homoglyph_scan",        # corpus-wide skeleton owner election
    # r12 faces whose joins could hide a superlinear term
    "knn_reciprocal_ivf",        # IVF-routed mutual NN, both directions
    "events_interval_join",      # bucket-explode range join
    "doc_phrase_search",         # positional postings adjacency chain
    "doc_domain_cap",            # per-domain grouped top-k
    "dedup_setsim_prefix",       # prefix-filtered exact Jaccard join
    "events_rolling_distinct_kmv",  # windowed KMV merge + exact side
    # r13: fold the direct 10x probe of the edit-1 join (1.62x time
    # for 12.6x output, measured standalone in r12) into the gate so
    # the recorded sf1_probe block owns the number
    "customers_typo_pairs",      # positioned FastSS deletion join
    # r13 faces whose spines/joins could hide a superlinear term.
    # knn_hubness is deliberately NOT probed: its all-pairs k-NN graph
    # is quadratic BY DEFINITION (a declared run-once rollout gate,
    # the dedup_eval_minhash treatment) — probing it would only
    # re-measure the definition.
    "events_mannwhitney",        # distinct-value aggregate + cumsum spine
    "customers_revenue_gini",    # global-rank spine over customer rev
    "corpus_jsd_matrix",         # vocab x sources^2 pair grid
    "events_graph_assortativity",  # degree joins on the co-occur graph
    "embedding_triplet_mining",  # fixed anchor set x 10x corpus
    "embedding_rp_distortion",   # posexplode grid + offset pair joins
    "events_peak_concurrency",   # boundary cumsum spine, 2 rows/session
    "schema_fk_orphans",         # seven linear anti-join audits
    "customers_large_volume",    # Q18 HAVING aggregate + broadcasts
    # late-r13 faces whose spines/joins could hide a superlinear term.
    # dedup_eval_lsh_recall is deliberately NOT probed: it composes
    # dedup_setsim_prefix + dedup_minhash_banded, both probed above,
    # and is a declared run-once gate.
    "events_spearman_drift",     # distinct-value grid spine + two
                                 #   corpus stitch-back equi-joins
    "users_bh_fdr",              # rank spine over the hypothesis table
    "embedding_top_eigen",       # one Gram pass; iteration dim-bounded
    # chained and iterative joins that could hide a superlinear term:
    # the Hilbert chunk-join fan-in and the two iterative-join graph
    # faces at 10x edges
    "events_hilbert_pruning",    # automaton-as-broadcast-join chain
    "events_label_propagation",  # 3 rounds of edge-vs-label joins
    "events_hits_authority",     # 2*rounds keyed join + agg pairs
]


def _synthesize(spark, dst: str) -> None:
    docs = load_table(spark, SF01, "documents")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    reps = spark.range(REPLICAS).withColumnRenamed("id", "k")
    suffixed = F.concat_ws(" ", F.transform(
        F.split(F.col("text"), " "),
        lambda w: F.concat(w, F.lit("_r"), F.col("k").cast("string"))))
    (docs.crossJoin(reps)
     .select((F.col("doc_id") + F.col("k") * off).alias("doc_id"),
             F.when(F.col("k") == 0, F.col("text"))
             .otherwise(suffixed).alias("text"),
             "lang", "source", "n_chars")
     .write.mode("overwrite").parquet(os.path.join(dst, "documents.parquet")))
    emb = load_table(spark, SF01, "embeddings")
    voff = emb.agg(F.max("vec_id")).first()[0] + 1
    dim = len(emb.select("embedding").first()[0])
    shifted = F.concat(
        F.slice(F.col("embedding"), F.col("k") + 1, F.lit(dim) - F.col("k")),
        F.slice(F.col("embedding"), F.lit(1), F.col("k")))
    (emb.crossJoin(reps)
     .select((F.col("vec_id") + F.col("k") * voff).alias("vec_id"),
             F.when(F.col("k") == 0, F.col("embedding"))
             .otherwise(shifted).alias("embedding"),
             "label")
     .write.mode("overwrite").parquet(os.path.join(dst, "embeddings.parquet")))
    # events: replicas get fresh user/event ids (so per-user baskets,
    # sessions and windows replicate independently — linear growth) but
    # SHARE the item space in props: the co-occurrence graph keeps its
    # distinct edges, so wedge fan-out per node is unchanged and only
    # the per-user stages scale — the structure a real 10x of the same
    # catalog would have. ts is written as a plain timestamp; load_table
    # converts only bigint-nanos columns, so the probe read-path is the
    # production one.
    ev = load_table(spark, SF01, "events")
    uoff = ev.agg(F.max("user_id")).first()[0] + 1
    eoff = ev.agg(F.max("event_id")).first()[0] + 1
    (ev.crossJoin(reps)
     .select((F.col("event_id") + F.col("k") * eoff).alias("event_id"),
             "ts",
             (F.col("user_id") + F.col("k") * uoff).alias("user_id"),
             "event_type", "value", "props")
     .write.mode("overwrite").parquet(os.path.join(dst, "events.parquet")))
    # lineitem: replicas get fresh order keys (baskets replicate
    # independently — planted bundle support and the relative minsup
    # both scale with the basket count) but SHARE the part space, the
    # structure a real 10x order volume over the same catalog has
    # customer: replicas get fresh custkeys with names RE-DERIVED from
    # the new key in TPC-H's dense zero-padded format — a real 10x
    # customer base keeps the same name distribution over a 10x key
    # range, so cross-replica edit-1 neighbors are genuine structure
    # (each name still has an alphabet-bounded neighbor count), not a
    # synthetic quadratic
    cu = load_table(spark, SF01, "customer")
    coff = cu.agg(F.max("c_custkey")).first()[0] + 1
    (cu.crossJoin(reps)
     .select((F.col("c_custkey") + F.col("k") * coff).alias("c_custkey"),
             F.format_string("Customer#%09d",
                             F.col("c_custkey") + F.col("k") * coff)
             .alias("c_name"),
             "c_nationkey", "c_acctbal", "c_mktsegment")
     .write.mode("overwrite").parquet(os.path.join(dst, "customer.parquet")))
    li = load_table(spark, SF01, "lineitem")
    ooff = li.agg(F.max("l_orderkey")).first()[0] + 1
    (li.crossJoin(reps)
     .select((F.col("l_orderkey") + F.col("k") * ooff).alias("l_orderkey"),
             "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate")
     .write.mode("overwrite").parquet(os.path.join(dst, "lineitem.parquet")))
    # orders: fresh orderkeys ALIGNED with the replicated lineitem keys
    # (same per-replica offset arithmetic) and custkeys aligned with the
    # replicated customers — the Q13/Q18/gini join structure a real 10x
    # order volume has: per-customer order counts and per-order baskets
    # unchanged, only the population scales
    # offset MUST be the lineitem ooff above: max(l_orderkey) ==
    # max(o_orderkey) in this star (asserted), so replicated lineitems
    # keep joining their replicated parent orders
    od = load_table(spark, SF01, "orders")
    assert od.agg(F.max("o_orderkey")).first()[0] + 1 == ooff
    (od.crossJoin(reps)
     .select((F.col("o_orderkey") + F.col("k") * ooff).alias("o_orderkey"),
             (F.col("o_custkey") + F.col("k") * coff).alias("o_custkey"),
             "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority")
     .write.mode("overwrite").parquet(os.path.join(dst, "orders.parquet")))
    # the FK audit and region/nation-keyed faces read the dims as-is
    for dim_name in ("part", "supplier", "nation", "region"):
        load_table(spark, SF01, dim_name).write.mode("overwrite").parquet(
            os.path.join(dst, f"{dim_name}.parquet"))


def _time_min(fn, spark, sf_dir: str, reps: int = 2) -> float:
    fn(spark, sf_dir).count()  # untimed warm-up run
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        runs.append(time.perf_counter() - t0)
    return min(runs)


# Faces whose EXACT output legitimately superlinearizes under the
# synthesis (an exact join's work is Omega(its output)): gated on
# time-vs-OUTPUT growth instead of time-vs-input. customers_typo_pairs:
# dense zero-padded TPC-H keys gain a digit position at 10x, so the
# true edit-1 pair count grows 12.6x — a synthesis artifact (real name
# spaces don't densify), but the honest gate for it is "time grows no
# faster than the answer" (x1.2 slack for fixed costs).
_OUTPUT_BOUND_PROBES = {"customers_typo_pairs"}


def test_sf1_growth_is_linearish(spark, tmp_path):
    _ensure_loaded()
    dst = tempfile.mkdtemp(prefix="sf1_probe_")
    try:
        _synthesize(spark, dst)
        results: dict[str, dict[str, float]] = {}
        failures = []
        for name in PROBES:
            fn = _REGISTRY[name].spark_fn
            t01 = _time_min(fn, spark, SF01)
            t1 = _time_min(fn, spark, dst)
            ratio = t1 / max(t01, 1e-9)
            results[name] = {"sec_sf0.1": round(t01, 3),
                             "sec_sf1": round(t1, 3),
                             "growth": round(ratio, 2)}
            gate = MAX_GROWTH
            if name in _OUTPUT_BOUND_PROBES:
                out01 = fn(spark, SF01).count()
                out1 = fn(spark, dst).count()
                out_growth = out1 / max(out01, 1)
                results[name]["output_growth"] = round(out_growth, 2)
                gate = max(MAX_GROWTH, out_growth * 1.2)
            if ratio > gate:
                failures.append((name, round(ratio, 2)))
        detail = {"sf1_probe": {"replicas": REPLICAS,
                                "max_growth_allowed": MAX_GROWTH,
                                "queries": results}}
        with open(tmp_path / "BENCH_DETAIL.json", "w") as f:
            json.dump(detail, f, indent=1, sort_keys=True)
        assert not failures, (failures, results)
    finally:
        shutil.rmtree(dst, ignore_errors=True)
