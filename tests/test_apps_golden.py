"""Reference-parity CLI apps vs the published golden outputs.

Goldens: Output_TestN15_1_3_9_2.pdf (9/7/4) and
output_uber10k_0.02_10_5_2.pdf (236 outliers / 165 sure / 195
uncertain) from Homework_1/Data/Example/.
"""

from __future__ import annotations

import os
import re

import numpy as np
import pytest

FIXTURES = os.path.join(os.path.dirname(os.path.dirname(__file__)), "fixtures")
TESTN15 = os.path.join(FIXTURES, "testn15.csv")
UBER10K = "/root/reference/Homework_1/Data/uber-10k.csv"
UBER100K = "/root/reference/Homework_1/Data/uber-100k.csv"


def _grab(lines, pattern):
    for ln in lines:
        m = re.match(pattern, ln)
        if m:
            return m.group(1)
    raise AssertionError(f"no line matches {pattern!r} in {lines}")


def test_hw1_testn15_golden(spark):
    from big_data_hw_23_24_spark.apps.hw1 import run

    lines = run(spark, TESTN15, 1.0, 3, 9, 2)
    assert _grab(lines, r"Number of points: (\d+)") == "15"
    assert _grab(lines, r"Number of Outliers = (\d+)") == "9"
    assert _grab(lines, r"Number of sure outliers = (\d+)") == "7"
    assert _grab(lines, r"Number of uncertain points = (\d+)") == "4"
    # the 9 printed outlier points = the golden's set
    pts = {ln for ln in lines if ln.startswith("Point: ")}
    golden = {
        "Point: (3.21, 4.6)", "Point: (0.5, 4.1)", "Point: (1.1, 5.0)",
        "Point: (1.51, 3.2)", "Point: (4.32, 4.3)", "Point: (1.11, 5.1)",
        "Point: (1.52, 3.6)", "Point: (4.11, 4.11)", "Point: (0.4, 0.9)",
    }
    assert pts == golden
    # golden cell list: nine singleton cells (tie order differs — set compare)
    cells = {re.sub(r"\s+", " ", ln) for ln in lines if ln.startswith("Cell: ")}
    assert cells == {
        "Cell: (4, 10) Size = 1", "Cell: (2, 3) Size = 1",
        "Cell: (9, 13) Size = 1", "Cell: (1, 2) Size = 1",
        "Cell: (11, 11) Size = 1", "Cell: (12, 12) Size = 1",
        "Cell: (1, 11) Size = 1", "Cell: (2, 2) Size = 1",
        "Cell: (4, 9) Size = 1",
    }


@pytest.mark.slow
def test_hw1_uber10k_golden(spark):
    from big_data_hw_23_24_spark.apps.hw1 import run

    lines = run(spark, UBER10K, 0.02, 10, 5, 2)
    assert _grab(lines, r"Number of points: (\d+)") == "10000"
    assert _grab(lines, r"Number of Outliers = (\d+)") == "236"
    assert _grab(lines, r"Number of sure outliers = (\d+)") == "165"
    assert _grab(lines, r"Number of uncertain points = (\d+)") == "195"


@pytest.mark.slow
def test_hw1_uber10k_wide_d_golden(spark):
    """Output-uber10kD02M10K50L2.pdf: D=0.2 M=10 K=50 L=2 — full 50-cell
    listing (the grid has exactly 50 non-empty cells at this D, so the
    top-K set is tie-free even though listing order differs)."""
    from big_data_hw_23_24_spark.apps.hw1 import run

    lines = run(spark, UBER10K, 0.2, 10, 50, 2)
    assert _grab(lines, r"Number of Outliers = (\d+)") == "4"
    assert _grab(lines, r"Number of sure outliers = (\d+)") == "1"
    assert _grab(lines, r"Number of uncertain points = (\d+)") == "19"
    # exact outliers: 40.8674 has 1 neighbor, the other three tie at 7 —
    # the golden's tie order is the reference's post-repartition collect
    # order (nondeterministic across runs); ours ties by input position,
    # so pin the leader exactly and the ties as a set
    pts = [ln for ln in lines if ln.startswith("Point: ")]
    assert pts[0] == "Point: (40.8674, -73.1731)"
    assert set(pts[1:]) == {
        "Point: (40.7829, -73.4372)", "Point: (40.7757, -73.4202)",
        "Point: (41.0214, -73.6269)",
    }
    golden_cells = {
        ((574, -1052), 1), ((573, -1053), 1), ((577, -1035), 1),
        ((575, -1053), 1), ((575, -1042), 1), ((577, -1053), 1),
        ((573, -1047), 1), ((579, -1050), 1), ((574, -1049), 1),
        ((579, -1049), 1), ((577, -1040), 1), ((574, -1051), 1),
        ((576, -1044), 1), ((574, -1054), 1), ((573, -1051), 1),
        ((578, -1050), 1), ((577, -1052), 1), ((574, -1043), 1),
        ((579, -1042), 1), ((580, -1042), 1), ((574, -1045), 2),
        ((573, -1046), 2), ((576, -1051), 2), ((577, -1051), 2),
        ((576, -1039), 2), ((575, -1043), 2), ((574, -1048), 2),
        ((576, -1052), 2), ((578, -1044), 2), ((576, -1041), 2),
        ((576, -1043), 2), ((577, -1050), 3), ((579, -1048), 3),
        ((575, -1051), 3), ((579, -1045), 3), ((576, -1054), 3),
        ((578, -1047), 3), ((575, -1049), 3), ((576, -1053), 3),
        ((580, -1043), 4), ((576, -1042), 4), ((575, -1052), 5),
        ((576, -1050), 6), ((578, -1048), 7), ((577, -1049), 8),
        ((578, -1045), 8), ((577, -1048), 10), ((576, -1049), 12),
        ((577, -1045), 15), ((575, -1045), 16),
    }
    got = set()
    sizes = []
    for ln in lines:
        m = re.match(r"Cell: \((-?\d+), (-?\d+)\)\s+Size = (\d+)", ln)
        if m:
            got.add(((int(m.group(1)), int(m.group(2))), int(m.group(3))))
            sizes.append(int(m.group(3)))
    assert got == golden_cells
    assert sizes == sorted(sizes)  # non-decreasing listing, as mandated


@pytest.mark.slow
def test_hw1_uber100k_golden(spark):
    """output_uber100k_0.02_10_5_2.pdf: 673 exact / 435 sure / 658
    uncertain — the scale point where the grid-join exact detector
    diverges most from the reference's O(N²) loop (61.6 s there)."""
    from big_data_hw_23_24_spark.apps.hw1 import run

    lines = run(spark, UBER100K,
                0.02, 10, 5, 2)
    assert _grab(lines, r"Number of points: (\d+)") == "100000"
    assert _grab(lines, r"Number of Outliers = (\d+)") == "673"
    assert _grab(lines, r"Number of sure outliers = (\d+)") == "435"
    assert _grab(lines, r"Number of uncertain points = (\d+)") == "658"
    # The golden's 5 printed points are an arbitrary subset of the many
    # count-1 ties (reference prints its post-shuffle collect order);
    # ours prints the 5 smallest input positions of that tie class —
    # pinned here as the deterministic regression contract.
    pts = [ln for ln in lines if ln.startswith("Point: ")]
    assert pts == [
        "Point: (40.9859, -74.1578)", "Point: (40.9148, -74.2213)",
        "Point: (40.7232, -74.409)", "Point: (40.8152, -74.359)",
        "Point: (40.8607, -73.527)",
    ]
    # and every golden-printed point truly belongs to the tie class:
    # an exact outlier with neighbor count 1
    from big_data_hw_23_24_spark.operators.outliers import exact_outliers
    from big_data_hw_23_24_spark.sources.tables import read_points_csv
    from pyspark.sql import functions as F

    raw = read_points_csv(
        spark, UBER100K,
        float32_parity=True).withColumn(
        "pid", F.monotonically_increasing_id())
    out = {(float(np.float32(r.x)), float(np.float32(r.y))): r.n_neighbors
           for r in exact_outliers(raw, 0.02, 10).collect()}
    for gx, gy in [(40.9148, -74.2213), (40.8674, -73.1731),
                   (40.9552, -74.2396), (40.5608, -74.5518),
                   (40.9924, -73.9904)]:
        key = (float(np.float32(gx)), float(np.float32(gy)))
        assert out.get(key) == 1, (gx, gy, out.get(key))


def test_hw2_testn15_format_and_properties(spark):
    import numpy as np

    from big_data_hw_23_24_spark.apps.hw2 import run
    from big_data_hw_23_24_spark.operators.clustering import sequential_fft

    lines = run(spark, TESTN15, 3, 4, 2)
    assert any(re.match(r"Running time of MRFFT Round [123] = \d+ ms", ln)
               for ln in lines)
    radius = float(_grab(lines, r"Radius = ([0-9.]+)"))
    # 2-approx sanity vs sequential FFT on the full 15 points
    pts = np.loadtxt(TESTN15, delimiter=",")
    centers = sequential_fft(pts, 4)
    d2 = ((pts[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    seq_radius = float(np.sqrt(d2.min(axis=1).max()))
    assert radius <= 2 * seq_radius + 1e-6
    assert radius > 0


def test_hw3_report_format_matches_golden_shape(spark):
    from big_data_hw_23_24_spark.apps.hw3 import report_lines
    from big_data_hw_23_24_spark.streaming.frequent_stream import (
        FrequentItemsMonitor,
    )

    # deterministic stream: 10 heavy items (freq 0.08 each), unique tail
    n = 10_000
    items = []
    for i in range(n):
        items.append(i % 10 if i % 100 < 80 else 1_000_000 + i)
    monitor = FrequentItemsMonitor(n=n, phi=0.07, eps=0.03, delta=0.1)
    monitor.histogram = {}
    from collections import Counter
    monitor.histogram.update(Counter(items))
    monitor.stream_length = n
    monitor.reservoir.add_many(items)
    monitor.sticky.add_many(items)

    lines = report_lines(monitor, "8888")
    text = "\n".join(lines)
    # exact section structure of Output1M_007_003_01_8888.txt
    for header in ["INPUT PROPERTIES", "EXACT ALGORITHM",
                   "RESERVOIR SAMPLING", "STICKY SAMPLING"]:
        assert header in lines
    assert re.search(r"n = 10000 phi = 0\.07 epsilon = 0\.03 "
                     r"delta = 0\.1 port = 8888", text)
    assert _grab(lines, r"Number of true frequent items = (\d+)") == "10"
    assert _grab(lines, r"Size m of the sample = (\d+)") == "15"
    # ± annotation lines look exactly like the golden's
    assert re.search(r"^\d+ [+-]$", text, re.M)
    # sticky recovers all true frequent items (published behavior at ε=0.03)
    sticky_idx = lines.index("STICKY SAMPLING")
    sticky_plus = {int(ln.split()[0]) for ln in lines[sticky_idx:]
                   if re.match(r"^\d+ \+$", ln)}
    assert sticky_plus == set(range(10))


def test_wordcount_app(spark, tmp_path):
    from big_data_hw_23_24_spark.apps.wordcount import run

    p = tmp_path / "lines.txt"
    p.write_text("a b a\nc a b\n")
    lines = run(spark, str(p), 2)
    assert lines[0] == "Number of distinct words = 3"
    assert lines[1] == "Total word occurrences = 6"
    assert lines[2] == "Average word length = 1.0"


def test_dedup_report_app(spark):
    """The dedup-report CLI face: exact groups and LSH pairs over the
    sf0.001 documents corpus, report lines well-formed and counts
    consistent with the operators it wraps."""
    from big_data_hw_23_24_spark.apps.dedup_report import run
    from big_data_hw_23_24_spark.operators.dedup import exact_duplicate_groups
    from big_data_hw_23_24_spark.sources.tables import load_table

    lines = run(spark, "/root/testdata/sf0.001/documents.parquet")
    assert lines[0].startswith("Documents = ")
    n_docs = int(lines[0].split("= ")[1])
    assert n_docs == load_table(spark, "/root/testdata/sf0.001",
                                "documents").count()
    direct = exact_duplicate_groups(
        load_table(spark, "/root/testdata/sf0.001", "documents")).count()
    assert f"Exact duplicate groups = {direct} " in lines[1]
    assert lines[-1].startswith("Upper-bound drop fraction = ")


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    """The corpus-preparation CLI: filter → dedup → decontam → chunk →
    sorted write. Invariants: counts only shrink through the funnel,
    no non-canonical duplicate survives, benchmark overlap is gone,
    and the output parquet covers exactly the surviving doc ids."""
    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.components import (
        connected_components)
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_near_duplicates)
    from big_data_hw_23_24_spark.operators.textstats import (
        contamination_scan)
    from big_data_hw_23_24_spark.sources.tables import load_table

    src = "/root/testdata/sf0.001/documents.parquet"
    bench_dir = str(tmp_path / "bench")
    out_dir = str(tmp_path / "out")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.where("doc_id < 3").select("text").write.parquet(bench_dir)

    lines = run(spark, src, out_dir, min_quality=0.0,
                benchmark_path=bench_dir)
    n_in = int(lines[0].split("= ")[1])
    n_kept = int(lines[1].split("= ")[1])
    n_dedup = int(lines[2].split("= ")[1].split(" ")[0])
    assert n_in == docs.count()
    assert n_in >= n_kept >= n_dedup > 0

    out = spark.read.parquet(out_dir)
    out_ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    # benchmark sources (and their near-dups) are decontaminated away
    scan = contamination_scan(
        docs.join(out.select("doc_id").distinct(), "doc_id"),
        spark.read.parquet(bench_dir))
    assert scan.where("contaminated").count() == 0
    # no surviving doc is a non-canonical member of a dup component
    comp = connected_components(
        minhash_near_duplicates(docs.select("doc_id", "text")))
    losers = {r.doc_id for r in
              comp.where("doc_id != component").collect()}
    assert not (out_ids & losers)


@pytest.mark.slow  # r15 budget: stage variant of the default e2e run
def test_corpus_pipeline_lm_band_filter(spark, tmp_path):
    """The r6 stage: --lm-band drops both perplexity-proxy tails after
    dedup. Non-vacuous (some docs drop, some survive) and exact: the
    surviving ids are precisely the in-band ids of an independent
    recomputation over the same post-dedup corpus."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.components import (
        connected_components)
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_near_duplicates)
    from big_data_hw_23_24_spark.operators.tokenizer import unigram_logprob

    src = "/root/testdata/sf0.001/documents.parquet"
    out_dir = str(tmp_path / "out")
    docs = spark.read.parquet(src).select("doc_id", "text")
    comp = connected_components(minhash_near_duplicates(docs))
    deduped = docs.join(comp.where("doc_id != component")
                        .select("doc_id"), "doc_id", "left_anti")
    scores = unigram_logprob(deduped)
    lo, hi = scores.approxQuantile("avg_neg_logprob", [0.1, 0.9], 0.0)
    in_band = {r.doc_id for r in
               scores.where(F.col("avg_neg_logprob").between(lo, hi))
               .collect()}
    n_dedup = deduped.count()
    assert 0 < len(in_band) < n_dedup  # the band is non-vacuous

    lines = run(spark, src, out_dir, min_quality=0.0, lm_band=(lo, hi))
    n_lm_dropped = int(next(l for l in lines if "unigram-LM" in l)
                       .split("= ")[1])
    assert n_lm_dropped == n_dedup - len(in_band) > 0
    out_ids = {r.doc_id for r in spark.read.parquet(out_dir)
               .select("doc_id").distinct().collect()}
    assert out_ids == in_band


def test_corpus_pipeline_mix_and_pack_path(spark, tmp_path):
    """The r5 stages: source mixing shrinks the corpus up front and
    --pack replaces chunking with per-shard context-window packing;
    every packed slice belongs to a surviving doc and every non-final
    bin of a shard is exactly full."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run

    src = "/root/testdata/sf0.001/documents.parquet"
    out_dir = str(tmp_path / "out")
    rates = {"src0": 1.0, "src1": 1.0, "src2": 0.5}
    lines = run(spark, src, out_dir, min_quality=0.0,
                mix_rates=rates, mix_default=0.0, pack_capacity=32)
    n_premix = int(lines[0].split("= ")[1])
    n_in = int(lines[1].split("= ")[1])
    assert n_premix == spark.read.parquet(src).count()
    # default 0.0 drops every unlisted source; src0+src1 kept whole
    per_src = {r.source: r.cnt for r in
               spark.read.parquet(src).groupBy("source")
               .agg(F.count("*").alias("cnt")).collect()}
    assert per_src["src0"] + per_src["src1"] <= n_in \
        <= per_src["src0"] + per_src["src1"] + per_src["src2"]

    out = spark.read.parquet(out_dir)
    assert set(out.columns) == {"shard", "bin_id", "doc_id",
                                "n_tokens_in_bin"}
    assert {r.shard for r in out.select("shard").distinct().collect()} \
        <= {"src0", "src1", "src2"}
    # telescoping per shard
    bins = out.groupBy("shard", "bin_id") \
        .agg(F.sum("n_tokens_in_bin").alias("t")).collect()
    last = {}
    for r in bins:
        last[r.shard] = max(last.get(r.shard, -1), r.bin_id)
    for r in bins:
        assert r.t == 32 or r.bin_id == last[r.shard]


@pytest.mark.slow  # r15 budget: stage variant of the default e2e run
def test_corpus_pipeline_c4_clean_stage(spark, tmp_path):
    """The --clean stage: line dedup + C4 filter replace the text that
    every later stage sees. Exact: surviving ids and cleaned texts
    match an independent recomputation, junk docs are gone, and the
    funnel report carries the pre-clean count."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.cleaning import (
        c4_line_filter,
        dedup_lines,
    )

    # derived multi-line corpus: dup lines, punctuated + junk branches
    base = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").where("doc_id < 40")
    docs = base.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.substring("text", 1, 50), F.lit(".")),
            F.concat(F.substring("text", 1, 50), F.lit(".")),  # dup
            F.substring("text", 51, 60),                       # no punct
            F.concat(F.substring("text", 61, 40), F.lit("!")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("lorem ipsum x."))
            .otherwise(F.lit("A clean closing line here."))).alias("text"))
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    docs.write.parquet(src)

    lines = run(spark, src, out_dir, min_quality=0.0, c4_clean=True)
    n_preclean = int(next(l for l in lines if "C4 cleaning" in l)
                     .split("= ")[1])
    n_in = int(next(l for l in lines if "Documents in" in l)
               .split("= ")[1])
    assert n_preclean == 40

    expect = c4_line_filter(dedup_lines(docs), text_col="text_deduped")
    want = {r.doc_id: r.clean_text
            for r in expect.where("keep").collect()}
    assert 0 < len(want) < 40          # junk docs dropped, rest kept
    assert n_in == len(want)
    out_ids = {r.doc_id for r in spark.read.parquet(out_dir)
               .select("doc_id").distinct().collect()}
    assert out_ids <= set(want)
    # the chunked output tokenizes the CLEANED text, not the raw text
    # (restricted to out_ids: near-dedup may drop more docs later)
    from big_data_hw_23_24_spark.operators.textstats import token_chunks

    got_chunks = {(r.doc_id, r.chunk_id, r.chunk_text) for r in
                  spark.read.parquet(out_dir)
                  .select("doc_id", "chunk_id", "chunk_text").collect()}
    cleaned_docs = spark.createDataFrame(
        [(i, t) for i, t in want.items() if i in out_ids],
        "doc_id long, text string")
    want_chunks = {(r.doc_id, r.chunk_id, r.chunk_text) for r in
                   token_chunks(cleaned_docs, size=64, stride=48)
                   .select("doc_id", "chunk_id", "chunk_text").collect()}
    assert got_chunks == want_chunks


@pytest.mark.slow  # r15 budget: stage variant of the default e2e run
def test_corpus_pipeline_classifier_and_dsir_stages(spark, tmp_path):
    """Late-r6 stages: --classifier-min gates on the hashed linear
    model's prob, --dsir-target keeps docs whose importance weight
    clears --dsir-min. Both non-vacuous here, and exact: surviving ids
    equal an independent recomputation over the same inputs (classifier
    on the post-filter corpus, DSIR on the post-classifier corpus)."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.cleaning import (
        linear_quality_score)
    from big_data_hw_23_24_spark.operators.selection import dsir_importance
    from big_data_hw_23_24_spark.sources.tables import load_table

    src = "/root/testdata/sf0.001/documents.parquet"
    out_dir = str(tmp_path / "out")
    lines = run(spark, src, out_dir, min_quality=0.0,
                classifier_min=0.5, dsir_target=("lang", "en"),
                dsir_min=0.0)
    n_kept = int(lines[1].split("= ")[1])
    n_clf = int(lines[2].split("= ")[1])
    n_dsir = int(lines[3].split("= ")[1])
    assert lines[2].startswith("Dropped by linear classifier")
    assert lines[3].startswith("Dropped by DSIR importance filter")
    # non-vacuous: each stage drops some docs and keeps some
    assert 0 < n_clf < n_kept
    assert 0 < n_dsir < n_kept - n_clf

    docs = load_table(spark, "/root/testdata/sf0.001", "documents") \
        .select("doc_id", "text", "source", "lang")
    clf_keep = (linear_quality_score(docs)
                .where(F.col("prob") >= 0.5).select("doc_id"))
    after_clf = docs.join(clf_keep, "doc_id")
    assert n_clf == docs.count() - after_clf.count()
    dsir_keep = (dsir_importance(after_clf, F.col("lang") == "en")
                 .where(F.col("weight") >= 0.0).select("doc_id"))
    assert n_dsir == after_clf.count() - dsir_keep.count()

    out_ids = {r.doc_id for r in spark.read.parquet(out_dir)
               .select("doc_id").distinct().collect()}
    want_ids = {r.doc_id for r in dsir_keep.collect()}
    # output ⊆ classifier∩dsir survivors (dedup may drop more)
    assert out_ids <= want_ids


@pytest.mark.slow  # r15 budget: stage variant of the default e2e run
def test_corpus_pipeline_best_survivor_and_span_strip(spark, tmp_path):
    """--survivor best keeps the argmax-quality member per dup
    component (exactly the best_survivors keep set); --strip-spans
    removes a non-vacuous number of repeated-span tokens from the
    surviving text and the written chunks contain none of the mined
    cross-doc 8-grams of the surviving corpus."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.components import (
        best_survivors, connected_components)
    from big_data_hw_23_24_spark.operators.dedup import (
        minhash_near_duplicates)
    from big_data_hw_23_24_spark.operators.textstats import quality_scores
    from big_data_hw_23_24_spark.sources.tables import load_table

    # base corpus + a planted 8-gram header shared by docs that are
    # NOT near-dups (post-dedup span stripping must still find it;
    # the corpus's own repeats disappear with their dup clusters)
    hdr = "site nav home about contact terms privacy copyright"
    base = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(hdr + " "), F.col("text")))
        .otherwise(F.col("text")).alias("text"),
        "source", "lang")
    src = str(tmp_path / "in.parquet")
    docs.write.parquet(src)
    out_dir = str(tmp_path / "out")
    lines = run(spark, src, out_dir, min_quality=0.0,
                survivor="best", strip_spans=8)
    span_line = [ln for ln in lines if ln.startswith("Tokens stripped")]
    assert span_line and int(span_line[0].split("= ")[1]) > 0

    docs = docs.select("doc_id", "text")
    comp = connected_components(minhash_near_duplicates(docs))
    winners = {r.keep_id for r in
               best_survivors(comp, quality_scores(docs)).collect()}
    members = {r.doc_id for r in comp.collect()}
    out_ids = {r.doc_id for r in spark.read.parquet(out_dir)
               .select("doc_id").distinct().collect()}
    # of each dup component, exactly the best-quality member survives
    assert out_ids & members <= winners
    # and with min-id semantics this keep set would differ (best != min
    # for at least one component here, making the option non-vacuous)
    min_ids = {r.component for r in comp.select("component")
               .distinct().collect()}
    assert winners != min_ids


def test_corpus_pipeline_rejects_bad_survivor(spark, tmp_path, request):
    """A bad survivor is rejected before any stage runs a Spark job."""
    from big_data_hw_23_24_spark.apps.corpus_pipeline import run

    sc = spark.sparkContext
    sc.setJobGroup("rejects_bad_survivor", "bad survivor")

    def clear_group():
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    request.addfinalizer(clear_group)
    with pytest.raises(ValueError, match="survivor"):
        run(spark, "/root/testdata/sf0.001/documents.parquet",
            str(tmp_path / "out"), survivor="bogus")
    assert not sc.statusTracker().getJobIdsForGroup("rejects_bad_survivor")


@pytest.mark.slow  # r15 budget: stage variant of the default e2e run
def test_corpus_pipeline_contamination_strip_mode(spark, tmp_path):
    """--contamination-mode strip keeps contaminated DOCUMENTS but
    removes the overlapping spans: post-run, no surviving text shares
    an 8-gram with the benchmark, yet the id set matches the drop-mode
    funnel BEFORE its decontamination stage (nothing dropped there)."""
    from pyspark.sql import functions as F

    from big_data_hw_23_24_spark.apps.corpus_pipeline import run
    from big_data_hw_23_24_spark.operators.textstats import (
        contamination_scan)
    from big_data_hw_23_24_spark.sources.tables import load_table

    src = "/root/testdata/sf0.001/documents.parquet"
    bench_dir = str(tmp_path / "bench")
    out_dir = str(tmp_path / "out")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    docs.where("doc_id < 3").select("text").write.parquet(bench_dir)

    lines = run(spark, src, out_dir, min_quality=0.0,
                benchmark_path=bench_dir, contamination_mode="strip")
    strip_line = [x for x in lines
                  if x.startswith("Tokens stripped as benchmark")][0]
    assert int(strip_line.split("= ")[1]) > 0
    # docs survive (n after dedup == docs reaching the chunker);
    # reconstruct: no chunk text may share an 8-gram with the benchmark
    out = spark.read.parquet(out_dir)
    rejoined = (out.orderBy("doc_id", "chunk_id").groupBy("doc_id")
                .agg(F.concat_ws(" ", F.collect_list("chunk_text"))
                     .alias("text")))
    scan = contamination_scan(rejoined, spark.read.parquet(bench_dir))
    assert scan.where("contaminated").count() == 0
    # benchmark-source docs were NOT dropped: doc 0-2 near-dups keep
    # their ids in the output (they appear with stripped text)
    out_ids = {r.doc_id for r in out.select("doc_id").distinct().collect()}
    n_dedup = int([x for x in lines if x.startswith("After near-dedup")][0]
                  .split("= ")[1].split(" ")[0])
    assert len(out_ids) > 0
    # every doc that survived dedup reaches the output minus only
    # empty-after-strip chunkless docs
    assert len(out_ids) <= n_dedup


def test_corpus_pipeline_rejects_bad_contamination_mode(spark, tmp_path):
    from big_data_hw_23_24_spark.apps.corpus_pipeline import run

    with pytest.raises(ValueError, match="contamination_mode"):
        run(spark, "/root/testdata/sf0.001/documents.parquet",
            str(tmp_path / "x"), contamination_mode="purge")


def test_cli_mains_reject_bad_flags_before_building_a_session(
        tmp_path, monkeypatch, capsys):
    """A mistyped flag, a value flag with no value, a value that does
    not parse or one out of range is a usage error (exit 2), never a
    silent default, a bare StopIteration or a ValueError after the
    session is up. The paper's apps print the reason too."""
    from big_data_hw_23_24_spark import session
    from big_data_hw_23_24_spark.apps import (
        corpus_pipeline, dedup_report, hw1, hw2, hw3, wordcount)

    def no_session(*args, **kwargs):
        raise AssertionError("session built before the flags were checked")

    monkeypatch.setattr(session, "get_session", no_session)
    src = "/root/testdata/sf0.001/documents.parquet"
    bad_pipeline = [["--min-qualty", "0.9"], ["--threshold", "x"],
                    ["--lm-band", "3"], ["--survivor", "bset"],
                    ["--contamination-mode", "keep"],
                    ["--chunk-size", "1.5"], ["--mix-rates", "src0"],
                    ["--dsir-target", "lang"]]
    for flags in bad_pipeline:
        assert corpus_pipeline.main(
            [src, str(tmp_path / "out"), *flags]) == 2, flags
    bad_report = [["--threshold"], ["--threshold", "x"], ["--hamming", "3.5"]]
    for flags in bad_report:
        assert dedup_report.main([src, *flags]) == 2, flags
    out = capsys.readouterr().out.splitlines()
    assert out == ([corpus_pipeline.USAGE] * len(bad_pipeline)
                   + [dedup_report.USAGE] * len(bad_report))

    pts = TESTN15
    bad_apps = [
        (hw1, [pts, "x", "3", "9", "2"]), (hw1, [pts, "0", "3", "9", "2"]),
        (hw1, [pts, "nan", "3", "9", "2"]), (hw1, [pts, "1", "-3", "9", "2"]),
        (hw1, [pts, "1", "3", "0", "2"]), (hw1, [pts, "1", "3", "9", "0"]),
        (hw1, [pts, "1", "3", "9.5", "2"]),
        (hw2, [pts, "0", "3", "2"]), (hw2, [pts, "3", "-1", "2"]),
        (hw2, [pts, "3", "3", "x"]),
        (hw3, ["0", "0.1", "0.05", "0.1", "8888"]),
        (hw3, ["100", "1.5", "0.05", "0.1", "8888"]),
        (hw3, ["100", "0.1", "0", "0.1", "8888"]),
        (hw3, ["100", "0.1", "0.05", "1", "8888"]),
        (hw3, ["100", "0.1", "0.05", "0.1", "port"]),
        (wordcount, ["0", pts]), (wordcount, ["four", pts]),
    ]
    for app, args in bad_apps:
        assert app.main(args) == 2, (app.__name__, args)
    out = capsys.readouterr()
    assert out.out.splitlines() == [app.USAGE for app, _ in bad_apps]
    assert len(out.err.splitlines()) == len(bad_apps)  # one reason each
    # too few arguments keep the reference's message and exit 1
    assert hw1.main([pts, "1"]) == 1
    assert capsys.readouterr().out.startswith("Please provide filename")
