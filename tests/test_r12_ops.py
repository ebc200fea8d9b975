"""Operator tests for the round-12 additions (E172+)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _emb(spark, rows):
    return spark.createDataFrame(rows,
                                 "vec_id long, embedding array<double>")


def test_reciprocal_ivf_recovers_planted_partners(spark, monkeypatch):
    """One-hot A vectors and their scaled copies in B, every vector
    its own pinned list, nprobe=1: each direction's nearest list IS
    the planted partner's, so all pairs come back mutual with
    cosine 1."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        reciprocal_best_match_ivf)

    monkeypatch.setattr(similarity, "IVF_NPROBE", 1)
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 200)
    dim = 8
    a = _emb(spark, [(i, [1.0 if d == i else 0.0 for d in range(dim)])
                     for i in range(dim)])
    b = _emb(spark, [(100 + i,
                      [0.9 if d == i else 0.0 for d in range(dim)])
                     for i in range(dim)])
    got = sorted((r.id_a, r.id_b, r.cosine) for r in
                 reciprocal_best_match_ivf(a, b, cent_below_a=dim).collect())
    assert got == [(i, 100 + i, 1.0) for i in range(dim)]


def test_reciprocal_ivf_subset_of_exact_candidates(spark, monkeypatch):
    """With nprobe covering every list, IVF-mutual equals the exact
    mutual set (the gate's recall-1 configuration)."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        reciprocal_best_match, reciprocal_best_match_ivf)

    import random
    rng = random.Random(7)
    a = _emb(spark, [(i, [rng.uniform(-1, 1) for _ in range(6)])
                     for i in range(10)])
    b = _emb(spark, [(100 + i, [rng.uniform(-1, 1) for _ in range(6)])
                     for i in range(30)])
    exact = {(r.id_a, r.id_b) for r in
             reciprocal_best_match(a, b).collect()}
    # cent_below covers all ids on both sides -> every vector is a
    # list; nprobe >= list count -> every list probed -> exact scan
    monkeypatch.setattr(similarity, "IVF_NPROBE", 200)
    monkeypatch.setattr(similarity, "IVF_N_LISTS", 200)
    pred = {(r.id_a, r.id_b) for r in
            reciprocal_best_match_ivf(a, b, cent_below_a=100).collect()}
    assert pred == exact


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucket-explode + residual must equal the definitional BETWEEN
    join on boundary-heavy intervals (closed ends, bucket-straddling
    spans, zero-length intervals, points on bucket edges)."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        interval_overlap_join)

    pts = spark.createDataFrame(
        [(i, p) for i, p in enumerate(
            [0, 9, 10, 11, 19, 20, 25, 99, 100, 101])],
        "pid long, p long")
    ivs = spark.createDataFrame(
        [(100, 0, 9), (101, 10, 10), (102, 5, 25), (103, 20, 99),
         (104, 101, 200)],
        "iid long, s long, e long")
    got = sorted((r.pid, r.iid) for r in interval_overlap_join(
        pts, ivs, "p", "s", "e", bucket_width=10).collect())
    want = sorted(
        (p.pid, i.iid)
        for p in pts.collect() for i in ivs.collect()
        if i.s <= p.p <= i.e)
    assert got == want


def test_interval_overlap_join_is_an_equi_join(spark):
    """The whole point: the physical plan must contain no
    BroadcastNestedLoopJoin / CartesianProduct — the bucket key makes
    it a hash-joinable equi join."""
    from big_data_hw_23_24_spark.operators.timeseries import (
        interval_overlap_join)

    pts = spark.createDataFrame([(1, 5)], "pid long, p long")
    ivs = spark.createDataFrame([(2, 0, 9)], "iid long, s long, e long")
    df = interval_overlap_join(pts, ivs, "p", "s", "e", bucket_width=10)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_interval_overlap_join_raises_on_degenerate_span(spark, monkeypatch):
    """An interval spanning >= MAX_SPAN_BUCKETS must RAISE (poisoned
    expression), never silently fan out corpus-wide."""
    import pytest
    from big_data_hw_23_24_spark.operators import timeseries
    from big_data_hw_23_24_spark.operators.timeseries import (
        interval_overlap_join)

    monkeypatch.setattr(timeseries, "MAX_SPAN_BUCKETS", 100)
    pts = spark.createDataFrame([(1, 5)], "pid long, p long")
    ivs = spark.createDataFrame([(2, 0, 10_000_000)],
                                "iid long, s long, e long")
    with pytest.raises(Exception, match="buckets"):
        interval_overlap_join(pts, ivs, "p", "s", "e",
                              bucket_width=10).collect()


def test_readability_hand_case(spark):
    """Known-by-hand Flesch values; zero-vowel and no-terminator
    branches exercised (floor-at-1 rules)."""
    from big_data_hw_23_24_spark.operators.textstats import (
        readability_scores)

    docs = spark.createDataFrame(
        [(1, "The cat sat on the mat."),
         (2, "xyz brrr"),           # zero-vowel words, no terminator
         (3, "")],                  # empty -> filtered out
        "doc_id long, text string")
    got = {r.doc_id: r for r in readability_scores(docs).collect()}
    assert set(got) == {1, 2}
    r1 = got[1]
    assert (r1.n_words, r1.n_sentences, r1.n_syllables) == (6, 1, 6)
    assert r1.flesch == round(206.835 - 1.015 * 6 - 84.6 * 1, 6)
    assert r1.fk_grade == round(0.39 * 6 + 11.8 * 1 - 15.59, 6)
    r2 = got[2]
    # both words floor to 1 syllable; sentence count floors to 1
    assert (r2.n_words, r2.n_sentences, r2.n_syllables) == (2, 1, 2)


def test_domain_cap_extracts_registrable_and_caps(spark, monkeypatch):
    """Registrable-domain heuristic (scheme/path/port stripped, last
    two labels) + the cap keeps exactly k best per domain."""
    from big_data_hw_23_24_spark.operators import cleaning
    from big_data_hw_23_24_spark.operators.cleaning import domain_cap

    monkeypatch.setattr(cleaning, "DOMAIN_CAP_K", 2)
    docs = spark.createDataFrame(
        [(1, 100, "https://a.b.example.com/x?q=1"),
         (2, 300, "http://example.com/y"),
         (3, 200, "WWW.Example.COM"),
         (4, 50, "https://other.org/z"),
         (5, 10, "sub.other.org/w")],
        "doc_id long, n_chars long, url string")
    got = sorted((r.domain, r.doc_id, r.rank) for r in domain_cap(
        docs, order_by=[F.col("n_chars").desc()]).collect())
    assert got == [("example.com", 2, 1), ("example.com", 3, 2),
                   ("other.org", 4, 1), ("other.org", 5, 2)]


def test_cohens_kappa_hand_case(spark):
    """Textbook 2x2 kappa: po=0.7, pe=0.5 -> kappa=0.4; and the
    degenerate both-constant grid reports null kappa (0/0)."""
    from big_data_hw_23_24_spark.operators.grouped import cohens_kappa

    cells = spark.createDataFrame(
        [("y", "y", 40), ("y", "n", 10), ("n", "y", 20), ("n", "n", 30)],
        "a string, b string, n long")
    r = cohens_kappa(cells, "a", "b", "n").collect()[0]
    assert (r.n_obs, r.n_agree) == (100, 70)
    assert r.po == 0.7
    # pe = (50*60 + 50*40) / 100^2 = 0.5
    assert r.pe == 0.5
    assert r.kappa == round((0.7 - 0.5) / 0.5, 6)
    const = spark.createDataFrame([("y", "y", 5)],
                                  "a string, b string, n long")
    assert cohens_kappa(const, "a", "b", "n").collect()[0].kappa is None


def test_compaction_plan_greedy_guarantee(spark, shuffle_partitions):
    """Every planned output (except possibly the last) lands within
    one max-input-size of the target, inputs stay contiguous, and
    totals are conserved — across forced partitions so the cumsum
    spine (not a lucky single partition) is what's tested."""
    from big_data_hw_23_24_spark.operators.layout import compaction_plan

    rows = [(i, 30 + (i * 7) % 50) for i in range(200)]
    files = spark.createDataFrame(rows, "file_id long, n_bytes long") \
        .repartition(8)
    target = 500
    shuffle_partitions(4)
    assert files.repartitionByRange("file_id").rdd.getNumPartitions() == 4
    plan = compaction_plan(files, "n_bytes", [F.col("file_id")],
                           target_bytes=target)
    got = {r.out_file: (r.n_inputs, r.total_bytes)
           for r in plan.collect()}
    assert sum(n for n, _ in got.values()) == 200
    assert sum(b for _, b in got.values()) == sum(b for _, b in rows)
    max_in = max(b for _, b in rows)
    last = max(got)
    assert set(got) == set(range(last + 1))  # contiguous group ids
    for g, (_, total) in got.items():
        if g != last:
            assert target - max_in < total < target + max_in, (g, total)


def test_phrase_search_counts_overlapping_occurrences(spark):
    """Word-aligned occurrence counts, overlaps included; absent
    phrases yield no row; multi-word chains join on adjacency."""
    from big_data_hw_23_24_spark.operators.retrieval import (
        phrase_search)

    docs = spark.createDataFrame(
        [(1, "a b a b a"),        # "a b a" overlaps: positions 0, 2
         (2, "x a b y a b"),      # "a b" twice
         (3, "b a")],             # reversed -> no match
        "doc_id long, text string")
    got = sorted((r.phrase, r.doc_id, r.n_occurrences) for r in
                 phrase_search(docs, ["a b", "a b a", "zz"]).collect())
    assert got == [("a b", 1, 2), ("a b", 2, 2), ("a b a", 1, 2)]


def test_ab_uplift_matches_hand_welch(spark):
    """Welch z computed by hand; the n<2 degenerate reports null."""
    import math

    from big_data_hw_23_24_spark.operators.grouped import (
        ab_uplift_report)

    a_vals = [10, 20, 30, 40]
    b_vals = [15, 25, 35]
    rows = [("a", v) for v in a_vals] + [("b", v) for v in b_vals]
    df = spark.createDataFrame(rows, "arm string, cents long")
    r = ab_uplift_report(df, "arm", "cents").collect()[0]
    ma, mb = sum(a_vals) / 4, sum(b_vals) / 3
    va = sum((x - ma) ** 2 for x in a_vals) / 3
    vb = sum((x - mb) ** 2 for x in b_vals) / 2
    assert (r.n_a, r.n_b) == (4, 3)
    assert r.mean_a == round(ma, 6) and r.mean_b == round(mb, 6)
    assert r.z_score == round((ma - mb) / math.sqrt(va / 4 + vb / 3), 6)
    tiny = spark.createDataFrame([("a", 1), ("b", 2), ("b", 3)],
                                 "arm string, cents long")
    assert ab_uplift_report(tiny, "arm", "cents").collect()[0] \
        .z_score is None


def test_rolling_distinct_kmv_merge_equals_window_sketch(spark, monkeypatch):
    """Mergeability: the merged per-day sketches must equal the sketch
    built directly on each window's distinct items — and below k the
    estimate IS the exact count (partial windows included)."""
    from big_data_hw_23_24_spark.operators import frequent
    from big_data_hw_23_24_spark.operators.frequent import (
        rolling_distinct_kmv)

    monkeypatch.setattr(frequent, "ROLLING_WINDOW_DAYS", 3)
    monkeypatch.setattr(frequent, "ROLLING_KMV_K", 64)
    rows = [(d, u) for d in range(10, 20) for u in range(d * 3 % 7 + 3)]
    df = spark.createDataFrame(rows, "d long, user long")
    got = {r.day_num: r for r in
           rolling_distinct_kmv(df, "user", "d").collect()}
    assert set(got) == set(range(10, 20))
    for wd, r in got.items():
        members = {u for d, u in rows if wd - 2 <= d <= wd}
        n_days = len({d for d, _ in rows if wd - 2 <= d <= wd})
        assert r.n_days == n_days
        assert r.exact_distinct == len(members)
        # below k the merged sketch is the whole distinct set: exact
        assert r.n_sketch == len(members)
        assert r.est_distinct == float(len(members))


def test_head_tail_truncate_boundaries(spark, monkeypatch):
    """At-budget passes through byte-identical; over-budget keeps
    exactly head + marker + tail."""
    from big_data_hw_23_24_spark.operators import packing
    from big_data_hw_23_24_spark.operators.packing import (
        head_tail_truncate)

    monkeypatch.setattr(packing, "TRUNC_HEAD", 5)
    monkeypatch.setattr(packing, "TRUNC_TAIL", 2)
    at = " ".join(str(i) for i in range(8))
    over = " ".join(str(i) for i in range(20))
    docs = spark.createDataFrame([(1, at), (2, over)],
                                 "doc_id long, text string")
    got = {r.doc_id: r for r in head_tail_truncate(docs).collect()}
    assert not got[1].truncated and got[1].fitted_text == at
    assert got[1].n_kept == 8
    r2 = got[2]
    assert r2.truncated and r2.n_tokens == 20 and r2.n_kept == 8
    assert r2.fitted_text == "0 1 2 3 4 ... 18 19"


def test_setsim_prefix_equals_bruteforce(spark):
    """Completeness + precision: the prefix-filtered join must equal
    the definitional all-pairs Jaccard on seeded random docs with
    planted near-dups, boundary sizes and exact duplicates — across
    forced partitions."""
    import random

    from big_data_hw_23_24_spark.operators.dedup import (
        setsim_join_prefix, word_shingles)

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = []
    for i in range(60):
        n = rng.randint(3, 30)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
    # planted: drop one word from every 6th doc; exact dup of doc 0
    for i in range(0, 60, 6):
        ws = rows[i][1].split()
        rows.append((1000 + i, " ".join(ws[:-1])))
    rows.append((2000, rows[0][1]))
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
        .repartition(7)
    got = {(r.id_a, r.id_b): r.jaccard for r in
           setsim_join_prefix(docs).collect()}
    # brute force over string shingle sets (hash sets are 1:1 barring
    # 64-bit collisions)
    sh = {r.doc_id: set(r.shingles) for r in
          word_shingles(docs).select("doc_id", "shingles").collect()}
    want = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if not sh[a] or not sh[b]:
                continue
            ix = len(sh[a] & sh[b])
            j = round(ix / (len(sh[a]) + len(sh[b]) - ix), 6)
            if j >= 0.7:
                want[(a, b)] = j
    assert got == want


def test_setsim_prefix_survives_long_documents(spark):
    """int64 filter arithmetic: a >=2148-distinct-shingle document
    overflowed the int32 size*10^6 products (ANSI raise, or silent
    mis-pruning with ANSI off)."""
    from big_data_hw_23_24_spark.operators.dedup import (
        setsim_join_prefix)

    long_text = " ".join(f"w{i}" for i in range(2300))
    docs = spark.createDataFrame(
        [(1, long_text), (2, long_text)],  # exact dup pair
        "doc_id long, text string")
    got = setsim_join_prefix(docs).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_ab_uplift_empty_arm_reports_null_means(spark):
    """An absent arm must report null mean/uplift, never NaN."""
    from big_data_hw_23_24_spark.operators.grouped import (
        ab_uplift_report)

    df = spark.createDataFrame([("a", 5), ("a", 7)],
                               "arm string, cents long")
    r = ab_uplift_report(df, "arm", "cents").collect()[0]
    assert r.n_b == 0
    assert r.mean_b is None and r.uplift is None and r.z_score is None


def test_head_tail_passthrough_is_byte_identical(spark, monkeypatch):
    """Repeated whitespace must survive the under-budget branch."""
    from big_data_hw_23_24_spark.operators import packing
    from big_data_hw_23_24_spark.operators.packing import (
        head_tail_truncate)

    monkeypatch.setattr(packing, "TRUNC_HEAD", 5)
    monkeypatch.setattr(packing, "TRUNC_TAIL", 2)

    docs = spark.createDataFrame([(1, "hello  world ")],
                                 "doc_id long, text string")
    r = head_tail_truncate(docs).collect()[0]
    assert not r.truncated and r.fitted_text == "hello  world "


def test_domain_cap_strips_port_and_handles_dotless(spark, monkeypatch):
    """A port-varied URL must not mint a fresh k-budget; dotless
    hosts keep their own identity instead of pooling into ''."""
    from big_data_hw_23_24_spark.operators import cleaning
    from big_data_hw_23_24_spark.operators.cleaning import domain_cap

    monkeypatch.setattr(cleaning, "DOMAIN_CAP_K", 2)
    docs = spark.createDataFrame(
        [(1, 30, "https://example.com/x"),
         (2, 20, "https://example.com:8080/y"),
         (3, 10, "https://user@example.com:8081/z"),
         (4, 5, "http://localhost/a"),
         (5, 4, "intranethost/b")],
        "doc_id long, n_chars long, url string")
    got = sorted((r.domain, r.doc_id) for r in domain_cap(
        docs, order_by=[F.col("n_chars").desc()]).collect())
    assert got == [("example.com", 1), ("example.com", 2),
                   ("intranethost", 5), ("localhost", 4)]


def test_interval_join_allows_exact_max_span(spark, monkeypatch):
    """A span of exactly MAX_SPAN_BUCKETS buckets is allowed; one
    more raises (the documented boundary)."""
    import pytest
    from big_data_hw_23_24_spark.operators import timeseries
    from big_data_hw_23_24_spark.operators.timeseries import (
        interval_overlap_join)

    monkeypatch.setattr(timeseries, "MAX_SPAN_BUCKETS", 4)
    pts = spark.createDataFrame([(1, 5)], "pid long, p long")
    ok = spark.createDataFrame([(2, 0, 39)], "iid long, s long, e long")
    assert interval_overlap_join(pts, ok, "p", "s", "e",
                                 bucket_width=10).count() == 1
    over = spark.createDataFrame([(2, 0, 40)],
                                 "iid long, s long, e long")
    with pytest.raises(Exception, match="more than 4 buckets"):
        interval_overlap_join(pts, over, "p", "s", "e",
                              bucket_width=10).collect()


def test_bootstrap_ci_matches_python_recompute(spark):
    """The whole Poisson-bootstrap pipeline — md5 uniforms, CDF
    threshold weights, exact replicate means, order-statistic CI —
    recomputed in pure Python must equal the Spark result exactly
    (the determinism contract both engines rely on)."""
    import hashlib
    import math

    from big_data_hw_23_24_spark.operators.grouped import (
        POISSON1_CDF, U32_DIVISOR, bootstrap_ci)

    rows = [(g, f"u{g}{i}", (i + 1) * (7 + gi))
            for gi, g in enumerate(["x", "y"]) for i in range(10)]
    units = spark.createDataFrame(rows, "grp string, unit string, cents long")
    got = {r.grp: r for r in
           bootstrap_ci(units, ["grp"], "unit", "cents").collect()}

    def r6(v):  # Spark round = HALF_UP; python round is banker's
        return math.floor(v * 1e6 + 0.5) / 1e6

    def weight(grp, unit, rep):
        u = int(hashlib.md5(f"{grp}:{unit}:{rep}".encode()).hexdigest()[:8],
                16) / U32_DIVISOR
        return sum(1 for c in POISSON1_CDF if u >= c)

    def pctl(vals, p):  # linear interpolation at p*(n-1), like both engines
        vals = sorted(vals)
        pos = p * (len(vals) - 1)
        lo, frac = int(math.floor(pos)), pos - math.floor(pos)
        hi = min(lo + 1, len(vals) - 1)
        return r6(vals[lo] + (vals[hi] - vals[lo]) * frac)

    w_sum = n_draws = 0
    for g in ["x", "y"]:
        us = [(u, c) for gg, u, c in rows if gg == g]
        means = []
        for rep in range(41):
            ws = [(weight(g, u, rep), c) for u, c in us]
            w_sum += sum(w for w, _ in ws); n_draws += len(ws)
            sw = sum(w for w, _ in ws)
            if sw > 0:
                means.append(r6(sum(w * c for w, c in ws) / sw))
        row = got[g]
        assert row.n_units == len(us)
        assert row.mean_val == r6(sum(c for _, c in us) / len(us))
        assert row.ci_lo == pctl(means, 0.025), g
        assert row.ci_hi == pctl(means, 0.975), g
    # the deterministic draws really are Poisson(1)-like: mean ~ 1
    assert 0.8 < w_sum / n_draws < 1.2


def test_mojibake_lexicon_is_cp1252_roundtrip():
    """Every marker must BE its original's UTF-8 bytes read as cp1252
    (the corruption the scan claims to detect); no marker may be a
    substring of another; and no repair OUTPUT may be a substring of
    any LATER marker in chain order — otherwise a repair could
    complete a marker out of adjacent corrupt bytes and a later chain
    step would consume the created (never-in-source) sequence."""
    from big_data_hw_23_24_spark.operators.cleaning import MOJIBAKE

    for marker, orig in MOJIBAKE.items():
        assert orig.encode("utf-8").decode("cp1252") == marker
    ms = list(MOJIBAKE)
    for a in ms:
        for b in ms:
            assert a == b or a not in b
    for i, a in enumerate(ms):
        for b in ms[i + 1:]:
            assert MOJIBAKE[a] not in b, (a, b)


def test_mojibake_repair_created_sequences_stay(spark):
    """The cascade case the chain order exists for: 'â€' + 'â€œ' —
    repairing 'â€œ' to '“' COMPLETES an 'â€“' sequence that was never
    a marker in the source; it must stay unrepaired (the 'â€“' step
    runs earlier in the chain), so exactly one marker is counted and
    exactly 5−3=2 characters are recovered."""
    from big_data_hw_23_24_spark.operators.cleaning import mojibake_scan

    docs = spark.createDataFrame([(1, "â€â€œ")], "doc_id long, text string")
    row = mojibake_scan(docs).collect()[0]
    assert (row.n_markers, row.mojibake_flag,
            row.n_chars_recovered) == (1, True, 2)


def test_mojibake_scan_flags_and_repairs(spark):
    """Hand cases: clean text reports zeros; corrupted text counts
    every marker (including adjacent ones) and the repair recovers
    exactly the collapsed characters."""
    from big_data_hw_23_24_spark.operators.cleaning import mojibake_scan

    docs = spark.createDataFrame(
        [(1, "plain ascii text, nothing wrong"),
         (2, "cafÃ© â€” rÃ©sumÃ©"),        # 3x 'Ã©' + 1x 'â€”'
         (3, "Ã©Ã©"),                       # adjacent markers
         (4, "naÃ¯ve")],                    # Ã¯ NOT in the lexicon
        "doc_id long, text string")
    got = {r.doc_id: r for r in mojibake_scan(docs).collect()}
    assert (got[1].n_markers, got[1].mojibake_flag,
            got[1].n_chars_recovered) == (0, False, 0)
    # doc 2: markers 3 + 1 = 4; recovered = 3*(2-1) + (3-1) = 5
    assert (got[2].n_markers, got[2].mojibake_flag,
            got[2].n_chars_recovered) == (4, True, 5)
    assert (got[3].n_markers, got[3].n_chars_recovered) == (2, 2)
    # unknown sequences are conservatively left alone
    assert (got[4].n_markers, got[4].mojibake_flag,
            got[4].n_chars_recovered) == (0, False, 0)


def test_preference_pairs_margins_ties_and_singles(spark):
    """Hand cases: a clear-margin group pairs best vs worst; a
    below-margin group is dropped; a single-response prompt picks the
    same row for both sides and is dropped by the guard (never by an
    arbitrary tie flip); score ties break on id (asc for chosen,
    desc for rejected)."""
    from big_data_hw_23_24_spark.operators.ranking import preference_pairs

    rows = [  # (prompt, id, score)
        ("p1", 1, 10), ("p1", 2, 3), ("p1", 3, 7),   # margin 7 -> kept
        ("p2", 4, 5), ("p2", 5, 4),                  # margin 1 -> dropped
        ("p3", 6, 9),                                # single -> dropped
        ("p4", 7, 8), ("p4", 8, 8), ("p4", 9, 1),    # tie at top: id 7
    ]
    df = spark.createDataFrame(rows, "prompt string, rid long, score long")
    got = {r.prompt: r for r in preference_pairs(
        df, "prompt", "rid", "score", min_margin=3).collect()}
    assert set(got) == {"p1", "p4"}
    assert (got["p1"].chosen_id, got["p1"].rejected_id,
            got["p1"].margin) == (1, 2, 7)
    assert (got["p4"].chosen_id, got["p4"].rejected_id,
            got["p4"].margin) == (7, 9, 7)


def test_edit1_neighborhood_equals_bruteforce(spark):
    """Candidate generation must be COMPLETE for distance 1 (the
    FastSS variant-intersection property) and the verify must kill
    the over-generated candidates ('ab'/'ba' share deletion variants
    at different positions but sit at distance 2): equality against
    brute-force levenshtein over random short strings, across forced
    partitions."""
    import itertools
    import random

    from big_data_hw_23_24_spark.operators.linkage import (
        edit1_neighborhood_pairs)

    rng = random.Random(11)
    terms = list({"".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
                  for _ in range(60)})
    terms += ["ab", "ba", "xy", "yx"]  # the false-candidate shape
    rows = list(enumerate(terms))
    df = spark.createDataFrame(rows, "rid long, term string").repartition(7)
    got = {(r.id_a, r.id_b) for r in
           edit1_neighborhood_pairs(df, "rid", "term").collect()}

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {(i, j) for (i, a), (j, b) in
            itertools.combinations(rows, 2) if lev(a, b) == 1}
    assert got == want and want  # non-vacuous


def test_ewma_forecast_hand_case(spark, monkeypatch):
    """Two-lag weights (0.6, 0.4 in micros) make every number
    hand-checkable: backtest forecasts, MAPE, the next-day forecast,
    and the partial-history branches (exactly-L days forecasts; fewer
    than L days reports null)."""
    from big_data_hw_23_24_spark.operators import timeseries
    from big_data_hw_23_24_spark.operators.timeseries import ewma_forecast

    monkeypatch.setattr(timeseries, "EWMA_MICRO", (600000, 400000))
    rows = ([("a", d, n) for d, n in [(1, 10), (2, 20), (3, 30), (4, 40)]]
            + [("b", 1, 5), ("b", 2, 7)] + [("c", 9, 3)])
    daily = spark.createDataFrame(rows, "k string, d long, n long")
    got = {r.k: r for r in ewma_forecast(daily, ["k"], "d", "n").collect()}
    a = got["a"]
    # fc(d3)=0.6*20+0.4*10=16, fc(d4)=0.6*30+0.4*20=26
    assert (a.n_days, a.n_forecast_days) == (4, 2)
    assert a.mape == round((14 / 30 + 14 / 40) / 2, 6)
    assert a.next_forecast == round(0.6 * 40 + 0.4 * 30, 6)
    b = got["b"]  # exactly L days: no backtest rows, but a forecast
    assert (b.n_days, b.n_forecast_days, b.mape) == (2, 0, None)
    assert b.next_forecast == round(0.6 * 7 + 0.4 * 5, 6)
    c = got["c"]  # < L days: nothing
    assert (c.n_forecast_days, c.mape, c.next_forecast) == (0, None, None)


def test_km_survival_textbook_case(spark):
    """Hand-worked product-limit estimator: censored units stay in the
    at-risk set until their censoring time, event rows only at event
    times, and the everyone-exits tail reaches survival exactly 0.0
    (ln(0) -> -inf -> exp -> 0 in both engines)."""
    from big_data_hw_23_24_spark.operators.timeseries import km_survival

    lt = spark.createDataFrame(
        [(1, False), (2, False), (2, True), (3, False), (4, True)],
        "dur long, censored boolean")
    got = [(r.duration, r.n_risk, r.n_events, r.survival)
           for r in km_survival(lt, "dur", "censored")
           .orderBy("duration").collect()]
    # S(1)=4/5, S(2)=4/5*3/4=0.6, S(3)=0.6*1/2=0.3; dur 4 censor-only
    assert got == [(1, 5, 1, 0.8), (2, 4, 1, 0.6), (3, 2, 1, 0.3)]

    dead = spark.createDataFrame([(1, False), (1, False)],
                                 "dur long, censored boolean")
    row = km_survival(dead, "dur", "censored").collect()[0]
    assert (row.n_risk, row.n_events, row.survival) == (2, 2, 0.0)


def test_km_exhaustion_branch_matches_duckdb(spark):
    """The everyone-exits branch must be EXPLICIT in both engines:
    Spark's log(0) is NULL (drops the factor) and DuckDB's ln(0)
    RAISES — each side contributes a literal -inf instead, and the
    curves (including the exact-0.0 tail) must agree."""
    import duckdb

    from big_data_hw_23_24_spark.operators.timeseries import km_survival

    rows = [(1, False), (2, False), (2, False), (2, False)]
    lt = spark.createDataFrame(rows, "dur long, censored boolean")
    got = sorted((r.duration, r.n_risk, r.n_events, r.survival)
                 for r in km_survival(lt, "dur", "censored").collect())
    vals = ", ".join(f"({d}, {str(c).lower()})" for d, c in rows)
    want = sorted(tuple(r) for r in duckdb.sql(f"""
        WITH lt(dur, censored) AS (VALUES {vals}),
        g AS (SELECT dur,
                sum(CASE WHEN NOT censored THEN 1 ELSE 0 END)::BIGINT AS d,
                count(*)::BIGINT AS leaving FROM lt GROUP BY 1),
        r AS (SELECT dur, d,
                sum(leaving) OVER (ORDER BY dur ROWS BETWEEN CURRENT ROW
                                   AND UNBOUNDED FOLLOWING) AS n_risk
              FROM g),
        k AS (SELECT dur, d, n_risk,
                exp(sum(CASE WHEN d < n_risk
                             THEN ln(1 - d * 1.0 / n_risk)
                             ELSE CAST('-infinity' AS DOUBLE) END)
                    OVER (ORDER BY dur)) AS s FROM r)
        SELECT dur, CAST(n_risk AS BIGINT), d, round(s, 6)
        FROM k WHERE d > 0""").fetchall())
    assert got == want
    assert got[-1][3] == 0.0  # the exhaustion tail is exactly zero
