"""Property tests for dedup / similarity / textstats / multimodal ops
(the SQL-oracle parity lives in test_oracle_parity.py; these cover the
approximate paths it can't)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    from big_data_hw_23_24_spark.sources.tables import load_table

    return load_table(spark, SF, "documents").cache()


@pytest.fixture(scope="module")
def emb(spark):
    from big_data_hw_23_24_spark.sources.tables import load_table

    return load_table(spark, SF, "embeddings").cache()


def test_minhash_lsh_recall_and_precision(spark, docs):
    from big_data_hw_23_24_spark.operators.dedup import (
        exact_jaccard_pairs, minhash_near_duplicates)

    exact = {(r.id_a, r.id_b): r.jaccard
             for r in exact_jaccard_pairs(docs, 0.7).collect()}
    lsh = {(r.id_a, r.id_b): r.jaccard
           for r in minhash_near_duplicates(docs, 0.7).collect()}
    # precision is exact by construction (verify step recomputes Jaccard)
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert j == exact[pair]
    # recall: 1-(1-j^4)^8 ≥ 0.99 at j ≥ 0.8; planted dups are ≥ 0.7
    high = {p for p, j in exact.items() if j >= 0.8}
    assert len(lsh) >= 0.9 * len(high), (len(lsh), len(high))


def test_lsh_empty_shingle_docs_never_band(spark):
    """Docs with < 3 words have an empty shingle set and would all share
    the sentinel signature — banding them would produce a quadratic
    candidate set among short docs. The guard must keep candidate
    generation linear (here: zero candidates from 200 distinct short
    docs) while real near-dups still surface."""
    from big_data_hw_23_24_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_near_duplicates, minhash_signature,
        word_shingles)

    short = [(i, f"w{i} x") for i in range(200)]
    dup_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = short + [(1000, dup_text), (1001, dup_text)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    signed = minhash_signature(word_shingles(docs))
    guarded = signed.where(F.size("shingles") > 0)
    cands = lsh_candidate_pairs(guarded).collect()
    # linear, not 200·199/2: only the planted identical pair survives
    assert {(r.id_a, r.id_b) for r in cands} == {(1000, 1001)}

    verified = minhash_near_duplicates(docs, threshold=0.7).collect()
    assert {(r.id_a, r.id_b) for r in verified} == {(1000, 1001)}


def test_exact_dup_groups_consistent_with_fingerprints(spark, docs):
    from big_data_hw_23_24_spark.operators.dedup import exact_duplicate_groups

    groups = exact_duplicate_groups(docs).collect()
    n_docs = docs.count()
    n_distinct = docs.select(F.lower(F.trim("text"))).distinct().count()
    # Σ (n_docs - 1) over dup groups == total - distinct (normalized)
    assert sum(g.n_docs - 1 for g in groups) >= n_docs - n_distinct
    assert all(g.n_docs > 1 for g in groups)


def test_exact_dup_groups_nonvacuous_on_salted_input(spark, docs):
    """The registered query salts mangled duplicates in — every source
    document must land in a dup group (no 0-rows-green vacuity)."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    groups = _REGISTRY["dedup_exact_groups"].spark_fn(spark, SF).collect()
    n_docs = docs.count()
    assert len(groups) > 0
    assert sum(g.n_docs for g in groups) >= 2 * n_docs
    assert all(g.n_docs >= 2 for g in groups)
    # survivor is always an original (un-shifted) doc id
    assert all(g.keep_id < 1000000 for g in groups)


def test_simhash_near_dups_cover_exact_dups(spark, docs):
    from big_data_hw_23_24_spark.operators.dedup import (
        exact_duplicate_groups, simhash_near_duplicates)

    # identical texts → identical simhash → hamming 0
    sim = {(r.id_a, r.id_b) for r in
           simhash_near_duplicates(docs, max_hamming=3).collect()}
    dup_groups = exact_duplicate_groups(docs)
    ids = (docs.select("doc_id",
                       F.md5(F.regexp_replace(F.lower(F.trim("text")),
                                              " +", " ")).alias("fp"))
           .join(dup_groups, dup_groups.fingerprint == F.col("fp"))
           .groupBy("fp").agg(F.collect_list("doc_id").alias("ids"))
           .collect())
    for g in ids:
        s = sorted(g.ids)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                assert (s[i], s[j]) in sim


def test_ivf_recall_vs_bruteforce(spark, emb, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk, ivf_topk)

    monkeypatch.setattr(similarity, "IVF_NPROBE", 12)
    queries = emb.where(F.col("vec_id") < 20)
    brute = cosine_topk(emb, queries, k=10).collect()
    ivf = ivf_topk(emb, queries).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    v = {(r.query_id, r.neighbor_id) for r in ivf}
    recall = len(b & v) / len(b)
    assert recall >= 0.8, recall  # nprobe=12/16 → 3/4 of the space scanned
    # every IVF hit carries the true cosine (scores are exact)
    bs = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in ivf:
        if (r.query_id, r.neighbor_id) in bs:
            assert r.cosine == bs[(r.query_id, r.neighbor_id)]


def test_language_id_on_real_sentences(spark):
    from big_data_hw_23_24_spark.operators.textstats import detect_language

    samples = [
        (1, "the cat and the dog of the house is to be found"),
        (2, "der hund und die katze ist das beste tier"),
        (3, "le chat et le chien est dans les maisons"),
        (4, "el perro y la casa es de los gatos"),
        (5, "xyzzy plugh qwerty"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string")
    got = {r.doc_id: r.detected_lang
           for r in detect_language(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_multimodal_decode_stub_and_fake(spark, docs):
    from big_data_hw_23_24_spark.operators.multimodal import (
        decode_media, media_from_documents)

    media = media_from_documents(docs.limit(50))
    meta = decode_media(media, fake=True)
    rows = meta.collect()
    assert len(rows) == 50
    assert all(64 <= r.width < 64 + 1984 and 64 <= r.height < 64 + 1984
               for r in rows)
    assert all(len(r.checksum) == 32 for r in rows)
    # real path is stubbed: surfaces NotImplementedError at execution
    with pytest.raises(Exception, match="NotImplementedError|codecs"):
        decode_media(media, fake=False).collect()


def test_multimodal_feature_extract_fake_matches_reference(spark, docs):
    import hashlib

    from big_data_hw_23_24_spark.operators.multimodal import (
        extract_features, media_from_documents)

    media = media_from_documents(docs.limit(20))
    got = {(r.media_id, r.i): r.feat
           for r in extract_features(media, fake=True).collect()}
    for r in docs.limit(20).collect():
        h = hashlib.md5(r.text.encode()).hexdigest()
        for i in range(4):
            want = round(int(h[8 * i:8 * i + 8], 16) / 2 ** 32, 6)
            assert got[(r.doc_id, i)] == want
    with pytest.raises(Exception, match="NotImplementedError|models"):
        extract_features(media, fake=False).collect()


def test_wav_synth_is_genuine_riff_and_decode_is_real(spark):
    """E234: the Spark-assembled payloads must be REAL WAV files —
    pulled to the driver and parsed by the stdlib codec DIRECTLY, the
    bytes must equal a Python-built reference bit for bit; then the
    distributed decode_wav kernel must recover the closed-form
    metadata including the quarantine branch (doc_id % 13 truncated)."""
    import io
    import wave

    from big_data_hw_23_24_spark.operators.multimodal import (
        decode_wav, synth_wav_media)

    ids = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    payloads = {r.media_id: bytes(r.media)
                for r in synth_wav_media(ids).collect()}

    def reference(doc_id: int) -> bytes:
        rate = 8000 + (doc_id % 3) * 4000
        n = 40 + doc_id % 80
        a = 500 + (doc_id % 17) * 250
        le16 = lambda v: bytes([v & 255, (v >> 8) & 255])  # noqa: E731
        le32 = lambda v: bytes([(v >> (8 * k)) & 255       # noqa: E731
                                for k in range(4)])
        data = b"".join(le16(a if i % 2 == 0 else 65536 - a)
                        for i in range(n))
        full = (b"RIFF" + le32(36 + 2 * n) + b"WAVE" + b"fmt "
                + le32(16) + le16(1) + le16(1) + le32(rate)
                + le32(2 * rate) + le16(2) + le16(16)
                + b"data" + le32(2 * n) + data)
        return full[:10] if doc_id % 13 == 0 else full

    for i in range(30):
        assert payloads[i] == reference(i), f"byte mismatch at id {i}"
        if i % 13 != 0:  # the stdlib codec itself accepts the bytes
            w = wave.open(io.BytesIO(payloads[i]))
            assert w.getnframes() == 40 + i % 80

    rows = {r.media_id: r
            for r in decode_wav(synth_wav_media(ids)).collect()}
    for i in range(30):
        r = rows[i]
        if i % 13 == 0:
            assert not r.ok and r.rms is None and r.n_bytes == 10
        else:
            a = 500 + (i % 17) * 250
            assert (r.ok, r.sample_rate, r.n_frames, r.peak, r.rms) == \
                (True, 8000 + (i % 3) * 4000, 40 + i % 80, a, a)
            assert r.n_bytes == 44 + 2 * (40 + i % 80)


def test_wav_decode_matches_numpy_on_arbitrary_encoder_output(spark):
    """Property: WAVs written by the stdlib ENCODER (wave.open 'wb') —
    arbitrary rates, mono/stereo, random int16 samples — must decode
    to exactly the numpy-computed stats; 8-bit payloads decode their
    container metadata but withhold peak/rms (never misparse)."""
    import io
    import math
    import random
    import wave

    import numpy as np

    rng = random.Random(414)
    rows, expect = [], {}
    for mid in range(12):
        rate = rng.choice([8000, 11025, 22050, 44100])
        ch = rng.choice([1, 2])
        n = rng.randrange(1, 200)
        samples = [rng.randrange(-32768, 32768) for _ in range(n * ch)]
        buf = io.BytesIO()
        w = wave.open(buf, "wb")
        w.setnchannels(ch); w.setsampwidth(2); w.setframerate(rate)
        w.writeframes(np.array(samples, dtype="<i2").tobytes())
        w.close()
        rows.append((mid, buf.getvalue()))
        arr = np.array(samples, dtype=np.int64)
        expect[mid] = (rate, ch, n, int(np.abs(arr).max()),
                       round(math.sqrt(int((arr * arr).sum()) / len(arr))))
    # one 8-bit payload: metadata decodes, stats withheld
    buf = io.BytesIO()
    w = wave.open(buf, "wb")
    w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
    w.writeframes(bytes([0, 128, 255, 64]))
    w.close()
    rows.append((99, buf.getvalue()))

    from big_data_hw_23_24_spark.operators.multimodal import decode_wav
    df = spark.createDataFrame(rows, "media_id long, media binary")
    got = {r.media_id: r for r in decode_wav(df).collect()}
    for mid, (rate, ch, n, peak, rms) in expect.items():
        r = got[mid]
        assert (r.ok, r.sample_rate, r.n_channels, r.n_frames,
                r.peak, r.rms) == (True, rate, ch, n, peak, rms), mid
    r8 = got[99]
    assert r8.ok and r8.sample_width == 1 and r8.n_frames == 4
    assert r8.peak is None and r8.rms is None


def test_wav_decode_quarantines_foreign_bytes_only_on_wave_error(spark):
    """Foreign magics and truncations quarantine (ok=false); a
    well-formed WAV with an ODD frame count (the repeat+head branch)
    decodes — and non-wave exceptions are not swallowed by design
    (the kernel catches wave.Error/EOFError only)."""
    from big_data_hw_23_24_spark.operators.multimodal import (
        decode_wav, synth_wav_media)

    ids = spark.createDataFrame([(1,), (2,)], "doc_id long")  # 41, 42
    base = {r.media_id: bytes(r.media)
            for r in synth_wav_media(ids).collect()}
    rows = spark.createDataFrame(
        [(1, base[1]), (2, base[2]),
         (3, b"OggS" + b"\x00" * 60),   # foreign container
         (4, b"RI"),                     # 2-byte truncation
         (5, base[1][:45]),   # valid header, ODD data bytes — passes
                              #   wave.open, must quarantine, never
                              #   ValueError the task (frombuffer)
         (6, base[1][:48]),   # valid header, EVEN but short data —
                              #   readframes under-delivers vs the
                              #   header claim; quarantine, never
                              #   ok=true stats over partial samples
         (7, None)],          # NULL payload — quarantine, never a
                              #   task-killing TypeError
        "media_id long, media binary")
    got = {r.media_id: r for r in decode_wav(rows).collect()}
    assert got[1].ok and got[1].n_frames == 41   # odd: repeat + head
    assert got[2].ok and got[2].n_frames == 42   # even: pairs only
    for mid in (3, 4, 5, 6, 7):
        assert not got[mid].ok and got[mid].sample_rate is None, mid
    assert got[7].n_bytes == 0


def test_frame_sample_plan(spark, docs, monkeypatch):
    from big_data_hw_23_24_spark.operators import multimodal
    from big_data_hw_23_24_spark.operators.multimodal import (
        frame_sample_plan, media_from_documents)

    monkeypatch.setattr(multimodal, "FRAME_EVERY_NTH", 2)
    media = media_from_documents(docs.limit(10))
    frames = frame_sample_plan(media).collect()
    assert len(frames) > 10  # at least one frame per doc, most have more
    assert all(r.frame_idx % 2 == 0 for r in frames)


def test_simhash_drops_zero_token_docs_by_contract(spark):
    """Pinned contract: documents with no tokens have no simhash row
    (explode yields nothing to vote on), and therefore never appear in
    near-dup pairs. Dedup reports that must cover every doc id should
    left-join fingerprints back to the corpus."""
    from big_data_hw_23_24_spark.operators.dedup import (
        simhash_fingerprints, simhash_near_duplicates)

    rows = [(1, "shared text body here"), (2, "shared text body here"),
            (3, ""), (4, "   ")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = simhash_fingerprints(docs).collect()
    assert {r.doc_id for r in fps} == {1, 2}
    pairs = {(r.id_a, r.id_b)
             for r in simhash_near_duplicates(docs, max_hamming=3).collect()}
    assert pairs == {(1, 2)}


def test_simhash_rejects_docs_past_packed_counter_range(spark):
    """The SWAR-packed vote bounds per-doc token count at 2^20; a
    longer document would silently corrupt neighboring lane counters,
    so the poisoned-expression guard must raise instead."""
    import pytest

    from big_data_hw_23_24_spark.operators.dedup import (
        simhash_fingerprints)

    docs = spark.createDataFrame([(1, "w " * (1 << 20))],
                                 "doc_id long, text string")
    with pytest.raises(Exception, match="packed-counter range"):
        simhash_fingerprints(docs).collect()
    # boundary: 2^20 - 1 tokens still fingerprints cleanly
    edge = spark.createDataFrame([(1, "w " * ((1 << 20) - 1))],
                                 "doc_id long, text string")
    assert simhash_fingerprints(edge).count() == 1


def test_ivf_plan_constant_in_n_lists_and_probe_all_exact(spark, emb,
                                                         monkeypatch):
    """Regression guard for the r1 literal-centroid blowup: the Catalyst
    plan must not grow with n_lists (centroids ride in the pandas-UDF
    closure). Probing every list must reproduce brute force exactly,
    and nprobe=32/256 stays above the seeded recall floor."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk, ivf_topk)

    def ivf(n_lists, nprobe):
        monkeypatch.setattr(similarity, "IVF_N_LISTS", n_lists)
        monkeypatch.setattr(similarity, "IVF_NPROBE", nprobe)
        return ivf_topk(emb, queries)

    queries = emb.where(F.col("vec_id") < 20)
    plan16 = ivf(16, 4)._jdf.queryExecution().simpleString()
    plan256 = ivf(256, 32)._jdf.queryExecution().simpleString()
    assert len(plan256) <= len(plan16) + 200  # O(1), not O(n_lists·dim)

    brute = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=10).collect()}
    probe_all = {(r.query_id, r.neighbor_id)
                 for r in ivf(256, 256).collect()}
    assert probe_all == brute  # IVF over all lists == exact search

    v32 = {(r.query_id, r.neighbor_id) for r in ivf(256, 32).collect()}
    recall = len(brute & v32) / len(brute)
    assert recall >= 0.7, recall  # measured 0.82 with the fixed seed


def test_ivf_recall_curve_at_256_lists_on_clustered_corpus(spark,
                                                           monkeypatch):
    """The 100 TB story runs IVF at hundreds of lists, not the sf0.01
    default 16 — pin the recall/nprobe curve at that geometry. 20k
    clustered vectors (the regime IVF is built for), n_lists=256:
    nprobe=32 must hold recall ≥ 0.8 vs brute force, and recall must
    not degrade as nprobe grows. No timing gate."""
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk, ivf_topk)

    monkeypatch.setattr(similarity, "IVF_N_LISTS", 256)
    rng = np.random.default_rng(7)
    n, dim, n_clusters = 20_000, 64, 64
    centers = rng.normal(size=(n_clusters, dim))
    assign = rng.integers(0, n_clusters, size=n)
    vecs = centers[assign] + 0.15 * rng.normal(size=(n, dim))
    rows = [(int(i), [float(x) for x in vecs[i]]) for i in range(n)]
    emb_big = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>") \
        .repartition(16).cache()
    queries = emb_big.where(F.col("vec_id") < 20)

    brute = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb_big, queries, k=10).collect()}
    recalls = {}
    for nprobe in (8, 32):
        monkeypatch.setattr(similarity, "IVF_NPROBE", nprobe)
        got = {(r.query_id, r.neighbor_id)
               for r in ivf_topk(emb_big, queries).collect()}
        recalls[nprobe] = len(brute & got) / len(brute)
    emb_big.unpersist()
    assert recalls[32] >= 0.8, recalls
    assert recalls[8] <= recalls[32] + 1e-9, recalls  # monotone in nprobe
    assert recalls[8] >= 0.4, recalls  # 8/256 lists on clustered data


def test_embedding_lsh_recall_and_precision_on_planted_dups(spark,
                                                            monkeypatch):
    """Plant true near-duplicate vectors (copy + small noise, cosine
    ≥ ~0.95) among random ones; the hyperplane-LSH pairs must (a) be a
    subset of the exact pairs with identical verified cosines —
    precision 1 by construction — and (b) recover ≥ 90% of the planted
    high-cosine pairs (8 bands × 8 bits → ≈0.99 expected at cos 0.95)."""
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_pairs, embedding_lsh_pairs)

    rng = np.random.default_rng(7)
    base = rng.standard_normal((60, 32))
    noisy = base[:20] + 0.08 * rng.standard_normal((20, 32))  # cos ≥ ~0.95
    vecs = np.vstack([base, noisy]).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    monkeypatch.setattr(similarity, "COSINE_THRESHOLD", 0.9)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in cosine_pairs(emb).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine
           for r in embedding_lsh_pairs(emb).collect()}
    planted = {(i, 60 + i) for i in range(20)} & set(exact)
    assert len(planted) >= 15  # the noise level really does plant dups
    assert set(lsh) <= set(exact)
    for pair, c in lsh.items():
        assert c == exact[pair]
    assert len(set(lsh) & planted) >= 0.9 * len(planted), \
        (len(set(lsh) & planted), len(planted))


def test_embedding_lsh_pinned_matches_exact_and_recovers_planted(
        spark, monkeypatch):
    """The md5-pinned sign-plane face keeps the production guarantees:
    verified subset of exact pairs with identical cosines (precision 1)
    and high recall on planted near-dups — pinning changes only WHICH
    hyperplanes, not the LSH geometry. Also pins that the signature is
    reproducible from hashlib alone (no RNG state anywhere)."""
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        _pinned_sign_planes, cosine_pairs, embedding_lsh_pairs_pinned)

    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 32))
    noisy = base[:20] + 0.08 * rng.standard_normal((20, 32))
    vecs = np.vstack([base, noisy]).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")

    monkeypatch.setattr(similarity, "COSINE_THRESHOLD", 0.9)
    exact = {(r.id_a, r.id_b): r.cosine
             for r in cosine_pairs(emb).collect()}
    lsh = {(r.id_a, r.id_b): r.cosine
           for r in embedding_lsh_pairs_pinned(emb).collect()}
    planted = {(i, 60 + i) for i in range(20)} & set(exact)
    assert len(planted) >= 15
    assert set(lsh) <= set(exact)
    for pair, c in lsh.items():
        assert c == exact[pair]
    assert len(set(lsh) & planted) >= 0.8 * len(planted), \
        (len(set(lsh) & planted), len(planted))
    # determinism of the pinned matrix itself: ±1 only, balanced-ish,
    # and stable across calls (pure function of md5)
    mat = _pinned_sign_planes(32, 64)
    assert set(np.unique(mat)) == {-1, 1}
    assert (mat == _pinned_sign_planes(32, 64)).all()


def test_token_chunks_cover_every_token_with_overlap(spark):
    """Every token index lands in ≥1 chunk; consecutive chunks overlap
    by size−stride tokens; zero-token docs produce no chunks; a doc
    with exactly `size` tokens produces exactly one chunk."""
    from big_data_hw_23_24_spark.operators.textstats import token_chunks

    rows = [
        (1, " ".join(f"t{i}" for i in range(150))),   # 3 chunks
        (2, " ".join(f"u{i}" for i in range(64))),    # exactly one
        (3, "a b"),                                   # one partial chunk
        (4, ""), (5, "   "),                          # no chunks
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = token_chunks(docs, size=64, stride=48).collect()
    by_doc: dict[int, list] = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 3}
    assert len(by_doc[2]) == 1 and by_doc[2][0].n_chunk_tokens == 64
    assert len(by_doc[3]) == 1 and by_doc[3][0].chunk_text == "a b"
    ch1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [r.chunk_id for r in ch1] == [0, 1, 2]
    # coverage: chunk i starts at 48·i, so union covers [0, 150)
    covered = set()
    for r in ch1:
        covered.update(range(r.chunk_id * 48,
                             r.chunk_id * 48 + r.n_chunk_tokens))
    assert covered == set(range(150))
    # overlap: last 16 tokens of chunk 0 == first 16 of chunk 1
    assert ch1[0].chunk_text.split()[-16:] == ch1[1].chunk_text.split()[:16]


def test_tfidf_prefers_rare_terms(spark, monkeypatch):
    """A term unique to one doc must outrank corpus-wide stopwords at
    equal tf; df in the output is the true document frequency."""
    from big_data_hw_23_24_spark.operators import textstats
    from big_data_hw_23_24_spark.operators.textstats import tfidf_top_terms

    rows = [(i, f"common filler words everywhere special{i} "
                "common filler words everywhere") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(textstats, "TFIDF_K", 1)
    got = tfidf_top_terms(docs).collect()
    assert len(got) == 10
    for r in got:
        assert r.term == f"special{r.doc_id}"  # rare term wins rank 1
        assert r.df == 1 and r.tf == 1 and r.rank == 1
    # stopwords appear in all 10 docs → df = 10
    monkeypatch.setattr(textstats, "TFIDF_K", 5)
    all3 = tfidf_top_terms(docs).collect()
    dfs = {r.term: r.df for r in all3}
    assert dfs.get("common") == 10 and dfs.get("filler") == 10


def test_embedding_lsh_null_embeddings_excluded(spark, monkeypatch):
    """A null embedding row must neither crash the signature UDF nor
    appear in any pair."""
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import embedding_lsh_pairs

    monkeypatch.setattr(similarity, "COSINE_THRESHOLD", 0.9)
    rng = np.random.default_rng(3)
    v = rng.standard_normal(16).astype(np.float32).tolist()
    rows = [(0, v), (1, v), (2, None)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = embedding_lsh_pairs(emb).collect()
    assert {(r.id_a, r.id_b) for r in got} == {(0, 1)}
    assert got[0].cosine == 1.0


def test_udtf_sentence_split_edge_cases(spark):
    """Null text yields no rows; empty/whitespace segments are dropped;
    sent_idx counts only kept sentences."""
    from big_data_hw_23_24_spark.functions.udtfs import register_udtfs

    register_udtfs(spark)
    rows = [(1, "One. Two.. Three ."), (2, None), (3, "..."), (4, "solo")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .createOrReplaceTempView("_udtf_edge")
    got = spark.sql("""
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM _udtf_edge d, LATERAL split_sentences(d.text) s
    """).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r.doc_id, []).append((r.sent_idx, r.sentence))
    assert by_doc == {1: [(0, "One"), (1, "Two"), (2, "Three")],
                      4: [(0, "solo")]}


def test_connected_components_chains_and_survivors(spark):
    """A chained dup relation (a~b, b~c, c~d) must collapse into ONE
    component labelled by the min id — pairs alone can't say that —
    and disjoint components stay separate. Survivor summary counts
    drops per group."""
    from big_data_hw_23_24_spark.operators.components import (
        connected_components, dedup_survivors)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain → {1,2,3,4}
         (10, 11),                    # pair → {10,11}
         (20, 21), (21, 22), (20, 22)],  # triangle → {20,21,22}
        "id_a long, id_b long")
    comp = {r.doc_id: r.component
            for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}
    surv = {r.keep_id: (r.n_docs, r.n_dropped)
            for r in dedup_survivors(connected_components(edges)).collect()}
    assert surv == {1: (4, 3), 10: (2, 1), 20: (3, 2)}


def test_connected_components_long_chain_log_rounds_and_max_iter(
        spark, monkeypatch):
    """Pointer jumping must collapse a 400-node path within ~log₂(400)
    rounds (plain propagation would need 400); an infeasibly small
    MAX_ITER must raise, not return a half-propagated labelling."""
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators import components
    from big_data_hw_23_24_spark.operators.components import (
        connected_components)

    path = spark.createDataFrame([(i, i + 1) for i in range(399)],
                                 "id_a long, id_b long")
    monkeypatch.setattr(components, "MAX_ITER", 2)
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(path)
    monkeypatch.setattr(components, "MAX_ITER", 14)
    comp = {r.doc_id: r.component
            for r in connected_components(path).collect()}
    assert len(comp) == 400
    assert set(comp.values()) == {0}


def test_pii_scan_counts_and_flag(spark):
    from big_data_hw_23_24_spark.operators.textstats import pii_scan

    rows = [
        (1, "mail me at a.b+c@x-mail.co.uk and b@y.io or visit "
            "https://ex.com/a?q=1 plus http://plain.org"),
        (2, "no contacts here at all"),
        (3, "not-an-email @ nowhere.com and ftp://old.school"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_emails, r.n_urls, r.has_pii)
           for r in pii_scan(docs).collect()}
    assert got[1] == (2, 2, True)
    assert got[2] == (0, 0, False)
    assert got[3] == (0, 0, False)


def test_contamination_scan_flags_overlap_only(spark):
    """Docs sharing an 8-gram with the benchmark flag positive with the
    exact shared-shingle count; shorter-than-8-word docs report 0."""
    from big_data_hw_23_24_spark.operators.textstats import contamination_scan

    bench_text = "one two three four five six seven eight nine ten"
    rows = [
        (1, bench_text),                               # the benchmark doc
        (2, "zz " + bench_text[:43]),  # contains words one..eight shifted
        (3, "completely different words with no overlap at all here"),
        (4, "short doc"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_shared, r.contaminated)
           for r in contamination_scan(
               docs, docs.where("doc_id = 1")).collect()}
    assert got[1] == (3, True)     # 10 words → 3 distinct 8-grams, all shared
    assert got[2] == (1, True)     # "one..eight" survives the shift
    assert got[3] == (0, False)
    assert got[4] == (0, False)


def test_quantize_embeddings_reconstruction_error_bound(spark, emb):
    """Dequantized vectors (code · scale/127, with the raw scale) must
    reconstruct every element within half a quantization step, codes
    stay in [-127, 127], and the zero vector round-trips to zeros."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.similarity import (
        quantize_embeddings)

    sample = emb.limit(50)
    orig = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
            for r in sample.collect()}
    got = quantize_embeddings(sample).collect()
    assert len(got) == 50
    for r in got:
        x = orig[r.vec_id]
        m = np.abs(x).max()
        codes = np.asarray(r.codes)
        assert codes.min() >= -127 and codes.max() <= 127
        recon = codes * m / 127.0
        assert np.abs(recon - x).max() <= m / 254 + 1e-12

    zero = spark.createDataFrame([(1, [0.0, 0.0, 0.0])],
                                 "vec_id long, embedding array<float>")
    z = quantize_embeddings(zero).collect()[0]
    assert z.scale == 0.0 and list(z.codes) == [0, 0, 0]


def test_quantized_topk_recall_and_exact_scores(spark, emb):
    """Quantized-scan + exact-rerank search: every reported cosine is
    the true cosine, and recall vs brute force stays high (int8 ranks
    the shortlist; the float table settles the final order)."""
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk, quantized_topk)

    queries = emb.where(F.col("vec_id") < 20)
    brute = cosine_topk(emb, queries, k=10).collect()
    quant = quantized_topk(emb, queries).collect()
    b = {(r.query_id, r.neighbor_id) for r in brute}
    v = {(r.query_id, r.neighbor_id) for r in quant}
    recall = len(b & v) / len(b)
    assert recall >= 0.9, recall
    bs = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    for r in quant:
        if (r.query_id, r.neighbor_id) in bs:
            assert r.cosine == bs[(r.query_id, r.neighbor_id)]


# --- deterministic content-hash splits ---------------------------------------
def test_split_thresholds_hex_bounds(monkeypatch):
    from big_data_hw_23_24_spark.operators import splits
    from big_data_hw_23_24_spark.operators.splits import split_thresholds

    bounds = split_thresholds({"train": 0.8, "val": 0.1, "test": 0.1})
    assert bounds == [("train", "cccc"), ("val", "e666"), ("test", "10000")]
    # two-way 50/50 at 2 hex chars
    monkeypatch.setattr(splits, "BUCKET_CHARS", 2)
    assert split_thresholds({"a": 0.5, "b": 0.5}) == [
        ("a", "80"), ("b", "100")]
    with pytest.raises(ValueError):
        split_thresholds({})
    with pytest.raises(ValueError):
        split_thresholds({"a": -0.1, "b": 1.1})


def test_hash_split_deterministic_and_total(spark, docs):
    from big_data_hw_23_24_spark.operators.splits import hash_split

    out = hash_split(docs, "text").select("doc_id", "split")
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    # re-run on a reshuffled input: identical assignment (order/partition
    # independence is the whole point vs df.sample)
    b = {r["doc_id"]: r["split"]
         for r in hash_split(docs.repartition(7).orderBy(F.desc("doc_id")),
                             "text").select("doc_id", "split").collect()}
    assert a == b
    assert len(a) == docs.count()  # total: no rows dropped
    # fractions land near 0.8/0.1/0.1 (binomial tolerance at n=500)
    from collections import Counter
    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert 0.7 <= c["train"] / len(a) <= 0.9


def test_hash_split_content_keyed_leakage_guarantee(spark, docs):
    from big_data_hw_23_24_spark.operators.splits import hash_split

    # identical content with DIFFERENT ids must land in the same split
    clones = docs.select((F.col("doc_id") + 9_000_000).alias("doc_id"),
                         "text")
    both = hash_split(docs.select("doc_id", "text").unionAll(clones), "text")
    n_splits = (both.withColumn("orig", F.col("doc_id") % 9_000_000)
                .groupBy("orig")
                .agg(F.countDistinct("split").alias("k"))
                .agg(F.max("k")).collect()[0][0])
    assert n_splits == 1


def test_bpe_pair_counts_hand_case(spark):
    from big_data_hw_23_24_spark.operators.tokenizer import bpe_pair_counts

    docs = spark.createDataFrame(
        [(1, "aaa ab"), (2, "Aaa"), (3, "x")], ["doc_id", "text"])
    got = {r.pair: (r.n_occurrences, r.n_distinct_words)
           for r in bpe_pair_counts(docs).collect()}
    # vocab: aaa×2 (lowercased), ab×1; "x" has no pairs
    # "aaa" → aa at positions 1,2 → 2 per occurrence × 2 occurrences
    assert got == {"aa": (4, 1), "ab": (1, 1)}


def test_vocab_coverage_zipf_hand_case(spark):
    from big_data_hw_23_24_spark.operators.tokenizer import vocab_coverage

    # counts: the×6, a×3, b×1 → total 10; cum: 6, 9, 10
    text = " ".join(["the"] * 6 + ["a"] * 3 + ["b"])
    docs = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = {r.coverage_target: r for r in
            vocab_coverage(docs, targets=(0.5, 0.9, 1.0)).collect()}
    assert rows[0.5].vocab_size == 1 and rows[0.5].tokens_covered == 6
    assert rows[0.9].vocab_size == 2 and rows[0.9].tokens_covered == 9
    assert rows[1.0].vocab_size == 3 and rows[1.0].tokens_covered == 10
    assert all(r.total_tokens == 10 for r in rows.values())


def test_vocab_coverage_monotone_on_corpus(spark, docs):
    from big_data_hw_23_24_spark.operators.tokenizer import vocab_coverage

    rows = sorted(vocab_coverage(docs).collect(),
                  key=lambda r: r.coverage_target)
    sizes = [r.vocab_size for r in rows]
    covered = [r.tokens_covered for r in rows]
    assert sizes == sorted(sizes) and covered == sorted(covered)
    assert all(r.tokens_covered >= r.coverage_target * r.total_tokens
               for r in rows)
    # exact minimality vs an independent driver-side computation
    from collections import Counter

    counts = Counter(w for (t,) in docs.select("text").collect()
                     for w in t.lower().split(" ") if w)
    freqs = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    for r in rows:
        cum = need = 0
        for _, c in freqs:
            cum += c
            need += 1
            if cum >= r.coverage_target * total:
                break
        assert (r.vocab_size, r.tokens_covered, r.total_tokens) == \
            (need, cum, total), r.coverage_target


def test_repetition_scores_planted_extremes(spark):
    from big_data_hw_23_24_spark.operators.textstats import repetition_scores

    docs = spark.createDataFrame([
        (1, "spam spam spam spam"),          # degenerate loop
        (2, "all words here are distinct"),  # clean text
        (3, "one"),                          # too short for bigrams
        (4, ""),                             # empty
    ], ["doc_id", "text"])
    got = {r.doc_id: r for r in repetition_scores(docs).collect()}
    assert got[1].top_token_frac == 1.0
    # bigrams: 3 total, 1 distinct ("spam spam") → 2/3 duplicated
    assert got[1].dup_bigram_frac == pytest.approx(2 / 3, abs=1e-6)
    assert got[2].top_token_frac == pytest.approx(1 / 5, abs=1e-6)
    assert got[2].dup_bigram_frac == 0.0
    assert got[3].n_tokens == 1 and got[3].dup_bigram_frac == 0.0
    assert got[4].n_tokens == 0 and got[4].top_token_frac == 0.0


def test_incremental_dedup_statuses_and_precedence(spark):
    from big_data_hw_23_24_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two")], ["doc_id", "text"])
    batch = spark.createDataFrame([
        (10, "  OLD  doc one"),   # normalizes to corpus doc 1
        (11, "fresh content"),    # novel
        (12, "fresh content"),    # batch dup of 11
        (13, "old doc two"),      # corpus dup AND would be rn=1 —
        (14, "old doc two"),      # corpus status must win for both
    ], ["doc_id", "text"])
    got = {r.doc_id: r.status
           for r in incremental_dedup(batch, corpus).collect()}
    assert got == {10: "dup_of_corpus", 11: "novel", 12: "dup_in_batch",
                   13: "dup_of_corpus", 14: "dup_of_corpus"}


def test_pack_sequences_telescoping_and_coverage(spark, docs):
    from big_data_hw_23_24_spark.operators.packing import pack_sequences

    C = 256
    packed = pack_sequences(docs, C).collect()
    # per-document coverage: slices sum to the doc's token count
    per_doc = {}
    for r in packed:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_tokens_in_bin
        assert 1 <= r.n_tokens_in_bin <= C
    n_tok = {r.doc_id: r.n_tokens for r in docs.selectExpr(
        "doc_id",
        "size(filter(split(text, ' '), w -> w != '')) AS n_tokens")
        .collect() if r.n_tokens > 0}
    assert per_doc == n_tok
    # telescoping: every bin but a shard's last holds exactly C tokens
    bins = {}
    for r in packed:
        bins.setdefault(r.shard, {})
        bins[r.shard][r.bin_id] = bins[r.shard].get(r.bin_id, 0) \
            + r.n_tokens_in_bin
    for shard, by_bin in bins.items():
        assert sorted(by_bin) == list(range(len(by_bin)))  # contiguous
        last = max(by_bin)
        for b, tokens in by_bin.items():
            assert tokens == C or (b == last and tokens <= C), (shard, b)


def test_pack_sequences_hand_case_split_across_bins(spark):
    from big_data_hw_23_24_spark.operators.packing import pack_sequences

    docs = spark.createDataFrame(
        [(1, "s", " ".join(["w"] * 3)), (2, "s", " ".join(["w"] * 4)),
         (3, "s", ""), (4, "t", "w w")],
        ["doc_id", "source", "text"])
    got = {(r.shard, r.bin_id, r.doc_id): r.n_tokens_in_bin
           for r in pack_sequences(docs, capacity=4).collect()}
    # shard s: doc1 tokens 0-2 (bin 0), doc2 tokens 3-6 (bins 0+1)
    assert got == {("s", 0, 1): 3, ("s", 0, 2): 1, ("s", 1, 2): 3,
                   ("t", 0, 4): 2}


def test_mix_sources_rates_and_subset_consistency(spark, docs, monkeypatch):
    from big_data_hw_23_24_spark.operators import splits
    from big_data_hw_23_24_spark.operators.splits import mix_sources

    lo = mix_sources(docs, {"src0": 0.3}, default_rate=0.0)
    hi = mix_sources(docs, {"src0": 0.6}, default_rate=0.0)
    kept_lo = {r.doc_id for r in lo.where("keep").collect()}
    kept_hi = {r.doc_id for r in hi.where("keep").collect()}
    assert kept_lo <= kept_hi  # tightening the mix only removes rows
    n_src0 = docs.where("source = 'src0'").count()
    assert 0 < len(kept_lo) < len(kept_hi) <= n_src0
    # rate 1.0 keeps EVERY row including letter-leading hash buckets
    full = mix_sources(docs, {"src0": 1.0}, default_rate=1.0)
    assert full.where("NOT keep").count() == 0
    assert full.count() == docs.count()
    # a nonzero rate below the 1/16^4 bucket granularity would silently
    # keep zero rows — must fail loudly instead
    with pytest.raises(ValueError, match="BUCKET_CHARS"):
        mix_sources(docs, {"src0": 1e-6})
    # the same rate IS representable at BUCKET_CHARS=8
    monkeypatch.setattr(splits, "BUCKET_CHARS", 8)
    mix_sources(docs, {"src0": 1e-6})


def test_unigram_logprob_orders_rare_above_common(spark):
    from big_data_hw_23_24_spark.operators.tokenizer import unigram_logprob

    docs = spark.createDataFrame([
        (1, "the the the the"),          # most common token only
        (2, "the qzx the vbn"),          # half rare tokens
        (3, "qzx vbn wpl jkt"),          # all singletons
        (4, ""),                         # empty → kept, score 0
    ], ["doc_id", "text"])
    got = {r.doc_id: r for r in unigram_logprob(docs).collect()}
    assert got[1].avg_neg_logprob < got[2].avg_neg_logprob \
        < got[3].avg_neg_logprob
    assert got[4].n_tokens == 0 and got[4].avg_neg_logprob == 0.0
    assert all(got[i].avg_neg_logprob > 0 for i in (1, 2, 3))


def test_nearest_lists_udf_matches_jvm_assignment_face(spark, emb):
    """Bridges the oracle-checked embedding_nearest_centroid face to
    the Arrow kernel IVF actually routes with: identical assignments
    on the full corpus (argmin margins ≥ 3e-7 » float noise)."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.similarity import (
        _nearest_lists_udf)
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    jvm = {r.vec_id: r.centroid_id
           for r in _REGISTRY["embedding_nearest_centroid"]
           .spark_fn(spark, SF).collect()}
    cents = np.array(
        [r.embedding for r in
         emb.where("vec_id < 4").orderBy("vec_id").collect()],
        dtype=np.float32)
    assign = _nearest_lists_udf(cents, 1)
    udf = {r.vec_id: r.lid for r in
           emb.select("vec_id",
                      assign(F.col("embedding"))[0].alias("lid")).collect()}
    assert udf == jvm


def test_lloyd_round_face_matches_trainer_aggregate(spark, emb):
    """Bridges the oracle-checked embedding_lloyd_round face to the
    aggregate kmeans_fit actually iterates on: same fixed centroids →
    identical per-(cluster, dim) sufficient statistics from the
    trainer's Arrow-kernel path (assign → posexplode → hash agg)."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.similarity import (
        _nearest_lists_udf)
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    face = {(r.centroid_id, r.pos): (r.sum_x, r.sum_sq, r.cnt)
            for r in _REGISTRY["embedding_lloyd_round"]
            .spark_fn(spark, SF).collect()}
    cents = np.array(
        [r.embedding for r in
         emb.where("vec_id < 4").orderBy("vec_id").collect()],
        dtype=np.float64)
    assign = _nearest_lists_udf(cents, 1)
    trainer = (emb.select(F.col("embedding").cast("array<double>")
                          .alias("v"))
               .withColumn("list_id", assign(F.col("v"))[0])
               .select("list_id", F.posexplode("v").alias("pos", "x"))
               .groupBy("list_id", "pos")
               .agg(F.round(F.sum("x"), 6).alias("s"),
                    F.round(F.sum(F.col("x") * F.col("x")), 6).alias("sq"),
                    F.count("*").alias("cnt")))
    got = {(r.list_id, r.pos): (r.s, r.sq, r.cnt)
           for r in trainer.collect()}
    assert got == face


def test_boilerplate_ngrams_planted_template(spark):
    """A planted footer shared by 3 docs is mined (with exact doc and
    occurrence counts); a 2-doc overlap and unique text are not."""
    from big_data_hw_23_24_spark.operators.textstats import (
        boilerplate_ngrams, doc_boilerplate_share)

    footer = "this site is provided as is without any warranty"  # 9 words
    docs = spark.createDataFrame([
        (1, "alpha beta " + footer),
        (2, "gamma delta " + footer),
        (3, footer + " epsilon zeta"),
        (4, "pair one shared run of exactly eight words x"),
        (5, "pair one shared run of exactly eight words y"),
        (6, "totally unique text with no repeats at all here"),
        (7, "short"),
    ], ["doc_id", "text"])
    mined = {r.ngram: (r.n_docs, r.n_occ)
             for r in boilerplate_ngrams(docs).collect()}
    # the 9-word footer yields 2 overlapping 8-grams, each in 3 docs
    assert len(mined) == 2
    assert all(v == (3, 3) for v in mined.values())
    share = {r.doc_id: r for r in
             doc_boilerplate_share(docs).collect()}
    assert len(share) == 7  # every doc kept, even the short one
    assert share[7].n_ngrams == 0 and share[7].boiler_share == 0.0
    assert share[4].n_boiler == 0  # 2-doc overlap is below min_docs
    # doc 3: 11 words → 4 ngrams, 2 of them boilerplate
    assert (share[3].n_ngrams, share[3].n_boiler) == (4, 2)
    assert share[3].boiler_share == 0.5


def test_pq_encode_matches_numpy_argmin(spark, emb):
    """PQ codes vs a straight numpy per-subspace argmin on the same
    fixed codebooks — and quantization errors are the true squared
    distances."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.pq import (fixed_codebooks,
                                                      pq_encode)

    m, k, sub = 8, 16, 8
    got = {(r.vec_id, r.j): (r.code, r.dist_sq) for r in
           pq_encode(emb, fixed_codebooks(emb, m=m, k=k), m=m).collect()}
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    cents = np.stack([vecs[c] for c in range(k)])  # (k, 64)
    for vid, v in vecs.items():
        for j in range(m):
            d = ((cents[:, j * sub:(j + 1) * sub]
                  - v[j * sub:(j + 1) * sub]) ** 2).sum(axis=1)
            code = int(d.argmin())  # numpy argmin = first min = low id
            assert got[(vid, j)][0] == code, (vid, j)
            assert abs(got[(vid, j)][1] - round(d[code], 6)) < 1e-9


def test_pq_rerank_returns_exact_best_of_shortlist(spark, emb):
    """Rerank output == the exact-L2 best 10 of the ADC shortlist, and
    its recall can only match-or-beat plain ADC top-10 (same
    codebooks)."""
    import numpy as np

    from big_data_hw_23_24_spark.operators.pq import (fixed_codebooks,
                                                      pq_adc_topk,
                                                      pq_encode,
                                                      pq_rerank_topk)

    m = 16
    cb = fixed_codebooks(emb, m=m, k=16)
    codes = pq_encode(emb, cb, m=m).select("vec_id", "j", "code")
    queries = emb.where("vec_id < 20")
    short = {}
    for r in pq_adc_topk(codes, queries, cb, m=m, k_top=40,
                         exclude_self=True).collect():
        short.setdefault(r.query_id, set()).add(r.neighbor_id)
    rerank = {}
    for r in pq_rerank_topk(emb, codes, queries, cb, m=m).collect():
        rerank.setdefault(r.query_id, []).append(
            (r.rank, r.neighbor_id, r.dist_sq))
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in emb.collect()}
    for qid, rows in rerank.items():
        rows.sort()
        ids = [nid for _, nid, _ in rows]
        assert set(ids) <= short[qid]  # rerank only reorders the shortlist
        # exact-L2 order of the shortlist, ties by id — must agree
        want = sorted(short[qid],
                      key=lambda n: (round(float(
                          ((vecs[qid] - vecs[n]) ** 2).sum()), 6), n))[:10]
        assert ids == want, qid


def _ref_bpe(word_counts, n):
    """Independent pure-Python BPE reference (greedy left-to-right
    apply, count-desc/lexicographic argmax) for exact comparison."""
    vocab = {}
    for w, c in word_counts.items():
        k = tuple(w)
        vocab[k] = vocab.get(k, 0) + c
    merges = []
    for _ in range(n):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + c
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, cnt))
        new = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            k = tuple(out)
            new[k] = new.get(k, 0) + c
        vocab = new
    return merges


def test_bpe_train_matches_pure_python_reference(spark, monkeypatch):
    from collections import Counter

    from big_data_hw_23_24_spark.operators import tokenizer
    from big_data_hw_23_24_spark.operators.tokenizer import bpe_train

    monkeypatch.setattr(tokenizer, "BPE_MERGES", 6)
    corpus = ("hug " * 10 + "pug " * 5 + "pun " * 12 + "bun " * 4
              + "hugs " * 5 + "aaa " * 3).strip()
    docs = spark.createDataFrame([(1, corpus)], ["doc_id", "text"])
    got = bpe_train(docs)
    want = _ref_bpe(Counter(corpus.split(" ")), 6)
    assert got == want
    # the overlapping-pair + chained-merge word: "aaa" must merge
    # greedily left-to-right, so ("a","a") counting saw 6 occurrences
    aa = [m for m in got if m[0] == m[1] == "a"]
    assert not aa or aa[0][2] == 6


def test_bpe_train_merge_fold_edge_cases(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import tokenizer
    from big_data_hw_23_24_spark.operators.tokenizer import bpe_train

    # single-char words produce no pairs; empty corpus stops early
    docs = spark.createDataFrame([(1, "a b c a b a")], ["doc_id", "text"])
    monkeypatch.setattr(tokenizer, "BPE_MERGES", 3)
    got = bpe_train(docs)
    assert got == []
    monkeypatch.setattr(tokenizer, "BPE_MERGES", 0)
    assert bpe_train(docs) == []


def test_bpe_encode_round_trip_and_agrees_with_reference(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import tokenizer
    from big_data_hw_23_24_spark.operators.tokenizer import (
        bpe_encode, bpe_train)

    monkeypatch.setattr(tokenizer, "BPE_MERGES", 6)
    corpus = ("hug " * 10 + "pug " * 5 + "pun " * 12 + "bun " * 4
              + "hugs " * 5 + "aaa " * 3).strip()
    docs = spark.createDataFrame(
        [(1, corpus), (2, "hug pun zzz"), (3, "")], ["doc_id", "text"])
    merges = [(a, b) for a, b, _ in bpe_train(docs.where("doc_id = 1"))]
    enc = {r.doc_id: r for r in bpe_encode(docs, merges).collect()}
    # lossless: concatenated symbols restore the exact token stream
    for d, text in [(1, corpus), (2, "hug pun zzz"), (3, "")]:
        words = [w for w in text.split(" ") if w]
        assert "".join(enc[d].symbols) == "".join(words)
        assert enc[d].n_words == len(words)
        assert enc[d].n_symbols == len(enc[d].symbols)
        assert enc[d].n_symbols <= sum(len(w) for w in words)
    # encode agrees with the pure-Python reference applied per word
    def ref_encode(w):
        syms = list(w)
        for a, b in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms
    words1 = [w for w in corpus.split(" ") if w]
    assert enc[1].symbols == [s for w in words1 for s in ref_encode(w)]
    # merges actually compress the planted corpus
    assert enc[1].n_symbols < sum(len(w) for w in words1)


def test_bigram_logprob_rewards_common_transitions(spark):
    from big_data_hw_23_24_spark.operators.tokenizer import bigram_logprob

    docs = spark.createDataFrame([
        (1, "the cat sat " * 8),        # repeated common transitions
        (2, "the sat cat the on dog"),  # same words, scrambled order
        (3, "one"),                     # no bigrams
    ], ["doc_id", "text"])
    got = {r.doc_id: r for r in bigram_logprob(docs).collect()}
    assert got[1].avg_neg_logprob < got[2].avg_neg_logprob
    assert got[3].n_bigrams == 0 and got[3].avg_neg_logprob == 0.0
    assert got[1].n_bigrams == 8 * 3 - 1


# --- asymmetric containment pairs (E80) --------------------------------------

def test_containment_catches_subset_jaccard_misses(spark, docs=None):
    from big_data_hw_23_24_spark.operators.dedup import (
        shingle_containment_pairs)

    big = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(20, 30))  # 10-word excerpt
    d = spark.createDataFrame([
        (1, big),
        (2, quote),                 # fully contained in 1: C_b = 1.0
        (3, "entirely different words that never overlap with anything"),
    ], "doc_id long, text string")
    out = {(r.id_a, r.id_b): r
           for r in shingle_containment_pairs(d, threshold=0.9).collect()}
    assert list(out) == [(1, 2)]
    r = out[(1, 2)]
    assert r.containment_b == 1.0          # all of the quote's shingles
    assert r.containment_a < 0.2           # tiny fraction of the big doc
    assert r.n_common == 8                 # 10 words -> 8 3-gram shingles


def test_containment_max_df_guard_excludes_stop_shingles(spark):
    """A shingle present in > max_df docs must not create pairs, but
    the containment DENOMINATORS still count the full shingle sets."""
    from big_data_hw_23_24_spark.operators.dedup import (
        shingle_containment_pairs)

    chrome = "copyright footer text"
    rows = [(i, f"{chrome} unique{i} filler{i} pad{i}") for i in range(5)]
    # docs share ONLY the chrome shingle; with max_df=3 (< 5 docs) the
    # inverted index drops it and no pair survives
    d = spark.createDataFrame(rows, "doc_id long, text string")
    assert shingle_containment_pairs(d, threshold=0.1,
                                     max_df=3).count() == 0
    # without the guard the chrome shingle pairs everything
    assert shingle_containment_pairs(d, threshold=0.1).count() == 10


def test_containment_threshold_validation(spark):
    from big_data_hw_23_24_spark.operators.dedup import (
        shingle_containment_pairs)
    import pytest as _pytest

    d = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="threshold"):
        shingle_containment_pairs(d, threshold=0.0)


# --- distributed Gram matrix (E82) -------------------------------------------

def test_embedding_gram_matches_numpy_and_skips_nulls(spark):
    import numpy as np

    from big_data_hw_23_24_spark.operators.similarity import embedding_gram

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(50, 4)).astype(np.float32)
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    rows.append((99, None))                     # null embedding ignored
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.i, r.j): r.value
           for r in embedding_gram(df).collect()}
    want = vecs.astype(np.float64).T @ vecs.astype(np.float64) / len(vecs)
    assert len(got) == 4 * 5 // 2               # upper triangle incl diag
    for (i, j), v in got.items():
        assert i <= j
        assert v == round(want[i - 1, j - 1], 6), (i, j)
    # repartitioned input (different batch boundaries) gives the same
    # rounded matrix: partial-sum order cannot leak into the result
    got2 = {(r.i, r.j): r.value
            for r in embedding_gram(df.repartition(7)).collect()}
    assert got2 == got


# --- payment-card PII with Luhn (E86) ----------------------------------------

def test_payment_pii_luhn_separates_cards_from_ids(spark):
    from big_data_hw_23_24_spark.operators.textstats import payment_pii_scan

    docs = spark.createDataFrame([
        (1, "pay with 4532015112830366 today"),        # valid Visa test
        (2, "order 4532015112830367 shipped"),         # fails Luhn
        (3, "amex-style 5425233430109903 here"),       # valid
        (4, "short 123456 and words"),                 # no candidate
        (5, "two: 4532015112830366 and 1234567812345678"),
        (6, "digits 12345678901234567890 run"),        # 20-digit run ->
                                                       # greedy 19 prefix
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in payment_pii_scan(docs).collect()}
    assert (out[1].n_card_candidates, out[1].n_luhn_valid,
            out[1].has_payment_pii) == (1, 1, True)
    assert (out[2].n_card_candidates, out[2].n_luhn_valid,
            out[2].has_payment_pii) == (1, 0, False)
    assert out[3].has_payment_pii
    assert (out[4].n_card_candidates, out[4].has_payment_pii) == (0, False)
    assert (out[5].n_card_candidates, out[5].n_luhn_valid) == (2, 1)
    assert out[6].n_card_candidates == 1       # greedy prefix, both engines


def test_luhn_sql_rejects_unknown_engine():
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators.textstats import luhn_valid_sql

    with _pytest.raises(ValueError, match="engine"):
        luhn_valid_sql("x", "trino")


# --- sentence-boundary greedy chunking (E87) ---------------------------------

def test_sentence_chunks_pack_greedily_at_boundaries(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        sentence_pack_chunks)

    # sentences of 3, 3, 3, 5, 2 tokens; max 7:
    # chunk 0 = [3,3] (3+3=6 <= 7, +3 would be 9), chunk 1 = [3],
    # wait: 6+3=9>7 -> chunk 1 starts with the third sentence: [3],
    # 3+5=8>7 -> chunk 2 = [5], 5+2=7 <= 7 -> chunk 2 = [5,2]
    text = ("a b c. d e f. g h i. j k l m n. o p.")
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted((r.chunk_id, r.n_sentences, r.n_chunk_tokens, r.chunk_text)
                 for r in sentence_pack_chunks(docs, max_tokens=7).collect())
    assert out == [
        (0, 2, 6, "a b c d e f"),
        (1, 1, 3, "g h i"),
        (2, 2, 7, "j k l m n o p"),
    ]


def test_sentence_chunks_oversized_sentence_keeps_own_chunk(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        sentence_pack_chunks)

    docs = spark.createDataFrame(
        [(1, "one two. " + " ".join(f"w{i}" for i in range(20)) + ". end."),
         (2, ""),                               # no sentences -> no rows
         (3, "only")],
        "doc_id long, text string")
    out = {(r.doc_id, r.chunk_id): r
           for r in sentence_pack_chunks(docs, max_tokens=5).collect()}
    assert out[(1, 0)].n_chunk_tokens == 2
    assert out[(1, 1)].n_chunk_tokens == 20     # never split mid-sentence
    assert out[(1, 2)].chunk_text == "end"
    assert not any(d == 2 for d, _ in out)
    assert out[(3, 0)].chunk_text == "only"
    import pytest as _pytest
    with _pytest.raises(ValueError, match="max_tokens"):
        sentence_pack_chunks(docs, max_tokens=0)


# --- PMI collocations (E89) --------------------------------------------------

def test_pmi_collocations_rank_phrases_above_chance_pairs(spark,
                                                          monkeypatch):
    from big_data_hw_23_24_spark.operators import textstats
    from big_data_hw_23_24_spark.operators.textstats import pmi_collocations

    monkeypatch.setattr(textstats, "PMI_K", 10)
    # "new york" always co-occurs (PMI high); "the", "cat" appear often
    # but independently (PMI ~ 0); hapax pair filtered by min_count
    rows = []
    for i in range(20):
        rows.append((i, "new york is big and the cat sat"))
        rows.append((100 + i, "the dog ran and the cat slept"))
    rows.append((999, "hapax pairing"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(docs).collect()
    by_pair = {(r.w1, r.w2): r for r in out}
    assert ("new", "york") in by_pair
    top = out[0]
    assert (top.w1, top.w2) == ("new", "york") or top.pmi >= \
        by_pair[("new", "york")].pmi
    assert ("hapax", "pairing") not in by_pair      # support floor
    assert [r.rank for r in out] == list(range(1, len(out) + 1))
    # exclusive pair outranks an independent frequent pair
    if ("the", "cat") in by_pair:
        assert by_pair[("new", "york")].pmi > by_pair[("the", "cat")].pmi



# --- PCA (E90) ---------------------------------------------------------------

def test_pca_recovers_planted_anisotropy_and_is_orthonormal(spark,
                                                            monkeypatch):
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        pca_components, pca_project)

    monkeypatch.setattr(similarity, "PCA_COMPONENTS", 3)
    rng = np.random.default_rng(11)
    base = rng.normal(size=(300, 6))
    base[:, 2] *= 10.0                       # dominant variance on dim 2
    base[:, 5] *= 4.0                        # second on dim 5
    rows = [(i, v.tolist()) for i, v in enumerate(base.astype(np.float32))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    comps = pca_components(df)
    assert comps.shape == (3, 6)
    # orthonormal basis
    assert np.allclose(comps @ comps.T, np.eye(3), atol=1e-8)
    # first component aligns with the planted dominant axis
    assert abs(comps[0, 2]) > 0.95
    assert abs(comps[1, 5]) > 0.9
    # projected variance decreases component by component
    proj = np.array([r.projected for r in
                     pca_project(df, comps).orderBy("vec_id").collect()])
    var = proj.var(axis=0)
    assert var[0] > var[1] > var[2]
    # partitioning invariance: identical basis from a reshuffled input
    comps2 = pca_components(df.repartition(13))
    assert np.allclose(comps, comps2, atol=1e-9)


def test_pca_validation_and_null_vectors(spark, monkeypatch):
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        pca_components, pca_project)

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 1.0]), (3, None)],
        "vec_id long, embedding array<float>")
    monkeypatch.setattr(similarity, "PCA_COMPONENTS", 3)
    with _pytest.raises(ValueError, match="n_components"):
        pca_components(df)
    monkeypatch.setattr(similarity, "PCA_COMPONENTS", 1)
    comps = pca_components(df)
    out = {r.vec_id: r.projected for r in pca_project(df, comps).collect()}
    assert out[3] is None                    # null propagates
    assert len(out[1]) == 1


# --- Zipf fit (E94) ----------------------------------------------------------

def test_zipf_fit_exact_power_law_and_flat_line(spark):
    from big_data_hw_23_24_spark.operators.textstats import zipf_fit

    # freq(word_r) = 840 / r exactly for r = 1..8 → the ln-ln points
    # are EXACTLY collinear with slope −1: OLS must recover it
    rows = []
    for r in range(1, 9):
        rows.append((r, "zipf", " ".join([f"w{r:02d}"] * (840 // r))))
    # flat source: every word equally frequent → slope 0
    for i in range(4):
        rows.append((100 + i, "flat", " ".join([f"u{i}"] * 10)))
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in zipf_fit(df).collect()}
    z = out["zipf"]
    assert abs(z["zipf_slope"] + 1.0) < 1e-6
    assert abs(z["zipf_r2"] - 1.0) < 1e-6
    assert z["n_vocab"] == 8
    assert z["n_tokens"] == sum(840 // r for r in range(1, 9))
    assert abs(z["zipf_intercept"] - __import__("math").log(840)) < 1e-6
    f = out["flat"]
    assert f["zipf_slope"] == 0.0
    assert f["n_vocab"] == 4


# --- source overlap matrix (E96) ---------------------------------------------

def test_source_overlap_matrix_directed_containment(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        source_overlap_matrix,
    )

    # B contains ALL of A's grams (plus its own); A contains only a
    # fraction of B's → containment is asymmetric by construction
    a_text = "one two three four five"
    b_text = a_text + " six seven eight nine ten eleven"
    df = spark.createDataFrame(
        [(1, "A", a_text), (2, "B", b_text), (3, "C", "x y z")],
        "doc_id long, source string, text string")
    out = {(r.src_a, r.src_b): r
           for r in source_overlap_matrix(df, n=3).collect()}
    assert out[("A", "B")].containment == 1.0       # A fully inside B
    ab = out[("B", "A")]
    assert 0 < ab.containment < 1.0
    assert ab.n_common == out[("A", "B")].n_common  # same intersection
    assert ("C", "A") not in out and ("A", "C") not in out  # disjoint
    # n_grams accounting: A has 3 3-grams, B has 9
    assert out[("A", "B")].n_grams_a == 3
    assert out[("B", "A")].n_grams_a == 9


# --- MMR re-ranking (E98) ----------------------------------------------------

def test_mmr_rerank_prefers_diverse_over_redundant(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import mmr_rerank

    # q = [1,0]; a and a' are near-duplicates very close to q; b is
    # less relevant but nearly orthogonal to a. At λ=0.5 the scores
    # are a': 0.5·0.990 − 0.5·1.000 ≈ −0.005 vs b: 0.5·0.6 − 0.5·0.482
    # ≈ +0.059 — diversity must win (at λ=0.7 redundant a' would
    # legitimately win; verified by hand).
    rows = [
        (0, [1.0, 0.0]),          # query
        (1, [0.99, 0.14]),        # a   (top relevance)
        (2, [0.99, 0.141]),       # a'  (redundant with a)
        (3, [0.60, -0.80]),       # b   (diverse)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "MMR_K", 2)
    monkeypatch.setattr(similarity, "MMR_POOL", 3)
    monkeypatch.setattr(similarity, "MMR_LAM", 0.5)
    out = mmr_rerank(emb, emb.where("vec_id = 0"))
    got = sorted(((r.mmr_rank, r.neighbor_id) for r in out.collect()))
    # rank 1 is pure relevance (a); rank 2 must skip the near-copy a'
    # and take the diverse b
    assert got == [(1, 1), (2, 3)]


def test_mmr_rank1_equals_cosine_top1_and_k_bounds(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )
    from big_data_hw_23_24_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.where("vec_id < 3")
    top1 = {r.query_id: r.neighbor_id
            for r in cosine_topk(emb, queries, k=1).collect()}
    monkeypatch.setattr(similarity, "MMR_K", 3)
    monkeypatch.setattr(similarity, "MMR_POOL", 10)
    monkeypatch.setattr(similarity, "MMR_LAM", 0.5)
    mmr = mmr_rerank(emb, queries)
    first = {r.query_id: r.neighbor_id
             for r in mmr.collect() if r.mmr_rank == 1}
    assert first == top1
    # each query yields exactly k distinct neighbors
    rows = mmr.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, set()).add(r.neighbor_id)
    assert all(len(v) == 3 for v in per_q.values())


# --- daily anomaly scores (E99) ----------------------------------------------

def test_daily_anomaly_flags_spike_not_baseline(spark):
    import datetime as dt

    from big_data_hw_23_24_spark.operators.timeseries import (
        daily_anomaly_scores,
    )

    # 9 steady days of 10 events, then a 50-event spike on day 10
    rows = []
    eid = 0
    for d in range(1, 11):
        n = 50 if d == 10 else 10
        for _ in range(n):
            rows.append((eid, dt.datetime(2024, 1, d, 12, 0, 0), "click"))
            eid += 1
    # jitter two baseline days so the trailing stddev is nonzero
    rows.append((eid, dt.datetime(2024, 1, 5, 13, 0, 0), "click"))
    rows.append((eid + 1, dt.datetime(2024, 1, 7, 13, 0, 0), "click"))
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                                     "event_type string")
    out = {r.day.isoformat(): r for r in daily_anomaly_scores(ev).collect()}
    assert out["2024-01-10"].is_anomaly is True
    assert out["2024-01-10"].z > 2
    # first days: insufficient baseline → null z, not anomalous
    assert out["2024-01-01"].z is None
    assert out["2024-01-01"].is_anomaly is False
    assert out["2024-01-02"].baseline_avg is None
    # steady mid-baseline day is unremarkable
    assert out["2024-01-09"].is_anomaly is False


def test_daily_anomaly_zero_variance_baseline_gives_null_z(spark):
    import datetime as dt

    from big_data_hw_23_24_spark.operators.timeseries import (
        daily_anomaly_scores,
    )

    rows = []
    eid = 0
    for d in range(1, 9):
        for _ in range(5):  # perfectly flat baseline
            rows.append((eid, dt.datetime(2024, 2, d, 9, 0, 0), "view"))
            eid += 1
    for _ in range(40):
        rows.append((eid, dt.datetime(2024, 2, 9, 9, 0, 0), "view"))
        eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, "
                                     "event_type string")
    out = {r.day.isoformat(): r for r in daily_anomaly_scores(ev).collect()}
    # flat baseline: std = 0 → z null even though the spike is real
    assert out["2024-02-09"].baseline_std == 0.0
    assert out["2024-02-09"].z is None
    assert out["2024-02-09"].is_anomaly is False


# --- vocab growth curve (E100) -----------------------------------------------

def test_vocab_growth_counts_first_occurrences_only(spark):
    from big_data_hw_23_24_spark.operators.textstats import (
        vocab_growth_curve,
    )

    rows = [
        (1, "s", "a b c"),
        (2, "s", "a b d"),      # only 'd' is new
        (3, "s", "a a a"),      # nothing new
        (4, "s", ""),           # empty doc still present
        (10, "t", "a b"),       # vocab restarts per group
    ]
    out = {(r.source, r.doc_id): r for r in vocab_growth_curve(
        spark.createDataFrame(rows, "doc_id long, source string, "
                                    "text string")).collect()}
    assert [out[("s", i)].new_words for i in (1, 2, 3, 4)] == [3, 1, 0, 0]
    assert [out[("s", i)].cum_vocab for i in (1, 2, 3, 4)] == [3, 4, 4, 4]
    assert [out[("s", i)].cum_tokens for i in (1, 2, 3, 4)] == [3, 6, 9, 9]
    assert out[("t", 10)].cum_vocab == 2 and out[("t", 10)].cum_tokens == 2


# --- snapshot diff (E101) ----------------------------------------------------

def test_snapshot_diff_total_taxonomy(spark):
    from big_data_hw_23_24_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "goes away"),
         (4, "Same   TEXT")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same text"), (2, "changed!"), (5, "brand new"),
         (4, "same text")],
        "doc_id long, text string")
    out = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "modified", 3: "removed",
                   5: "added", 4: "unchanged"}  # 4: normalization equal


def test_snapshot_diff_null_text_reads_as_modified(spark):
    from big_data_hw_23_24_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "text")], "doc_id long, text string")
    new = spark.createDataFrame([(1, None)], "doc_id long, text string")
    (row,) = snapshot_diff(old, new).collect()
    assert row.status == "modified"
    assert row.new_fp is not None  # fingerprint of '', not a join null


def test_apply_snapshot_reconstructs_new_and_replay_is_noop(spark):
    """The MERGE contract end to end: merge(old, change_set(old, new))
    equals new row-for-row, actions track the merge path (kept =
    passed through, upserted = from the change set, deleted = absent),
    and REPLAYING the same change set on the merged result is a no-op
    — the retry-safety that makes the merge usable as a refresh job."""
    from big_data_hw_23_24_spark.operators.diff import (
        apply_snapshot, change_set)

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "goes away"),
         (4, "Same   TEXT")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same text"), (2, "changed!"), (5, "brand new"),
         (4, "same text")],
        "doc_id long, text string")
    ch = change_set(old, new)
    ops = {r.doc_id: (r.op, r.text) for r in ch.collect()}
    assert ops == {2: ("upsert", "changed!"), 3: ("delete", None),
                   5: ("upsert", "brand new")}
    merged = apply_snapshot(old, ch)
    rows = {r.doc_id: (r.text, r.action) for r in merged.collect()}
    assert rows == {1: ("same text", "kept"),
                    2: ("changed!", "upserted"),
                    4: ("Same   TEXT", "kept"),   # normalization-equal,
                    5: ("brand new", "upserted")}  # old payload kept
    assert set(rows) == {r.doc_id for r in new.collect()}
    # replay: applying the same change set again changes nothing
    replay = apply_snapshot(merged.drop("action"), ch)
    rows2 = {r.doc_id: (r.text, r.action) for r in replay.collect()}
    assert rows2 == rows


# --- KS distance matrix (E102) -----------------------------------------------

def test_ks_matrix_identical_zero_disjoint_one(spark):
    from big_data_hw_23_24_spark.operators.grouped import (
        ks_distance_matrix,
    )

    rows = ([("a", v) for v in (1, 2, 3, 4)]          # a ≡ b
            + [("b", v) for v in (1, 2, 3, 4)]
            + [("c", v) for v in (100, 200, 300)])    # disjoint support
    df = spark.createDataFrame(rows, "source string, x long")
    out = {(r.grp_a, r.grp_b): r
           for r in ks_distance_matrix(df, "x").collect()}
    assert out[("a", "b")].ks == 0.0
    assert out[("a", "c")].ks == 1.0       # CDFs fully separated
    assert out[("b", "c")].ks == 1.0
    assert (out[("a", "c")].n_a, out[("a", "c")].n_b) == (4, 3)


def test_ks_matrix_known_half_shift(spark):
    from big_data_hw_23_24_spark.operators.grouped import (
        ks_distance_matrix,
    )

    # a = {1,2}, b = {2,3}: at x=1 gap 0.5, x=2 gap |1 − 0.5| = 0.5,
    # x=3 gap 0 → KS = 0.5
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 2), ("b", 3)], "source string, x long")
    (row,) = ks_distance_matrix(df, "x").collect()
    assert row.ks == 0.5


# --- SpaceSaving (E103) ------------------------------------------------------

def test_space_saving_guarantee_and_bounds(spark):
    from big_data_hw_23_24_spark.operators.frequent import (
        space_saving_summaries,
        space_saving_topk,
    )

    rows = ([("H",)] * 3000 + [("G",)] * 1500
            + [(f"t{i}",) for i in range(1000)])
    df = spark.createDataFrame(rows, "item string").repartition(8)
    true = {r.item: r.cnt for r in
            df.groupBy("item").agg(F.count("*").alias("cnt")).collect()}
    out = space_saving_topk(df, "item", k=20, out_k=5).collect()
    got = {r.item: r for r in out}
    # N/k = 5500/20 = 275: H and G are guaranteed present and ranked
    assert [r.item for r in sorted(out, key=lambda r: r.rank)][:2] \
        == ["H", "G"]
    # bounds bracket the truth for every reported item
    for r in out:
        assert r.est_min <= true[r.item] <= r.est_max, r
    # heavy counts are exact (never evicted)
    assert got["H"].est_min == got["H"].est_max == 3000
    # per-partition summaries respect the k-counter budget
    sizes = (space_saving_summaries(df, "item", 20)
             .groupBy("pid").agg(F.count("*").alias("c")).collect())
    assert all(r.c <= 20 for r in sizes)


def test_space_saving_rejects_bad_k(spark):
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators.frequent import (
        space_saving_summaries,
    )

    df = spark.createDataFrame([("a",)], "item string")
    with _pytest.raises(ValueError):
        space_saving_summaries(df, "item", 0)


# --- robust stats (E104) -----------------------------------------------------

def test_robust_stats_resists_outlier(spark):
    from big_data_hw_23_24_spark.operators.grouped import robust_stats

    # 19 values of 10 plus one 10000: plain mean explodes, trimmed
    # and winsorized stay near 10
    rows = [(i, "s", 10.0) for i in range(19)] + [(99, "s", 10000.0)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    (r,) = robust_stats(df, "v").collect()
    assert r.n == 20
    assert r.plain_mean > 500
    assert r.p_lo == 10.0 and r.p_hi == 10.0  # rank 1 and rank 19
    assert r.trimmed_mean == 10.0
    assert r.winsor_mean == 10.0  # outlier clamped to the fence
    # known fences on 1..100
    rows2 = [(i, "t", float(i)) for i in range(1, 101)]
    df2 = spark.createDataFrame(rows2, "doc_id long, source string, v double")
    (r2,) = robust_stats(df2, "v").collect()
    assert (r2.p_lo, r2.p_hi) == (5.0, 95.0)
    assert r2.plain_mean == 50.5
    # trimmed: mean of 6..95 = 50.5
    assert r2.trimmed_mean == 50.5


def test_robust_stats_null_group_and_validation(spark):
    from big_data_hw_23_24_spark.operators.grouped import robust_stats

    df = spark.createDataFrame(
        [(1, None, 5.0), (2, None, 7.0), (3, "s", 1.0)],
        "doc_id long, source string, v double")
    out = {r.source: r for r in robust_stats(df, "v").collect()}
    assert None in out and out[None].n == 2  # shadow key kept nulls


# --- bloom-prefiltered incremental dedup (r8) ---------------------------------

def test_incremental_dedup_bloom_matches_exact_and_routes(spark):
    """The bloom face returns byte-identical statuses to the exact
    form on a batch exercising all three statuses, and the bitmap
    really routes: fingerprints absent from the corpus are (almost
    all) rejected before any join, members are always accepted (no
    false negatives)."""
    from big_data_hw_23_24_spark.operators.bloom import (
        bloom_build, bloom_flag)
    from big_data_hw_23_24_spark.operators.dedup import (
        incremental_dedup, incremental_dedup_bloom, normalized_text)

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i} body") for i in range(50)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        # dup_of_corpus (mangled), novel, and a batch-internal dup
        [(100 + i, f"  Corpus DOC number {i}  body") for i in range(10)]
        + [(200 + i, f"fresh doc {i}") for i in range(10)]
        + [(300, "fresh doc 3")],
        "doc_id long, text string")
    exact = {r.doc_id: r.status
             for r in incremental_dedup(batch, corpus).collect()}
    blm = {r.doc_id: r.status
           for r in incremental_dedup_bloom(batch, corpus).collect()}
    assert blm == exact
    assert sorted(set(blm.values())) == ["dup_in_batch", "dup_of_corpus",
                                         "novel"]
    # routing: members always pass, non-members (mostly) rejected
    fp = F.md5(normalized_text(F.col("text")))
    seen = corpus.select(fp.alias("fingerprint")).distinct()
    bf = bloom_build(seen, "fingerprint")
    probes = batch.select("doc_id", fp.alias("fingerprint"))
    flags = {r.doc_id: r.maybe
             for r in bloom_flag(probes, bf, "fingerprint").collect()}
    assert all(flags[100 + i] for i in range(10))  # no false negatives
    rejected = sum(not flags[d] for d in flags if d >= 200)
    assert rejected >= 8  # bitmap really short-circuits the join


# --- length-bucketed padded batching (r8) --------------------------------------

def test_length_batches_structure_and_waste_dominance(spark, monkeypatch):
    """Full batches of exactly B, batch_max non-decreasing in batch_id
    (batches are contiguous length ranges), pad_waste arithmetic, and
    the point of the operator: length-sorted batching never wastes
    more padding than arrival-order batching on the same corpus."""
    from big_data_hw_23_24_spark.operators import packing
    from big_data_hw_23_24_spark.operators.packing import length_batches

    monkeypatch.setattr(packing, "BATCH_SIZE", 8)
    rows = [(i, " ".join(["w"] * ((i * 37) % 100 + 1))) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = length_batches(docs).collect()
    assert len(out) == 100
    from collections import Counter
    sizes = Counter(r.batch_id for r in out)
    n_full = 100 // 8
    assert all(sizes[b] == 8 for b in range(n_full))
    assert sizes[n_full] == 100 % 8
    by_batch = {}
    for r in out:
        assert r.pad_waste == r.batch_max - r.n_tokens >= 0
        by_batch.setdefault(r.batch_id, []).append(r)
    maxes = [max(r.n_tokens for r in g)
             for _, g in sorted(by_batch.items())]
    assert maxes == sorted(maxes)
    for b, g in by_batch.items():
        assert max(r.n_tokens for r in g) == g[0].batch_max
    # dominance vs arrival order (batch by doc_id instead of length)
    sorted_waste = sum(r.pad_waste for r in out)
    toks = {r.doc_id: r.n_tokens for r in out}
    arrival = sorted(toks)
    arrival_waste = 0
    for s in range(0, 100, 8):
        grp = [toks[d] for d in arrival[s:s + 8]]
        arrival_waste += sum(max(grp) - t for t in grp)
    assert sorted_waste <= arrival_waste


# --- dedup impact report (r8) --------------------------------------------------

def test_dedup_impact_report_exact_arithmetic(spark):
    """Known planted clusters → exact histogram rows: doc and token
    conservation, survivor-token subtraction, singleton tail."""
    from big_data_hw_23_24_spark.operators.dedup import dedup_impact_report

    docs = spark.createDataFrame(
        [(1, "a b c"),            # cluster X survivor (3 tokens)
         (2, "A  B  C"),          # cluster X dup (3 tokens)
         (3, "d e"),              # singleton
         (10, "x y z w"),         # cluster Y survivor (4 tokens)
         (11, "x y z w"),         # cluster Y dup
         (12, "X Y Z W  ")],      # cluster Y dup
        "doc_id long, text string")
    out = {r.cluster_size: r for r in dedup_impact_report(docs).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_clusters, out[1].n_docs, out[1].n_tokens,
            out[1].tokens_lost) == (1, 1, 2, 0)
    assert (out[2].n_clusters, out[2].n_docs, out[2].n_tokens,
            out[2].tokens_lost) == (1, 2, 6, 3)
    assert (out[3].n_clusters, out[3].n_docs, out[3].n_tokens,
            out[3].tokens_lost) == (1, 3, 12, 8)
    # conservation: docs and tokens partition across the histogram
    assert sum(r.n_docs for r in out.values()) == 6
    assert sum(r.n_tokens for r in out.values()) == 2 + 6 + 12


# --- SFT chat rendering (r8) -----------------------------------------------------

def test_chat_render_spans_cut_exact_content(spark):
    """The whole point: substr(full_text, start+1, end-start) IS the
    turn's content — for every turn, including an empty and a null
    content; the full text is the renders joined in turn order."""
    from big_data_hw_23_24_spark.operators.chat import chat_render_spans

    msgs = [("system", "be terse"), ("user", "hi there"),
            ("assistant", ""), ("user", None),
            ("assistant", "final answer")]
    convs = spark.createDataFrame(
        [(7, msgs)],
        "conv_id long, messages array<struct<role string, content string>>")
    spans = sorted(chat_render_spans(convs).collect(),
                   key=lambda r: r.turn)
    assert [r.turn for r in spans] == [0, 1, 2, 3, 4]
    text = "".join(r.rendered for r in spans)
    expected = ["be terse", "hi there", "", "", "final answer"]
    for r, want in zip(spans, expected):
        got = text[r.content_start:r.content_end]
        assert got == want, (r.turn, got, want)
    # template framing around each span is exactly the ChatML tokens
    assert text.startswith("<|im_start|>system\nbe terse<|im_end|>\n")
    assert text.count("<|im_start|>") == 5


# --- ingest dup-rate trend (r8) --------------------------------------------------

def test_dup_rate_by_window_first_occurrence_election(spark):
    """Exact rates on a planted timeline: the first sighting is never
    a dup (even with same-day copies, where the lower id wins), later
    windows count re-sightings; a clean day reads 0.0."""
    from big_data_hw_23_24_spark.operators.dedup import dup_rate_by_window

    docs = spark.createDataFrame(
        [
            (1, 0, "alpha beta"),     # day 0: first
            (2, 0, "ALPHA  beta"),    # day 0: same-day dup (id 2 > 1)
            (3, 0, "unique zero"),
            (4, 1, "alpha beta"),     # day 1: cross-day dup
            (5, 1, "fresh one"),
            (6, 2, "clean day"),      # day 2: no dups
        ],
        "doc_id long, day long, text string")
    out = {r.day: r for r in dup_rate_by_window(docs).collect()}
    assert (out[0].n_docs, out[0].n_dups, out[0].dup_rate) == (3, 1, 0.333333)
    assert (out[1].n_docs, out[1].n_dups, out[1].dup_rate) == (2, 1, 0.5)
    assert (out[2].n_docs, out[2].n_dups, out[2].dup_rate) == (1, 0, 0.0)


def test_dup_rate_by_window_election_safe_for_any_id_range(spark):
    """The struct(day, id) election must not mis-elect when ids are
    huge or negative (an arithmetic day*C+id key breaks here: day 1
    with id 3e8 encodes above day 2 with id 1, flipping which sighting
    counts as the dup)."""
    from big_data_hw_23_24_spark.operators.dedup import dup_rate_by_window

    docs = spark.createDataFrame(
        [
            (300_000_000, 1, "alpha beta"),   # day 1: true first
            (1, 2, "alpha beta"),             # day 2: the dup
            (-5, 1, "negative first"),        # negative ids still order
            (-9, 1, "negative first"),        # same day: id -9 is first
        ],
        "doc_id long, day long, text string")
    out = {r.day: r for r in dup_rate_by_window(docs).collect()}
    assert (out[1].n_docs, out[1].n_dups) == (3, 1)   # one same-day dup
    assert (out[2].n_docs, out[2].n_dups) == (1, 1)   # day-2 copy is the dup


# --- per-doc gram novelty (r8) ---------------------------------------------------

def test_gram_novelty_first_owner_and_short_docs(spark):
    """Doc 1 owns everything it says; doc 2 repeats doc 1 verbatim in
    part; a 2-word doc produces no row; novelty arithmetic exact."""
    from big_data_hw_23_24_spark.operators.textstats import gram_novelty

    docs = spark.createDataFrame(
        [(1, "a b c d"),        # grams: abc, bcd -> both novel
         (2, "a b c x y"),      # grams: abc(dup), bcx, cxy -> 2/3 novel
         (3, "q r")],           # < 3 words: no grams, no row
        "doc_id long, text string")
    out = {r.doc_id: r for r in gram_novelty(docs).collect()}
    assert set(out) == {1, 2}
    assert (out[1].n_grams, out[1].n_novel, out[1].novelty) == (2, 2, 1.0)
    assert (out[2].n_grams, out[2].n_novel, out[2].novelty) \
        == (3, 2, 0.666667)


# --- pruned n-gram table (r8) ----------------------------------------------------

def test_ngram_count_table_counts_every_occurrence_and_prunes(spark):
    """Frequencies (not set membership), order boundaries, and the
    min-count prune — all hand-checked on a tiny corpus."""
    from big_data_hw_23_24_spark.operators.textstats import (
        ngram_count_table)

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "a")],
        "doc_id long, text string")
    out = {(r.n, r.gram): r.cnt
           for r in ngram_count_table(docs).collect()}
    assert out[(1, "a")] == 4   # every occurrence: 2 in doc1, 1+1
    assert out[(1, "b")] == 3
    assert out[(2, "a b")] == 3  # twice in doc1 (overlap ok) + doc2
    assert (1, "c") not in out   # hapax pruned
    assert (3, "a b a") not in out  # occurs once, pruned
    assert all(c >= 2 for c in out.values())


# --- RAKE keyphrases (r8) --------------------------------------------------------

def test_rake_keyphrases_hand_computed(spark):
    """Single doc with known RAKE arithmetic: phrase splitting at
    stopwords, degree/freq scores, integer-milli phrase totals,
    deterministic ranking."""
    from big_data_hw_23_24_spark.operators.textstats import rake_keyphrases

    # stopword '_' splits: [deep learning] [deep model] [fast]
    docs = spark.createDataFrame(
        [(1, "deep learning _ deep model _ fast")],
        "doc_id long, text string")
    out = rake_keyphrases(docs, ["_"]).collect()
    # word stats over candidates: deep freq=2 deg=2+2=4 -> 2000
    #   learning freq=1 deg=2 -> 2000; model freq=1 deg=2 -> 2000
    #   fast freq=1 deg=1 -> 1000
    rows = {r.phrase: r for r in out}
    assert rows["deep learning"].score_milli == 4000
    assert rows["deep model"].score_milli == 4000
    assert rows["fast"].score_milli == 1000
    assert rows["deep learning"].n_words == 2
    # tie at 4000 breaks on phrase text
    assert [r.phrase for r in sorted(out, key=lambda r: r.rank)] == [
        "deep learning", "deep model", "fast"]


def test_rake_keyphrases_word_order_and_repeats(spark, monkeypatch):
    """Phrases preserve word order; a phrase occurring twice in a doc
    collapses to one ranked row."""
    from big_data_hw_23_24_spark.operators import textstats
    from big_data_hw_23_24_spark.operators.textstats import rake_keyphrases

    monkeypatch.setattr(textstats, "RAKE_K", 5)
    docs = spark.createDataFrame(
        [(1, "b a _ b a _ c")], "doc_id long, text string")
    out = {r.phrase: r for r in
           rake_keyphrases(docs, ["_"]).collect()}
    assert set(out) == {"b a", "c"}  # order kept, duplicate collapsed
    assert out["b a"].rank == 1 and out["c"].rank == 2


# --- privacy + safety gates (r8) -------------------------------------------------

def test_k_anonymity_classes_and_null_grouping(spark, monkeypatch):
    from big_data_hw_23_24_spark.operators import textstats
    from big_data_hw_23_24_spark.operators.textstats import (
        k_anonymity_report)

    monkeypatch.setattr(textstats, "K_ANONYMITY", 3)
    df = spark.createDataFrame(
        [(1, "a", 30), (2, "a", 30), (3, "a", 30),
         (4, "b", 30), (5, None, 40), (6, None, 40)],
        "id long, region string, age long")
    out = {(r.region, r.age): r for r in
           k_anonymity_report(df, ["region", "age"]).collect()}
    assert out[("a", 30)].class_size == 3 and not out[("a", 30)].at_risk
    assert out[("b", 30)].class_size == 1 and out[("b", 30)].at_risk
    # nulls form their own class (an identifying pattern themselves)
    assert out[(None, 40)].class_size == 2 and out[(None, 40)].at_risk


def test_blocklist_gate_token_match_not_substring(spark):
    from big_data_hw_23_24_spark.operators.textstats import blocklist_gate

    docs = spark.createDataFrame(
        [(1, "the class is classy"),       # 'ass' must NOT flag
         (2, "bad Bad BAD"),               # case-insensitive, 3 hits
         (3, "bad worse"),                 # 1 bad + 1 worse = 2 hits
         (4, "all clean here")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           blocklist_gate(docs, ["ass", "bad", "worse"],
                          max_hits=1).collect()}
    assert out[1].n_hits == 0 and out[1].kept
    assert out[2].n_hits == 3 and out[2].n_distinct_terms == 1
    assert not out[2].kept
    assert out[3].n_hits == 2 and out[3].n_distinct_terms == 2
    assert not out[3].kept
    assert out[4].kept and out[4].hit_ratio == 0.0
    assert out[2].hit_ratio == 1.0


# --- PERMISSIVE CSV-line ingestion (r8) ------------------------------------------

def test_parse_csv_lines_permissive_and_probe(spark):
    """Truncated lines null their trailing fields, uncastable fields
    null individually, null lines flag not-ok — never an error."""
    from big_data_hw_23_24_spark.sources.jsonl import parse_csv_lines

    rows = [(1, "1,en,42"), (2, "2,en"), (3, "junk"),
            (4, "x,de,7"), (5, None)]
    df = spark.createDataFrame(rows, "i long, line string")
    out = {r.i: r for r in parse_csv_lines(
        df, "line", "doc_id BIGINT, lang STRING, n BIGINT",
        ok_probe="n").collect()}
    assert out[1].parse_ok and out[1].rec.n == 42
    assert not out[2].parse_ok and out[2].rec.lang == "en"
    assert not out[3].parse_ok
    assert out[4].parse_ok is True and out[4].rec.doc_id is None
    assert out[4].rec.n == 7  # field-level nulling, not row-level
    assert not out[5].parse_ok


# --- language confusion matrix (r8) ----------------------------------------------

def test_language_confusion_cells_and_recall(spark):
    """Known texts: diagonal cell for en, the profile-less label
    buckets to 'und', rows sum to the label total, recall exact."""
    from big_data_hw_23_24_spark.operators.textstats import (
        language_confusion)

    docs = spark.createDataFrame(
        [(1, "en", "the cat and the hat is of note"),
         (2, "en", "the dog and friends"),
         (3, "en", "nothing matching here"),
         (4, "xx", "wholly unknown words qqq")],
        "doc_id long, lang string, text string")
    out = {(r.lang, r.detected_lang): r
           for r in language_confusion(docs).collect()}
    assert out[("en", "en")].n_docs == 2
    assert out[("en", "und")].n_docs == 1
    assert out[("en", "en")].label_total == 3
    assert out[("en", "en")].recall == 0.666667
    assert out[("xx", "und")].n_docs == 1
    assert out[("xx", "und")].recall == 1.0


# --- KMV distinct-count sketch (E135) --------------------------------------------

def test_kmv_exact_below_k_and_estimator_at_k(spark):
    """Below k the sketch IS the distinct set (exact count as a whole
    double); at k the (k-1)/u_k estimator lands within the published
    ~1/sqrt(k-2) relative error band on 4x oversubscribed input."""
    from big_data_hw_23_24_spark.operators.frequent import (
        kmv_estimate, kmv_sketch)

    rows = ([("small", f"s{i}") for i in range(10)] * 3
            + [("big", f"b{i}") for i in range(256)])
    df = spark.createDataFrame(rows, "grp string, item string")
    out = {r.grp: r for r in
           kmv_estimate(kmv_sketch(df, "item", "grp", k=64), k=64).collect()}
    assert out["small"].n_sketch == 10
    assert out["small"].est_distinct == 10.0
    assert out["big"].n_sketch == 64
    err = abs(out["big"].est_distinct - 256) / 256
    assert err < 4 / (62 ** 0.5), err     # 4 sigma of 1/sqrt(k-2)


def test_kmv_k_carried_on_sketch_and_validated(spark):
    """ADVICE r9: k lives ON the sketch (like CMS depth/width/family).
    Estimate reads it — no k argument needed — and a mismatched
    explicit k raises instead of silently taking the wrong order
    statistic."""
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators.frequent import (
        kmv_estimate, kmv_sketch)

    df = spark.createDataFrame([("g", f"x{i}") for i in range(40)],
                               "grp string, item string")
    sk16 = kmv_sketch(df, "item", "grp", k=16)
    assert sk16.select("k").first()["k"] == 16
    # reads k from the sketch: exact/estimator branch picked correctly
    est = kmv_estimate(sk16).collect()[0]
    assert est.n_sketch == 16
    with _pytest.raises(ValueError, match="k mismatch"):
        kmv_estimate(sk16, k=32)


def test_cms_md5_family_rejects_ambiguous_depth(spark):
    """ADVICE r9: the md5 family's 'row:item' key is only unambiguous
    for single-character row indices — depth > 10 must refuse rather
    than silently correlate the CMS rows."""
    import pytest as _pytest

    from big_data_hw_23_24_spark.operators import frequent

    df = spark.createDataFrame([("a",)], "item string")
    with _pytest.MonkeyPatch.context() as mp:
        mp.setattr(frequent, "CMS_DEPTH", 11)
        with _pytest.raises(ValueError, match="depth must be <= 10"):
            frequent.cms_table(df, "item", hash_family="md5")
        mp.setattr(frequent, "CMS_DEPTH", 12)
        # xxhash64 hashes (row, item) as separate args: no ambiguity,
        # any depth
        assert frequent.cms_table(df, "item",
                                  hash_family="xxhash64").count() == 12


def test_kmv_sketch_has_no_per_group_funnel(spark):
    from big_data_hw_23_24_spark.operators.frequent import kmv_sketch

    df = spark.createDataFrame([("g", "a")], "grp string, item string")
    sk = kmv_sketch(df, "item", "grp", k=8)
    plan = sk._sc._jvm.PythonSQLUtils.explainString(
        sk._jdf.queryExecution(), "simple")
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Window [" in ln:
            assert not any("Exchange SinglePartition" in nxt
                           for nxt in lines[i + 1:i + 4])


# --- SCD2 snapshot history (E136) -------------------------------------------------

def test_scd2_history_taxonomy_hand_checked(spark):
    """All four statuses produce the right validity intervals: the
    history of every id reconstructs exactly what was live at versions
    0 and 1."""
    from big_data_hw_23_24_spark.operators.diff import scd2_history

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "same text"), (2, "changed now"), (4, "brand new")],
        "doc_id long, text string")
    hist = scd2_history(old, new).collect()
    by_id = {}
    for r in hist:
        by_id.setdefault(r.doc_id, []).append(r)
    assert len(by_id[1]) == 1 and by_id[1][0].is_current
    assert (by_id[1][0].valid_from, by_id[1][0].valid_to) == (0, None)
    rows2 = sorted(by_id[2], key=lambda r: r.valid_from)
    assert [(r.valid_from, r.valid_to, r.is_current) for r in rows2] == \
        [(0, 1, False), (1, None, True)]
    assert rows2[0].fp != rows2[1].fp
    assert [(r.valid_from, r.valid_to, r.is_current) for r in by_id[3]] == \
        [(0, 1, False)]
    assert [(r.valid_from, r.valid_to, r.is_current) for r in by_id[4]] == \
        [(1, None, True)]
    # global invariants: exactly one current row per live id, closed
    # intervals never current
    for rs in by_id.values():
        assert sum(r.is_current for r in rs) <= 1
        for r in rs:
            assert (r.valid_to is None) == r.is_current


# --- md5-pinned SimHash family (E137) ----------------------------------------------

def test_simhash_md5_family_token_reorder_is_hamming_zero(spark):
    """SimHash is a bag-of-tokens fingerprint: a token reorder must
    band-collide and verify at hamming 0 in the pinned family; a doc
    with different tokens must not pair at <= 3."""
    from big_data_hw_23_24_spark.operators.dedup import (
        simhash_fingerprints, simhash_near_duplicates)

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "epsilon delta gamma beta alpha"),     # reorder of 1
         (3, "utterly different words entirely here")],
        "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_near_duplicates(
                 docs, max_hamming=3, hash_family="md5").collect()}
    assert pairs.get((1, 2)) == 0
    assert not any(3 in p for p in pairs)
    # fingerprints are 60-bit non-negative in the md5 family
    for r in simhash_fingerprints(docs, hash_family="md5").collect():
        assert 0 <= r.simhash < (1 << 60)


def test_simhash_family_validation(spark):
    from big_data_hw_23_24_spark.operators.dedup import (
        simhash_fingerprints, simhash_near_duplicates)

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_fingerprints(docs, hash_family="sha9000")
    with pytest.raises(ValueError):
        # 60 bits do not divide into 7 chunks (max_hamming=6)
        simhash_near_duplicates(docs, max_hamming=6, hash_family="md5")


# --- BPE-ish regex pre-tokenizer (E138) --------------------------------------------

def test_pretokenize_stats_hand_checked_and_classes_total(spark):
    """Hand-verified boundaries on contraction/number/punct edges, and
    the class counts always PARTITION the pre-token stream (every
    token is exactly one of word/number/contraction/punct)."""
    from big_data_hw_23_24_spark.operators.tokenizer import pretokenize_stats

    docs = spark.createDataFrame(
        [(1, "we'll go 42 km!!"),          # we|'ll| go| 42| km|!!
         (2, "minified;var x=1;f(x);"),    # punct-heavy: fertility > 2
         (3, "plain prose words only"),
         (4, "")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in pretokenize_stats(docs).collect()}
    r1 = out[1]
    assert r1.n_pretokens == 6
    assert (r1.n_words, r1.n_numbers, r1.n_contractions, r1.n_punct) == \
        (3, 1, 1, 1)
    assert r1.n_ws_tokens == 4 and r1.fertility == 1.5
    assert out[2].fertility > 2.0          # the token-budget blowup signal
    assert out[3].fertility == 1.0
    assert out[4].n_pretokens == 0 and out[4].fertility == 0.0
    for r in out.values():
        assert r.n_words + r.n_numbers + r.n_contractions + r.n_punct \
            == r.n_pretokens


# --- pinned-centroid IVF face (E139) ------------------------------------------------

def test_ivf_pinned_bridges_to_production_kernel(spark, emb, monkeypatch):
    """The relational pinned face and the production Arrow-kernel face
    compute the SAME result when given the same fixed centroids — the
    bridge that lets the oracle-checked face vouch for the trained
    path's dataflow. The trainer is stubbed to hand the kernel the
    pinned face's centroids."""
    import numpy as np

    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import (
        ivf_topk, ivf_topk_pinned)

    cents = np.array(
        [r.embedding for r in
         emb.where(F.col("vec_id") < 16).orderBy("vec_id").collect()],
        dtype=np.float64)
    qs = emb.where(F.col("vec_id") < 5)
    pinned = {(r.query_id, r.neighbor_id): (r.cosine, r.rank)
              for r in ivf_topk_pinned(emb, qs, k=10).collect()}
    monkeypatch.setattr(similarity, "_kmeans_lite",
                        lambda sample, n_lists: cents)
    kernel = {(r.query_id, r.neighbor_id): (r.cosine, r.rank)
              for r in ivf_topk(emb, qs).collect()}
    assert pinned == kernel


def test_ivf_pinned_scores_only_probed_lists(spark, emb, monkeypatch):
    """Approximation contract: every reported neighbor sits in one of
    the query's nprobe nearest lists (candidates are probe-pruned,
    never an all-pairs scan)."""
    from big_data_hw_23_24_spark.operators import similarity
    from big_data_hw_23_24_spark.operators.similarity import ivf_topk_pinned

    monkeypatch.setattr(similarity, "IVF_NPROBE", 2)
    qs = emb.where(F.col("vec_id") < 5)
    out = ivf_topk_pinned(emb, qs, k=10)
    # recompute assignment + probes relationally and anti-join
    from pyspark.sql import Window as W
    cents = (emb.where(F.col("vec_id") < 16)
             .select(F.col("vec_id").cast("int").alias("list_id"),
                     F.col("embedding").cast("array<double>").alias("cv")))
    d = F.aggregate(F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0), lambda a, x: a + x)
    assign = (emb.select(F.col("vec_id").alias("neighbor_id"),
                         F.col("embedding").cast("array<double>").alias("v"))
              .crossJoin(F.broadcast(cents))
              .select("neighbor_id",
                      F.struct(d.alias("d"), F.col("list_id").alias("lid"))
                      .alias("s"))
              .groupBy("neighbor_id").agg(F.min("s").alias("b"))
              .select("neighbor_id", F.col("b.lid").alias("list_id")))
    probes = (qs.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").cast("array<double>").alias("v"))
              .crossJoin(F.broadcast(cents))
              .select("query_id", "list_id", d.alias("_d"))
              .withColumn("_r", F.row_number().over(
                  W.partitionBy("query_id").orderBy("_d", "list_id")))
              .where(F.col("_r") <= 2).select("query_id", "list_id"))
    allowed = probes.join(assign, "list_id") \
        .select("query_id", "neighbor_id")
    stray = out.join(allowed, ["query_id", "neighbor_id"], "left_anti")
    assert stray.count() == 0


# --- dedup-face evaluation report (E140) ---------------------------------------------

def test_dedup_eval_confusion_identities_and_planted_pair(spark):
    """On a tiny corpus with one certain duplicate pair: identical
    docs MUST collide (identical signatures) and score TP; the
    confusion identities tp+fn == n_truth, tp+fp == n_pred hold; at
    sf0.001 the salted-corpus report is non-vacuous and its metrics
    stay in [0, 1]."""
    from big_data_hw_23_24_spark.queries import _ensure_loaded, _REGISTRY

    _ensure_loaded()
    r = (_REGISTRY["dedup_eval_minhash"]
         .spark_fn(spark, "/root/testdata/sf0.001").collect()[0])
    assert r.tp + r.fn == r.n_truth
    assert r.tp + r.fp == r.n_pred
    assert r.n_truth > 0                      # planted pairs exist
    assert 0.0 <= r.precision <= 1.0 and 0.0 <= r.recall <= 1.0
    assert r.recall >= 0.9                    # banding catches J≈0.95 salt


# --- time-decayed trending items (E141) ------------------------------------------------

def test_trending_items_decay_arithmetic_and_freshness_order(spark,
                                                             monkeypatch):
    """Hand-computed decayed scores: an item with 3 events today beats
    one with 20 events a week ago; weights are exact integer micros
    (1e6 >> days); items past the decay horizon contribute zero."""
    from big_data_hw_23_24_spark.operators import timeseries
    from big_data_hw_23_24_spark.operators.timeseries import trending_items

    monkeypatch.setattr(timeseries, "TRENDING_K", 10)
    D = 86_400_000_000  # one day of microseconds
    now = 1_700_000_000_000_000
    rows = ([("fresh", now), ("fresh", now - 1), ("fresh", now - 2)]
            + [("stale", now - 7 * D + i) for i in range(20)]
            + [("ancient", now - 30 * D)])
    df = spark.createDataFrame(rows, "item string, ts long")
    out = {r.item: r for r in trending_items(df).collect()}
    assert out["fresh"].decayed_micros == 3_000_000       # 3 x 1e6
    assert out["stale"].decayed_micros == 20 * 7812       # floor(1e6/128)
    assert out["ancient"].decayed_micros == 0             # past horizon
    ordered = [r.item for r in sorted(out.values(),
               key=lambda r: (-r.decayed_micros, r.item))]
    assert ordered == ["fresh", "stale", "ancient"]


# --- block-level binary payload dedup (E147) ---------------------------------------

def test_block_dedup_planted_cases(spark, monkeypatch):
    """Hand-checked taxonomy on 8-byte blocks: an exact copy shares
    all blocks (full_dup), a truncation shares the aligned prefix, a
    one-byte edit in block 0 still pairs on the remaining blocks, a
    MISALIGNED copy (1-byte shift) shares nothing — the stated
    alignment contract — and sub-threshold overlap (<2 blocks) is
    dropped."""
    from big_data_hw_23_24_spark.operators import multimodal
    from big_data_hw_23_24_spark.operators.multimodal import (
        block_dedup_pairs, media_from_documents)

    monkeypatch.setattr(multimodal, "BLOCK_BYTES", 8)
    base = "aaaaaaaabbbbbbbbccccccccdddddddd"      # 4 blocks of 8
    rows = [
        (1, base),
        (2, base),                                  # exact copy
        (3, base[:16]),                             # truncation: 2 blocks
        (4, "x" + base[1:]),                        # edit in block 0
        (5, "z" + base),                            # misaligned by 1
        (6, base[:8] + "qqqqqqqq" * 3),             # 1 shared block only
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = block_dedup_pairs(media_from_documents(docs))
    got = {(r.media_a, r.media_b): r for r in out.collect()}
    assert got[(1, 2)].n_shared_blocks == 4 and got[(1, 2)].full_dup
    assert got[(1, 3)].n_shared_blocks == 2 and not got[(1, 3)].full_dup
    assert got[(1, 4)].n_shared_blocks == 3 and not got[(1, 4)].full_dup
    assert not any(5 in k for k in got)             # misaligned: no pair
    assert not any(6 in k for k in got)             # 1 block < min_shared
    # truncation pair carries both sizes
    assert got[(1, 3)].n_blocks_a == 4 and got[(1, 3)].n_blocks_b == 2


def test_block_dedup_hot_block_guard(spark, monkeypatch):
    """A block shared by more than max_df payloads is a stop-block:
    it generates NO candidates (the Σdf² bound), while distinctive
    blocks still pair."""
    from big_data_hw_23_24_spark.operators import multimodal
    from big_data_hw_23_24_spark.operators.multimodal import (
        block_dedup_pairs, media_from_documents)

    monkeypatch.setattr(multimodal, "BLOCK_BYTES", 8)
    monkeypatch.setattr(multimodal, "BLOCK_MAX_DF", 4)
    hot = "HEADERXX"                                # shared by all 6
    rows = [(i, hot + f"doc{i:05d}" + "tailblok") for i in range(4)]
    rows += [(10, hot + "samesame" + "tailblok"),
             (11, hot + "samesame" + "tailblok")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = block_dedup_pairs(media_from_documents(docs)).collect()
    # the hot header (df=6 > 4) and hot tail (df=6 > 4) are guarded;
    # only the genuinely identical middle+? pair survives via its
    # distinctive blocks — 10/11 share block 1 (samesame) only, which
    # is below min_shared=2 once hot blocks are dropped
    assert out == []
    monkeypatch.setattr(multimodal, "BLOCK_MAX_DF", 6)
    out2 = {(r.media_a, r.media_b): r.n_shared_blocks
            for r in block_dedup_pairs(media_from_documents(docs)).collect()}
    assert out2[(10, 11)] == 3                      # guard lifted: full pair
