"""Multimodal column plumbing: opaque binary media + typed metadata.

North-star extension. Images/audio/video ride through the engine as
``binary`` columns with a typed metadata struct; decode/feature
extraction runs as Arrow-batched ``mapInPandas`` kernels so bytes
never round-trip through Python row objects.

Codec status: the AUDIO path is REAL — ``decode_wav`` parses genuine
RIFF/WAVE containers with the stdlib ``wave`` module (present in this
container all along) + numpy stats, through the same Arrow kernel
shape. Image/video codecs remain unavailable here: ``decode_media``
raises ``NotImplementedError`` unless ``fake=True``, which substitutes
a deterministic bytes→metadata function (md5-derived dims) so the
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — is real and tested even for the stubbed modalities.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("n_bytes", T.IntegerType(), False),
    T.StructField("format", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("checksum", T.StringType(), False),
])


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Fake media table: UTF-8 bytes of documents.text as the payload.

    Stands in for an image/audio corpus so the binary-column path has
    driver-provided data to run on; schema is the real contract:
    (media_id bigint, media binary, format string).
    """
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("media"),
        F.lit("text/plain").alias("format"),
    )


def _fake_decode(payload: bytes) -> tuple[str, int, int]:
    """Deterministic stand-in for a codec: md5-derived dimensions."""
    h = hashlib.md5(payload).hexdigest()
    width = 64 + int(h[:4], 16) % 1984
    height = 64 + int(h[4:8], 16) % 1984
    return h, width, height


def decode_media(media: DataFrame, fake: bool = False) -> DataFrame:
    """Decode binary payloads → metadata rows (mapInPandas kernel).

    Real decoding needs image/audio codecs not present here — with
    ``fake=False`` this raises ``NotImplementedError`` at plan
    execution. ``fake=True`` runs the deterministic stand-in through
    the identical Arrow path: per-batch pandas DataFrames in, typed
    metadata out, so batch sizing/schema/serialization are exercised
    for real.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not fake:
                raise NotImplementedError(
                    "media codecs unavailable in this environment; "
                    "pass fake=True for the deterministic stand-in")
            rows = {
                "media_id": batch["media_id"],
                "n_bytes": batch["media"].map(len).astype("int32"),
                "format": batch["format"],
            }
            decoded = batch["media"].map(_fake_decode)
            rows["checksum"] = decoded.map(lambda d: d[0])
            rows["width"] = decoded.map(lambda d: d[1]).astype("int32")
            rows["height"] = decoded.map(lambda d: d[2]).astype("int32")
            yield pd.DataFrame(rows)[[f.name for f in MEDIA_META_SCHEMA]]

    return media.mapInPandas(kernel, MEDIA_META_SCHEMA)


def extract_features(media: DataFrame, dim: int = 4,
                     fake: bool = False) -> DataFrame:
    """Feature extraction: binary payload → embedding components, long
    form (media_id, i, feat) — the step that feeds the similarity /
    dedup stack (``operators/similarity.py``, ``operators/pq.py``)
    from media corpora.

    A real extractor runs a vision/audio model per Arrow batch;
    ``fake=True`` substitutes a deterministic md5-derived vector
    (component i = digest word i scaled to [0, 1), rounded 6dp)
    through the identical ``mapInPandas`` path, so batch shape,
    schema, and the downstream join contract are exercised for real —
    and the fake is engine-recomputable, so the face is
    value-checkable end to end. Long form keeps every output cell
    scalar (the ``embedding_pq_codes`` convention).
    """

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("feat", T.DoubleType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if not fake:
                raise NotImplementedError(
                    "feature models unavailable in this environment; "
                    "pass fake=True for the deterministic stand-in")
            out = {"media_id": [], "i": [], "feat": []}
            for mid, payload in zip(batch["media_id"], batch["media"]):
                h = hashlib.md5(bytes(payload)).hexdigest()
                for i in range(dim):
                    out["media_id"].append(mid)
                    out["i"].append(i)
                    out["feat"].append(
                        round(int(h[8 * i:8 * i + 8], 16) / 2 ** 32, 6))
            df = pd.DataFrame(out)
            df["i"] = df["i"].astype("int32")
            yield df

    return media.mapInPandas(kernel, schema)


def frame_sample_plan(media: DataFrame, every_nth: int = 10) -> DataFrame:
    """Plumbing for frame sampling: one row per sampled frame index.

    For video payloads the real kernel would emit decoded frames; the
    plan shape (posexplode of a frame-index sequence, then a decode
    kernel per frame) is what matters at scale — the explode happens
    before the heavy decode so frames parallelize across tasks.
    """
    n_frames = (F.length("media") / 100).cast("int")  # stub: 1 frame/100 B
    return media.select(
        "media_id",
        F.posexplode(F.sequence(
            F.lit(0),
            F.greatest(n_frames - 1, F.lit(0)),
            F.lit(every_nth))).alias("frame_pos", "frame_idx"),
    )


# block_dedup_pairs: aligned block size, shared blocks a pair needs,
# and the stop-block document-frequency guard.
BLOCK_BYTES = 64
BLOCK_MIN_SHARED = 2
BLOCK_MAX_DF = 8


def block_dedup_pairs(media: DataFrame) -> DataFrame:
    """Block-level payload dedup over a BINARY column (E147) →
    ``(media_a, media_b, n_shared_blocks, n_blocks_a, n_blocks_b,
    full_dup)``.

    Storage-style dedup for media corpora: payloads are cut into
    fixed, ALIGNED ``BLOCK_BYTES`` blocks (the filesystem/CAS-chunking
    semantics — codec-free, so it works on any binary column without
    decode), each block fingerprinted, and two payloads become a
    candidate pair when they share ≥ ``BLOCK_MIN_SHARED`` (offset,
    hash) blocks. Alignment-sensitivity is the contract, not a bug: this
    face answers "same asset re-ingested / truncated / re-encoded
    container" (shared prefixes dominate), while content near-dup of
    TEXT lives in the MinHash/SimHash tier.

    Scale shape: the shuffle key is the (offset, hash) block — never a
    pair; hot blocks (shared boilerplate headers) are dropped by the
    ``BLOCK_MAX_DF`` stop-block guard, bounding Σdf² exactly like the
    containment face; pair verification touches only colliding pairs.
    The block hash is md5 of the lower-hex of the byte slice, which
    any md5-bearing engine reproduces — Spark's side slices the real
    BINARY column (at 100 TB you would md5 the bytes directly; the
    hex hop costs 2x on the hash input and buys the value oracle).
    """
    B = BLOCK_BYTES
    m = media.where(F.length("media") > 0)
    nblk = F.ceil(F.length("media") / F.lit(B)).cast("int")
    blocks = (m.select("media_id",
                       F.explode(F.sequence(F.lit(0), nblk - 1)).alias("bi"),
                       "media")
              .select("media_id", "bi",
                      F.md5(F.lower(F.hex(
                          F.expr(f"substring(media, bi*{B}+1, {B})"))))
                      .alias("h")))
    safe = (blocks.groupBy("bi", "h").agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= BLOCK_MAX_DF).select("bi", "h"))
    bl = blocks.join(safe, ["bi", "h"])
    pairs = (bl.alias("a").join(bl.alias("b"), ["bi", "h"])
             .where(F.col("a.media_id") < F.col("b.media_id"))
             .groupBy(F.col("a.media_id").alias("media_a"),
                      F.col("b.media_id").alias("media_b"))
             .agg(F.count("*").cast("long").alias("n_shared_blocks"))
             .where(F.col("n_shared_blocks") >= BLOCK_MIN_SHARED))
    sizes = m.select("media_id",
                     F.ceil(F.length("media") / F.lit(B)).cast("long")
                     .alias("n_blocks"),
                     F.md5(F.lower(F.hex("media"))).alias("_ph"))
    return (pairs
            .join(sizes.select(F.col("media_id").alias("media_a"),
                               F.col("n_blocks").alias("n_blocks_a"),
                               F.col("_ph").alias("_ha")), "media_a")
            .join(sizes.select(F.col("media_id").alias("media_b"),
                               F.col("n_blocks").alias("n_blocks_b"),
                               F.col("_ph").alias("_hb")), "media_b")
            .select("media_a", "media_b", "n_shared_blocks",
                    "n_blocks_a", "n_blocks_b",
                    (F.col("_ha") == F.col("_hb")).alias("full_dup")))


def synth_wav_media(docs: DataFrame) -> DataFrame:
    """Synthesize a media table of GENUINE RIFF/WAVE payloads (E234):
    one standard 44-byte PCM header + 16-bit mono little-endian
    samples, assembled entirely Spark-side (hex-string construction →
    ONE ``unhex``) so the binary write path is real JVM work, no UDF.

    The waveform is a constant-amplitude square wave whose every
    parameter is a pure function of doc_id — sample_rate = 8000 +
    (id%3)·4000, n_frames = 40 + id%80, amplitude = 500 + (id%17)·250
    — which makes the DECODED metadata closed-form for the oracle:
    peak = rms = amplitude exactly (every sample is ±a, so the mean
    square is a² and the sqrt is exact in float64 at these
    magnitudes). Every 13th asset is truncated to 10 bytes (a corrupt
    upload) so the decoder's quarantine branch is non-vacuous at
    every SF. These are REAL WAV files — ``wave.open`` parses them.
    """
    did = F.col("doc_id").cast("long")
    rate = (F.lit(8000) + (did % 3) * 4000)
    n = (F.lit(40) + did % 80)
    a = (F.lit(500) + (did % 17) * 250)

    def hb(v):  # one byte → two hex chars
        return F.lpad(F.hex(v.bitwiseAND(F.lit(255))), 2, "0")

    def le16(v):
        return F.concat(hb(v), hb(F.shiftright(v, 8)))

    def le32(v):
        return F.concat(hb(v), hb(F.shiftright(v, 8)),
                        hb(F.shiftright(v, 16)), hb(F.shiftright(v, 24)))

    pos, neg = a, F.lit(65536) - a
    pair = F.concat(le16(pos), le16(neg))
    # n samples alternating +a/−a: floor(n/2) pairs + the odd head
    data_hex = F.concat(
        F.array_join(F.array_repeat(pair, (n / 2).cast("int")), ""),
        F.when(n % 2 == 1, le16(pos)).otherwise(F.lit("")))
    header_hex = F.concat(
        F.lit("52494646"), le32(F.lit(36) + n * 2),       # RIFF, chunk size
        F.lit("57415645"), F.lit("666D7420"),             # WAVE, "fmt "
        le32(F.lit(16)), le16(F.lit(1)), le16(F.lit(1)),  # PCM, mono
        le32(rate), le32(rate * 2),                       # rates
        le16(F.lit(2)), le16(F.lit(16)),                  # align, bits
        F.lit("64617461"), le32(n * 2))                   # "data", size
    payload = F.unhex(F.concat(header_hex, data_hex))
    corrupt = did % 13 == 0
    return docs.select(
        did.alias("media_id"),
        F.when(corrupt, F.substring(payload, 1, 10))
        .otherwise(payload).alias("media"))


def decode_wav(media: DataFrame) -> DataFrame:
    """REAL audio decode over a binary column (E234) → one row per
    asset: ``(media_id, ok, sample_rate, n_channels, sample_width,
    n_frames, peak, rms, n_bytes)``.

    The genuine codec path the tier's stand-ins were staged for: the
    stdlib ``wave`` module parses the RIFF/WAVE container (no
    third-party codec needed — it was in the container all along) and
    numpy computes signal stats over the PCM frames, all inside the
    SAME Arrow-batched ``mapInPandas`` shape as ``decode_media`` —
    per-batch pandas in, typed metadata out, payload bytes never
    round-tripping through Python row objects one by one. Unparseable
    payloads (truncated uploads, foreign magics) take the quarantine
    branch: ``ok=false``, null stats — ``wave.Error``/``EOFError``
    are the contract, any other exception propagates (a decode bug
    should fail loudly, not quarantine silently).

    rms is the integer-rounded √(mean square) over all samples
    (channels interleaved — the whole-signal readout); peak the max
    absolute sample. Signal stats are computed for 16-bit PCM only
    (``sample_width == 2``, the overwhelmingly common case): other
    widths still decode their container metadata for real but report
    null peak/rms — misparsing 8-bit frames as int16 would be a
    silently wrong number, and this kernel never guesses. At 100 TB
    the kernel is embarrassingly parallel (one asset never spans
    tasks) and the batch size is governed by
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it by
    bytes for media corpora.
    """
    import io
    import math
    import wave

    import numpy as np

    schema = T.StructType([
        T.StructField("media_id", T.LongType(), False),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("sample_width", T.IntegerType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("peak", T.IntegerType(), True),
        T.StructField("rms", T.IntegerType(), True),
        T.StructField("n_bytes", T.LongType(), False),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = {f.name: [] for f in schema.fields}
            for mid, payload in zip(batch["media_id"], batch["media"]):
                # NULL payload = nothing to decode → quarantine, not a
                # task-killing TypeError
                raw = bytes(payload) if payload is not None else b""
                out["media_id"].append(mid)
                out["n_bytes"].append(len(raw))
                try:
                    w = wave.open(io.BytesIO(raw))
                    n, ch, sw = (w.getnframes(), w.getnchannels(),
                                 w.getsampwidth())
                    frames = w.readframes(n)
                    # the header's declared frame count is a CLAIM —
                    # readframes silently returns whatever bytes
                    # survive, so a payload truncated mid-data (any
                    # width) parses but under-delivers; that is a
                    # corrupt upload → the quarantine branch, never
                    # ok=true stats over partial samples
                    if len(frames) != n * ch * sw:
                        raise wave.Error("data chunk shorter than "
                                         "header-declared frames")
                    out["ok"].append(True)
                    out["sample_rate"].append(w.getframerate())
                    out["n_channels"].append(ch)
                    out["sample_width"].append(sw)
                    out["n_frames"].append(n)
                    if sw == 2:
                        arr = (np.frombuffer(frames, dtype="<i2")
                               .astype(np.int64))
                        ms = int((arr * arr).sum())
                        out["peak"].append(int(np.abs(arr).max())
                                           if len(arr) else 0)
                        out["rms"].append(round(math.sqrt(ms / len(arr)))
                                          if len(arr) else 0)
                    else:  # non-16-bit: metadata real, stats withheld
                        out["peak"].append(None)
                        out["rms"].append(None)
                except (wave.Error, EOFError):
                    out["ok"].append(False)
                    for c in ("sample_rate", "n_channels", "sample_width",
                              "n_frames", "peak", "rms"):
                        out[c].append(None)
            df = pd.DataFrame(out)
            for c, dt in (("sample_rate", "Int32"), ("n_channels", "Int32"),
                          ("sample_width", "Int32"), ("n_frames", "Int64"),
                          ("peak", "Int32"), ("rms", "Int32")):
                df[c] = df[c].astype(dt)
            yield df[[f.name for f in schema.fields]]

    return media.mapInPandas(kernel, schema)


MEDIA_MAGICS = {"PNG8": "png", "JPG1": "jpeg", "RIFF": "wav"}


def synth_media_headers(docs: DataFrame) -> DataFrame:
    """Synthesize a media table whose payloads carry a PARSEABLE
    8-byte header: 4 ASCII magic bytes (format by ``doc_id % 3``) +
    width and height as 2-byte big-endian ints, followed by the
    document text as body bytes; every 13th asset is TRUNCATED to
    3 bytes (a corrupt upload). Spark-side binary assembly only —
    ``concat`` of a cast string (UTF-8 magic) and ``unhex`` of
    zero-padded hex dims — so the table exercises the real
    binary-column write path. Ground truth (format/dims/corrupt) is a
    pure function of doc_id, which is what makes the parse face
    oracle-checkable without any blob support in the oracle engine.
    """
    magics = list(MEDIA_MAGICS)
    magic = (F.when(F.col("doc_id") % 3 == 0, F.lit(magics[0]))
             .when(F.col("doc_id") % 3 == 1, F.lit(magics[1]))
             .otherwise(F.lit(magics[2])))
    width = (F.lit(16) + F.col("doc_id") % 640).cast("int")
    height = (F.lit(16) + (F.col("doc_id") * 7) % 480).cast("int")
    be16 = lambda c: F.unhex(F.lpad(F.hex(c), 4, "0"))  # noqa: E731
    payload = F.concat(magic.cast("binary"), be16(width), be16(height),
                       F.col("text").cast("binary"))
    corrupt = F.col("doc_id") % 13 == 0
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(corrupt, F.substring(payload, 1, 3))
        .otherwise(payload).alias("media"))


def parse_media_headers(media: DataFrame) -> DataFrame:
    """Header sniff over a BINARY column (E161) → ``(media_id, format,
    width, height, n_bytes, header_ok)`` — the codec-free step every
    100 TB media pipeline runs BEFORE any decode: read the magic,
    pull the declared dimensions, and route/quarantine by it, all as
    narrow JVM byte expressions (``substring`` on binary + ``conv`` of
    the hex slice; no UDF, no decode library).

    Unknown magics and short payloads report ``format='unknown'``,
    null dims, ``header_ok=false`` — the quarantine branch. The parse
    is engine-portable by the hex hop (the E147 move): an oracle
    without blob slicing can still state the expected output, and the
    registry face's oracle states it from the SYNTH SPEC, so the
    parity row proves the whole bytes-roundtrip (assemble → binary →
    parse) equals the specification.
    """
    magic = F.substring(F.col("media"), 1, 4).cast("string")
    fmt = F.create_map(*[F.lit(x) for kv in MEDIA_MAGICS.items()
                         for x in kv])
    known = F.element_at(fmt, magic)
    ok = (F.length("media") >= 8) & known.isNotNull()
    be16 = lambda pos: F.conv(  # noqa: E731
        F.hex(F.substring(F.col("media"), pos, 2)), 16, 10).cast("int")
    return media.select(
        "media_id",
        F.when(ok, known).otherwise(F.lit("unknown")).alias("format"),
        F.when(ok, be16(5)).otherwise(F.lit(None)).alias("width"),
        F.when(ok, be16(7)).otherwise(F.lit(None)).alias("height"),
        F.length("media").cast("long").alias("n_bytes"),
        ok.alias("header_ok"))
