"""Deterministic content-hash dataset splits (train/val/test).

A training-data pipeline needs splits that are (a) reproducible across
runs and engines, (b) stable under re-ingestion — a document's split
must not depend on row order, partitioning, or a session seed — and
(c) leakage-resistant: the SAME content always lands in the SAME
split. Random sampling (``df.sample``/``sampleBy``) gives none of
these; hashing the content does.

Design: bucket = the first ``BUCKET_CHARS`` hex digits of
``md5(key)``, compared lexicographically against cumulative-fraction
thresholds. Everything stays a narrow JVM-side map — no shuffle, no
state, no seed — and the identical expression is computable in any
engine with ``md5`` (the DuckDB oracle uses the same substring
compare, so the assignment is value-checked end to end).

Near-duplicate documents hash to different buckets, so run
deduplication (``operators.dedup``) BEFORE splitting when leakage
through near-dups matters; content-hash splitting guarantees identity
leakage only.

Scale shape: one pass, zero shuffles, trivially parallel at 100 TB.
md5 is overkill-strong for bucketing but is the one hash every engine
computes bit-identically on UTF-8 text, which is what makes the split
portable; xxhash64 would be faster but is Spark-specific.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKET_CHARS = 4  # md5 hex digits behind each split or copy draw
SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}


def split_thresholds(fractions: dict[str, float]) -> list[tuple[str, str]]:
    """(name, upper-bound hex) per split, cumulative, last bound open.

    Bounds are zero-padded lowercase hex of ``floor(cum_frac * 16^n)``
    so a lexicographic compare on the hex prefix is an integer compare.
    The final split takes the remainder (its bound is ignored), so the
    fractions need not sum to exactly 1.0.
    """
    if not fractions:
        raise ValueError("at least one split required")
    if any(f < 0 for f in fractions.values()):
        raise ValueError(f"negative fraction in {fractions}")
    space = 16 ** BUCKET_CHARS
    out, cum = [], 0.0
    for name, frac in fractions.items():
        cum += frac
        bound = min(int(cum * space), space)
        out.append((name, format(bound, f"0{BUCKET_CHARS}x")))
    return out


def hash_split(df: DataFrame, key: Column | str) -> DataFrame:
    """Assign each row a deterministic split from its content hash.

    ``key`` is the column (or Column expression) whose md5 decides the
    bucket — typically the document text (content-keyed: re-ingested
    copies land identically) or a stable id. Adds ``bucket`` (the hex
    prefix) and ``split``; never drops or reorders rows.
    """
    key = F.col(key) if isinstance(key, str) else key
    bucket = F.substring(F.md5(key), 1, BUCKET_CHARS)
    bounds = split_thresholds(SPLIT_FRACTIONS)
    assign = F.lit(bounds[-1][0])
    for name, bound in reversed(bounds[:-1]):
        assign = F.when(bucket < bound, name).otherwise(assign)
    return df.withColumn("bucket", bucket).withColumn("split", assign)


def mix_sources(df: DataFrame, rates: dict[str, float],
                default_rate: float = 0.0) -> DataFrame:
    """Deterministic per-source downsampling to target mixture rates
    → input rows + (bucket, keep_rate, keep).

    The data-mixing step of corpus assembly: up/down-weighting sources
    (web / code / reference / …) to a target recipe. Each source keeps
    the fraction ``rates[source]`` of its rows (sources absent from
    ``rates`` keep ``default_rate``), decided by the same content-hash
    bucket as ``hash_split`` — so the sample is reproducible across
    runs and engines, stable under re-ingestion, and consistent: a
    source at rate 0.3 keeps a SUBSET of what it would keep at 0.5,
    which lets a pipeline tighten the mix without re-shuffling history.
    Pure narrow map, zero shuffle; callers filter on ``keep``.
    """
    if any(not 0 <= r <= 1 for r in rates.values()):
        raise ValueError(f"rates must be in [0,1]: {rates}")
    if not 0 <= default_rate <= 1:
        raise ValueError(f"default_rate must be in [0,1]: {default_rate}")
    bucket_chars = BUCKET_CHARS
    space = 16 ** bucket_chars
    # keep-fractions are floored to 1/space granularity (BUCKET_CHARS=4
    # → 1/65536 ≈ 1.5e-5). A nonzero rate that floors to zero buckets
    # would silently keep NO rows — that's a config error, not a
    # sampling decision, so fail loudly and point at the fix. (Note
    # boundary rows near a threshold can flip when BUCKET_CHARS
    # changes; pick the width once per corpus.)
    unrepresentable = {s: r for s, r in
                       {**rates, "<default>": default_rate}.items()
                       if 0 < r and int(r * space) == 0}
    if unrepresentable:
        raise ValueError(
            f"rates {unrepresentable} are below 1/{space} and would keep "
            f"zero rows at BUCKET_CHARS={bucket_chars}; raise BUCKET_CHARS "
            f"(8 gives ~2.3e-10 granularity)")
    bucket = F.substring(F.md5(F.col("text")), 1, bucket_chars)

    def bound(rate: float) -> str:
        b = min(int(rate * space), space)
        # a full-space bound would format one char longer and compare
        # lexicographically SMALLER than letter-leading buckets; "g"
        # sorts after every hex digit, so rate 1.0 keeps everything
        return "g" if b == space else format(b, f"0{bucket_chars}x")

    rate_col = F.lit(default_rate)
    thresh = F.lit(bound(default_rate))
    for src, rate in sorted(rates.items()):
        is_src = F.col("source") == src
        rate_col = F.when(is_src, F.lit(rate)).otherwise(rate_col)
        thresh = F.when(is_src, F.lit(bound(rate))).otherwise(thresh)
    return (df.withColumn("bucket", bucket)
            .withColumn("keep_rate", rate_col)
            .withColumn("keep", bucket < thresh))


def temperature_resample(df: DataFrame, alpha: float = 0.5) -> DataFrame:
    """Deterministic temperature-based source UP-sampling → one output
    row per copy, with ``(multiplicity, n_copies, copy)`` attached.

    The multilingual/low-resource mixing rule (XLM-R, mT5, Gopher data
    recipes): sample source s proportionally to ``n_s^alpha``, i.e.
    give each of its documents multiplicity ``m_s = (n_max/n_s)^(1-α)``
    — the largest source stays at 1 copy, smaller sources are
    upsampled toward balance as α → 0 (α = 1 is the natural mix,
    unchanged). Fractional parts are realized per document by the
    engine's content-hash convention: every doc gets ``floor(m_s)``
    copies plus one more iff its md5 bucket falls below
    ``frac(m_s)·16^BUCKET_CHARS`` — reproducible across runs, engines
    and partitionings, no RNG.

    α = 0.5 (the common default) is computed via ``sqrt``, which IEEE
    requires to be correctly rounded — so the whole multiplicity
    computation (division, sqrt, floor, multiply) is bit-identical in
    any engine and the operator is fully oracle-checkable. Other α go
    through ``pow``, whose last-ulp behavior is engine-specific;
    boundary flips are measure-zero but not impossible there.

    Scale shape: one tiny per-source count aggregate (+ its 1-row max)
    broadcast back; replication is a narrow ``explode(sequence)`` —
    the corpus itself never shuffles.
    """
    if not 0 < alpha <= 1:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    space = 16 ** BUCKET_CHARS

    # NULL sources form their own group under groupBy, but an inner
    # equi-join would silently DROP them (NULL never equals NULL) —
    # an upsampling operator must not delete rows. Key the join on a
    # null-coalesced shadow column instead.
    skey = F.coalesce(F.col("source").cast("string"),
                      F.lit("\u0000<null>"))
    df = df.withColumn("_srckey", skey)
    counts = df.groupBy("_srckey").agg(F.count("*").alias("_ns"))
    nmax = counts.agg(F.max("_ns").alias("_nmax"))
    ratio = F.col("_nmax") / F.col("_ns")
    m = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    stats = (counts.crossJoin(F.broadcast(nmax))
             .select("_srckey",
                     F.round(m, 6).alias("multiplicity"),
                     F.floor(m).cast("long").alias("_base"),
                     F.floor((m - F.floor(m)) * space).cast("long")
                     .alias("_extra")))

    bucket_int = (F.conv(F.substring(F.md5(F.col("text")), 1, BUCKET_CHARS),
                         16, 10).cast("long"))
    n_copies = (F.col("_base")
                + (bucket_int < F.col("_extra")).cast("long"))
    return (df.join(F.broadcast(stats), "_srckey")
            .withColumn("n_copies", n_copies)
            .withColumn("copy",
                        F.explode(F.sequence(F.lit(1), F.col("n_copies"))))
            .drop("_base", "_extra", "_srckey"))


def leakage_safe_split(docs: DataFrame, components: DataFrame) -> DataFrame:
    """Near-dup-aware train/val/test split: every member of a near-dup
    COMPONENT lands in the same split, so an eval document can never
    be a close copy of a training document.

    A plain content-hash split (``hash_split``) leaks by construction:
    two near-duplicates hash independently, and with a 10% val split
    about 1 in 6 duplicate pairs straddles train/eval — exactly the
    contamination that inflates benchmark numbers (Lee et al. 2022
    measure this on C4). Keying the hash on the CONNECTED COMPONENT
    label instead (``operators/components.py``; singletons key on
    their own id) makes the straddle probability zero while keeping
    the assignment deterministic and engine-portable.

    Shape: one left join of the corpus against the (doc, component)
    table — components cover only docs with at least one near-dup, so
    the join's build side is the duplicate subset, not the corpus —
    then the same narrow md5-bucket map as ``hash_split``. No new
    shuffle beyond the join.
    """
    lbl = components.select(F.col("doc_id"), F.col("component"))
    joined = docs.join(lbl, "doc_id", "left")
    gkey = F.coalesce(F.col("component"), F.col("doc_id")).cast("string")
    return hash_split(joined.withColumn("_gkey", gkey),
                      "_gkey").drop("_gkey")


def rendezvous_shard(key: Column, n_shards: int) -> Column:
    """Rendezvous (highest-random-weight) shard assignment: shard =
    argmax over s of h(key, s) — the consistent-hashing form with NO
    ring state to store, and the same minimal-movement guarantee:
    growing N → N+1 moves ONLY the keys whose new shard wins, ~1/(N+1)
    of them, because every existing score is unchanged.

    The per-shard hash is the engine-portable md5 prefix
    (``conv(substr(md5(key || ':' || s), 1, 15), 16, 10)``, the E76
    convention), so an oracle replays the assignment bit-for-bit.
    Ties are measure-zero in the 60-bit space; ``array_position`` of
    the max breaks them toward the lower shard deterministically.
    """
    scores = F.array(*[
        F.conv(F.substring(
            F.md5(F.concat(key.cast("string"), F.lit(f":{s}"))), 1, 15),
            16, 10).cast("long")
        for s in range(n_shards)])
    return (F.array_position(scores, F.array_max(scores)) - 1).cast("int")


def shard_movement_report(df: DataFrame, key_col: str,
                          n_from: int, n_to: int) -> DataFrame:
    """Shard-count change audit (E167) → one row per target shard:
    ``(shard, n_at_from, n_at_to, moved_in)`` under rendezvous
    hashing with ``n_from`` → ``n_to`` shards.

    The capacity-planning question ("what does adding a shard
    actually move?") answered as data: rendezvous guarantees keys
    move ONLY onto the new shards, so ``moved_in`` is 0 for every
    surviving shard and ≈ n/n_to on each new one — the report
    MEASURES the guarantee instead of asserting it (the E156 move).
    Both assignments are narrow expressions over one scan; the report
    is one n_to-group aggregate.
    """
    key = F.col(key_col)
    a = df.select(rendezvous_shard(key, n_from).alias("_f"),
                  rendezvous_shard(key, n_to).alias("_t"))
    return (a.groupBy(F.col("_t").alias("shard"))
            .agg(F.sum(F.when(F.col("_f") == F.col("_t"), 1).otherwise(0))
                 .cast("long").alias("_stay"),
                 F.count("*").cast("long").alias("n_at_to"),
                 F.sum(F.when(F.col("_f") != F.col("_t"), 1).otherwise(0))
                 .cast("long").alias("moved_in"))
            .join(a.groupBy(F.col("_f").alias("shard"))
                  .agg(F.count("*").cast("long").alias("n_at_from")),
                  "shard", "full_outer")
            .select("shard",
                    F.coalesce("n_at_from", F.lit(0)).cast("long")
                    .alias("n_at_from"),
                    F.coalesce("n_at_to", F.lit(0)).cast("long")
                    .alias("n_at_to"),
                    F.coalesce("moved_in", F.lit(0)).cast("long")
                    .alias("moved_in")))
