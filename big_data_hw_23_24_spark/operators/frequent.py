"""Frequent-items operators: exact histogram, reservoir, sticky sampling.

Reference: ``G016HW3.java`` (streaming frequent items over an integer
stream). Three estimators maintained side by side:

* exact (``G016HW3.java:91-101, 148-172``): full histogram, report
  items with count ≥ phi·n;
* reservoir sampling of size m = ⌈1/phi⌉ (``G016HW3.java:103-120``):
  item at global index g replaces a uniform slot with prob m/(g+1);
  every item with frequency ≥ phi is in the sample in expectation;
* sticky sampling (``G016HW3.java:122-133``): sampling rate
  r = ln(1/(δ·phi))/ε; tracked keys always increment, new keys admitted
  with prob r/n; report keys with count ≥ (phi−ε)·n — an
  ε-approximate frequent-items guarantee with prob ≥ 1−δ.

The two samplers are *sequential by definition* (their guarantees are
stated over arrival order), so — exactly like the reference, which
updates them in a driver loop per micro-batch — they run driver-side
over each (n-capped, small) batch; see ``streaming/frequent_stream.py``
for the Structured Streaming harness, which also keeps the exact
histogram and the ± annotation.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# Count-min geometry: depth rows of width buckets.
CMS_DEPTH = 5
CMS_WIDTH = 2048
ROLLING_WINDOW_DAYS = 7  # trailing days of a rolling distinct count
ROLLING_KMV_K = 128  # KMV sketch size of a rolling distinct count
HLL_PS = (6, 12)  # log2 register counts the HLL report compares


def _cms_bucket(row_col, item_col, width: int, hash_family: str):
    """Bucket expression for one CMS vote — the hash family is part of
    the sketch's identity (a probe with the wrong family under-counts,
    silently breaking the one-sided guarantee), so it is carried ON
    the sketch like depth/width and resolved here for both the build
    and the probe. ``md5`` is the E76 engine-portable family: bucket =
    first-8-hex-of-md5("row:item") mod width, reproducible in any
    md5-bearing engine — the family a full value oracle runs on.

    The "row:item" key is only unambiguous while the row index is a
    single character: with depth > 10, row "1" + item "0:x" and row
    "10" + item such that the concatenations collide would correlate
    the supposedly independent CMS rows. ``cms_table`` therefore
    validates depth ≤ 10 for the md5 family (changing the key layout
    instead would silently invalidate every existing md5 oracle)."""
    if hash_family == "md5":
        key = F.concat(row_col.cast("string"), F.lit(":"),
                       item_col.cast("string"))
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        return F.pmod(h, F.lit(width))
    if hash_family != "xxhash64":
        raise ValueError(f"hash_family must be 'xxhash64' or 'md5', "
                         f"got {hash_family!r}")
    return F.pmod(F.xxhash64(row_col, item_col), F.lit(width))


def cms_table(items: DataFrame, item_col: str,
              hash_family: str = "xxhash64") -> DataFrame:
    """Count-min sketch as a ``(row, bucket, cnt)`` DataFrame.

    The idiomatic-Spark alternative to sticky sampling named in SURVEY
    §2.4 (K2): a fixed-size mergeable summary with one-sided error
    (estimates only over-count, by ≤ e/width · N with prob ≥ 1−e^−depth).
    Each item votes into one bucket per row via the fixed-width hash
    ``xxhash64(row, item)``.

    Scale shape: the explode is a narrow map (depth rows per item) and
    the aggregate partial-combines map-side, so at most depth·width
    rows per partition reach the shuffle — the sketch costs one
    bounded-output pass over the stream regardless of N. Sketches of
    disjoint slices merge by SUM on (row, bucket), which is what makes
    per-partition / per-day sketches composable at 100 TB.

    The sketch carries its own ``depth``/``width`` as constant columns:
    a probe with mismatched geometry would silently hash into the
    wrong buckets and can UNDER-count (breaking the one-sided-error
    guarantee), so ``cms_estimate`` reads and validates the geometry
    from the sketch itself instead of trusting call sites.
    """
    depth, width = CMS_DEPTH, CMS_WIDTH
    if hash_family == "md5" and depth > 10:
        raise ValueError(
            f"the md5 family's 'row:item' key is ambiguous past row 9 "
            f"(multi-char row indices can collide with items containing "
            f"':'), which would correlate the CMS rows and weaken the "
            f"error bound — depth must be <= 10 for md5, got {depth}")
    d = items.select(
        F.col(item_col).alias("_item"),
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"))
    bucket = _cms_bucket(F.col("row"), F.col("_item"), width, hash_family)
    return (d.groupBy("row", bucket.alias("bucket"))
            .agg(F.count("*").alias("cnt"))
            .withColumns({"depth": F.lit(depth), "width": F.lit(width),
                          "family": F.lit(hash_family)}))


def _cms_geometry(sketch: DataFrame) -> tuple[int, int, str]:
    """Read the (depth, width, family) carried by the sketch; O(1)
    driver pull. Sketches built before the family column existed read
    as the xxhash64 default."""
    if "depth" not in sketch.columns or "width" not in sketch.columns:
        raise ValueError("not a CMS sketch: missing depth/width columns "
                         "(build it with cms_table)")
    has_fam = "family" in sketch.columns
    cols = ["depth", "width"] + (["family"] if has_fam else [])
    row = sketch.select(*cols).first()
    if row is None:
        raise ValueError("empty CMS sketch: geometry unknown")
    return (row["depth"], row["width"],
            row["family"] if has_fam else "xxhash64")


def cms_estimate(sketch: DataFrame, candidates: DataFrame,
                 item_col: str) -> DataFrame:
    """Point-query the sketch for each distinct candidate → (item, est).

    est = min over rows of the item's bucket count (0 if the bucket is
    empty — the item was never inserted). The probe hashes with the
    (depth, width) carried BY the sketch, so a call site can never
    probe with mismatched geometry. The sketch side is bounded by
    depth·width rows *by construction*, so it is always broadcast: the
    probe is a map-side join however many candidates stream through.
    """
    depth, width, family = _cms_geometry(sketch)
    cand = (candidates.select(F.col(item_col).alias("item")).distinct()
            .select("item",
                    F.explode(F.sequence(F.lit(0),
                                         F.lit(depth - 1))).alias("row"))
            .withColumn("bucket",
                        _cms_bucket(F.col("row"), F.col("item"),
                                    width, family)))
    return (cand.join(F.broadcast(sketch.select("row", "bucket", "cnt")),
                      ["row", "bucket"], "left")
            .groupBy("item")
            .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("est")))


class ReservoirSampler:
    """Fixed-size-m uniform sample over a sequential stream (K1).

    Mirrors ``G016HW3.java:103-120``: for global index g (0-based),
    keep if g < m, else replace a uniform slot with prob m/(g+1).
    Seeded RNG replaces the reference's ``Math.random()`` so tests are
    reproducible (SURVEY §7 risk 2).
    """

    def __init__(self, m: int, seed: int = 42):
        self.m = m
        self.sample: list[int] = []
        self.g = 0  # items seen
        self.rng = random.Random(seed)

    def add(self, item: int) -> None:
        if self.g < self.m:
            self.sample.append(item)
        else:
            # prob m/(g+1) of replacing a uniform slot
            if self.rng.random() < self.m / (self.g + 1):
                self.sample[self.rng.randrange(self.m)] = item
        self.g += 1

    def add_many(self, items) -> None:
        for it in items:
            self.add(it)

    def estimated_frequent(self) -> list[int]:
        """Distinct sampled items, sorted (the reservoir's estimate)."""
        return sorted(set(self.sample))


class StickySampler:
    """Sticky sampling for (phi, ε, δ)-approximate frequent items (K2).

    Mirrors ``G016HW3.java:122-133`` with the fixed total stream length
    n known up front (the assignment's setting): sampling rate
    r = ln(1/(δ·phi))/ε, admission probability r/n per unseen item.
    """

    def __init__(self, phi: float, eps: float, delta: float, n: int,
                 seed: int = 42):
        self.phi, self.eps, self.delta, self.n = phi, eps, delta, n
        self.r = math.log(1.0 / (delta * phi)) / eps
        self.table: dict[int, int] = {}
        self.rng = random.Random(seed)

    def add(self, item: int) -> None:
        if item in self.table:
            self.table[item] += 1
        elif self.rng.random() < self.r / self.n:
            self.table[item] = 1

    def add_many(self, items) -> None:
        table, admit_p, rng = self.table, self.r / self.n, self.rng
        for it in items:
            if it in table:
                table[it] += 1
            elif rng.random() < admit_p:
                table[it] = 1

    def estimated_frequent(self) -> list[int]:
        """Keys with count ≥ (phi−ε)·n (G016HW3.java:200-206), sorted."""
        thr = (self.phi - self.eps) * self.n
        return sorted(k for k, v in self.table.items() if v >= thr)


def space_saving_summaries(df: DataFrame, item_col: str,
                           k: int) -> DataFrame:
    """Per-partition SpaceSaving summaries (Metwally et al. 2005) →
    ``(pid, item, est, err)`` with at most ``k`` counters per
    partition.

    The classical counter algorithm: track ≤ k items; a new item
    evicts the minimum counter and inherits its count as
    overestimation error. Within a partition:
    ``true ≤ est ≤ true + err`` and ``err ≤ N_p / k``.

    Runs as one Arrow ``mapInPandas`` pass — each task streams its
    partition through k counters in a dict, emitting k rows. This is
    the map side of the MERGEABLE heavy-hitters summary
    (Agarwal et al. 2012): :func:`space_saving_topk` unions the
    per-partition summaries for a global N/k guarantee. The
    sequential driver-side samplers (reservoir/sticky) answer the
    arrival-ORDER-dependent faces; SpaceSaving is order-insensitive
    in its guarantee, which is what makes it distributable.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    import pandas as pd

    def run(batches):
        counters: dict = {}
        errors: dict = {}
        for pdf in batches:
            for item in pdf[item_col]:
                if item in counters:
                    counters[item] += 1
                elif len(counters) < k:
                    counters[item] = 1
                    errors[item] = 0
                else:
                    evict = min(counters, key=lambda i: (counters[i], i))
                    floor = counters.pop(evict)
                    errors.pop(evict)
                    counters[item] = floor + 1
                    errors[item] = floor
        yield pd.DataFrame({
            "item": list(counters),
            "est": [int(counters[i]) for i in counters],
            "err": [int(errors[i]) for i in counters],
        })

    out = (df.select(F.col(item_col).cast("string").alias(item_col))
           .mapInPandas(run, "item string, est long, err long"))
    return out.withColumn("pid", F.spark_partition_id())


def space_saving_topk(df: DataFrame, item_col: str, k: int,
                      out_k: int | None = None) -> DataFrame:
    """Distributed SpaceSaving heavy hitters → ``(item, est_max,
    est_min, rank)``: per-partition summaries merged into global
    bounds.

    Merge (Agarwal et al. 2012, "Mergeable summaries"): for each
    item, sum its per-partition estimates; for partitions where the
    item is ABSENT its true local count is at most that partition's
    minimum counter, so ``est_max`` adds those thresholds and
    ``est_min = Σ(est − err)`` only sums proven mass. Any item with
    global frequency > Σ N_p / k is guaranteed present in at least
    one summary. Output ranked by ``est_max`` desc (ties by item).

    Scale shape: each partition emits ≤ k rows; the merge is one
    aggregate over P×k rows plus a broadcast of the P-row threshold
    table — the corpus is read once, nothing corpus-scale shuffles.
    """
    from pyspark.sql import Window

    summaries = space_saving_summaries(df, item_col, k).persist()
    thresholds = (summaries.groupBy("pid")
                  .agg(F.min("est").alias("thr"),
                       F.count("*").alias("n_counters"))
                  # a partition with spare counter slots never evicted:
                  # an absent item's local count there is exactly 0
                  .select("pid", F.when(F.col("n_counters") < k,
                                        F.lit(0)).otherwise(F.col("thr"))
                          .alias("thr")))
    total_thr = thresholds.agg(F.sum("thr").alias("_t"))
    per_item = (summaries.groupBy("item")
                .agg(F.sum("est").alias("_sum_est"),
                     F.sum(F.col("est") - F.col("err"))
                     .alias("est_min")))
    # threshold mass of partitions that DID see the item, to subtract
    seen_thr = (summaries.join(thresholds, "pid")
                .groupBy("item").agg(F.sum("thr").alias("_seen_thr")))
    merged = (per_item.join(seen_thr, "item")
              .crossJoin(F.broadcast(total_thr))
              .select("item",
                      (F.col("_sum_est") + F.col("_t")
                       - F.col("_seen_thr")).cast("long")
                      .alias("est_max"),
                      F.col("est_min").cast("long").alias("est_min")))
    w = Window.orderBy(F.col("est_max").desc(), F.col("item"))
    ranked = merged.withColumn("rank", F.row_number().over(w))
    return ranked.where(F.col("rank") <= (out_k or k))


# --- KMV distinct-count sketch (E135) ------------------------------------------

_KMV_HASH_BITS = 60  # 15 md5 hex chars: positive in a signed 64-bit long
_KMV_HASH_SPACE = float(1 << _KMV_HASH_BITS)


def kmv_hash(col: Column) -> Column:
    """The engine-portable KMV hash: first 15 hex chars of md5 as a
    60-bit non-negative integer (Spark ``conv`` == DuckDB
    ``('0x'||substr(md5(x),1,15))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
                  16, 10).cast("long")


def kmv_sketch(df: DataFrame, item_col: str, group_col: str,
               k: int = 64) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    → per group the ``k`` SMALLEST distinct 60-bit md5 hashes of the
    item, as rows ``(grp, h, rank)``.

    Unlike HLL (whose register layout is engine-private, so its face
    is rows-only), KMV is FULLY deterministic given the hash: both
    engines compute identical sketches, hash by hash — a sketch with a
    complete value oracle. Same uniform-hashing model as HLL; stderr
    ≈ 1/√(k−2).

    Mergeable by construction: the k smallest hashes of A ∪ B are a
    subset of sketch(A) ∪ sketch(B), so the k smallest of the union
    of partial sketches EQUAL the whole-data sketch exactly (the
    property that makes any sketch scale).

    Scale shape: distinct (grp, h) — one keyed aggregate — then the
    two-stage grouped top-k (per-partition heaps, never a per-group
    reducer funnel); the sketch is ≤ k rows per group.

    Like the CMS family, the sketch carries its own ``k`` as a constant
    column: a k mismatch between build and estimate would silently take
    the wrong order statistic AND the wrong exact/estimator branch, so
    :func:`kmv_estimate` reads and validates k from the sketch instead
    of trusting call sites.
    """
    d = (df.select(F.col(group_col).alias("grp"),
                   kmv_hash(F.col(item_col)).alias("h"))
         .distinct())
    from .grouped import grouped_topk

    return (grouped_topk(d, ["grp"], [F.col("h")], k)
            .withColumn("k", _kmv_k_lit(k)))


def _kmv_k_lit(k: int) -> Column:
    """The carried-k column: a literal stamped with schema METADATA so
    consumers resolve k from the plan — no driver job — and an empty
    sketch still knows its k (metadata survives select/union/parquet;
    the literal value stays as the row-level fallback for sketches
    rebuilt through metadata-stripping transforms)."""
    return F.lit(k).alias("k", metadata={"kmv_k": k})


def _kmv_k(sketch: DataFrame, k: int | None) -> int | None:
    """Resolve the sketch's k: prefer the schema metadata stamped by
    :func:`kmv_sketch` (plan-side, no driver job),
    fall back to reading the carried column (one O(1) driver pull),
    and validate any explicitly-passed value against it.

    A legitimately EMPTY sketch whose metadata was stripped has no row
    to read — but any k is consistent with it (every downstream
    aggregate is empty regardless), so resolution returns the passed
    ``k``, which may be ``None`` ("any k"); callers treat None as
    free choice over an empty result, never an error."""
    carried = None
    if "k" in sketch.columns:
        meta = sketch.schema["k"].metadata or {}
        if "kmv_k" in meta:
            carried = int(meta["kmv_k"])
        else:
            row = sketch.select("k").first()
            if row is None:  # empty + metadata-stripped: any k fits
                return k
            carried = int(row["k"])
    if carried is None:  # pre-k-column build
        if k is None:
            raise ValueError("sketch does not carry k (built before "
                             "kmv_sketch stamped it) — pass k=")
        return k
    if k is not None and k != carried:
        raise ValueError(f"k mismatch: sketch was built with k={carried} "
                         f"but k={k} was passed — the estimate would use "
                         f"the wrong order statistic")
    return carried


def kmv_estimate(sketch: DataFrame, k: int | None = None) -> DataFrame:
    """Estimate per group → ``(grp, n_sketch, kth_hash, est_distinct)``.

    With fewer than ``k`` distinct hashes the sketch IS the distinct
    set (exact count); at ``k`` the standard KMV estimator
    ``(k−1) / u_k`` with ``u_k`` the k-th smallest hash normalized to
    (0, 1]. The division runs in IEEE doubles in both engines and is
    rounded to 6, so the oracle compares exactly. ``k`` is read from
    the sketch (passing it explicitly only validates).
    """
    k = _kmv_k(sketch, k)
    if k is None:  # empty metadata-stripped sketch: no groups exist,
        k = 2      # the estimator below never evaluates — any k works
    n = F.count("*").cast("long")
    kth = F.max("h")
    est = F.when(
        n < k, n.cast("double")).otherwise(
        F.round(F.lit(float(k - 1)) * F.lit(_KMV_HASH_SPACE) / kth, 6))
    return (sketch.groupBy("grp")
            .agg(n.alias("n_sketch"), kth.alias("kth_hash"),
                 est.alias("est_distinct")))


def kmv_set_ops(sketch: DataFrame) -> DataFrame:
    """Pairwise set-operation estimates from KMV sketches (E153) →
    ``(grp_a, grp_b, n_s, n_common, est_union, est_intersection,
    est_jaccard)`` for ``grp_a < grp_b``.

    The theta-sketch pattern on KMV (Beyer et al. 2007): for groups
    A, B let S = the k smallest hashes of sketch(A) ∪ sketch(B) —
    EXACTLY the sketch of A ∪ B, by mergeability — and ρ = the
    fraction of S present in BOTH input sketches. ρ is an unbiased
    Jaccard estimator (each of the k union-minima is a uniform draw
    from A ∪ B), est_union is the standard (k−1)/u_k on S (exact
    below k), and est_intersection = ρ·est_union. This is how
    sketch stores answer "how many users did both X and Y" without
    ever joining the raw sets: everything after the per-group
    sketches is arithmetic over ≤ k rows per pair.

    Scale shape: the pair grid is #groups², built from the distinct
    group table (bounded — this operator is for dimension-keyed
    sketches); the union re-rank rides the same two-stage grouped
    top-k as the sketches themselves.
    """
    from .grouped import grouped_topk

    k = _kmv_k(sketch, None)
    if k is None:  # empty metadata-stripped sketch: no pairs exist
        k = 2
    grps = sketch.select("grp").distinct()
    pairs = (grps.alias("x").join(grps.alias("y"),
                                  F.col("x.grp") < F.col("y.grp"))
             .select(F.col("x.grp").alias("grp_a"),
                     F.col("y.grp").alias("grp_b")))
    ha = sketch.select(F.col("grp").alias("grp_a"), "h")
    hb = sketch.select(F.col("grp").alias("grp_b"), "h")
    u = (pairs.join(ha, "grp_a").select("grp_a", "grp_b", "h")
         .unionByName(pairs.join(hb, "grp_b")
                      .select("grp_a", "grp_b", "h"))
         .distinct())
    s = grouped_topk(u, ["grp_a", "grp_b"], [F.col("h")], k)
    flagged = (s.join(ha.withColumn("_a", F.lit(True)), ["grp_a", "h"],
                      "left")
               .join(hb.withColumn("_b", F.lit(True)), ["grp_b", "h"],
                     "left"))
    n_s = F.count("*").cast("long")
    n_common = F.count_if(F.col("_a") & F.col("_b")).cast("long")
    u_k = F.max("h")
    est_union_raw = F.when(
        n_s < k, n_s.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(_KMV_HASH_SPACE) / u_k)
    return (flagged.groupBy("grp_a", "grp_b")
            .agg(n_s.alias("n_s"), n_common.alias("n_common"),
                 F.round(est_union_raw, 6).alias("est_union"),
                 F.round(n_common * est_union_raw / n_s, 6)
                 .alias("est_intersection"),
                 F.round(n_common / n_s, 6).alias("est_jaccard")))


def rolling_distinct_kmv(df: DataFrame, item_col: str,
                         day_col: str) -> DataFrame:
    """Trailing-window distinct counts from per-day KMV sketches
    (E180) → ``(day_num, n_days, n_sketch, est_distinct,
    exact_distinct)`` for every observed day.

    The streaming-analytics classic ("7-day active users"), done the
    way it scales: an exact rolling countDistinct re-touches every
    raw row ``window`` times, while the sketch path aggregates each
    day ONCE into ≤ k (``ROLLING_KMV_K``) hash rows and the window
    merge works on day-grid-sized data — mergeability (the k smallest
    of a union of per-day sketches IS the window's sketch, exactly) is
    the whole point of carrying a sketch per partition of time.
    Windows are keyed by the trailing ``ROLLING_WINDOW_DAYS`` ending at
    each observed day; partial windows at the corpus start report their smaller
    ``n_days``. The EXACT rolling distinct rides along (the gate
    convention), so the estimator's error is reported, never assumed.
    """
    from .grouped import grouped_topk

    e = (df.select(F.col(day_col).alias("_d"),
                   F.col(item_col).alias("_i"))
         .distinct().localCheckpoint(eager=True))  # sketch + exact read it
    days = (e.select(F.col("_d").alias("wd")).distinct()
            .localCheckpoint(eager=True))          # three consumers
    span = F.sequence(F.col("_d"), F.col("_d") + (ROLLING_WINDOW_DAYS - 1))
    sk = (kmv_sketch(e, "_i", "_d", k=ROLLING_KMV_K)
          .select(F.col("grp").alias("_d"), "h"))
    merged = (sk.withColumn("wd", F.explode(span))
              .join(days, "wd", "left_semi")
              .select(F.col("wd").alias("grp"), "h").distinct())
    # the merged window sketch IS a KMV sketch of the window — rank
    # it, stamp k, and let kmv_estimate do the estimating (one
    # estimator implementation, not a third inline copy)
    wsk = (grouped_topk(merged, ["grp"], [F.col("h")], ROLLING_KMV_K)
           .withColumn("k", _kmv_k_lit(ROLLING_KMV_K)))
    est = (kmv_estimate(wsk, k=ROLLING_KMV_K)
           .select(F.col("grp").alias("wd"), "n_sketch",
                   "est_distinct"))
    exact = (e.withColumn("wd", F.explode(span))
             .join(days, "wd", "left_semi")
             .groupBy("wd")
             .agg(F.countDistinct("_i").cast("long")
                  .alias("exact_distinct")))
    nd = (days.select(F.col("wd").alias("_md"))
          .withColumn("wd", F.explode(F.sequence(
              F.col("_md"), F.col("_md") + (ROLLING_WINDOW_DAYS - 1))))
          .join(days, "wd", "left_semi")
          .groupBy("wd").agg(F.count("*").cast("long").alias("n_days")))
    return (nd.join(est, "wd").join(exact, "wd")
            .select(F.col("wd").cast("long").alias("day_num"),
                    "n_days", "n_sketch", "est_distinct",
                    "exact_distinct"))


def _hll_alpha(m: int) -> float:
    """Standard HLL bias constants (Flajolet et al. 2007)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_registers(df: DataFrame, item_col: str, group_col: str,
                  p: int = 6) -> DataFrame:
    """md5-pinned HyperLogLog registers (E205) → per group the
    PRESENT registers as rows ``(grp, bucket, rho)``.

    The sketch family's last rows-only member made value-checkable:
    the built-in ``hll_sketch_agg`` face stays rows-only because its
    register layout is engine-private — this build pins every bit
    instead. Hash = the engine-portable 60-bit md5 (kmv_hash); bucket
    = the top ``p`` bits (shiftright), remainder = the low 60−p bits
    (mask); rho = leading zeros in the remainder field + 1, computed
    as ``(60−p) + 1 − digitlen₂(rem)`` via base-2 string length
    (Spark ``conv(x,10,2)`` ≡ DuckDB ``bin(x)``, both strip leading
    zeros) — NO floating log2, whose floor can miss at exact powers
    of two. Register value = max rho per bucket; absent buckets are
    implicit zeros (the estimator counts them arithmetically — no
    m-row grid join needed).

    Mergeable by construction: registers of a union = per-bucket max
    of partial registers (pinned by test). Scale: one hash aggregate
    to ≤ m rows per group, map-side combinable — the minimum possible
    work for a distinct sketch.
    """
    rem_bits = 60 - p
    h = kmv_hash(F.col(item_col))
    bucket = F.shiftright(h, rem_bits)
    rem = h.bitwiseAND(F.lit((1 << rem_bits) - 1))
    rho = F.when(rem > 0,
                 F.lit(rem_bits + 1) - F.length(F.conv(rem, 10, 2))) \
        .otherwise(F.lit(rem_bits + 1))
    return (df.select(F.col(group_col).alias("grp"),
                      bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("grp", "bucket")
            .agg(F.max("rho").cast("long").alias("rho")))


def hll_estimate(regs: DataFrame, p: int) -> DataFrame:
    """Estimate distinct counts from pinned HLL registers → per group
    ``(grp, m, est)``.

    The harmonic sum is EXACT integer arithmetic: Σ2^(−ρⱼ) scaled by
    2^(rem_bits+1) makes every term a long (zero registers contribute
    2^(rem_bits+1) each, counted as m − #present — never materialized),
    so both engines divide the same integer by the same power of two
    and the estimate is bit-identical before its round. Small-range
    branch: raw ≤ 2.5m with V > 0 empty registers → linear counting
    m·ln(m/V), the standard correction; branch selection compares
    exact doubles, so it cannot diverge across engines.
    """
    m = 1 << p
    rem_bits = 60 - p
    alpha = _hll_alpha(m)
    scale = 1 << (rem_bits + 1)
    # the Python shiftleft() helper takes only a literal bit count;
    # the SQL form accepts a column expression for it
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {rem_bits + 1} - rho)")
    agg = regs.groupBy("grp").agg(
        F.count("*").cast("long").alias("_nb"),
        F.sum(term).alias("_s_present"))
    v = F.lit(m) - F.col("_nb")
    s = (F.col("_s_present")
         + v.cast("long") * F.lit(scale).cast("long")) / F.lit(float(scale))
    raw = F.lit(alpha * m * m) / s
    est = F.when((raw <= 2.5 * m) & (v > 0),
                 F.lit(float(m)) * F.log(F.lit(float(m)) / v)) \
        .otherwise(raw)
    return agg.select("grp", F.lit(m).cast("long").alias("m"),
                      est.alias("est"))


def hll_report(df: DataFrame, item_col: str, group_col: str) -> DataFrame:
    """Pinned-HLL rollout gate → one row per (group, m): ``(grp, m,
    n_exact, est, rel_err)``.

    Runs the estimator at several register counts (``HLL_PS``) against
    the exact distinct count, so BOTH estimator branches stay value-checked on
    natural data: small m → raw harmonic estimate, large m (n ≪ m)
    → linear counting. rel_err = (est − n)/n, the number that decides
    whether a given m is deployable for this key's cardinality.
    """
    exact = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.countDistinct(item_col).cast("long").alias("n_exact"))
    outs = []
    for p in HLL_PS:
        e = hll_estimate(hll_registers(df, item_col, group_col, p), p)
        outs.append(e)
    ests = outs[0]
    for o in outs[1:]:
        ests = ests.unionByName(o)
    return (ests.join(exact, "grp")
            .select(F.col("grp").alias(group_col), "m", "n_exact",
                    F.round("est", 2).alias("est"),
                    F.round((F.col("est") - F.col("n_exact"))
                            / F.col("n_exact"), 6).alias("rel_err")))
