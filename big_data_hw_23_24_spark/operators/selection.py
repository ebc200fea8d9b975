"""Deterministic corpus selection: exact per-stratum sampling and
token-budget curation.

Data mixing (operators.splits) answers "what FRACTION of each source
goes in"; these operators answer the other two curation questions a
training run actually asks:

* ``stratified_sample`` — "give me exactly k documents per source,
  reproducibly" (eval-set carving, per-domain probes, ablation
  subsets). Rate-based mixing can't hit an exact count; ``df.sample``
  isn't reproducible across engines or partitionings. Ordering by the
  md5 of the key is both: a uniform, seed-free, engine-portable
  shuffle.
* ``quality_budget`` — "fill a token budget with the best documents"
  (the compute-optimal data-curation step: rank by a quality signal,
  take documents in rank order until the budget is spent).

Scale shapes:

* Per-stratum top-k runs in TWO keyed stages: stage 1 ranks within
  ``(stratum, physical partition)`` — P×S reducers, each seeing only
  its slice — and keeps k; stage 2 ranks the surviving ≤ k·P rows per
  stratum. The global top-k per stratum is always a subset of the
  per-partition top-ks, so this is exact; no stratum ever funnels all
  its rows through one task, which is what a naive
  ``row_number() OVER (PARTITION BY source)`` does to a 10 TB stratum.
* The budget cut uses :func:`operators.ranking.global_cumsum` — the
  two-pass range-partitioned prefix sum — so no single-partition
  window ever sees the corpus.

The reference engine has no sampling surface beyond the sequential
reservoir (G016HW3.java:104-120, K1); both operators here are
north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import global_cumsum

PRIORITY_HASH_CHARS = 12  # md5 hex digits behind each priority draw
PRIORITY_SALT = "ps"  # salt of priority_sample's draws
DSIR_EPS = 1e-6  # dsir_importance's probability-space smoothing
SHARD_TARGET_TOKENS = 2000  # tokens per shard_manifest shard
DSIR_BUCKET_CHARS = 3  # md5 hex digits behind each DSIR bigram bucket
NEGATIVES_K = 4  # negatives contrastive_negatives draws per anchor
MAX_EPOCHS = 2.0  # epoch_schedule's cap on repeating a source
CALIBRATION_TILES = 10  # score deciles of quality_calibration
CALIBRATION_MAX_HITS = 1  # term hits a document keeps under calibration


def stratified_sample(df: DataFrame, strata_cols: list[str], k: int,
                      key: Column | str) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by md5
    order of ``key`` — deterministic across runs, partitionings and
    engines. ``key`` must be unique per row (it is the tiebreak).

    Adds ``sample_rank`` (1-based within the stratum, in the same md5
    order) so callers can take nested subsamples (rank ≤ j for j < k)
    that are prefix-consistent with the full sample.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from .grouped import grouped_topk

    key = F.col(key) if isinstance(key, str) else key
    h = F.md5(key.cast("string"))
    return grouped_topk(df.withColumn("_h", h), strata_cols,
                        [F.col("_h"), key], k,
                        rank_col="sample_rank").drop("_h")


def quality_budget(df: DataFrame, order_by: list[Column | str],
                   size_col: str, budget: int,
                   cum_col: str = "cum_size") -> DataFrame:
    """Take rows in ``order_by`` order (best first — pass descending
    quality plus a unique tiebreaker) until the running total of
    ``size_col`` reaches ``budget``.

    Keeps rows whose INCLUSIVE running total fits the budget (never
    overshoots). The returned frame carries ``cum_col`` so downstream
    stages can see how full the budget ran.
    """
    if budget < 0:
        raise ValueError(f"budget must be non-negative, got {budget}")
    cum = global_cumsum(df, order_by, size_col, out_col=cum_col)
    return cum.where(F.col(cum_col) <= budget)


def token_shards(df: DataFrame, order_by: list[Column | str], size_col: str,
                 target: int, cum_col: str = "cum_size") -> DataFrame:
    """Assign rows to ~``target``-sized shards in ``order_by`` order —
    equal-WORK output shards (by token/byte count, not row count),
    the layout a training run actually wants: every data-parallel
    reader streams the same number of tokens.

    shard = floor(start_offset / target), where start_offset is the
    exclusive prefix sum of ``size_col`` — each row lands in the shard
    its first token falls in, so shard sizes deviate from ``target``
    by at most one document. The prefix sum is the range-partitioned
    two-pass :func:`operators.ranking.global_cumsum`; downstream, a
    parquet write partitioned by ``shard`` gives one directory per
    shard. Pass an md5-of-key order for a deterministic pre-shuffled
    layout (the engine's seed-free convention).
    """
    if target <= 0:
        raise ValueError(f"target must be positive, got {target}")
    cum = global_cumsum(df, order_by, size_col, out_col=cum_col)
    return cum.withColumn(
        "shard",
        F.floor((F.col(cum_col) - F.col(size_col)) / target)
        .cast("bigint"))


def dsir_importance(docs: DataFrame, is_target: Column) -> DataFrame:
    """DSIR-style importance weights → ``(doc_id, n_feats, weight)``.

    Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023): model the TARGET domain (rows where ``is_target``) and the
    RAW corpus as bag-of-hashed-bigram distributions, then weight
    every document by the average log-likelihood ratio of its
    features — ``weight = Σ c_f·(ln p̂_target(f) − ln p̂_raw(f)) / Σ
    c_f`` with ``p̂ = c/T + DSIR_EPS``. Documents that look like the target
    domain score > 0; selection upsamples by weight (e.g. keep
    ``weight >= 0``, or feed ``-weight`` into :func:`quality_budget`
    as the quality ordering).

    Features are word bigrams hashed to ``16^DSIR_BUCKET_CHARS`` buckets by
    md5 prefix (engine-portable, seed-free — the hash IS the
    vocabulary, no fitting pass). Smoothing is in PROBABILITY space
    (``+DSIR_EPS`` on each normalized frequency, DSIR's own formulation) —
    add-α count smoothing over the full 16^n bucket space would
    swamp the totals of any corpus smaller than α·16^n features and
    flip every in-target sign. Documents with fewer than 2 words
    carry no features and weight 0.

    Scale shape: three keyed aggregates — (doc, bucket) counts, the
    ≤ ``16^DSIR_BUCKET_CHARS``-row bucket table (broadcast back), per-doc
    weight — plus one 1-row totals broadcast. The corpus shuffles
    only its (doc, bucket) counts; nothing all-pairs, nothing
    single-reducer.
    """
    from .util import lowered_words

    # lowered word bigrams (the lowercase sibling of
    # textstats._ngram_pairs at n=2)
    from .dedup import _shifted_gram_zip

    words = lowered_words("text")
    grams = F.when(
        F.size(words) >= 2,
        F.transform(_shifted_gram_zip(words, 2),
                    lambda x: F.concat_ws(" ", x["0"], x["1"])),
    ).otherwise(F.array().cast("array<string>"))

    from .util import ensure_fanout

    # the bigram concat explode is the heavy stage (same shape as
    # textstats._ngram_pairs): fan a sub-row-group input out first.
    # Both the bucket table and the per-doc weights read the
    # (doc, bucket) counts; Catalyst does not reuse the
    # explode+aggregate subtree across branches, so materialize it
    # once (the doc_boilerplate_share pattern) instead of scanning
    # and shuffling the corpus twice
    feats = (ensure_fanout(docs)
             .select(F.col("doc_id"), is_target.alias("_t"),
                     F.explode(grams).alias("_g"))
             .select("doc_id", "_t",
                     F.substring(F.md5(F.col("_g")), 1, DSIR_BUCKET_CHARS)
                     .alias("_b"))
             .groupBy("doc_id", "_t", "_b")
             .agg(F.count("*").alias("_c"))
             .localCheckpoint(eager=True))

    bucket_tbl = (feats.groupBy("_b")
                  .agg(F.sum("_c").alias("_raw"),
                       F.sum(F.when(F.col("_t"), F.col("_c"))
                             .otherwise(F.lit(0))).alias("_tgt")))
    totals = bucket_tbl.agg(F.sum("_raw").alias("_traw"),
                            F.sum("_tgt").alias("_ttgt"))
    lr_tbl = (bucket_tbl.crossJoin(F.broadcast(totals))
              .select("_b",
                      # greatest(·,1): an empty target side degrades to
                      # p̂_target = DSIR_EPS everywhere (strongly negative lr)
                      # instead of 0/0 nulls
                      (F.log(F.col("_tgt")
                             / F.greatest(F.col("_ttgt"), F.lit(1))
                             + F.lit(DSIR_EPS))
                       - F.log(F.col("_raw")
                               / F.greatest(F.col("_traw"), F.lit(1))
                               + F.lit(DSIR_EPS)))
                      .alias("_lr")))

    per_doc = (feats.join(F.broadcast(lr_tbl), "_b")
               .groupBy("doc_id")
               .agg(F.sum("_c").cast("long").alias("n_feats"),
                    F.sum(F.col("_c") * F.col("_lr")).alias("_wsum")))
    return (docs.select("doc_id").join(per_doc, "doc_id", "left")
            .select(F.col("doc_id"),
                    F.coalesce("n_feats", F.lit(0)).cast("long")
                    .alias("n_feats"),
                    F.coalesce(F.round(F.col("_wsum") / F.col("n_feats"),
                                       6), F.lit(0.0)).alias("weight")))


def lm_quality_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style per-language LM-quality buckets -> (doc_id, lang,
    avg_neg_logprob, lang_rank, bucket): rank documents WITHIN each
    language by the unigram-LM perplexity proxy (low = fluent) and cut
    into head / middle / tail at the 30 % / 70 % rank fractions — the
    slices CCNet keeps, downweights and drops.

    Scale shape: ONE range-partitioned global rank on (lang, score,
    id) via the ranking.py two-pass spine. A ``Window.partitionBy
    (lang)`` would funnel each language through a single reducer — a
    60 %-English corpus puts 60 TB through one task; the range
    repartition instead splits every language across as many
    partitions as its volume needs. The per-language offset (min rank)
    and size then come from a #langs-row aggregate broadcast back, and
    the bucket cut is INTEGER arithmetic (rank x 100 vs pct x n),
    exactly reproducible in any engine — no float percentile
    interpolation to diverge on.

    NULL languages form their own bucket group: the rank orders by a
    null-coalesced shadow key (never-null, so the broadcast equi-join
    back cannot drop rows — the temperature_resample lesson) while the
    output keeps the original ``lang``.
    """
    from .ranking import global_rank
    from .tokenizer import unigram_logprob

    scored = (unigram_logprob(docs)
              .join(docs.select("doc_id", "lang"), "doc_id")
              .withColumn("_lkey",
                          F.coalesce(F.col("lang").cast("string"),
                                     F.lit("\u0000<null>"))))
    ranked = global_rank(
        scored,
        [F.col("_lkey"), F.col("avg_neg_logprob"), F.col("doc_id")],
        rank_col="_grank")
    # per-language offsets from COUNTS alone (r15): _lkey is the
    # LEADING sort key, so languages own contiguous rank ranges and
    # min(rank) per language == 1 + Σ counts of preceding languages.
    # Referencing _grank here made Catalyst keep a SECOND corpus-scale
    # Sort+Window on the aggregate branch (the rank window re-ran per
    # consumer — ReusedExchange shares only the exchange bytes); the
    # count-only aggregate prunes it, and the prefix sum runs on the
    # #langs-row grid (bounded, same class as the broadcast it feeds).
    # Interleaved A/B at sf0.1: wall-clock neutral (1.37/1.38 min),
    # one corpus-scale Window+Sort fewer in the plan.
    wl = Window.orderBy("_lkey").rowsBetween(Window.unboundedPreceding,
                                             -1)
    per_lang = (ranked.groupBy("_lkey")
                .agg(F.count("*").alias("_ln"))
                .withColumn("_lmin",
                            F.coalesce(F.sum("_ln").over(wl), F.lit(0))
                            + 1))
    r = F.col("_grank") - F.col("_lmin") + 1
    return (ranked.join(F.broadcast(per_lang), "_lkey")
            .select(
                F.col("doc_id"), F.col("lang"), F.col("avg_neg_logprob"),
                r.cast("long").alias("lang_rank"),
                F.when(r * 100 <= 30 * F.col("_ln"), "head")
                 .when(r * 100 <= 70 * F.col("_ln"), "middle")
                 .otherwise("tail").alias("bucket")))


def contrastive_negatives(df: DataFrame) -> DataFrame:
    """Deterministic random negatives -> (id, neg_rank, neg_id): for
    every anchor row, ``NEGATIVES_K`` pseudo-random other rows — the negative
    sampling step of contrastive / DPR-style training-pair
    construction, seed-free and engine-portable (the md5 convention),
    so a re-run, a different partitioning, or a different engine draws
    the SAME negatives.

    Construction: rows get a dense 1..n index from the range-partitioned
    global rank (the ranking.py two-pass spine — no single-reducer
    window), then negative j of anchor a targets index
    ``md5(a ':' j) mod n``, bumped by one (mod n) when it would hit the
    anchor itself. Sampling is uniform WITH replacement across j (the
    standard in-batch-negatives regime); the join back is one shuffle
    on the index, never an all-pairs product. Requires n >= 2.
    """
    from .ranking import global_rank

    ranked = global_rank(df.select("doc_id"), [F.col("doc_id")],
                         rank_col="_idx")
    n = ranked.agg(F.max("_idx").alias("_n"))
    # h in 0..n-1; 1-based target = h+1, skip-self bump wraps mod n
    h = (F.conv(F.substring(F.md5(F.concat_ws(
            ":", F.col("doc_id").cast("string"),
            F.col("neg_rank").cast("string"))), 1, 8), 16, 10)
         .cast("long") % F.col("_n"))
    target = F.when(h + 1 == F.col("_idx"),
                    ((h + 1) % F.col("_n")) + 1).otherwise(h + 1)
    exploded = (ranked.crossJoin(F.broadcast(n))
                .select(F.col("doc_id"), F.col("_idx"), F.col("_n"),
                        F.explode(F.sequence(F.lit(1), F.lit(NEGATIVES_K)))
                        .alias("neg_rank"))
                .withColumn("_tidx", target))
    lookup = ranked.select(F.col("doc_id").alias("neg_id"),
                           F.col("_idx").alias("_tidx"))
    return (exploded.join(lookup, "_tidx")
            .select("doc_id", "neg_rank", "neg_id"))


def priority_sample(df: DataFrame, weight_col: str, k: int) -> DataFrame:
    """Deterministic WEIGHTED k-sample per stratum via priority
    sampling (Duffield, Lund & Thorup 2007): each row draws a
    reproducible uniform u ∈ (0, 1] from its md5 and gets priority
    ``w / u``; the k highest-priority rows per stratum are the sample.

    Why priority sampling and not Efraimidis–Spirakis ``u^(1/w)``:
    the ES key needs ``pow``/``ln``, which are NOT correctly-rounded
    and can differ in the last ulp across engines — a cross-engine
    rank flip on a near-tie. ``w / u`` is a single IEEE division
    (correctly rounded by spec), so any engine hashing the same bytes
    ranks identically, bit for bit. Inclusion probabilities match ES
    asymptotically (min(1, w/τ)), and the scheme carries its own
    Horvitz–Thompson estimator: with τ = the (k+1)-th priority,
    ``est_weight = max(w, τ)`` is unbiased for each sampled row's
    weight contribution — ``sum(est_weight)`` estimates the stratum's
    total weight (Szegedy 2006 proved variance optimality).

    Rows with non-positive weight are excluded (they can never be
    sampled; documented contract). Scale shape: the ranking runs
    through :func:`operators.grouped.grouped_topk`'s two-stage
    per-partition funnel — no stratum ever routes all its rows
    through one reducer; τ comes from a window over the ≤ k+1
    survivors per stratum, never the full data.
    """
    from .grouped import grouped_topk
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    denom = float(16 ** PRIORITY_HASH_CHARS) + 1.0
    u = ((F.conv(F.substring(
            F.md5(F.concat_ws(":", F.lit(PRIORITY_SALT), F.col("source"),
                              F.col("doc_id").cast("string"))),
            1, PRIORITY_HASH_CHARS), 16, 10).cast("double") + 1.0)
         / F.lit(denom))
    weighted = (df.where(F.col(weight_col) > 0)
                .select("source", "doc_id",
                        F.col(weight_col).cast("double").alias("weight"),
                        (F.col(weight_col).cast("double") / u)
                        .alias("priority")))
    topk1 = grouped_topk(weighted, ["source"],
                         [F.col("priority").desc(), F.col("doc_id")],
                         k + 1, rank_col="rank")
    w = Window.partitionBy("source")
    tau = F.coalesce(
        F.max(F.when(F.col("rank") == k + 1, F.col("priority"))).over(w),
        F.lit(0.0))
    return (topk1.withColumn("tau", tau)
            .where(F.col("rank") <= k)
            .select("source", "doc_id", "weight", "rank",
                    F.round("priority", 6).alias("priority"),
                    F.round("tau", 6).alias("tau"),
                    F.round(F.greatest("weight", "tau"), 6)
                    .alias("est_weight")))


def epoch_schedule(docs: DataFrame, weights: DataFrame,
                   budget_tokens: int) -> DataFrame:
    """Data-constrained mixing schedule: how many EPOCHS of each source
    to run to hit a token budget under a target mix → ``(source,
    n_tokens_avail, weight_norm, target_tokens, epochs, capped,
    realized_tokens, deficit_tokens)``.

    The temperature-mix family (E66) decides the target SHARE; this
    operator turns shares into repeat factors when the corpus is
    data-constrained: ``target = weight · budget``; ``epochs =
    target / available``, capped at ``MAX_EPOCHS`` (repeating a source
    beyond a few epochs has sharply diminishing returns — the
    data-constrained-scaling result), with the shortfall reported as
    ``deficit_tokens`` per source instead of silently redistributed —
    rebalancing is a POLICY decision the report should expose, not
    make.

    Scale shape: one map-side-combinable per-source token aggregate
    (the corpus reduces to |sources| rows), a broadcast join with the
    weights table, and a 1-row broadcast total for normalization (the
    IdentityBroadcast probe pattern). All divisions on round-6
    normalized weights so both engines agree bit-for-bit.
    """
    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    avail = (docs.groupBy("source")
             .agg(F.sum(F.size(words)).cast("long")
                  .alias("n_tokens_avail")))
    tot_w = weights.agg(F.sum("weight").alias("_tw"))
    base = (avail.join(F.broadcast(weights), "source")
            .crossJoin(F.broadcast(tot_w))
            .select("source", "n_tokens_avail",
                    F.round(F.col("weight") / F.col("_tw"), 6)
                    .alias("weight_norm")))
    calc = base.withColumn(
        "target_tokens",
        F.floor(F.col("weight_norm") * budget_tokens).cast("long"))
    er = F.col("target_tokens") / F.col("n_tokens_avail")
    epochs = F.round(F.least(F.lit(float(MAX_EPOCHS)), er), 6)
    realized = F.floor(epochs * F.col("n_tokens_avail")).cast("long")
    return calc.select(
        "source", "n_tokens_avail", "weight_norm", "target_tokens",
        epochs.alias("epochs"),
        (er > MAX_EPOCHS).alias("capped"),
        realized.alias("realized_tokens"),
        (F.col("target_tokens") - realized).alias("deficit_tokens"))


def quality_calibration(docs: DataFrame, terms: list[str]) -> DataFrame:
    """Cross-signal calibration audit → ``(decile, n_docs, n_flagged,
    flag_rate)``: bucket the corpus into quality-score deciles (the
    hashed linear classifier) and report, per decile, how often an
    INDEPENDENT signal (the lexicon safety gate) fires.

    The audit every learned curation score needs before it gates
    terabytes: if the flag rate doesn't fall as the score rises, the
    score isn't measuring what the pipeline thinks it is. Built
    entirely from exact integers past the scoring step — deciles via
    the range-partitioned exact-ntile spine (prob, id tiebreak),
    counts and a single ratio division — so there is no float-sum
    hazard anywhere in the aggregation.

    Both signals are narrow per-row maps of the SAME text, so they are
    computed in ONE projection (the classifier's Column form + the
    blocklist predicate inline) — the previous two-frame id join cost
    a second full text scan plus a corpus-keyed shuffle for what one
    select expresses. The projection is FANOUT-GUARDED: ``prob`` is
    the ntile spine's SORT KEY, so the range partitioner forces its
    evaluation BEFORE the exchange — on an un-widened few-split scan
    the whole classifier fold runs on two cores (measured: the fanout
    is the fix that took the 10× sf1 probe from 8.9 s to ~3 s; the
    join fusion alone moved nothing because the scan stage was the
    bottleneck). Values identical, pinned by the oracle row.
    """
    from .cleaning import linear_quality_prob
    from .ranking import global_ntile
    from .util import ensure_fanout

    # the blocklist predicate exactly as textstats.blocklist_gate
    # states it (token match over the lowered split, count <= max hits)
    lowered = [t.lower() for t in terms]
    arr = F.array(*[F.lit(t) for t in lowered])
    words = F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda w: w != F.lit(""))
    n_hits = F.size(F.filter(
        words, lambda w: F.array_contains(arr, w))).cast("long")
    j = ensure_fanout(docs.select(F.col("doc_id"), F.col("text"))) \
        .select(F.col("doc_id"),
                linear_quality_prob().alias("prob"),
                (n_hits <= CALIBRATION_MAX_HITS).alias("kept"))
    d = global_ntile(j, CALIBRATION_TILES,
                     [F.col("prob"), F.col("doc_id")],
                     out_col="decile")
    flagged = (~F.col("kept")).cast("int")
    return (d.groupBy("decile")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum(flagged).cast("long").alias("n_flagged"),
                 F.round(F.sum(flagged) / F.count("*"), 6)
                 .alias("flag_rate"))
            .orderBy("decile"))


def shard_manifest(docs: DataFrame) -> DataFrame:
    """Shard manifest with content checksums → ``(shard, n_docs,
    n_tokens, checksum)`` — the integrity artifact a trainer checks
    before (and audits after) consuming a sharded corpus export.

    Shards come from :func:`token_shards` (equal-work, deterministic
    md5-shuffled order); the checksum is the SUM of each member
    document's 32-bit fingerprint integer (md5 of normalized text,
    first 8 hex chars) — order-insensitive by construction, so the
    manifest is stable under any partitioning or rewrite that
    preserves content, and a single flipped/dropped/duplicated
    document changes it. 32-bit components keep the sum far from
    64-bit overflow (2⁵² even at a million docs per shard). One
    narrow map + the two-pass prefix sum + one keyed aggregate.
    """
    from .dedup import normalized_text

    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    fp32 = F.conv(F.substring(
        F.md5(normalized_text(F.col("text"))), 1, 8), 16, 10) \
        .cast("long")
    t = docs.select(
        F.col("doc_id"),
        F.size(words).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("_h"),
        fp32.alias("_fp"))
    sh = token_shards(t, ["_h", "doc_id"], "n_tokens", SHARD_TARGET_TOKENS)
    return (sh.groupBy("shard")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("n_tokens"),
                 F.sum("_fp").cast("long").alias("checksum"))
            .orderBy("shard"))


def quantile_normalize(df: DataFrame, group_col: str, value_col: str,
                       id_col: str) -> DataFrame:
    """Cross-group quantile normalization (E208) → one row per input
    row: ``(id, group, value, normalized)``.

    The batch-effect correction for mixing per-group scores whose
    SCALES disagree (each source's quality/length/perplexity scorer
    drifts differently): map every row to its mid-rank plotting
    position p = (rank − 0.5)/n within its own group, then read the
    POOLED distribution's interpolated quantile at p — after which
    "top decile" means the same thing in every group (the
    normalization genomics standardized and score-mixing pipelines
    reuse). Monotone within each group by construction.

    Scale engineering: BOTH ranks ride the range-partitioned global
    rank spine (ranking.py) — the within-group rank is the global
    (group, value, id) rank minus a #groups-row broadcast offset (the
    Gini shape: a mega-group never funnels one reducer), the pooled
    rank is a second spine on (value, group, id). The interpolation
    is two integer-keyed equi-joins against the pooled table (floor
    and ceil positions; pos < N strictly under the mid-rank position,
    so the ceil row always exists — the left join + coalesce only
    guards the N = 1 degenerate pool). Determinism: pos is the same
    double expression in both engines; its floor cannot diverge.
    """
    from .ranking import global_rank

    base = df.select(F.col(group_col).alias("_g"),
                     F.col(value_col).cast("long").alias("_v"),
                     F.col(id_col).alias("_id"))
    ranked = global_rank(base, ["_g", "_v", "_id"], rank_col="_r")
    per_g = ranked.groupBy("_g").agg(F.min("_r").alias("_off"),
                                     F.count("*").alias("_ng"))
    pooled = global_rank(base, ["_v", "_g", "_id"], rank_col="_pr")
    total = pooled.agg(F.count("*").alias("_nn"))
    rg = F.col("_r") - F.col("_off") + 1
    pos = 1 + (rg - 0.5) / F.col("_ng") * (F.col("_nn") - 1)
    t = (ranked.join(F.broadcast(per_g), "_g")
         .crossJoin(F.broadcast(total))
         .select("_g", "_v", "_id", pos.alias("_pos")))
    t = t.select("_g", "_v", "_id",
                 F.floor("_pos").cast("long").alias("_lo"),
                 (F.col("_pos") - F.floor("_pos")).alias("_frac"))
    plo = pooled.select(F.col("_pr").alias("_lo"),
                        F.col("_v").alias("_vlo"))
    phi = pooled.select((F.col("_pr") - 1).alias("_lo"),
                        F.col("_v").alias("_vhi"))
    out = (t.join(plo, "_lo")
           .join(phi, "_lo", "left")
           .select(F.col("_id").alias(id_col),
                   F.col("_g").alias(group_col),
                   F.col("_v").alias(value_col),
                   F.round(F.col("_vlo")
                           + F.col("_frac")
                           * (F.coalesce(F.col("_vhi"), F.col("_vlo"))
                              - F.col("_vlo")), 6).alias("normalized")))
    return out


def apportion_quota(weights: DataFrame, group_col: str,
                    weight_col: str, total: int) -> DataFrame:
    """Hamilton largest-remainder apportionment (E226) → one row per
    group: ``(group, weight, quota)`` with Σ quota = ``total``
    exactly.

    The integer-allocation primitive the mixing tier keeps needing:
    "give each source a share of the 100k-example budget ∝ its
    tokens" — naive rounding of the real quotas over- or under-shoots
    the total by up to #groups/2; Hamilton's method floors every
    quota and hands the leftover seats to the largest fractional
    remainders, the unique allocation that never deviates from the
    real quota by ≥ 1 (the same machinery as parliamentary seat
    apportionment and stratified-sample sizing).

    Determinism — NO FLOATS ANYWHERE: base = (total·w) div W and
    remainder = (total·w) mod W are exact BIGINT operations (weights
    must be integral; total·w must fit 2⁶³ — guard your units), and
    the leftover ranks on (remainder desc, group) — a total order.
    W = 0 (all-zero weights) → null quotas by contract (no
    proportional basis to allocate on).

    Scale shape: input is one row per group (aggregate first); the
    scalar (W, leftover) is a 1-row broadcast; the remainder ranking
    rides the range-partitioned global-rank spine, never a
    single-reducer window (the ORACLE windows freely; the engine
    does not).
    """
    from .ranking import global_rank

    base = weights.select(F.col(group_col).alias("_g"),
                          F.col(weight_col).cast("long").alias("_w"))
    tot = base.agg(F.sum("_w").alias("_tw"))
    t = F.lit(int(total)).cast("long")
    with_base = (base.crossJoin(F.broadcast(tot))
                 .select("_g", "_w",
                         F.when(F.col("_tw") > 0,
                                F.expr(f"({int(total)} * _w) DIV _tw"))
                         .alias("_base"),
                         F.when(F.col("_tw") > 0,
                                F.pmod(t * F.col("_w"), F.col("_tw")))
                         .alias("_rem")))
    leftover = with_base.agg(
        (t - F.coalesce(F.sum("_base"), F.lit(0))).alias("_R"))
    ranked = global_rank(with_base, [F.col("_rem").desc(), "_g"],
                         rank_col="_rk")
    return (ranked.crossJoin(F.broadcast(leftover))
            .select(F.col("_g").alias(group_col),
                    F.col("_w").alias(weight_col),
                    F.when(F.col("_base").isNotNull(),
                           F.col("_base")
                           + (F.col("_rk") <= F.col("_R")).cast("long"))
                    .alias("quota")))
