"""CLI app: end-to-end training-corpus preparation pipeline.

Composes the engine's LLM-data operators into the standard
corpus-preparation flow, parquet in → parquet out:

  0. mix      — optional per-source downsampling to a target recipe
                (--mix-rates src0=1.0,src1=0.5 [--mix-default 0.05])
  0b. clean   — optional C4-style line cleaning (--clean): keep-first
                repeated-line removal, then keep only
                punctuation-terminated lines with enough words; drop
                documents that end up too short or carry junk markers
                (lorem ipsum, braces). Zero-shuffle HOF maps — the
                text that reaches scoring and dedup is already clean,
                so boilerplate lines can't dominate quality signals or
                shingle sets.
  1. score    — quality + language ID (narrow maps, scan speed)
  2. filter   — keep docs above --min-quality in --langs
  2b. classify — optional hashed-linear quality classifier gate
                (--classifier-min P): keep docs with model prob ≥ P
                (the fastText/CCNet filter shape). Zero shuffle.
  2c. dsir    — optional DSIR importance filter (--dsir-target
                col=value [--dsir-min W]): keep docs whose
                hashed-bigram target-vs-raw log-likelihood ratio is
                ≥ W — upsample-what-looks-like-the-target selection
                (Xie et al. 2023) with the target modeled on the
                surviving corpus itself
  3. dedup    — MinHash-LSH near-dup pairs → connected components →
                keep one survivor per group: the canonical min-id, or
                the best-quality member (--survivor best)
  3b. spans   — optional exact repeated-span removal (--strip-spans N):
                strip tokens covered by a cross-document word N-gram
                from the surviving text (post-dedup, so a dup cluster
                can't vote its own chrome past the threshold twice)
  4. decontam — drop docs sharing a word 8-gram with an optional
                benchmark parquet (--benchmark); or, with
                --contamination-mode strip, remove exactly the
                overlapping spans and keep the documents (the E77
                GPT-3-appendix-C trade — right when the corpus is too
                valuable to drop wholesale)
  4b. lm-band — optional unigram-LM perplexity-proxy filter
                (--lm-band LO:HI): keep docs whose avg -ln p(w) lies
                inside the band — high tail is garbled text, low tail
                is boilerplate/stopword soup (the KenLM-filter shape).
                The LM is estimated over the SURVIVING corpus, after
                dedup, so near-dup clusters can't skew the model.
  5. chunk    — overlapping token windows (--chunk-size/--stride), or
                per-shard context-window packing (--pack CAPACITY)
  6. write    — sorted parquet (doc_id order → disjoint row-group
                stats for downstream data skipping)

Every stage is a DataFrame transformation; the only driver actions are
the stage-count report lines. Usage:

  python -m big_data_hw_23_24_spark.apps.corpus_pipeline \
      <corpus.parquet> <out_dir> [--min-quality 0.5] [--langs en,de]
      [--threshold 0.7] [--benchmark bench.parquet]
      [--chunk-size 64] [--stride 48]
      [--mix-rates src=rate,...] [--mix-default 0.05] [--pack 256]
      [--lm-band 2.5:7.0] [--clean]
"""

from __future__ import annotations

import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from . import choice, parse_flags

SURVIVORS = ("min_id", "best")
CONTAMINATION_MODES = ("drop", "strip")


def run(spark: SparkSession, in_path: str, out_dir: str,
        min_quality: float = 0.5, langs: tuple[str, ...] = (),
        threshold: float = 0.7, benchmark_path: str | None = None,
        chunk_size: int = 64, stride: int = 48,
        mix_rates: dict[str, float] | None = None,
        mix_default: float = 0.05,
        pack_capacity: int | None = None,
        lm_band: tuple[float, float] | None = None,
        c4_clean: bool = False,
        classifier_min: float | None = None,
        dsir_target: tuple[str, str] | None = None,
        dsir_min: float = 0.0,
        survivor: str = "min_id",
        strip_spans: int | None = None,
        contamination_mode: str = "drop") -> list[str]:
    if contamination_mode not in CONTAMINATION_MODES:
        raise ValueError(f"contamination_mode must be 'drop' or 'strip', "
                         f"got {contamination_mode!r}")
    if survivor not in SURVIVORS:
        raise ValueError(f"survivor must be 'min_id' or 'best', "
                         f"got {survivor!r}")
    from ..operators.components import connected_components
    from ..operators.dedup import minhash_near_duplicates
    from ..operators.packing import pack_sequences
    from ..operators.splits import mix_sources
    from ..operators.textstats import (
        contamination_scan, detect_language, quality_scores, token_chunks)
    from ..sources.sinks import write_sorted_parquet

    raw = spark.read.parquet(in_path)
    cols = ["doc_id", "text"] + [c for c in ("source", "lang")
                                 if c in raw.columns]
    docs = raw.select(*cols)
    if dsir_target is not None and dsir_target[0] not in cols:
        raise ValueError(f"--dsir-target column {dsir_target[0]!r} not in "
                         f"corpus columns {cols}")

    # 0: optional source mixing (narrow map; before anything shuffles)
    n_premix = None
    if mix_rates is not None:
        n_premix = docs.count()
        docs = (mix_sources(docs, mix_rates, default_rate=mix_default)
                .where("keep").select(*cols))

    # 0b: optional C4 line cleaning (two stacked narrow maps); the
    # cleaned text REPLACES the raw text for every downstream stage
    n_preclean = None
    if c4_clean:
        from ..operators.cleaning import c4_line_filter, dedup_lines

        n_preclean = docs.count()
        cleaned = c4_line_filter(dedup_lines(docs),
                                 text_col="text_deduped")
        docs = (cleaned.where("keep")
                .withColumn("text", F.col("clean_text"))
                .select(*cols))

    docs = docs.cache()
    cached = [docs]
    try:
        n_in = docs.count()

        # 1-2: score and filter (two narrow maps joined on doc_id)
        q = quality_scores(docs).select("doc_id", "quality_score")
        kept = docs.join(q.where(F.col("quality_score") >= min_quality),
                         "doc_id")
        if langs:
            lid = detect_language(docs).select("doc_id", "detected_lang")
            kept = kept.join(lid, "doc_id") \
                .where(F.col("detected_lang").isin(*langs)) \
                .drop("detected_lang")
        kept = kept.select(*cols).cache()
        cached.append(kept)
        n_kept = kept.count()

        # 2b: hashed-linear classifier gate — the prob is computed as
        # an inline column on kept itself (a joined-back score table
        # would cost two corpus-scale exchanges for the same predicate)
        n_clf_dropped = 0
        if classifier_min is not None:
            from ..operators.cleaning import linear_quality_prob

            kept = kept.where(
                linear_quality_prob() >= classifier_min).cache()
            cached.append(kept)
            n_clf_dropped = n_kept - kept.count()

        # 2c: DSIR importance filter — target modeled on the surviving
        # corpus (post heuristic filters, so junk can't define it)
        n_dsir_dropped = 0
        if dsir_target is not None:
            from ..operators.selection import dsir_importance

            tcol, tval = dsir_target
            wts = dsir_importance(kept, F.col(tcol) == tval) \
                .select("doc_id", "weight")
            n_before = n_kept - n_clf_dropped  # known from stage 2b
            kept = (kept.join(wts, "doc_id")
                    .where(F.col("weight") >= dsir_min)
                    .drop("weight").cache())
            cached.append(kept)
            n_dsir_dropped = n_before - kept.count()

        # 3: near-dedup — keep one member per component: the canonical
        # min-id, or the best-quality member (survivor="best",
        # RefinedWeb keep-best-of-cluster)
        pairs = minhash_near_duplicates(kept, threshold=threshold)
        comp = connected_components(pairs)
        if survivor == "best":
            from ..operators.components import best_survivors

            winners = best_survivors(
                comp, quality_scores(kept)).select(
                F.col("keep_id").alias("doc_id"))
            losers = comp.select("doc_id") \
                .join(winners, "doc_id", "left_anti")
        else:
            losers = comp.where(F.col("doc_id") != F.col("component")) \
                .select("doc_id")
        deduped = kept.join(losers, "doc_id", "left_anti").cache()
        cached.append(deduped)
        n_dedup = deduped.count()

        # 3b: optional exact repeated-span removal — strip cross-doc
        # duplicated n-gram runs from the SURVIVING text (post-dedup,
        # so a near-dup cluster can't vote its own chrome past
        # min_docs twice)
        n_span_tokens = 0
        if strip_spans is not None:
            from ..operators.textstats import remove_repeated_spans

            stripped = remove_repeated_spans(deduped,
                                             n=strip_spans).cache()
            cached.append(stripped)  # the count agg below and the
            # text-replacement join both read it; uncached, the whole
            # mining + reconstruction subtree would execute twice
            n_span_tokens = stripped.agg(
                F.sum("n_removed")).collect()[0][0] or 0
            deduped = (deduped.drop("text")
                       .join(stripped.select(
                           "doc_id",
                           F.col("clean_text").alias("text")), "doc_id")
                       .select(*cols).cache())
            cached.append(deduped)

        # 4: decontamination against an optional benchmark corpus.
        # Deliberate ordering with --strip-spans: the scan reads the
        # POST-strip text, because what matters is the text that will
        # actually be trained on — an 8-gram that 3b already stripped
        # (benchmark overlap that is also cross-doc chrome, e.g. a
        # license block quoted in the benchmark) cannot leak into
        # training, so dropping the whole doc for it would be a false
        # positive. For strict provenance-level hygiene (drop any doc
        # that EVER contained benchmark text), run the scan on the
        # pre-strip frame instead.
        n_contaminated = 0
        if benchmark_path is not None:
            bench = spark.read.parquet(benchmark_path).select("text")
            if contamination_mode == "strip":
                # surgical mode (E77): remove exactly the overlapping
                # 8-gram spans and KEEP the documents — n_contaminated
                # counts tokens here, not docs
                from ..operators.textstats import decontaminate_spans

                stripped = decontaminate_spans(deduped, bench).cache()
                cached.append(stripped)
                n_contaminated = stripped.agg(
                    F.sum("n_removed")).collect()[0][0] or 0
                deduped = (deduped.drop("text")
                           .join(stripped.select(
                               "doc_id",
                               F.col("clean_text").alias("text")),
                               "doc_id")
                           .select(*cols).cache())
                cached.append(deduped)
            else:
                scan = contamination_scan(deduped, bench)
                flagged = scan.where("contaminated").select("doc_id")
                n_contaminated = flagged.count()
                deduped = deduped.join(flagged, "doc_id", "left_anti")

        # 4b: unigram-LM perplexity-proxy band filter (post-dedup so
        # duplicate clusters can't skew the corpus LM estimate)
        n_lm_dropped = 0
        if lm_band is not None:
            from ..operators.tokenizer import unigram_logprob

            lo, hi = lm_band
            keep_ids = (unigram_logprob(deduped)
                        .where(F.col("avg_neg_logprob").between(lo, hi))
                        .select("doc_id"))
            n_before_lm = deduped.count()
            deduped = deduped.join(keep_ids, "doc_id", "semi").cache()
            cached.append(deduped)
            n_lm_dropped = n_before_lm - deduped.count()

        # 5-6: chunk (or pack) and write, sorted for data skipping
        if pack_capacity is not None:
            shard = F.col("source") if "source" in cols else F.lit("all")
            packed = pack_sequences(
                deduped.withColumn("_shard", shard), pack_capacity,
                shard_col="_shard")
            write_sorted_parquet(packed, out_dir,
                                 ["shard", "bin_id", "doc_id"])
            last = (f"Packed slices out = {spark.read.parquet(out_dir).count()} "
                    f"(capacity {pack_capacity}) -> {out_dir}")
        else:
            chunks = token_chunks(deduped, size=chunk_size, stride=stride)
            write_sorted_parquet(chunks, out_dir, ["doc_id", "chunk_id"])
            last = (f"Chunks out = {spark.read.parquet(out_dir).count()} "
                    f"(size {chunk_size}, stride {stride}) -> {out_dir}")
    finally:
        # a shared session outlives this run — release executor storage
        for df in cached:
            df.unpersist()

    head = [] if n_premix is None else \
        [f"Documents before mixing = {n_premix}"]
    if n_preclean is not None:
        head.append(f"Documents before C4 cleaning = {n_preclean}")
    n_enter_dedup = n_kept - n_clf_dropped - n_dsir_dropped
    # optional-stage lines appear only when the stage ran, so the
    # core funnel report keeps its shape (and line indices) stable
    mid = []
    if classifier_min is not None:
        mid.append(f"Dropped by linear classifier = {n_clf_dropped}")
    if dsir_target is not None:
        mid.append(f"Dropped by DSIR importance filter = {n_dsir_dropped}")
    tail_extra = [] if strip_spans is None else \
        [f"Tokens stripped as repeated spans = {n_span_tokens}"]
    return head + [
        f"Documents in = {n_in}",
        f"After quality/lang filter = {n_kept}",
        *mid,
        f"After near-dedup = {n_dedup} "
        f"(dropped {n_enter_dedup - n_dedup} non-canonical dups)",
        *tail_extra,
        (f"Tokens stripped as benchmark overlap = {n_contaminated}"
         if contamination_mode == "strip" else
         f"Dropped as benchmark-contaminated = {n_contaminated}"),
        f"Dropped by unigram-LM band = {n_lm_dropped}",
        last,
    ]


USAGE = ("Usage: corpus_pipeline <corpus.parquet> <out_dir> "
         "[--min-quality Q] [--langs a,b] [--threshold T] "
         "[--benchmark p.parquet] [--chunk-size N] [--stride N] "
         "[--lm-band LO:HI] [--clean]")


def _pair(sep: str, parse):
    def pair(value: str) -> tuple:
        a, b = value.split(sep, 1)
        return parse(a), parse(b)
    return pair


def _rates(value: str) -> dict[str, float]:
    return {k: float(r) for k, r in
            (kv.split("=") for kv in value.split(","))}


# value flag -> (run() keyword, parser); an absent flag keeps run()'s
# default
OPTIONS = {
    "--min-quality": ("min_quality", float),
    "--langs": ("langs", lambda v: tuple(x for x in v.split(",") if x)),
    "--threshold": ("threshold", float),
    "--benchmark": ("benchmark_path", str),
    "--chunk-size": ("chunk_size", int),
    "--stride": ("stride", int),
    "--mix-rates": ("mix_rates", _rates),
    "--mix-default": ("mix_default", float),
    "--pack": ("pack_capacity", int),
    "--lm-band": ("lm_band", _pair(":", float)),
    "--classifier-min": ("classifier_min", float),
    "--dsir-target": ("dsir_target", _pair("=", str)),
    "--dsir-min": ("dsir_min", float),
    "--survivor": ("survivor", choice(*SURVIVORS)),
    "--strip-spans": ("strip_spans", int),
    "--contamination-mode": ("contamination_mode",
                             choice(*CONTAMINATION_MODES)),
}


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(USAGE)
        return 1
    in_path, out_dir = argv[0], argv[1]
    kwargs = parse_flags(argv[2:], OPTIONS, {"--clean": "c4_clean"})
    if kwargs is None:
        print(USAGE)
        return 2
    from ..session import get_session

    spark = get_session("CorpusPipeline")
    for line in run(spark, in_path, out_dir, **kwargs):
        print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
