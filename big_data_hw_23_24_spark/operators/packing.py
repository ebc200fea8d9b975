"""Sequence packing: concatenate documents shard-by-shard and cut the
token stream into fixed-capacity context windows.

North-star extension: the last step before tokens reach a trainer.
GPT-style packing concatenates documents and slices the stream at the
context length, so every training sequence is exactly full; what a
pipeline needs from the data engine is the doc→window assignment (which
documents, and how many of their tokens, land in which window).

Scale shape: packing is done WITHIN each shard (``source``), which is
how production pipelines do it — a global concatenation order would
serialize the corpus through one task for zero training benefit. The
window function partitions by shard, so shards pack in parallel; the
per-shard running offset is one window pass over (doc_id-ordered)
compact rows, and the bin fan-out is a narrow ``sequence``/``explode``
(a document touches ⌈n_tokens/capacity⌉+1 bins at most). One shuffle
on the shard key, total. Deterministic: doc_id order within shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pack_sequences(docs: DataFrame, capacity: int = 256,
                   shard_col: str = "source") -> DataFrame:
    """→ (shard, bin_id, doc_id, n_tokens_in_bin): which slice of each
    document lands in which fixed-``capacity`` context window.

    Within a shard, documents are concatenated in ``doc_id`` order;
    token t of the concatenation lands in bin ⌊t/capacity⌋. A document
    spanning a bin boundary is split across consecutive bins (the
    trainer's document-boundary attention mask handles the rest — that
    is downstream of the data engine). Zero-token documents occupy no
    bin. Every bin except a shard's last holds exactly ``capacity``
    tokens: Σ n_tokens_in_bin over a bin telescopes to
    min(capacity, shard_total − bin_id·capacity). A document's length
    is its whitespace token count.
    """
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    n = F.size(F.filter(F.split(F.col("text"), " "), lambda w: w != ""))
    toks = (docs.select(F.col(shard_col).alias("shard"), F.col("doc_id"),
                        n.alias("n_tokens"))
            .where(F.col("n_tokens") > 0))
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pos = toks.select(
        "shard", "doc_id", "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("off"))
    first_bin = F.floor(F.col("off") / capacity)
    last_bin = F.floor((F.col("off") + F.col("n_tokens") - 1) / capacity)
    spans = pos.select(
        "shard", "doc_id", "n_tokens", "off",
        F.explode(F.sequence(first_bin, last_bin)).alias("bin_id"))
    lo = F.greatest(F.col("bin_id") * capacity, F.col("off"))
    hi = F.least((F.col("bin_id") + 1) * capacity,
                 F.col("off") + F.col("n_tokens"))
    return spans.select("shard", "bin_id", "doc_id",
                        (hi - lo).cast("long").alias("n_tokens_in_bin"))


def length_batches(docs: DataFrame, batch_size: int = 32) -> DataFrame:
    """Length-bucketed micro-batch assignment → (doc_id, n_tokens,
    batch_id, batch_max, pad_waste).

    The padded-batching complement of :func:`pack_sequences`: when
    sequences CANNOT be concatenated (inference serving, encoder
    models, reward scoring), each batch pads every member to its
    longest member, so random batching wastes ~(max−mean) tokens per
    row. Sorting by length first makes batch members near-equal in
    length — the standard bucketed-batching trick — and this operator
    computes the assignment plus its exact per-doc cost
    (``pad_waste = batch_max − n_tokens``), so Σ pad_waste over an
    assignment IS the wasted-FLOPs audit.

    Scale shape: ONE range-partitioned global rank on
    (n_tokens, id) — never a single-reducer window over the corpus
    (``operators.ranking.global_rank``, the E79 spine) — then batch_id
    is pure arithmetic on the rank, and ``batch_max`` is a keyed
    window over ``batch_size``-row groups. Deterministic: ties break
    by id.
    """
    from .ranking import global_rank

    words = F.filter(F.split(F.col("text"), " "),
                     lambda w: w != F.lit(""))
    t = docs.select(F.col("doc_id"),
                    F.size(words).cast("long").alias("n_tokens"))
    ranked = global_rank(t, [F.col("n_tokens"), F.col("doc_id")],
                         rank_col="_rn")
    b = ranked.withColumn(
        "batch_id", F.expr(f"(_rn - 1) div {int(batch_size)}"))
    w = Window.partitionBy("batch_id")
    return (b.select(
        "doc_id", "n_tokens", "batch_id",
        F.max("n_tokens").over(w).alias("batch_max"))
        .withColumn("pad_waste",
                    (F.col("batch_max") - F.col("n_tokens")).cast("long")))


def head_tail_truncate(docs: DataFrame, budget: int = 64, head: int = 48,
                       tail: int = 15) -> DataFrame:
    """Head+tail context-window truncation (E181) → ``(doc_id,
    n_tokens, n_kept, truncated, fitted_text)``.

    The long-document policy packing pipelines apply BEFORE chunking
    or padding decisions: middle-out truncation keeps the head (titles,
    ledes) and the tail (conclusions, signatures) — the two spans with
    the highest information density in web/document text — joined by
    an explicit elision marker so the seam is visible to the model and
    to audits. ``head + 1 + tail`` must equal ``budget`` (validated);
    docs at or under budget pass through BYTE-IDENTICAL
    (``truncated`` = false; ``fitted_text`` IS the input column, not
    a re-join of the split, which would collapse repeated
    whitespace). ``n_kept`` counts EMITTED tokens, so on the
    truncated branch it includes the elision marker (head + marker +
    tail = budget). Pure array slicing over the split — one narrow
    map, zero shuffles, a free rider on any corpus scan.
    """
    if head + 1 + tail != budget:
        raise ValueError(f"head ({head}) + marker (1) + tail ({tail}) "
                         f"must equal budget ({budget})")
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    n = F.size(words)
    fitted = F.when(
        n > budget,
        F.array_join(F.concat(F.slice(words, 1, head),
                              F.array(F.lit("...")),
                              F.slice(words, -tail, tail)), " ")) \
        .otherwise(F.col("text"))
    return docs.select(
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.when(n > budget, F.lit(budget)).otherwise(n).cast("long")
        .alias("n_kept"),
        (n > budget).alias("truncated"),
        fitted.alias("fitted_text"))
