"""Connected components over near-duplicate pair graphs.

The last step of corpus deduplication: LSH/SimHash/Jaccard emit *pairs*
(a, b), but dropping duplicates needs *groups* — if a~b and b~c, then
{a, b, c} is one component and one survivor is kept. Pair lists don't
give that (neither a dedup report nor a survivor choice is well-defined
on pairs alone when duplicates chain).

Algorithm: iterative min-label propagation. Every vertex starts
labelled with its own id; each round, every vertex takes the min of its
label and its neighbours' labels; at fixpoint label(v) = min vertex id
in v's component — a deterministic, order-independent canonical
representative (and the natural ``keep_id``).

Scale shape: each round is (a) one neighbour-min pass — equi-join +
hash aggregate on vertex ids, no pairwise blowup beyond the edge list —
and (b) one POINTER-JUMPING pass — ``label(v) ← label(label(v))`` via a
self-join of the label table — which contracts label chains
geometrically, so convergence needs O(log diameter) rounds, not
O(diameter) (neighbour propagation alone walks one hop per round and
dies on long chains; this is the same contraction idea as the
alternating-star algorithms). Lineage is truncated every round with
``localCheckpoint`` (iterative plans otherwise grow unboundedly), and
convergence is detected with a bounded count action, the same
driver-side iteration contract as MRFFT (SURVEY §3.2: driver-controlled
rounds are the accepted shape for iterative algorithms). Near-dup
components are overwhelmingly tiny (pairs/triples) and converge in 2-3
rounds; the default ``max_iter=25`` covers diameters ≈ 2²⁵ thanks to
the jumping step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(id_a, id_b) undirected pairs → (doc_id, component).

    ``component`` is the min vertex id of the component. Only vertices
    appearing in ≥1 edge are returned (singletons are trivially their
    own component). Raises if ``max_iter`` rounds don't converge —
    by then the graph has diameter > max_iter and needs the
    star-contraction variant, not silence.
    """
    sym = (edges.select(F.col("id_a").alias("node"),
                        F.col("id_b").alias("nbr"))
           .unionByName(
               edges.select(F.col("id_b").alias("node"),
                            F.col("id_a").alias("nbr")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (sym.select("node").distinct()
              .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        # (a) min neighbour label per node: one join + one aggregate
        nbr_min = (sym.join(labels.select(F.col("node").alias("nbr"),
                                          F.col("label").alias("nbr_label")),
                            "nbr")
                   .groupBy("node").agg(F.min("nbr_label").alias("nmin")))
        stepped = (labels.join(nbr_min, "node", "left")
                   .select("node",
                           F.least("label", F.coalesce("nmin", "label"))
                           .alias("label")))
        # (b) pointer jumping: label(v) ← label(label(v)) — label
        # chains halve every round, giving O(log diameter) convergence
        jumped = (stepped.alias("s")
                  .join(stepped.select(F.col("node").alias("label"),
                                       F.col("label").alias("ll"))
                        .alias("p"),
                        "label", "left")
                  .select("node",
                          F.least("label", F.coalesce("ll", "label"))
                          .alias("label")))
        new_labels = jumped.localCheckpoint(eager=True)
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .where(F.col("n.label") != F.col("o.label"))
                   .limit(1).count())  # bounded: 0 or 1 rows
        labels = new_labels
        if changed == 0:
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        "(pathological labelling — raise max_iter)")


def dedup_survivors(components: DataFrame) -> DataFrame:
    """(doc_id, component) → per-component survivor summary:
    (component, n_docs, keep_id, n_dropped). keep_id = the canonical
    min id, i.e. the component label itself."""
    return (components.groupBy("component")
            .agg(F.count("*").alias("n_docs"))
            .select(F.col("component").alias("keep_id"),
                    F.col("n_docs"),
                    (F.col("n_docs") - 1).alias("n_dropped")))


def best_survivors(components: DataFrame, scores: DataFrame) -> DataFrame:
    """Quality-aware survivor selection → (component, keep_id,
    keep_score, n_docs, n_dropped): per near-dup component, keep the
    member with the HIGHEST ``quality_score`` (ties → smallest id) instead
    of the canonical min-id.

    The RefinedWeb/FineWeb convention: when a cluster holds a clean
    original and a mangled copy, min-id keeps whichever was crawled
    first — best-of-cluster keeps the better document. ``scores`` is
    any (doc_id, score) table (heuristic quality, classifier prob,
    -perplexity); the rank ROUNDS the score to 6 dp itself (id breaks
    the tie) so float summation-order noise past the 6th decimal can
    never flip the argmax between runs or engines.

    ``scores`` need NOT cover every component member: the join is a
    LEFT join with missing scores ranked below every real score
    (NULLS LAST via a -inf coalesce in the ordering), so an unscored
    member still counts in n_docs and can still win — with a NULL
    keep_score — when the whole component is unscored. (An inner join
    here silently dropped unscored members from n_docs and, for a
    fully-unscored component, elected no winner at all, deleting the
    cluster in the pipeline's --survivor best path.)

    Shape: one broadcast-or-shuffle join components⇄scores on doc_id,
    one window partitioned BY COMPONENT — component sizes are bounded
    by the dedup threshold, so no reducer ever sees more than a
    cluster. Singleton docs never enter ``components`` and are
    unaffected (they survive by definition).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.coalesce(F.round(F.col("quality_score"), 6),
                   F.lit(float("-inf"))).desc(),
        F.col("doc_id"))
    ranked = (components
              .join(scores.select("doc_id", "quality_score"), "doc_id",
                    "left")
              .withColumn("_r", F.row_number().over(w))
              .withColumn("_n", F.count("*").over(
                  Window.partitionBy("component"))))
    return (ranked.where(F.col("_r") == 1)
            .select("component",
                    F.col("doc_id").alias("keep_id"),
                    F.col("quality_score").alias("keep_score"),
                    F.col("_n").cast("long").alias("n_docs"),
                    (F.col("_n") - 1).cast("long").alias("n_dropped")))
