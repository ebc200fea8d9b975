"""Entity resolution / record linkage: blocked fuzzy matching and the
sorted-neighborhood method.

The data-engineering classic the dedup tier was missing: the dedup
families (exact / MinHash / SimHash / embedding) all match WHOLE
documents by content overlap; record linkage matches short ENTITY
STRINGS (names, titles, addresses) under typos — edit distance, not
set similarity — where shingle machinery degenerates (a 1-char typo in
a 20-char name moves 3 of ~18 character 3-grams, but word shingles of
a 3-word name are all-or-nothing). Both classic candidate-generation
strategies are here, each with the guard that keeps it sublinear:

* :func:`blocked_fuzzy_pairs` — equi-join on a cheap BLOCK key
  (Fellegi-Sunter blocking), cost Σ block², bounded by ``max_block``
  (the containment face's ``max_df`` cure: one mega-block would be
  quadratic, so oversized blocks are dropped and REPORTED rather than
  silently exploded).
* :func:`sorted_neighborhood_pairs` — Hernández-Stolfo SNM: global
  rank by a sort key (the range-partitioned rank spine — never a
  single-reducer window), candidates = rank distance ≤ w via a
  bucket-adjacency self-join (each row joins only its own and the
  neighboring rank bucket), cost O(n·w) under ANY key skew — the
  standard complement when no good equi-block exists.

Verification in both is exact ``levenshtein`` (identical algorithm in
Spark and DuckDB, so every face is fully value-checkable) on candidate
pairs only. Scale shape: the shuffle key is the block / rank bucket,
never a pair; verified outputs are candidate-scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["blocked_fuzzy_pairs", "edit1_neighborhood_pairs",
           "sorted_neighborhood_pairs"]


def blocked_fuzzy_pairs(df: DataFrame, entity_col: str, block: Column,
                        max_dist: int = 2, max_block: int = 1000) -> DataFrame:
    """Blocked fuzzy linkage → ``(id_a, id_b, dist)`` for pairs in the
    same block with ``levenshtein(entity_a, entity_b) <= max_dist``.

    ``block`` is the blocking expression (first token, phonetic key,
    zip code, ...); a pair in different blocks is NEVER compared — the
    standard recall trade every production linkage makes. Blocks larger
    than ``max_block`` are dropped entirely (one grouped count + a
    semi-join): at 100 TB a degenerate block ("smith", an empty key)
    is a quadratic bucket, and the operator's contract is to bound
    cost and let the caller refine the blocking key, not to explode.
    Pairs are emitted once (``id_a < id_b``); ties in the entity string
    are still pairs (dist 0 — exact-duplicate entities).

    Verify cost per candidate pair is bounded two ways, both
    result-identical: a LENGTH-BAND filter ahead of the edit distance
    (``|len_a − len_b| > max_dist`` already implies
    ``dist > max_dist`` — each edit changes length by ≤ 1 — so those
    pairs never reach the dynamic program), and the THRESHOLDED
    ``levenshtein(a, b, max_dist)``, which abandons the O(len²) DP as
    soon as the banded diagonal exceeds the budget (O(len·max_dist))
    and returns −1 — filtered with the over-budget pairs. Together
    they make Σ block² a count of CHEAP comparisons.
    """
    slim = df.select(F.col("doc_id").alias("_id"),
                     F.col(entity_col).alias("_e"),
                     block.alias("_blk")).where(F.col("_blk").isNotNull())
    keep = (slim.groupBy("_blk").agg(F.count("*").alias("_n"))
            .where(F.col("_n") <= max_block).select("_blk"))
    slim = slim.join(F.broadcast(keep), "_blk", "left_semi")
    a, b = slim.alias("a"), slim.alias("b")
    return (a.join(b, (F.col("a._blk") == F.col("b._blk"))
                   & (F.col("a._id") < F.col("b._id")))
            .where(F.abs(F.length(F.col("a._e"))
                         - F.length(F.col("b._e"))) <= max_dist)
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.levenshtein(F.col("a._e"), F.col("b._e"),
                                  max_dist).cast("int").alias("dist"))
            .where((F.col("dist") >= 0) & (F.col("dist") <= max_dist)))


def sorted_neighborhood_pairs(df: DataFrame, entity_col: str, window: int = 3,
                              max_dist: int = 2) -> DataFrame:
    """Sorted-neighborhood linkage → ``(id_a, id_b, rank_gap, dist)``:
    rank all rows by the entity string (id tiebreaker), compare each
    row only to the ``window`` rows following it in rank order, keep
    pairs with ``levenshtein <= max_dist``.

    Candidate generation is O(n·w) regardless of value skew — a
    million identical keys cost a million·w candidates, never
    million² — which is exactly why SNM is the fallback when blocking
    keys are degenerate. The global rank rides the range-partitioned
    rank spine (:func:`.ranking.global_rank`); the neighborhood join
    is a bucket-adjacency equi-join: each row lands in bucket
    ``rank // window`` and joins buckets b and b+1 of the other side,
    which covers every pair within ``window`` ranks (|r_a − r_b| ≤ w
    spans at most two w-buckets) — the shuffle key is the bucket,
    never a row pair, and each row meets ≤ 4w candidates.

    Pair direction follows RANK order (``rank_a < rank_b``), with ids
    reported in (id_a, id_b) = (lower-rank, higher-rank) order;
    ``rank_gap = rank_b − rank_a ∈ [1, window]``.
    """
    from .ranking import global_rank

    slim = df.select(F.col("doc_id").alias("_id"),
                     F.col(entity_col).alias("_e"))
    ranked = global_rank(slim, [F.col("_e"), F.col("_id")], rank_col="_r")
    bkt = (F.col("_r") / window).cast("long")
    base = ranked.select("_id", "_e", "_r", bkt.alias("_bkt"))
    # left side duplicated into its own and the PREVIOUS bucket so the
    # equi-join on the right side's bucket sees both
    lhs = base.select(
        "_id", "_e", "_r",
        F.explode(F.array(F.col("_bkt"), F.col("_bkt") + 1)).alias("_bkt"))
    pairs = (lhs.alias("a").join(base.alias("b"), "_bkt")
             .where((F.col("b._r") > F.col("a._r"))
                    & (F.col("b._r") - F.col("a._r") <= window)
                    # length band: |len diff| > max_dist ⟹ dist >
                    # max_dist (each edit moves length ≤ 1) — skip
                    # the DP for pairs that cannot qualify
                    & (F.abs(F.length(F.col("a._e"))
                             - F.length(F.col("b._e"))) <= max_dist))
             .select(F.col("a._id").alias("id_a"),
                     F.col("b._id").alias("id_b"),
                     (F.col("b._r") - F.col("a._r"))
                     .cast("int").alias("rank_gap"),
                     # thresholded: banded O(len·max_dist) DP, −1
                     # past the budget (filtered below)
                     F.levenshtein(F.col("a._e"), F.col("b._e"),
                                   max_dist).cast("int").alias("dist")))
    # each (a, b) matches exactly once: a rides buckets {k, k+1} but b
    # holds a single bucket value — no distinct needed
    return pairs.where((F.col("dist") >= 0) & (F.col("dist") <= max_dist))


def edit1_neighborhood_pairs(rows: DataFrame, id_col: str,
                             term_col: str) -> DataFrame:
    """Exact edit-distance-1 self-join via deletion neighborhoods
    (FastSS, E187) → ``(id_a, term_a, id_b, term_b)`` with
    ``id_a < id_b`` and ``levenshtein(term_a, term_b) = 1``.

    The third candidate-generation strategy of the linkage tier, and
    the only EXACT one: blocking (E157) and SNM (E158) trade recall
    for cost, while the deletion neighborhood is provably complete for
    distance 1. The POSITIONED form (the original FastSS) splits the
    two ways lev(a,b) = 1 can happen into two equi-joins whose buckets
    are alphabet-bounded, not content-bounded:

    * SUBSTITUTION at position p ⟺ the two p-deletions coincide — a
      self-join keyed on ``(variant, position)``; everything meeting
      there differs at most at p, so a bucket holds at most
      alphabet-size DISTINCT terms (keying on the variant ALONE puts
      every same-length near-sibling in one bucket — the dense
      zero-padded customer names drove Σ bucket² to 6.6 s at sf0.1;
      the positioned key reads 2.8 s for the same exact output);
    * INSERTION/DELETION ⟺ one string IS a deletion of the other — a
      join of full terms against deletion variants (both id
      orientations normalized to ``id_a < id_b``).

    Both joins emit ONLY true distance ≤ 1 pairs by construction (the
    classic 'ab'/'ba' cross-position false candidate never meets a
    positioned key), so the final ``levenshtein = 1`` filter merely
    excludes identical-term pairs (distance 0) and documents the
    contract; the ``distinct()`` dedupes pairs that meet at several
    positions (repeated characters). Per-term fan-out is len deletion
    variants — a narrow map, never the O(Σ·len) substitution alphabet.

    The alphabet bound counts DISTINCT terms: k rows carrying the
    IDENTICAL term emit identical keys and drive O(len·k²) rows
    through the join regardless of positioning — callers with massive
    duplicate-term mass should collapse to distinct terms + weights
    first, or the duplicate class itself is the quadratic term.
    """
    t = F.col(term_col)
    dels_arr = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.concat(t.substr(F.lit(1), i - 1),
                           t.substr(i + 1, F.length(t) - i)))
    dels = rows.select(F.col(id_col), t,
                       F.posexplode(dels_arr).alias("_p", "_v"))
    a = dels.select(F.col(id_col).alias("id_a"),
                    F.col(term_col).alias("term_a"), "_p", "_v")
    b = dels.select(F.col(id_col).alias("id_b"),
                    F.col(term_col).alias("term_b"), "_p", "_v")
    subst = (a.join(b, ["_v", "_p"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "term_a", "id_b", "term_b"))
    full = rows.select(F.col(id_col).alias("_fid"),
                       F.col(term_col).alias("_ft"))
    met = (full.join(dels, full["_ft"] == dels["_v"])
           .where(F.col("_fid") != F.col(id_col)))
    lo = F.col("_fid") < F.col(id_col)
    indel = met.select(
        F.when(lo, F.col("_fid")).otherwise(F.col(id_col)).alias("id_a"),
        F.when(lo, F.col("_ft")).otherwise(F.col(term_col))
        .alias("term_a"),
        F.when(lo, F.col(id_col)).otherwise(F.col("_fid")).alias("id_b"),
        F.when(lo, F.col(term_col)).otherwise(F.col("_ft"))
        .alias("term_b"))
    cands = subst.unionByName(indel).distinct()
    return cands.where(
        F.levenshtein(F.col("term_a"), F.col("term_b")) == 1)
