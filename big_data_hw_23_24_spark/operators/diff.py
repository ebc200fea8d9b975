"""Dataset snapshot diffing: content-fingerprint change sets between
two corpus versions.

A training-data pipeline re-crawls and re-cleans continuously; before
promoting a new snapshot it wants the CHANGE SET versus the one the
last model trained on — what was added, what disappeared, what was
silently rewritten (re-extraction changes, host takedowns, cleaning
regressions). Diffing by bytes is meaningless after re-serialization;
diffing by the dedup fingerprint (md5 of normalized text, the
engine-wide ``operators.dedup`` convention) answers the real question:
did the CONTENT change.

Shape: each side reduces to ``(id, fingerprint)`` — a 32-byte
projection of the corpus — then ONE full-outer equi-join on the id.
No text ever shuffles; at 100 TB both shuffle payloads are id+hash.
The status taxonomy is total: added / removed / modified / unchanged.

Reference scope: north-star extension (the reference has no
versioning surface); composes with ``dedup_incremental``'s
batch-vs-corpus join, which answers the prospective question
("is this new doc already in the corpus") where this answers the
retrospective one ("what happened between snapshots").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import normalized_text


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Content diff of two snapshots → ``(id, status, old_fp,
    new_fp)`` with ``status`` ∈ added | removed | modified |
    unchanged.

    Ids present only in ``new`` are ``added``, only in ``old`` are
    ``removed``; ids in both compare md5-of-normalized-text
    fingerprints. Null text normalizes like empty text (fingerprint
    of ``''``), so a doc whose text became null reads as modified,
    not as a join anomaly.
    """
    fp = F.md5(F.coalesce(normalized_text(F.col("text")), F.lit("")))
    o = old.select(F.col("doc_id"), fp.alias("old_fp"))
    n = new.select(F.col("doc_id"), fp.alias("new_fp"))
    status = (F.when(F.col("old_fp").isNull(), F.lit("added"))
              .when(F.col("new_fp").isNull(), F.lit("removed"))
              .when(F.col("old_fp") == F.col("new_fp"),
                    F.lit("unchanged"))
              .otherwise(F.lit("modified")))
    return (o.join(n, "doc_id", "full_outer")
            .select("doc_id", status.alias("status"), "old_fp", "new_fp"))


def change_set(old: DataFrame, new: DataFrame) -> DataFrame:
    """Turn a snapshot diff into an applicable change set →
    ``(id, op ∈ upsert | delete, text)``.

    ``added`` and ``modified`` become ``upsert`` rows carrying the NEW
    payload; ``removed`` becomes a ``delete`` tombstone (null payload);
    ``unchanged`` rows are dropped — the change set is proportional to
    the churn, not the corpus. Only changed documents' text ever
    shuffles (the payload-fetch equi-join), so shipping a daily change
    set over a 100 TB corpus moves GBs, not the corpus.
    """
    d = snapshot_diff(old, new)
    ops = (d.where(F.col("status") != "unchanged")
           .select("doc_id",
                   F.when(F.col("status") == "removed", F.lit("delete"))
                   .otherwise(F.lit("upsert")).alias("op")))
    return ops.join(new.select("doc_id", "text"), "doc_id", "left")


def apply_snapshot(current: DataFrame, changes: DataFrame) -> DataFrame:
    """Idempotent keyed MERGE: apply a change set to the current
    snapshot → the next snapshot plus a ``action ∈ kept | upserted``
    provenance column (tombstoned ids are absent).

    ``changes`` rows are ``(doc_id, op ∈ upsert | delete, text)``;
    ids must be unique per change set (last-writer conflicts are the
    change-set builder's job, not the merge's). Semantics per id:
    no change row → current row passes through (``kept``); ``upsert``
    → the change payload replaces or inserts (``upserted``);
    ``delete`` → the id is dropped. One full-outer equi-join on the
    id — both sides shuffle on the merge key only, and replaying the
    same change set is a no-op by construction (upserting an already-
    upserted payload and deleting an already-absent id are fixed
    points), which is what makes a retried MERGE safe.

    At cluster scale the result is written back with an epoch-keyed
    overwrite (``streaming.idempotent``) or dynamic partition
    overwrite so a retried job replaces its own output.
    """
    ch = changes.select("doc_id", "op", "text")
    cur = current.select("doc_id", "text")
    joined = cur.alias("c").join(ch.alias("ch"), "doc_id", "full_outer")
    is_upsert = F.col("ch.op") == "upsert"
    return (joined
            .where(F.col("ch.op").isNull() | is_upsert)
            .select(F.col("doc_id"),
                    F.when(is_upsert, F.col("ch.text"))
                    .otherwise(F.col("c.text")).alias("text"),
                    F.when(is_upsert, F.lit("upserted"))
                    .otherwise(F.lit("kept")).alias("action")))


def scd2_history(old: DataFrame, new: DataFrame) -> DataFrame:
    """Type-2 slowly-changing-dimension history from two snapshots →
    ``(id, fp, valid_from, valid_to, is_current)``.

    The warehouse-side record of WHAT a training corpus said WHEN —
    the audit artifact behind "which snapshot version of this document
    did model X train on": every content version gets a validity
    interval, closed (``valid_to = 1``, the new version) when the re-crawl
    rewrote or removed it, open (``valid_to`` null, ``is_current``)
    while it is the live text. Taxonomy per :func:`snapshot_diff`
    status: unchanged → one open row from version 0 (the old
    snapshot); modified → closed old row + open new row; removed →
    closed old row; added → open row from version 1 (the new one).

    Plan: the diff's single full-outer id join, then the history rows
    come from ONE conditional struct-array explode (≤ 2 rows per id —
    bounded fan-out, no second pass, no union of re-scans). Only
    fingerprints move; text never shuffles.
    """
    lv, nv = F.lit(0).cast("long"), F.lit(1).cast("long")
    null_v = F.lit(None).cast("long")
    closed_old = F.struct(F.col("old_fp").alias("fp"),
                          lv.alias("valid_from"), nv.alias("valid_to"),
                          F.lit(False).alias("is_current"))
    open_old = F.struct(F.col("old_fp").alias("fp"),
                        lv.alias("valid_from"), null_v.alias("valid_to"),
                        F.lit(True).alias("is_current"))
    open_new = F.struct(F.col("new_fp").alias("fp"),
                        nv.alias("valid_from"), null_v.alias("valid_to"),
                        F.lit(True).alias("is_current"))
    rows = (F.when(F.col("status") == "unchanged", F.array(open_old))
            .when(F.col("status") == "modified",
                  F.array(closed_old, open_new))
            .when(F.col("status") == "removed", F.array(closed_old))
            .otherwise(F.array(open_new)))
    return (snapshot_diff(old, new)
            .select(F.col("doc_id"), F.explode(rows).alias("_r"))
            .select("doc_id", "_r.fp", "_r.valid_from", "_r.valid_to",
                    "_r.is_current"))


def incremental_stats(old: DataFrame, new: DataFrame, old_stats: DataFrame,
                      group_col: str = "source") -> DataFrame:
    """Incremental view maintenance of per-group corpus stats (E154)
    → ``(group, n_docs, n_tokens)`` for the NEW snapshot, computed
    from the OLD stats plus the change set.

    The warehouse classic: a grouped aggregate over a 100 TB corpus is
    maintained by applying per-group DELTAS from the (churn-sized)
    snapshot diff — removed/modified docs decrement at their OLD
    group, added/modified docs increment at their NEW group (modified
    rows do both, which also handles a doc MOVING groups between
    snapshots). The delta side tokenizes only changed documents' text;
    the base stats table is #groups rows.

    The maintained-table contract lives in ``old_stats``: the
    previously-maintained ``(group_col, n_docs, n_tokens)`` table (the
    output of the prior round). The old snapshot's TEXT is never
    re-tokenized — old rows are read only for the id→(group, text)
    lookup of the churn-sized changed set. The registry face has no
    maintained table to hand, so it recomputes ``old_stats`` from the
    old snapshot; its oracle recomputes the stats from the new
    snapshot directly, so the parity row is the
    incremental-equals-full-recompute proof (the parts_skyline /
    itemset move applied to view maintenance).
    """
    toks = F.size(F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), " "),
        lambda w: w != ""))
    base = old_stats.select(
        F.col(group_col).alias("grp"),
        F.col("n_docs").cast("long").alias("_n0"),
        F.col("n_tokens").cast("long").alias("_t0"))
    # change detection must cover the VIEW's inputs, not just text: a
    # doc that moves groups with unchanged text is invisible to the
    # content-only snapshot_diff but changes two groups' stats (caught
    # by the hypothesis property test). Fingerprint (group, normalized
    # text) — normalization is token-count-invariant (case + space
    # collapsing never change the split-and-filter count).
    fp = F.md5(F.concat_ws(
        "\x01", F.coalesce(F.col(group_col).cast("string"), F.lit("")),
        F.coalesce(normalized_text(F.col("text")), F.lit(""))))
    o = old.select(F.col("doc_id"), fp.alias("_ofp"))
    n = new.select(F.col("doc_id"), fp.alias("_nfp"))
    status = (F.when(F.col("_ofp").isNull(), F.lit("added"))
              .when(F.col("_nfp").isNull(), F.lit("removed"))
              .when(F.col("_ofp") == F.col("_nfp"), F.lit("unchanged"))
              .otherwise(F.lit("modified")))
    changed = (o.join(n, "doc_id", "full_outer")
               .select("doc_id", status.alias("status"))
               .where(F.col("status") != "unchanged"))
    dec = (changed.where(F.col("status").isin("removed", "modified"))
           .join(old.select("doc_id", group_col, "text"), "doc_id")
           .select(F.col(group_col).alias("grp"),
                   F.lit(-1).alias("_dd"), (-toks).alias("_dt")))
    inc = (changed.where(F.col("status").isin("added", "modified"))
           .join(new.select("doc_id", group_col, "text"), "doc_id")
           .select(F.col(group_col).alias("grp"),
                   F.lit(1).alias("_dd"), toks.alias("_dt")))
    delta = (dec.unionByName(inc).groupBy("grp")
             .agg(F.sum("_dd").alias("_dd"), F.sum("_dt").alias("_dt")))
    return (base.join(delta, "grp", "full_outer")
            .select(F.col("grp").alias(group_col),
                    (F.coalesce("_n0", F.lit(0))
                     + F.coalesce("_dd", F.lit(0))).cast("long")
                    .alias("n_docs"),
                    (F.coalesce("_t0", F.lit(0))
                     + F.coalesce("_dt", F.lit(0))).cast("long")
                    .alias("n_tokens"))
            .where(F.col("n_docs") > 0))


def ivm_join_view(old_fact: DataFrame, new_fact: DataFrame,
                  dim: DataFrame, fact_id: str, fk_col: str,
                  dim_key: str, group_col: str, value_col: str,
                  old_view: DataFrame) -> DataFrame:
    """Incremental maintenance of a JOIN view (E209) → the NEW state
    of ``SELECT group, count(*), sum(value) FROM fact JOIN dim`` as
    ``(group, n_rows, total_value)``, computed from the OLD view plus
    churn-sized deltas.

    The join-view extension of :func:`incremental_stats` (which
    maintains a single-table aggregate): the classic delta algebra
    ``Δ(F ⋈ D) = ΔF ⋈ D`` when the dimension is STATIC — so only the
    churn-sized fact delta ever touches the join, never the 100 TB
    fact history. Changes are keyed on ``fact_id``: added rows
    contribute +1, removed rows −1, modified rows BOTH (−old, +new),
    which also handles a row MOVING groups via an FK change — the old
    FK's group decrements, the new FK's group increments (pinned by
    test). Groups whose count reaches zero drop out of the view, as a
    full recompute would have them.

    ``old_view`` is the maintained-table contract: the prior round's
    output, so the old fact is read only for the id→(fk, value)
    lookup of the changed set. ``value_col``
    must be integral (cents) so every delta is exact and the
    maintained totals cannot drift from a recompute through float
    summation — drift-free maintenance is the whole point.
    """
    of = old_fact.select(F.col(fact_id).alias("_id"),
                         F.col(fk_col).alias("_fk"),
                         F.col(value_col).cast("long").alias("_v"))
    nf = new_fact.select(F.col(fact_id).alias("_id"),
                         F.col(fk_col).alias("_fk"),
                         F.col(value_col).cast("long").alias("_v"))
    d = dim.select(F.col(dim_key).alias("_fk"),
                   F.col(group_col).alias("_g"))
    j = (of.alias("o").join(nf.alias("n"), "_id", "full_outer")
         .select(F.col("o._fk").alias("_ofk"), F.col("o._v").alias("_ov"),
                 F.col("n._fk").alias("_nfk"), F.col("n._v").alias("_nv")))
    minus = (j.where(F.col("_ofk").isNotNull()
                     & (F.col("_nfk").isNull()
                        | (F.col("_nfk") != F.col("_ofk"))
                        | (F.col("_nv") != F.col("_ov"))))
             .select(F.col("_ofk").alias("_fk"), F.col("_ov").alias("_v"),
                     F.lit(-1).alias("_s")))
    plus = (j.where(F.col("_nfk").isNotNull()
                    & (F.col("_ofk").isNull()
                       | (F.col("_ofk") != F.col("_nfk"))
                       | (F.col("_ov") != F.col("_nv"))))
            .select(F.col("_nfk").alias("_fk"), F.col("_nv").alias("_v"),
                    F.lit(1).alias("_s")))
    delta = (minus.unionByName(plus)
             .join(d, "_fk")
             .groupBy("_g")
             .agg(F.sum("_s").cast("long").alias("_dn"),
                  F.sum(F.col("_s") * F.col("_v")).cast("long")
                  .alias("_dv")))
    base = old_view.select(F.col(group_col).alias("_g"),
                           F.col("n_rows").cast("long").alias("_n0"),
                           F.col("total_value").cast("long").alias("_v0"))
    return (base.join(delta, "_g", "full_outer")
            .select(F.col("_g").alias(group_col),
                    (F.coalesce("_n0", F.lit(0))
                     + F.coalesce("_dn", F.lit(0))).cast("long")
                    .alias("n_rows"),
                    (F.coalesce("_v0", F.lit(0))
                     + F.coalesce("_dv", F.lit(0))).cast("long")
                    .alias("total_value"))
            .where(F.col("n_rows") > 0))
