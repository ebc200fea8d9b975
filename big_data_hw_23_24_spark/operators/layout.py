"""Multi-dimensional data layout: Z-order (Morton) interleaving for
data-skipping writes.

A 100 TB table is read through its min/max column statistics: sorting
by one column clusters that column's predicate ranges but scatters
every other column's. Interleaving the bits of two key columns
(Z-order — what Delta's ``OPTIMIZE ZORDER BY`` and ClickHouse's
``mortonEncode`` do) gives every interleaved column locality
proportional to sqrt of the file count, so 2-D predicates
(``user BETWEEN … AND ts BETWEEN …``) prune files on both axes.

The kernel is pure 64-bit integer arithmetic (the classic mask-shift
bit spread), expressible identically in any engine — the query face is
fully oracle-checkable. Usage at scale::

    z = z_value(F.col("cx"), F.col("cy"))
    write_sorted_parquet(df.withColumn("z", z), path, ["z"])

i.e. one range-partitioned sort on the z key, then the parquet footers
carry tight min/max on BOTH cx and cy per file.

The reference engine has no layout surface (its inputs are flat CSV);
declared new surface, SURVEY.md E81.

This module is the 2-D interleave KERNEL in its oracle-checkable form
— the same spread schedule generates both the Column expression and
the DuckDB SQL, so the arithmetic itself carries an oracle-checked row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

AUDIT_BITS = 12  # bits per coordinate of the audited curve keys

# (shift, mask) steps spreading a 32-bit int's bits to the even bit
# positions of a 64-bit word. The DuckDB oracle embeds the SAME
# constants (``z_value_sql`` generates its expression from them).
_SPREAD_STEPS: tuple[tuple[int, int], ...] = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread(col: Column) -> Column:
    x = col.cast("long")
    for shift, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def z_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton/Z-order key of two NON-NEGATIVE ints: interleave the low
    ``bits`` bits (x on even positions, y on odd). ``bits <= 31`` keeps
    every intermediate below 2⁶³, so the arithmetic is overflow-free
    two's-complement in any engine. Inputs are masked to ``bits`` first
    — callers quantize/offset floats or negatives to unsigned grid
    coordinates themselves (the operator cannot guess the domain).
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")
    lim = F.lit((1 << bits) - 1)
    xs = _spread(x.cast("long").bitwiseAND(lim))
    ys = _spread(y.cast("long").bitwiseAND(lim))
    return xs.bitwiseOR(F.shiftleft(ys, 1))


def z_value_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The identical computation as portable SQL text (DuckDB and
    Spark SQL share ``&``, ``|``, ``<<`` on BIGINT) — the generated
    oracle can never drift from the Column form because both are
    produced from ``_SPREAD_STEPS``."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in 1..31, got {bits}")

    def spread(e: str) -> str:
        for shift, mask in _SPREAD_STEPS:
            e = f"((({e}) | (({e}) << {shift})) & {mask})"
        return e

    lim = (1 << bits) - 1
    xs = spread(f"(CAST({x_expr} AS BIGINT) & {lim})")
    ys = spread(f"(CAST({y_expr} AS BIGINT) & {lim})")
    return f"({xs} | ({ys} << 1))"


def layout_pruning_audit(df: DataFrame, cx_col: str, cy_col: str,
                         order_col: str,
                         probes: list[tuple[int, int, int, int, int]],
                         include_hilbert: bool = False) -> DataFrame:
    """Data-skipping effectiveness audit (E156) → per (layout, probe):
    ``(layout, probe_id, n_files_hit, n_files, n_rows_match)``.

    The question every lakehouse layout decision hangs on — "how many
    files would this predicate actually scan" — MEASURED instead of
    assumed: rows are assigned to 64 files under (a) the
    insertion order (``order_col``) and (b) the Z-order key of
    (cx, cy); each file's min/max footer stats are computed per
    dimension, and each probe rectangle counts the files whose stat
    ranges overlap it (exactly the parquet row-group pruning rule).
    ``n_rows_match`` is layout-independent by construction — the same
    rows match either way, only the files touched differ — which makes
    the report self-checking. At 100 TB this IS the scan cost model:
    a 2-D predicate against the linear layout prunes only on the
    insertion-correlated dimension; against the Z layout it prunes on
    both (the Delta OPTIMIZE ZORDER BY rationale, quantified).

    Scale shape: file ids come from the range-partitioned global-ntile
    spine (twice — one sort per layout, the real cost of re-layout);
    footer stats are one aggregate per layout (n_files rows); the
    probe join is a broadcast of a literal probe table against
    2·n_files stat rows.
    """
    from .ranking import global_ntile

    spark = df.sparkSession
    zv = z_value(F.col(cx_col), F.col(cy_col), bits=AUDIT_BITS)
    base = df.select(F.col(cx_col).alias("cx"), F.col(cy_col).alias("cy"),
                     F.col(order_col).alias("_o"), zv.alias("_z"))
    if include_hilbert:
        # the hilbert face answers "hilbert vs zorder"; linear-vs-Z is
        # already measured by the E156 face on the same probes, and a
        # third ntile spine is a third full re-sort — skip it here.
        # The automaton joins must also run ONCE: base feeds every
        # spine plus the rows-match probe, and without a pin each
        # consumer re-executes the join subtree (root-cause 4,
        # SCALING.md — measured 12.9 s -> 2.4 s at sf0.1 with the
        # checkpoint). Lazy: the first ntile spine's per-partition
        # collect is a sequential full scan that materializes base —
        # eager would prepend one more full base pass
        base = with_hilbert(base, "cx", "cy",
                            out_col="_h").localCheckpoint(eager=False)
        layouts = [
            ("zorder", [F.col("_z"), F.col("_o")]),
            ("hilbert", [F.col("_h"), F.col("_o")]),
        ]
    else:
        layouts = [
            ("linear", [F.col("_o")]),
            ("zorder", [F.col("_z"), F.col("_o")]),
        ]
    probe_df = F.broadcast(spark.createDataFrame(
        list(probes),
        "probe_id int, cx_lo long, cx_hi long, cy_lo long, cy_hi long"))
    stats = None
    for name, order in layouts:
        filed = global_ntile(base, 64, order, out_col="_f")
        st = (filed.groupBy("_f")
              .agg(F.min("cx").alias("min_cx"), F.max("cx").alias("max_cx"),
                   F.min("cy").alias("min_cy"), F.max("cy").alias("max_cy"))
              .withColumn("layout", F.lit(name)))
        stats = st if stats is None else stats.unionByName(st)
    hit = ((F.col("min_cx") <= F.col("cx_hi"))
           & (F.col("max_cx") >= F.col("cx_lo"))
           & (F.col("min_cy") <= F.col("cy_hi"))
           & (F.col("max_cy") >= F.col("cy_lo")))
    files_hit = (stats.crossJoin(probe_df)
                 .groupBy("layout", "probe_id")
                 .agg(F.count_if(hit).cast("long").alias("n_files_hit"),
                      F.count("*").cast("long").alias("n_files")))
    rows_match = (base.crossJoin(probe_df)
                  .where((F.col("cx").between(F.col("cx_lo"),
                                              F.col("cx_hi")))
                         & (F.col("cy").between(F.col("cy_lo"),
                                                F.col("cy_hi"))))
                  .groupBy("probe_id")
                  .agg(F.count("*").cast("long").alias("n_rows_match")))
    return (files_hit.join(rows_match, "probe_id", "left")
            .select("layout", "probe_id", "n_files_hit", "n_files",
                    F.coalesce("n_rows_match", F.lit(0)).cast("long")
                    .alias("n_rows_match")))


def compaction_plan(files: DataFrame, size_col: str,
                    order_by: list, target_bytes: int) -> DataFrame:
    """Small-files compaction planner (E177) → one row per planned
    output file: ``(out_file, n_inputs, total_bytes)``.

    The other half of the layout tier: Z-order/stats make PRUNING
    work, but a table of millions of sub-row-group files is slow
    before any predicate runs (footer fetches, scheduler overhead —
    the classic small-files problem). The plan assigns input files,
    in ``order_by`` order (keep it the table's sort/cluster order so
    compaction preserves locality), to contiguous output groups by
    the streaming rule ``out_file = floor(cum_before / target)`` —
    every output (except possibly the last) lands within one
    max-input-size of the target (total ∈ (target − max_in,
    target + max_in)): the guarantee the stateless rule gives with no
    iteration and no cross-file coordination beyond the prefix sum. The cumulative offset rides the range-partitioned
    cumsum spine (:func:`.ranking.global_cumsum`) — never a
    single-reducer window; manifest rows are file-count-sized, tiny
    next to the data they describe.
    """
    from .ranking import global_cumsum

    cum = global_cumsum(files, order_by, size_col, out_col="_cum")
    grp = F.floor((F.col("_cum") - F.col(size_col))
                  / target_bytes).cast("long")
    return (cum.select(grp.alias("out_file"),
                       F.col(size_col).alias("_sz"))
            .groupBy("out_file")
            .agg(F.count("*").cast("long").alias("n_inputs"),
                 F.sum("_sz").cast("long").alias("total_bytes")))


# The 2-D Hilbert curve as a 4-state automaton over (x, y) bit pairs,
# MSB first: key = state*4 + 2*bx + by -> (digit, next_state). Derived
# programmatically from the textbook xy2d rotate-and-flip algorithm
# (suffix-signature DFA construction) and verified exhaustively against
# it on a 64x64 grid in tests — the table IS the spec both engines
# share, the same contract as _SPREAD_STEPS for the Morton key.
HILBERT_TABLE: tuple[tuple[int, int, int], ...] = (
    (0, 0, 1), (1, 1, 0), (2, 3, 2), (3, 2, 0),
    (4, 0, 0), (5, 3, 3), (6, 1, 1), (7, 2, 1),
    (8, 2, 2), (9, 1, 2), (10, 3, 0), (11, 0, 3),
    (12, 2, 3), (13, 3, 1), (14, 1, 3), (15, 0, 2),
)


def _hilbert_step(state: int, bx: int, by: int) -> tuple[int, int]:
    k = state * 4 + 2 * bx + by
    _, digit, nxt = HILBERT_TABLE[k]
    assert HILBERT_TABLE[k][0] == k
    return digit, nxt


def _hilbert_chunk_table(c: int) -> list[tuple[int, int, int]]:
    """Compose the base automaton over ``c`` levels: rows
    ``(key, dchunk, next_state)`` with key = ((state << c) | xchunk)
    << c | ychunk — 4·4^c rows, derived from HILBERT_TABLE so the
    multi-level table can never drift from the per-level spec.
    (Python form — the reference for tests; the plan-side builder
    below computes the same table JVM-side.)"""
    rows = []
    for state in range(4):
        for xc in range(1 << c):
            for yc in range(1 << c):
                st, d = state, 0
                for i in range(c - 1, -1, -1):
                    dig, st = _hilbert_step(st, (xc >> i) & 1,
                                            (yc >> i) & 1)
                    d = (d << 2) | dig
                key = ((state << c) | xc) << c | yc
                rows.append((key, d, st))
    return rows


def _hilbert_chunk_table_df(spark, c: int) -> DataFrame:
    """The composed chunk table shipped to Spark via ONE Arrow
    ``createDataFrame`` of the test-verified Python table (guide §6:
    Arrow driver transfers). The previous form ran the per-level
    16-row automaton as a chain of ``c`` broadcast joins over
    ``spark.range`` per call — ~7 operators × c in every consumer
    plan, rebuilt each invocation; the "~2 s createDataFrame"
    measurement that motivated it was the row-pickling path
    (list-of-tuples), not Arrow. 4·4^c rows of three ints is ~260 KB
    at c=6 — a trivial Arrow transfer, and the broadcast build no
    longer carries a join chain."""
    import pandas as pd

    # runtime-settable; the driver may hand us a session without
    # session.py's Arrow default
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    rows = _hilbert_chunk_table(c)
    pdf = pd.DataFrame(rows, columns=["k", "dchunk", "nxt"],
                       dtype="int32")
    return spark.createDataFrame(pdf)


def with_hilbert(df: DataFrame, x_col: str, y_col: str,
                 out_col: str = "hilbert") -> DataFrame:
    """Append the ``AUDIT_BITS``-bit Hilbert index of two NON-NEGATIVE
    ints (E210).

    Unlike the Morton key (pure bit-shuffling, one expression), the
    Hilbert walk carries ROTATION STATE from high bits to low bits —
    a naive unrolled CASE chain would reference the previous level's
    state expression in every branch and the inlined Catalyst tree
    grows 16^bits. The scale-safe relational form is the automaton
    itself as BROADCAST joins; to keep the join count (and its
    per-row probe cost) down, levels are processed SIX AT A TIME
    against the composed 16384-row chunk table (12 bits → two joins;
    measured 4.4 s → well under the bench budget vs the 12-join
    per-level chain). The chunk table is derived at call time from
    the 16-row HILBERT_TABLE spec, and the ORACLE runs the per-level
    chain generated from the same literals (hilbert_sql_parts) — so
    parity additionally proves the chunk composition correct.

    Why bother over Z-order: the Hilbert walk has no Morton "seams"
    (the curve never jumps across the space), so file min/max boxes
    are tighter and range probes touch fewer files — the
    events_hilbert_pruning face MEASURES that claim beside zorder
    and linear on identical probes rather than assuming it.
    """
    bits = AUDIT_BITS
    spark = df.sparkSession
    lim = F.lit((1 << bits) - 1)
    x = F.col(x_col).cast("long").bitwiseAND(lim)
    y = F.col(y_col).cast("long").bitwiseAND(lim)
    # split bits into chunks of <= 6 levels, MSB first
    sizes = []
    left = bits
    while left > 0:
        take = min(6, left)
        sizes.append(take)
        left -= take
    tables = {c: F.broadcast(_hilbert_chunk_table_df(spark, c))
              for c in set(sizes)}
    cur = (df.withColumn("_hst", F.lit(0))
           .withColumn(out_col, F.lit(0).cast("long")))
    pos = bits
    for c in sizes:
        pos -= c
        mask = F.lit((1 << c) - 1)
        xc = F.shiftright(x, pos).bitwiseAND(mask)
        yc = F.shiftright(y, pos).bitwiseAND(mask)
        key = (F.shiftleft(F.shiftleft(F.col("_hst"), c)
                           .bitwiseOR(xc.cast("int")), c)
               .bitwiseOR(yc.cast("int")))
        cur = (cur.withColumn("_hk", key.cast("int"))
               .join(tables[c], F.col("_hk") == F.col("k"))
               .withColumn(out_col,
                           F.shiftleft(F.col(out_col), 2 * c)
                           + F.col("dchunk").cast("long"))
               .withColumn("_hst", F.col("nxt"))
               .drop("k", "dchunk", "nxt", "_hk"))
    return cur.drop("_hst")


def hilbert_sql_parts(x_expr: str, y_expr: str) -> tuple[str, str, str]:
    """The identical computation as portable SQL: returns
    ``(values_cte, join_chain, hv_expr)`` — a ``ht(k, digit, nxt)``
    VALUES list, the left-deep ``AUDIT_BITS``-join chain, and the digit
    recombination expression, all generated from HILBERT_TABLE so the
    oracle can never drift from the Column form."""
    vals = ", ".join(f"({k}, {d}, {n})" for k, d, n in HILBERT_TABLE)
    cte = f"ht(k, digit, nxt) AS (VALUES {vals})"
    lim = (1 << AUDIT_BITS) - 1
    xm = f"(CAST({x_expr} AS BIGINT) & {lim})"
    ym = f"(CAST({y_expr} AS BIGINT) & {lim})"
    joins, terms = [], []
    prev = "0"
    for i in range(AUDIT_BITS - 1, -1, -1):
        a = f"h{i}"
        joins.append(
            f"JOIN ht {a} ON {a}.k = ({prev}) * 4"
            f" + (({xm} >> {i}) & 1) * 2 + (({ym} >> {i}) & 1)")
        prev = f"{a}.nxt"
        terms.append(f"{a}.digit * CAST({4 ** i} AS BIGINT)")
    return cte, "\n      ".join(joins), "(" + " + ".join(terms) + ")"
