"""Cross-tier oracle helpers shared by the queries_llm_* tier modules:
the shingle / synthetic-line / boilerplate / minhash-signature CTE
builders and the pinned BPE merge table. Every string is part of a
value-checked oracle — do not reformat casually.

Shingling/tokenization conventions are mirrored exactly between the
Spark operators and the DuckDB oracle SQL (single-space split, empty
tokens dropped, distinct word 3-grams).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .sources.tables import load_table


# DuckDB CTE mirroring operators.dedup.word_shingles (distinct word
# 3-grams over non-empty space-split tokens).
_SHINGLES_CTE = """
w AS (
  SELECT doc_id, word, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS i
        FROM documents)
  WHERE word <> ''
),
sh AS (
  SELECT DISTINCT a.doc_id, a.word || ' ' || b.word || ' ' || c.word AS shingle
  FROM w a
  JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN w c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)"""


# --- cross-document boilerplate mining ---------------------------------------
# The map stage of repeated-paragraph removal (CCNet/RefinedWeb-style
# cleaning): mine word 8-grams shared by ≥3 documents, then score each
# document's exposure to the mined set. Both queries share the
# (doc, ngram) CTE so the oracles state the same dataflow the Spark
# plans execute.
_BOILER_SQL_BASE = """
    WITH f AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(0, len(ws) - 7),
                    i -> array_to_string(ws[i + 1 : i + 8], ' '))) AS ngram
      FROM f WHERE len(ws) >= 8
    ),
    pairs AS (SELECT doc_id, ngram, count(*) AS c
              FROM g GROUP BY doc_id, ngram),
    boiler AS (
      SELECT ngram, count(*) AS n_docs, sum(c)::BIGINT AS n_occ
      FROM pairs GROUP BY ngram HAVING count(*) >= 3
    )
"""


# Pinned merge table for the oracle-checked encode face: the realistic
# production shape (a pre-trained tokenizer's merge list is a fixed
# artifact applied to new corpora), and what makes the greedy fold
# SQL-checkable. Multi-level merges (th+e after t+h) exercise
# multi-char symbol folding. Training itself stays rows-only in
# bpe_learned_merges (iterative argmax).
_PINNED_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("an", "d"), ("e", "r"), ("o", "n"), ("r", "e"),
]


def _bpe_oracle_sql() -> str:
    """DuckDB SQL computing the identical greedy BPE encode.

    Each symbol is framed as ``\\x02sym\\x03``; a merge (a, b) is then
    ``replace(s, '\\x02a\\x03\\x02b\\x03', '\\x02ab\\x03')`` applied in
    training order. String replace is left-to-right non-overlapping
    and the per-symbol framing makes every match a full-symbol pair
    (no cross-boundary or run artifacts — a consumed match never eats
    the next pair's delimiter), so the fold semantics of
    ``tokenizer._merge_pair`` are reproduced exactly; verified against
    the pure-Python reference in tests. Frame chars never occur in
    text (control bytes).
    """
    sl, sr = "\x02", "\x03"
    expr = ("array_to_string(list_transform(string_split(word, ''), "
            f"c -> '{sl}' || c || '{sr}'), '')")
    for a, b in _PINNED_BPE_MERGES:
        expr = f"replace({expr}, '{sl}{a}{sr}{sl}{b}{sr}', '{sl}{a}{b}{sr}')"
    return f"""
    WITH w AS (
      SELECT doc_id, word FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
        FROM documents)
      WHERE word <> ''
    ),
    enc AS (SELECT doc_id, {expr} AS s FROM w),
    per AS (
      SELECT doc_id, count(*) AS n_words,
             sum(length(s) - length(replace(s, '{sr}', ''))) AS n_symbols
      FROM enc GROUP BY doc_id
    )
    SELECT d.doc_id, coalesce(p.n_words, 0)::INT AS n_words,
           coalesce(p.n_symbols, 0)::INT AS n_symbols
    FROM documents d LEFT JOIN per p USING (doc_id)
    """


# --- C4-style line cleaning --------------------------------------------------
# The synthetic corpus is single-line word-soup with no punctuation, so
# (exactly like dedup_exact_groups) the checks run over a DERIVED
# multi-line corpus built identically in both engines: five lines per
# document with planted duplicates, punctuation-terminated sentences, a
# too-short line and a periodic "lorem ipsum" marker — every branch of
# the line filter and the keep-first dedup fold is provably exercised.
_SYNTH_LINES_CTE = """
synth AS (
  SELECT doc_id,
         substr(text, 1, 50) || '.'  AS la,
         substr(text, 51, 80)        AS lb,
         'Ok.'                       AS lc,
         substr(text, 1, 30) || '?'  AS ld,
         CASE WHEN doc_id % 7 = 0
              THEN 'lorem ipsum dolor sit amet.'
              ELSE 'A clean closing line here.' END AS le
  FROM documents
)"""


def _synth_lines(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.concat(F.substring("text", 1, 50), F.lit(".")).alias("la"),
        F.substring("text", 51, 80).alias("lb"),
        F.lit("Ok.").alias("lc"),
        F.concat(F.substring("text", 1, 30), F.lit("?")).alias("ld"),
        F.when(F.col("doc_id") % 7 == 0,
               F.lit("lorem ipsum dolor sit amet."))
        .otherwise(F.lit("A clean closing line here.")).alias("le"))


def _md5_minhash_sig_cte(src: str) -> str:
    """CTE block: md5-family 32-hash MinHash signatures over
    ``{src}(doc_id, text)`` → ``sig(doc_id, s)``. Embeds the SAME
    pinned (a_i, c_i) literals the Spark face uses."""
    from .operators.dedup import md5_minhash_constants

    mins = ", ".join(f"min(({a} * b + {c}) % 2147483647)"
                     for a, c in md5_minhash_constants(32))
    return f"""
    ws AS (
      SELECT doc_id, word,
             row_number() OVER (PARTITION BY doc_id ORDER BY i) AS i
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                   generate_subscripts(string_split(text, ' '), 1) AS i
            FROM {src})
      WHERE word <> ''
    ),
    shg AS (
      SELECT DISTINCT a.doc_id,
             a.word || ' ' || b.word || ' ' || c.word AS shingle
      FROM ws a
      JOIN ws b ON b.doc_id = a.doc_id AND b.i = a.i + 1
      JOIN ws c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    base AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 7))::BIGINT AS b
             FROM shg),
    sig AS (SELECT doc_id, [{mins}] AS s FROM base GROUP BY doc_id)"""


# ∃ band k ∈ 0..7: the 4-element slices agree (1-based inclusive)
_BAND_COLLIDE = " OR ".join(
    f"a.s[{4 * k + 1}:{4 * k + 4}] = b.s[{4 * k + 1}:{4 * k + 4}]"
    for k in range(8))


_EST_JACCARD = ("len(list_filter(range(1, 33), "
                "i -> list_extract(a.s, i) = list_extract(b.s, i))) / 32.0")
